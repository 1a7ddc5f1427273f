package graft

import org.apache.spark.sql.functions._

import graft.ops.SkewOps
import graft.sources.{DexcomIngest, EgvClient, FileSources, TokenClient}

class SourcesSkewSpec extends SparkSpec {

  object FakeTokens extends TokenClient {
    override def refreshAccessToken(id: String, secret: String, rt: String): String = {
      assert(id == "cid" && secret == "sec" && rt == "refresh-1")
      "access-xyz"
    }
  }
  object FakeEgvs extends EgvClient {
    override def fetchEgvsJson(token: String, start: String, end: String): String = {
      assert(token == "access-xyz")
      """{"unit":"mg/dL","rateUnit":"mg/dL/min","egvs":[
        {"systemTime":"2020-11-02T02:00:00","displayTime":"2020-11-02T02:00:00",
         "value":100,"realtimeValue":100,"smoothedValue":99,"status":"ok",
         "trend":"flat","trendRate":0.1},
        {"systemTime":"2020-11-02T02:05:00","displayTime":"2020-11-02T02:05:00",
         "value":265,"realtimeValue":265,"smoothedValue":260,"status":"high",
         "trend":"up","trendRate":1.5}]}"""
    }
  }

  test("S1/S2 ingest edge: token refresh -> fetch -> envelope explode") {
    val out = DexcomIngest.ingestWindow(spark, FakeTokens, FakeEgvs,
      "cid", "sec", "refresh-1", "2020-11-02T02:00:00", "2020-11-02T02:10:00")
    val rows = out.collect().sortBy(_.value)
    assert(rows.map(_.value).toSeq === Seq(100, 265))
    assert(rows.head.systemTime === "2020-11-02T02:00:00")
    assert(rows.last.trend === "up")
  }

  test("envelope with no egvs yields empty dataset, malformed json yields empty") {
    assert(DexcomIngest.parseEnvelope(spark,
      """{"unit":"mg/dL","rateUnit":"x","egvs":[]}""").count() === 0)
    assert(DexcomIngest.parseEnvelope(spark, "not json at all").count() === 0)
  }

  test("salted aggregation equals plain aggregation on skewed data") {
    import spark.implicits._
    // 10k rows for hot key, few for others
    val skewed = (Seq.fill(10000)("hot") ++ Seq("a", "a", "b"))
      .zipWithIndex.toDF("k", "v")
    val expected = skewed.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = SkewOps.saltedAgg(skewed, Seq("k"), saltBuckets = 8,
      partials = Seq(
        ("n", count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c)),
        ("s", sum(col("v")), (c: org.apache.spark.sql.Column) => sum(c))))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted === expected)
  }

  test("prefixSums equals the one-reducer global window at any partition count, no Window over all rows") {
    import spark.implicits._
    // Irregular values + non-contiguous keys; two value columns at once.
    val df = (1 to 997).map(i => (i * 3L, (i % 13).toLong, (i % 7).toLong))
      .toDF("k", "a", "b")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"))
    val want = df
      .withColumn("ca", sum(col("a")).over(w))
      .withColumn("cb", sum(col("b")).over(w))
      .select("k", "ca", "cb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for (parts <- Seq(1, 3, 8)) { // boundary placement must be invisible
      val got = SkewOps.prefixSums(df, Seq("k"),
          Seq("ca" -> col("a"), "cb" -> col("b")), partitions = parts)
        .select("k", "ca", "cb").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want, s"partitions=$parts")
    }
    // Plan shape: every Window node must be partitioned (by __pid) or
    // over the #partitions-row offset table — never ordered-only over
    // the full data (the single-reducer cliff this operator removes).
    val plan = SkewOps.prefixSums(df, Seq("k"), Seq("ca" -> col("a")))
      .queryExecution.optimizedPlan
    val fullWindows = plan.collect {
      case win: org.apache.spark.sql.catalyst.plans.logical.Window
          if win.partitionSpec.isEmpty &&
            win.child.maxRows.isEmpty &&
            !win.child.toString.contains("__pid") => win
    }
    assert(fullWindows.isEmpty, s"unpartitioned data-scale window:\n$plan")
  }

  test("json ingestion captures corrupt records instead of dropping or failing") {
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-json").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "in.json"),
      """{"id": 1, "v": "ok"}
        |{"id": 2 BROKEN
        |{"id": 3, "v": "also ok"}
        |""".stripMargin.getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("_corrupt_record", StringType)))
    val rows = FileSources.jsonLines(spark, dir, schema)
      .cache() // SPARK-21610: corrupt-record column needs a full-schema pass
      .collect()
    assert(rows.length === 3)
    val bad = rows.filter(!_.isNullAt(2))
    assert(bad.length === 1 && bad.head.getString(2).contains("BROKEN"))
    assert(rows.filter(_.isNullAt(2)).map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("compactParquet collapses a many-small-files dir, preserving data") {
    import spark.implicits._
    val dir = tempDir("graft-compact").toString + "/t"
    (0L until 10000L).toDF("id").repartition(64).write.parquet(dir)
    def partFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(partFiles === 64)
    val before = spark.read.parquet(dir).agg(sum("id")).collect()(0).getLong(0)
    val n = FileSources.compactParquet(spark, dir, targetFileBytes = 1L << 30)
    assert(n === 1 && partFiles === 1)
    val after = spark.read.parquet(dir).agg(sum("id")).collect()(0).getLong(0)
    assert(after === before)
  }

  test("compactParquet recovers a crashed swap and rejects partitioned dirs") {
    import spark.implicits._
    // Crash window: previous run died after moving the live dir aside —
    // the live path is missing, data sits under .compact.old. A re-run
    // must restore it and complete.
    val base = tempDir("graft-compact-rec").toString
    val dir = base + "/t"
    (0L until 1000L).toDF("id").repartition(8).write.parquet(dir)
    val before = spark.read.parquet(dir).agg(sum("id")).collect()(0).getLong(0)
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".compact.old")))
    val n = FileSources.compactParquet(spark, dir, targetFileBytes = 1L << 30)
    assert(n === 1)
    assert(spark.read.parquet(dir).agg(sum("id")).collect()(0).getLong(0) === before)
    // Hive-partitioned layout: whole-tree compaction would inline the
    // partition columns and lose pruning — must refuse.
    val pdir = base + "/p"
    (0L until 100L).map(i => (i, i % 3)).toDF("id", "k")
      .write.partitionBy("k").parquet(pdir)
    val e = intercept[RuntimeException](
      FileSources.compactParquet(spark, pdir, targetFileBytes = 1L << 30))
    assert(e.getMessage.contains("partition"))
    assert(spark.read.parquet(pdir).count() === 100) // untouched
  }

  test("bulk response envelope errors are detected at the top level only") {
    val c = new graft.streaming.HttpBulkClient("http://localhost:0", "idx")
    // healthy envelope whose ITEM content echoes the text "errors":true
    assert(!c.envelopeHasErrors(
      """{"took":3,"errors":false,"items":[{"index":{"_id":"a","error":"\"errors\":true"}}]}"""))
    // top-level errors with assorted JSON whitespace around the colon
    assert(c.envelopeHasErrors("{\"took\":3,\"errors\" :\ttrue,\"items\":[]}"))
    assert(c.envelopeHasErrors("""{"errors":true,"items":[]}"""))
    assert(!c.envelopeHasErrors("""{"took":3,"errors":false,"items":[]}"""))
    // key order is not contractual: top-level errors AFTER items must be
    // seen, and a nested (item-level) "errors":true must still not trip.
    assert(c.envelopeHasErrors(
      """{"items":[{"index":{"status":429}}],"errors":true,"took":3}"""))
    assert(!c.envelopeHasErrors(
      """{"items":[{"index":{"errors":true}}],"errors":false}"""))
  }

  test("orc round-trips documents with predicate pushdown at the scan") {
    val dir = tempDir("graft-orc").toString + "/t"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    docs.write.orc(dir)
    val back = spark.read.orc(dir).filter(org.apache.spark.sql.functions.col("n_chars") > 300)
      .select("doc_id", "n_chars")
    val expected = docs.filter(org.apache.spark.sql.functions.col("n_chars") > 300)
      .select("doc_id", "n_chars").collect().map(_.getLong(0)).sorted
    assert(back.collect().map(_.getLong(0)).sorted === expected)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("GreaterThan(n_chars,300"),
      s"orc scan must push the predicate:\n$plan")
    assert(!plan.contains("text"), s"unused text column must be pruned from the orc scan:\n$plan")
  }

  test("schema evolution: mergeSchema unions parquet generations, old rows null-fill") {
    import spark.implicits._
    val dir = tempDir("graft-evo").toString + "/t"
    // Generation 1: (id, a). Generation 2 adds column b — the additive
    // evolution a long-lived 100 TB table actually undergoes.
    Seq((1L, "x"), (2L, "y")).toDF("id", "a").write.parquet(dir)
    Seq((3L, "z", 30L)).toDF("id", "a", "b").write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted === Array("a", "b", "id"))
    val rows = merged.orderBy("id").collect()
    assert(rows.map(_.getLong(0)) === Array(1L, 2L, 3L))
    assert(rows(0).isNullAt(2) && rows(1).isNullAt(2)) // old generation null-fills
    assert(rows(2).getLong(2) === 30L)
    // Without mergeSchema the footer-sampled schema wins — pin the
    // default so a conf change that silently widens scans is caught.
    assert(spark.read.parquet(dir).columns.length <= 3)
  }

  test("AQE splits a skewed shuffle-join partition at runtime (the no-salt path)") {
    import spark.implicits._
    // One hot key carrying megabytes against a flat right side: with the
    // skew thresholds lowered to test scale, AQE's runtime re-plan must
    // mark the sort-merge join skew-handled. This is the engine's OTHER
    // skew answer beside SkewOps' explicit salting: no query rewrite, at
    // the price of only kicking in above the configured partition size.
    // Per-row pseudo-random pad: MapStatus sizes are COMPRESSED bytes, so a
    // constant pad would deflate the hot partition below any threshold.
    val rnd = new scala.util.Random(7)
    val left = (0 until 60000)
      .map(i => (if (i % 3 > 0) 0L else i.toLong, rnd.alphanumeric.take(200).mkString))
      .toDF("k", "pad")
    val right = (0L until 2000L).map(i => (i, i * 2)).toDF("k", "w")
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val joined = left.join(right, "k")
      // collect() (not count()) so the SAME query execution we inspect
      // below is the one that ran — count() plans a separate query.
      // key 0: 40001 left rows; keys 3,6,...,1998: 666 more matches.
      assert(joined.collect().length === 40001 + 666)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE should have split the skewed partition:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("salted join equals plain join on skewed data") {
    import spark.implicits._
    val left = (Seq.fill(5000)(1) ++ Seq(2, 3)).zipWithIndex.toDF("k", "lv")
    val right = Seq((1, "one"), (2, "two"), (4, "four")).toDF("k", "rv")
    val expected = left.join(right, "k")
      .select("k", "lv", "rv").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    val salted = SkewOps.saltedJoin(left, right, "k", saltBuckets = 8)
      .select("k", "lv", "rv").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    assert(salted === expected)
    assert(salted.size === 5001)
  }
}
