package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the glycemic-variability panel (ref_modd,
  * ref_mage) and the snapshot-diff / token-Gini operators — each QueryDef
  * runs end-to-end against a temp-dir parquet layout, the same path the
  * driver's gate exercises.
  */
class ClinicalSpec extends SparkSpec {

  private def run(name: String, dir: String) =
    Catalog.queries(name)(spark, dir)

  private def eventsDir(rows: Seq[(Long, Long, Long, Double)]): String = {
    import spark.implicits._
    val dir = tempDir("clin").toString
    rows.toDF("event_id", "sec", "user_id", "value")
      .select(col("event_id"), timestamp_seconds(col("sec")).as("ts"),
        col("user_id"), lit("egv").as("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("ref_modd pairs consecutive-day slot representatives; lone days drop") {
    // user 1, day 0: slot 0 has TWO readings — sec 0 (off 1800, v 999)
    // and sec 1800 (off 0, v 100): the slot-center-nearest rep must win.
    val d = eventsDir(Seq(
      (1L, 0L, 1L, 999.0), (2L, 1800L, 1L, 100.0),        // day0 slot0 → 100
      (3L, 5400L, 1L, 150.0),                              // day0 slot1 → 150
      (4L, 86400L + 1800L, 1L, 120.0),                     // day1 slot0 → 120
      (5L, 86400L + 5400L, 1L, 130.0),                     // day1 slot1 → 130
      (6L, 3 * 86400L, 1L, 500.0),                         // day3: not consecutive
      (7L, 1800L, 2L, 90.0)))                              // user 2: one day only
    val out = run("ref_modd", d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // pairs: |120-100| = 20, |130-150| = 20 → modd 20.0; user 2 absent
    assert(out === Seq((1L, 2L, 20.0)))
  }

  test("ref_mage collapses dups, finds interior turning points, gates on SD") {
    // user 1: 100,100,180,120,160,80 → collapsed 100,180,120,160,80;
    // turning points 180,120,160; amplitudes 60,40; SD(full series)≈38.82
    // → both qualify → n=2, mage=50. user 2: constant → (0, null).
    val d = eventsDir(Seq(
      (1L, 0L, 1L, 100.0), (2L, 300L, 1L, 100.0), (3L, 600L, 1L, 180.0),
      (4L, 900L, 1L, 120.0), (5L, 1200L, 1L, 160.0), (6L, 1500L, 1L, 80.0),
      (7L, 0L, 2L, 110.0), (8L, 300L, 2L, 110.0)))
    val rows = run("ref_mage", d).collect()
      .map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toSeq.sortBy(_._1)
    assert(rows.map(t => (t._1, t._2)) === Seq((1L, 2L), (2L, 0L)))
    assert(rows(0)._3 === 50.0)
    assert(rows(1)._3.isNaN)
  }

  test("k-anonymity: published classes all reach k; refined counts beat the naive-pitfall fixture") {
    import spark.implicits._
    // Pitfall fixture (k=5): (srcA, xx, b0=0) holds 4 docs (unsafe at
    // level 0) and (srcA, xx, b0=4) holds 5 (safe). BOTH share b1=0, so
    // the NAIVE full-group level-1 count sees 9 >= k and would publish
    // the 4 leavers as a class of four — re-identifiable. The refined
    // remaining-count sees 4 < k and escalates; with srcB's 2 unsafe
    // docs the lang remainder is 6 >= k → all six publish level 2 "xx".
    val dir = tempDir("kanon").toString
    val rows =
      (1L to 4L).map(i => (i, "", "xx", "srcA", 100L + i)) ++
      (5L to 9L).map(i => (i, "", "xx", "srcA", 4100L + i)) ++
      (10L to 11L).map(i => (i, "", "xx", "srcB", 200L + i))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Catalog.queries("pipeline_k_anonymity")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    (Seq(1L, 2L, 3L, 4L, 10L, 11L)).foreach { i =>
      assert(out(i) === (2, "xx"), s"doc $i must escalate past the pitfall rung")
    }
    (5L to 9L).foreach { i => assert(out(i)._1 === 0, s"doc $i") }
    // Invariant on real data: every published (k_level, qi) class of
    // non-suppressed docs has at least k members.
    val real = Catalog.queries("pipeline_k_anonymity")(
        spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getInt(1), r.getString(2)))
    val classes = real.filter(_._1 < 3).groupBy(identity).map(_._2.length)
    assert(classes.nonEmpty && classes.forall(_ >= graft.queries.PipelineQueries.KAnon),
      s"published class below k: ${classes.toSeq.sorted.take(3)}")
  }

  test("MAGE definitional walkthrough (Service 1970): every arithmetic step hand-derived") {
    // The published definition: mean amplitude of glycemic excursions
    // whose |peak − nadir| exceeds ONE SD of the whole series. Worked
    // example, one user, values 100, 180, 60, 140, 80, 160 at minutes
    // 0..5 (no consecutive duplicates, so collapse is the identity):
    //   interior turning points (strict sign change):
    //     180 (100<180>60, peak), 60 (nadir), 140 (peak), 80 (nadir)
    //   amplitudes between consecutive turning points:
    //     |60−180| = 120, |140−60| = 80, |80−140| = 60
    //   SD of the FULL series: mean = 720/6 = 120,
    //     Σdev² = 20²+60²+60²+20²+40²+40² = 11200, s² = 11200/5 = 2240,
    //     s = √2240 = 47.32863826…  → quant4 = 47.3286
    //   all three amplitudes exceed s → n = 3,
    //   MAGE = (120+80+60)/3 = 86.66666… → quant4 = 86.6667
    import spark.implicits._
    val ev = Seq(
      (1L, 0L, 1L, 100.0), (1L, 60L, 2L, 180.0), (1L, 120L, 3L, 60.0),
      (1L, 180L, 4L, 140.0), (1L, 240L, 5L, 80.0), (1L, 300L, 6L, 160.0))
      .toDF("user_id", "sec", "event_id", "value")
    val r = graft.queries.ClinicalQueries.mage(ev).collect().head
    assert(r.getDouble(1) === 47.3286)  // sd_glucose
    assert(r.getLong(2) === 3L)         // n_excursions
    assert(r.getDouble(3) === 86.6667)  // mage
  }

  test("MODD definitional walkthrough (Molnar 1972): time-matched day-over-day mean") {
    // The published definition: mean |glucose(t) − glucose(t − 24 h)|
    // over time-matched readings on consecutive days. Worked example,
    // one user, readings at the hour-slot centers of hours 0, 1, 2:
    //   day 0: 100, 120, 140        day 1: 110, 150, 130
    //   matched absolute differences: |110−100| = 10, |150−120| = 30,
    //   |130−140| = 10 → MODD = (10+30+10)/3 = 16.66666… → 16.6667
    import spark.implicits._
    def sec(day: Int, hour: Int) = day * 86400L + hour * 3600L + 1800L
    val ev = Seq(
      (1L, sec(0, 0), 1L, 100.0), (1L, sec(0, 1), 2L, 120.0),
      (1L, sec(0, 2), 3L, 140.0),
      (1L, sec(1, 0), 4L, 110.0), (1L, sec(1, 1), 5L, 150.0),
      (1L, sec(1, 2), 6L, 130.0))
      .toDF("user_id", "sec", "event_id", "value")
    val r = graft.queries.ClinicalQueries.modd(ev).collect().head
    assert(r.getLong(1) === 3L)         // n_pairs
    assert(r.getDouble(2) === 16.6667)  // modd
  }

  test("ref_event_response buckets the 2h post-anchor window, left-inclusive") {
    import spark.implicits._
    val dir = tempDir("resp").toString
    Seq((1L, 0L, 1L, "purchase", 100.0),   // anchor; own reading in bucket 0
      (2L, 600L, 1L, "egv", 110.0),        // bucket 0
      (3L, 2000L, 1L, "egv", 120.0),       // bucket 1
      (4L, 4000L, 1L, "egv", 130.0),       // bucket 2
      (5L, 7100L, 1L, "egv", 140.0),       // bucket 3
      (6L, 7300L, 1L, "egv", 999.0),       // past the 2h window
      (7L, 100L, 2L, "egv", 50.0))         // other user: keys isolate
      .toDF("event_id", "sec", "user_id", "event_type", "value")
      .select(col("event_id"), timestamp_seconds(col("sec")).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = run("ref_event_response", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(out === Seq((0L, 2L, 105000000L), (1L, 1L, 120000000L),
      (2L, 1L, 130000000L), (3L, 1L, 140000000L)))
  }

  test("ref_winsorized_mean clips into [p05, p95] before averaging") {
    // 20 readings: one 0, eighteen 100s, one 10000. percentile_disc:
    // p05 = rank-1 value (cum 0.05) = 0; p95 = rank-19 value = 100.
    // Clipped series: 0 + 19×100 → winsorized mean 95 (raw mean 590).
    val rows = Seq((1L, 0L, 1L, 0.0), (20L, 5700L, 1L, 10000.0)) ++
      (2 to 19).map(i => (i.toLong, i * 300L, 1L, 100.0))
    val d = eventsDir(rows)
    val out = run("ref_winsorized_mean", d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(out.toSeq === Seq((1L, 20L, 0.0, 100.0, 95.0)))
  }

  test("percentile_disc runs on Graft's kernel with the built-in's rows and schema") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.catalyst.expressions.aggregate.PercentileDisc
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(20)
    val specials = Seq(-0.0, 0.0, Double.NaN, -3.5, 2.25, 1e300, -1e-300)
    var id = 0L
    // ~10% nulls, duplicates, negatives, ±0.0 and NaN; the long column
    // spreads past 2^53, where toDouble rounds.
    def row(g: Long): Row = {
      id += 1
      val i = if (rnd.nextInt(10) == 0) null else Int.box(rnd.nextInt(41) - 20)
      val l = if (i == null) null
        else Long.box(i.toLong * 1000000000003L + rnd.nextInt(3))
      val d = if (rnd.nextInt(10) == 0) null
        else Double.box(if (rnd.nextInt(4) == 0) specials(rnd.nextInt(specials.size))
          else (rnd.nextInt(21) - 10) / 4.0)
      val f = if (d == null) null else Float.box(d.toFloat)
      Row(id, g, i, l, f, d)
    }
    // Groups 0-9 random; 10 all-null; 11 one row; 1000 + n exactly n rows.
    val sizes = Seq(1, 2, 3, 4, 5, 10, 11, 20, 21, 100, 101)
    val rows = (0 until 2000).map(_ => row(rnd.nextInt(10))) ++
      (0 until 5).map(_ => Row(-1L, 10L, null, null, null, null)) ++
      Seq(row(11)) ++ sizes.flatMap(n => (0 until n).map(_ => row(1000L + n)))
    val schema = StructType(Seq("id" -> LongType, "g" -> LongType,
      "i" -> IntegerType, "l" -> LongType, "f" -> FloatType, "d" -> DoubleType)
      .map { case (n, t) => StructField(n, t) })
    // A bare session has no Graft rules: it runs Spark's PercentileDisc.
    val bare = spark.newSession()
    Seq(spark, bare).foreach(s =>
      s.createDataFrame(s.sparkContext.parallelize(rows, 4), schema)
        .createOrReplaceTempView("pd_in"))
    def builtIns(df: DataFrame) = df.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case p: PercentileDisc => p }))
    def kernels(df: DataFrame) = df.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect {
        case k: graft.catalyst.PercentileDiscAgg => k }))
    // ±0.0 compare equal here: which one Spark returns depends on its
    // hash table's order (pinned for the kernel below). NaN is a value.
    def norm(df: DataFrame) = df.collect().toSeq
      .map(_.toSeq.map {
        case x: Double if x == 0.0 => 0.0
        case x: Double if x.isNaN => "NaN"
        case x => x
      })
      .sortBy(_.head.asInstanceOf[Long])
    val ps = Seq(0.5, 0.05, 0.95, 0.25, 0.75, 0.0, 1.0, 0.33, 0.999)
    def pd(p: Double, c: String, desc: Boolean, filter: Boolean) =
      s"percentile_disc($p) WITHIN GROUP (ORDER BY $c${if (desc) " DESC" else ""})" +
        (if (filter) " FILTER (WHERE id % 3 <> 0)" else "")
    val sqls = (for (c <- Seq("i", "l", "f", "d"); k <- 1 to 9) yield {
      val cols = ps.take(k).zipWithIndex.map { case (p, j) =>
        pd(p, c, desc = (k + j) % 3 == 0, filter = (k + j) % 4 == 0) + s" AS p$j"
      }
      s"SELECT g, count($c) AS n, ${cols.mkString(", ")} FROM pd_in GROUP BY g"
    }) ++ Seq(
      // the same percentage twice, and more groups than the object hash
      // aggregate holds before it falls back to sorting
      s"SELECT g, ${pd(0.5, "d", false, false)} AS a, " +
        s"${pd(0.5, "d", false, false)} AS b FROM pd_in GROUP BY g",
      s"SELECT id % 300 AS g, ${ps.map(pd(_, "d", false, false)).mkString(", ")}" +
        " FROM pd_in GROUP BY id % 300")
    sqls.foreach { q =>
      val (k, b) = (spark.sql(q), bare.sql(q))
      assert(builtIns(k).isEmpty && kernels(k).nonEmpty, q)
      assert(builtIns(b).nonEmpty && kernels(b).isEmpty, q)
      assert(k.schema === b.schema, q)
      assert(norm(k) === norm(b), q)
    }
    // One kernel per (child, direction, filter): the first 9-percentage
    // query on `d` mixes 3 directions x filters into 4 kernels.
    val ks = kernels(spark.sql(sqls(35))).distinct
    assert(ks.size === 4 && ks.map(_.percentages.size).sum === 9)
    // Pinned: -0.0 sorts below 0.0, so rank 1 of {-0.0, 0.0} is -0.0
    // ascending and 0.0 descending.
    import spark.implicits._
    val z = Seq(-0.0, 0.0).toDF("v").agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v DESC)")).head()
    assert(1.0 / z.getDouble(0) === Double.NegativeInfinity)
    assert(1.0 / z.getDouble(1) === Double.PositiveInfinity)
  }

  test("q_snapshot_diff classifies every residue class correctly") {
    import spark.implicits._
    val dir = tempDir("snap").toString
    // 1 → unchanged; 5 → added (5 % 11 = 5); 7 → removed (7 % 13 = 7);
    // 10 → changed (10 % 5 = 0, present in both versions)
    Seq((1L, "alpha"), (5L, "beta"), (7L, "gamma"), (10L, "delta"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val st = run("q_snapshot_diff", dir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(st === Map(1L -> "unchanged", 5L -> "added",
      7L -> "removed", 10L -> "changed"))
  }

  test("ref_seasonal_residual: per-(user, hour) integer baseline, 50 mg/dL flag") {
    // hour 0: readings 100, 200, 400 -> baseline floor(700e6/3) =
    // 233333333; residuals -133333333 (anomaly), -33333333, +166666667
    // (anomaly). hour 1: single 300 -> residual 0.
    val d = eventsDir(Seq(
      (1L, 0L, 1L, 100.0), (2L, 600L, 1L, 200.0), (3L, 1200L, 1L, 400.0),
      (4L, 3700L, 1L, 300.0)))
    val out = run("ref_seasonal_residual", d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(5), r.getBoolean(6)))).toMap
    assert(out === Map(
      1L -> ((-133333333L, true)), 2L -> ((-33333333L, false)),
      3L -> ((166666667L, true)), 4L -> ((0L, false))))
  }

  test("graph_negative_samples never emits a real edge; ranks are 1..5 per query") {
    val dir = "/root/testdata/sf0.001"
    val negs = run("graph_negative_samples", dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val edges = graft.ops.SimOps.knnEdgesCached(
        graft.Tables.embeddings(spark, dir),
        graft.queries.SimQueries.KnnK, graft.queries.SimQueries.LshTabs)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(negs.nonEmpty)
    assert(negs.forall { case (q, _, n) => !edges.contains((q, n)) && q != n })
    val byQ = negs.groupBy(_._1)
    assert(byQ.values.forall(_.map(_._2).sorted.sameElements(1 to 5)))
  }

  test("sim_quantile_transform: discrete deciles, boundary values inclusive") {
    import spark.implicits._
    val dir = tempDir("qt").toString
    // one dim, values 1..10: percentile_disc(p) of 1..10 is the value at
    // cum >= p, so boundaries are 1..9; decile(v) = #boundaries <= v.
    (1 to 10).map(i => (i.toLong, Seq(i.toFloat), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = run("sim_quantile_transform", dir).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out === Map(1L -> 1, 2L -> 2, 3L -> 3, 4L -> 4, 5L -> 5,
      6L -> 6, 7L -> 7, 8L -> 8, 9L -> 9, 10L -> 9))
  }

  test("pipeline_entity_resolution clusters transitively beyond pairwise reach") {
    import spark.implicits._
    val dir = tempDir("er").toString
    // aaaa~aabb (dist 2), aabb~abbb (dist 2), aaaa~abbb (dist 3 — NOT a
    // pairwise match): transitivity must still unite all three. The
    // duplicate name checks n_entities; the gadget is an isolated name.
    Seq((1L, "aaaa widget"), (2L, "aabb widget"), (3L, "abbb widget"),
      (4L, "aaaa widget"), (5L, "zzzz gadget"))
      .toDF("p_partkey", "p_name")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = run("pipeline_entity_resolution", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // name ids: aaaa widget -> 1 (min of 1,4), aabb -> 2, abbb -> 3,
    // zzzz gadget -> 5; canonical of the chain = 1
    assert(out === Set((1L, 1L, 2L), (2L, 1L, 1L), (3L, 1L, 1L),
      (5L, 5L, 1L)))
  }

  test("text_token_gini is exact integer micro-units of 1 - sum(p^2)") {
    import spark.implicits._
    val dir = tempDir("gini").toString
    Seq((1L, "a a b b"), (2L, "a b c d"), (3L, "a a a a"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val g = run("text_token_gini", dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(g === Map(
      1L -> ((4L, 2L, 500000L)),   // 1 - 8/16
      2L -> ((4L, 4L, 750000L)),   // 1 - 4/16
      3L -> ((4L, 1L, 0L))))       // 1 - 16/16
  }
}
