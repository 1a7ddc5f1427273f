package graft

import org.apache.spark.sql.functions._

import graft.sources.Bucketing

/** Bucketed co-located joins: the join over matching bucket specs must
  * plan with NO Exchange on either side, and produce the same result as
  * the shuffled join. */
class BucketingSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("clustered write: files hold disjoint key ranges; key predicate prunes to one file") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-cluster").toString + "/t"
    val orders = Tables.orders(spark, d).select("o_orderkey", "o_totalprice")
    Bucketing.writeClustered(orders, dir, "o_orderkey", files = 4)
    // Every row survives, and per-file key ranges are pairwise disjoint —
    // the property that lets parquet min/max stats skip whole files.
    val back = spark.read.parquet(dir)
    assert(back.count() === orders.count())
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length === 4)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, s"overlap: ${ranges.toSeq}")
      case _ =>
    }
    // Runtime proof, not plan text: a point predicate on the clustered
    // key must make the parquet scan OUTPUT ~one file's rows, because
    // footer min/max stats of the other three files exclude the key.
    val key = ranges(2)._1 // a key owned by the third file
    val q = back.filter(col("o_orderkey") === key)
    assert(q.collect().length >= 1)
    val scan = q.queryExecution.executedPlan.collectLeaves().head
    val scanned = scan.metrics("numOutputRows").value
    val total = orders.count()
    assert(scanned <= total / 2,
      s"scan read $scanned of $total rows — stats pruning did not engage")
  }

  test("Z-order clustered write: both columns prune; 1-D layout cannot") {
    import org.apache.spark.sql.functions._
    // Morton key unit check against a bit-twiddling reference.
    def ref(a: Long, b: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L)((z, i) =>
        z | (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i)))
    val got = spark.range(1).select(
        Bucketing.mortonCol(lit(3L), lit(1L), 2),
        Bucketing.mortonCol(lit(5L), lit(6L), 3),
        Bucketing.mortonCol(lit(0L), lit(0L), 21)).collect()(0)
    assert(got.getLong(0) === ref(3, 1, 2) && got.getLong(0) === 11L)
    assert(got.getLong(1) === ref(5, 6, 3))
    assert(got.getLong(2) === 0L)

    val base = tempDir("graft-zorder").toString
    val orders = Tables.orders(spark, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val total = orders.count()
    Bucketing.writeClusteredZ(orders, s"$base/z", "o_orderkey", "o_custkey", 16)
    Bucketing.writeClustered(orders, s"$base/oned", "o_orderkey", 16)
    val z = spark.read.parquet(s"$base/z")
    val oned = spark.read.parquet(s"$base/oned")
    assert(z.count() === total) // lossless, curve key not written
    assert(z.columns.toSeq === Seq("o_orderkey", "o_custkey", "o_totalprice"))

    def scanned(df: org.apache.spark.sql.DataFrame,
                pred: org.apache.spark.sql.Column): Long = {
      val q = df.filter(pred)
      q.collect()
      q.queryExecution.executedPlan.collectLeaves().head
        .metrics("numOutputRows").value
    }
    val r0 = orders.agg(min("o_orderkey"), max("o_orderkey"),
      min("o_custkey"), max("o_custkey")).collect()(0)
    val (kLo, kHi, cLo, cHi) =
      (r0.getLong(0), r0.getLong(1), r0.getLong(2), r0.getLong(3))
    // A 1/8-wide slice per dimension — narrow relative to the key space at
    // any SF, wide enough to hit several rows.
    val predA = col("o_orderkey").between(kLo, kLo + (kHi - kLo) / 8)
    val predB = col("o_custkey").between(cLo, cLo + (cHi - cLo) / 8)
    // Either single column prunes on the Z layout (small bounding boxes).
    assert(scanned(z, predA) <= total / 2, "Z layout must prune on colA")
    assert(scanned(z, predB) <= total / 2, "Z layout must prune on colB")
    // The 2-predicate rectangle prunes harder than either alone.
    assert(scanned(z, predA && predB) <= total / 4,
      "Z layout must prune the 2-predicate rectangle")
    // The 1-D layout prunes its own key but reads ~everything for colB —
    // the gap Z-ordering exists to close.
    assert(scanned(oned, predA) <= total / 2)
    assert(scanned(oned, predB) > total / 2,
      "1-D layout unexpectedly pruned the non-cluster column")
  }

  test("matching bucket specs join with zero exchange, same results") {
    val orders = Tables.orders(spark, d).select("o_orderkey", "o_orderpriority")
    val lineitem = Tables.lineitem(spark, d).select("l_orderkey", "l_quantity")
    Bucketing.writeBucketed(orders, "orders_b", "o_orderkey", 8, Some("o_orderkey"))
    Bucketing.writeBucketed(lineitem, "lineitem_b", "l_orderkey", 8, Some("l_orderkey"))

    val joined = Bucketing.coLocatedJoin(spark, "orders_b", "lineitem_b",
      "o_orderkey", "l_orderkey")
    // disable auto-broadcast so the bucketed sort-merge path is what's planned
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")

      val viaBuckets = joined.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("q"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val viaShuffle = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("q"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(viaBuckets === viaShuffle)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("partitioned layout prunes whole partitions at planning time") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-part").toString + "/events"
    Bucketing.writePartitioned(
      Tables.events(spark, d).select("event_id", "ts", "event_type", "value"),
      dir, Seq("event_type"))
    val types = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("event_type="))
    assert(types > 1, "expected one directory per event_type")
    val q = spark.read.parquet(dir).filter(col("event_type") === "click")
    val scan = q.queryExecution.executedPlan.toString
    // The equality filter must land in PartitionFilters (directory-level
    // pruning), not only in PushedFilters (file-level row-group skipping).
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"),
      s"partition filter not applied at planning time:\n$scan")
    val full = spark.read.parquet(dir).select("event_id").count()
    val pruned = q.select("event_id").count()
    assert(pruned > 0 && pruned < full)
  }
}
