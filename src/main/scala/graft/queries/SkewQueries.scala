package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.ops.SkewOps

/** Skew-mitigation operators on the gate: the oracle for a salted plan is
  * the PLAIN join/aggregation SQL — DuckDB re-proves every round that
  * salting changes partitioning, never results.
  */
object SkewQueries {

  val defs: Seq[QueryDef] = Seq(

    // Salted equi-join lineitem⋈orders (o_orderkey): hot-key-safe shape
    // for when the build side exceeds the broadcast threshold.
    QueryDef("q_salted_join",
      (s, d) => SkewOps.saltedJoin(
          Tables.lineitem(s, d).select(col("l_orderkey").as("k"), col("l_quantity")),
          Tables.orders(s, d).select(col("o_orderkey").as("k"), col("o_orderpriority")),
          "k", saltBuckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty")),
      Some("""SELECT o_orderpriority, count(*) AS n,
             | round(sum(l_quantity), 2) AS sum_qty
             | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             | GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace("\n", "")),
      presentOrder = Seq("o_orderpriority")),

    // Salted two-phase aggregation over the (low-cardinality, hence
    // hot-keyed) returnflag/linestatus keys.
    QueryDef("q_salted_agg",
      (s, d) => SkewOps.saltedAgg(
          Tables.lineitem(s, d).select(col("l_returnflag"), col("l_quantity")),
          Seq("l_returnflag"), saltBuckets = 8,
          partials = Seq(
            ("n", count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c)),
            // partials stay unrounded; only the final result rounds
            ("sum_qty", sum(col("l_quantity")),
              (c: org.apache.spark.sql.Column) => round(sum(c), 2)))),
      Some("""SELECT l_returnflag, count(*) AS n,
             | round(sum(l_quantity), 2) AS sum_qty
             | FROM lineitem GROUP BY l_returnflag
             | ORDER BY l_returnflag""".stripMargin.replace("\n", "")),
      presentOrder = Seq("l_returnflag")),

    // Skew diagnostics — the report a tuner reads BEFORE reaching for
    // q_salted_join's salting: per join-key frequency profile of
    // orders.o_custkey with the heavy-hitter head. One key-grain
    // hash-agg (map-side combine), a 3-number global roll-up broadcast
    // back, and a TakeOrdered head — never a full sort of the frequency
    // table. max_over_mean_permille is THE salting trigger (1000 =
    // uniform; a celebrity key pushes it to key-count scale); p99_freq
    // comes from an exact rank pick on the frequency table. All
    // integer — exact on both engines.
    QueryDef("q_skew_report",
      (s, d) => {
        val freq = Tables.orders(s, d)
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("freq"))
        val p99 = freq.withColumn("__rn",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("freq"), col("o_custkey"))))
          .crossJoin(broadcast(freq.agg(count(lit(1)).as("__k"))))
          .filter(col("__rn") === expr("(__k * 99 + 99) div 100"))
          .select(col("freq").as("p99_freq"))
        val stats = freq.agg(count(lit(1)).as("n_keys"),
          sum(col("freq")).as("n_rows"), max(col("freq")).as("max_freq"))
        // One task is correct for this rank: it runs over the 5 top rows.
        freq.orderBy(col("freq").desc, col("o_custkey")).limit(5)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("freq").desc, col("o_custkey"))))
          .crossJoin(broadcast(stats)).crossJoin(broadcast(p99))
          .select(col("rank"), col("o_custkey").as("key"), col("freq"),
            col("n_keys"), col("n_rows"), col("p99_freq"),
            expr("freq * 1000 div n_rows").as("share_permille"),
            expr("max_freq * 1000 * n_keys div n_rows")
              .as("max_over_mean_permille"))
      },
      Some("""WITH freq AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS freq
             |  FROM orders GROUP BY o_custkey),
             | stats AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             |   CAST(sum(freq) AS BIGINT) AS n_rows,
             |   CAST(max(freq) AS BIGINT) AS max_freq FROM freq),
             | p99 AS (SELECT freq AS p99_freq FROM (
             |   SELECT freq, row_number() OVER (ORDER BY freq, o_custkey) AS rn
             |   FROM freq), stats WHERE rn = (n_keys * 99 + 99) // 100),
             | top AS (SELECT o_custkey, freq,
             |   CAST(row_number() OVER (ORDER BY freq DESC, o_custkey) AS INT)
             |     AS rank
             |  FROM freq ORDER BY freq DESC, o_custkey LIMIT 5)
             | SELECT rank, o_custkey AS key, freq, n_keys, n_rows, p99_freq,
             |  freq * 1000 // n_rows AS share_permille,
             |  max_freq * 1000 * n_keys // n_rows AS max_over_mean_permille
             | FROM top, stats, p99 ORDER BY rank""".stripMargin
        .replace("\n", "")),
      presentOrder = Seq("rank"))
  )
}
