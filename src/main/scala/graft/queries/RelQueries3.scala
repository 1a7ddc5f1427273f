package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Relational inventory, batch 3: complex-type aggregation (collect +
  * sort + serialize), union-by-name, approximate percentile sketch.
  */
object RelQueries3 {

  val defs: Seq[QueryDef] = Seq(

    // Market-basket co-occurrence mining (association rules): the top-20
    // part pairs bought together in one order, with support, confidence,
    // and lift — all ratios in exact integer micro-units (floor division)
    // so the gate is hash-exact with zero float columns. Shape: distinct
    // (order, part) first (multi-line orders must not inflate support),
    // then the pair build is an order-keyed equi-self-join — pairs per
    // order is C(items,2) with TPC-H-ish ~4-item baskets, so the join
    // output is ~6× orders, not n²; item supports ride a broadcast-sized
    // dim joined back twice; TakeOrderedAndProject caps the output.
    QueryDef("q_market_basket",
      (s, d) => {
        // localCheckpoint: the distinct (order, part) set feeds both
        // self-join sides, the item counts, and the order count —
        // unmaterialized, the scan+distinct re-executed 4×. ok-keyed
        // layout co-partitions the pair self-join.
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
          .repartition(col("ok")).localCheckpoint()
        val pairs = li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("p1"), col("b.pk").as("p2"))
          .groupBy("p1", "p2").agg(count(lit(1)).as("support"))
        val item = li.select(col("pk")).groupBy("pk")
          .agg(count(lit(1)).as("n_item"))
        val nOrders = li.select(col("ok")).distinct().count()
        pairs
          .join(broadcast(item.select(col("pk").as("p1"),
            col("n_item").as("n1"))), "p1")
          .join(broadcast(item.select(col("pk").as("p2"),
            col("n_item").as("n2"))), "p2")
          .withColumn("confidence_micro",
            expr("(support * 1000000) div n1"))
          .withColumn("lift_micro",
            expr(s"(support * ${nOrders}L * 1000000) div (n1 * n2)"))
          .select(col("p1"), col("p2"), col("support"), col("n1"),
            col("n2"), col("confidence_micro"), col("lift_micro"))
          .orderBy(col("support").desc, col("p1"), col("p2"))
          .limit(20)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |  FROM lineitem),
             | pairs AS (SELECT a.pk AS p1, b.pk AS p2,
             |  CAST(count(*) AS BIGINT) AS support
             |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY 1, 2),
             | item AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_item
             |  FROM li GROUP BY pk),
             | n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM li)
             | SELECT p1, p2, support, i1.n_item AS n1, i2.n_item AS n2,
             |  (support * 1000000) // i1.n_item AS confidence_micro,
             |  (support * n_orders * 1000000) // (i1.n_item * i2.n_item)
             |    AS lift_micro
             | FROM pairs JOIN item i1 ON p1 = i1.pk
             |  JOIN item i2 ON p2 = i2.pk CROSS JOIN n
             | ORDER BY support DESC, p1, p2 LIMIT 20""".stripMargin.replace("\n", "")),
      presentOrder = Seq("p1", "p2")),

    // Complex types: per-customer order list collected, sorted, and
    // serialized deterministically (nested results can't be hash-compared
    // portably, so the contract output is the canonical string form).
    QueryDef("q_collect_sorted",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_custkey") < 50)
        .groupBy(col("o_custkey"))
        .agg(
          concat_ws(",", sort_array(collect_list(col("o_orderkey")))).as("order_keys"),
          size(collect_set(col("o_orderpriority"))).as("n_priorities")),
      Some("""SELECT o_custkey,
             | string_agg(o_orderkey, ',' ORDER BY o_orderkey) AS order_keys,
             | CAST(count(DISTINCT o_orderpriority) AS INT) AS n_priorities
             | FROM orders WHERE o_custkey < 50
             | GROUP BY o_custkey ORDER BY o_custkey""".stripMargin.replace("\n", "")),
      presentOrder = Seq("o_custkey")),

    // unionByName: columns matched by NAME across differently-ordered
    // projections — positional union would silently mis-align them.
    QueryDef("q_union_by_name",
      (s, d) => {
        val a = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
            lit("open").as("src"))
        val b = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(lit("closed").as("src"), col("o_totalprice").as("price"),
            col("o_orderkey").as("k")) // deliberately different column order
        a.unionByName(b)
          .groupBy(col("src"))
          .agg(count(lit(1)).as("n"), round(sum(col("price")), 2).as("sum_price"))
      },
      Some("""SELECT src, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
             | FROM (SELECT o_orderkey, o_totalprice,
             |   CASE WHEN o_orderstatus = 'O' THEN 'open' ELSE 'closed' END AS src
             |   FROM orders WHERE o_orderstatus IN ('O', 'F'))
             | GROUP BY src ORDER BY src""".stripMargin.replace("\n", "")),
      presentOrder = Seq("src")),

    // Correlated LATERAL subquery through the SQL entry point: top-2
    // orders per customer — the per-group-top-n shape as a correlated
    // subquery rather than a window.
    QueryDef("q_lateral_topn",
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer_v")
        Tables.orders(s, d).createOrReplaceTempView("orders_v")
        s.sql("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
                 FROM customer_v c JOIN LATERAL (
                   SELECT o_orderkey, o_totalprice FROM orders_v
                   WHERE o_custkey = c.c_custkey
                   ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
                 WHERE c.c_custkey < 100""")
      },
      Some("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
             | FROM customer c JOIN LATERAL (
             |   SELECT o_orderkey, o_totalprice FROM orders
             |   WHERE o_custkey = c.c_custkey
             |   ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t ON true
             | WHERE c.c_custkey < 100
             | ORDER BY c.c_custkey, t.o_orderkey""".stripMargin.replace("\n", "")),
      presentOrder = Seq("c_custkey", "o_orderkey")),

    // Null semantics: null-safe equality, nullif/coalesce/nvl2 — the
    // three-valued-logic surface, with nulls manufactured via nullif.
    QueryDef("q_null_semantics",
      (s, d) => Tables.orders(s, d)
        .withColumn("maybe_status", nullif(col("o_orderstatus"), lit("P")))
        .select(col("o_orderkey"),
          col("maybe_status"),
          col("maybe_status").eqNullSafe("O").cast("int").as("is_open_nullsafe"),
          coalesce(col("maybe_status"), lit("pending")).as("status_filled"),
          expr("nvl2(maybe_status, 'known', 'unknown')").as("known")),
      Some("""SELECT o_orderkey, nullif(o_orderstatus, 'P') AS maybe_status,
             | CAST(nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM 'O' AS INT) AS is_open_nullsafe,
             | coalesce(nullif(o_orderstatus, 'P'), 'pending') AS status_filled,
             | CASE WHEN nullif(o_orderstatus, 'P') IS NOT NULL THEN 'known' ELSE 'unknown' END AS known
             | FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", "")),
      presentOrder = Seq("o_orderkey")),

    // Blocked fuzzy join (entity resolution), distinct-name factorized:
    // entity names repeat heavily, so the fuzzy verify runs over DISTINCT
    // names (~100s) instead of entities (~20k) — blocking key (last
    // token + first char) → levenshtein over name pairs → per-name stats
    // (count, two smallest keys) fan the result back to entities without
    // ever materializing entity-level pairs. Output per entity: how many
    // OTHER entities fuzzy-match it (dist <= 4), the best distance, and
    // the deterministic best partner (lowest key at the best distance;
    // for an entity that is itself its name-group's minimum, the
    // group's second-smallest key stands in). Entities with no match
    // beyond themselves are dropped.
    QueryDef("q_fuzzy_join",
      (s, d) => {
        val p = Tables.part(s, d)
          .select(col("p_partkey"), col("p_name"),
            concat(regexp_extract(col("p_name"), "[^ ]+$", 0), lit("|"),
              substring(col("p_name"), 1, 1)).as("blk"))
        val stats0 = p.groupBy(col("p_name"), col("blk"))
          .agg(count(lit(1)).as("n"), min(col("p_partkey")).as("k1"))
        val k2s = p.join(stats0.select(col("p_name"), col("k1")), "p_name")
          .filter(col("p_partkey") > col("k1"))
          .groupBy(col("p_name")).agg(min(col("p_partkey")).as("k2"))
        val stats = stats0.join(k2s, Seq("p_name"), "left")
        val namePairs = stats.toDF("name_a", "blk", "na", "ka1", "ka2")
          .join(stats.toDF("name_b", "blk", "n", "k1", "k2"), Seq("blk"))
          .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
          .filter(col("dist") <= 4)
          .select("name_a", "name_b", "dist", "n", "k1", "k2")
        p.join(namePairs, col("p_name") === col("name_a"))
          .withColumn("cand",
            when(col("name_b") === col("p_name") && col("k1") === col("p_partkey"),
              col("k2")).otherwise(col("k1")))
          .groupBy(col("p_partkey").as("key_a"))
          .agg((sum(col("n")) - 1).as("n_matches"),
            min(when(col("cand").isNotNull,
              struct(col("dist"), col("cand")))).as("__best"))
          .filter(col("n_matches") >= 1)
          .select(col("key_a"), col("n_matches"),
            col("__best.dist").as("best_dist"),
            col("__best.cand").as("best_key"))
      },
      Some("""WITH p AS (SELECT p_partkey, p_name,
             |  regexp_extract(p_name, '[^ ]+$') || '|' || substr(p_name, 1, 1) AS blk
             |  FROM part),
             | nm AS (SELECT p_name, blk, count(*) AS n, min(p_partkey) AS k1
             |  FROM p GROUP BY p_name, blk),
             | nm2 AS (SELECT nm.*, (SELECT min(p2.p_partkey) FROM p p2
             |   WHERE p2.p_name = nm.p_name AND p2.p_partkey > nm.k1) AS k2
             |  FROM nm),
             | np AS (SELECT a.p_name AS name_a, b.p_name AS name_b,
             |   levenshtein(a.p_name, b.p_name) AS dist, b.n, b.k1, b.k2
             |  FROM nm2 a JOIN nm2 b ON a.blk = b.blk
             |  WHERE levenshtein(a.p_name, b.p_name) <= 4),
             | j AS (SELECT p.p_partkey AS key_a, np.dist, np.n,
             |   CASE WHEN np.name_b = p.p_name AND np.k1 = p.p_partkey
             |    THEN np.k2 ELSE np.k1 END AS cand
             |  FROM p JOIN np ON p.p_name = np.name_a),
             | ranked AS (SELECT *, row_number() OVER (PARTITION BY key_a
             |   ORDER BY CASE WHEN cand IS NULL THEN 1 ELSE 0 END, dist, cand) AS rk
             |  FROM j)
             | SELECT key_a, CAST(sum(n) - 1 AS BIGINT) AS n_matches,
             |  CAST(min(CASE WHEN rk = 1 AND cand IS NOT NULL THEN dist END) AS INT) AS best_dist,
             |  min(CASE WHEN rk = 1 THEN cand END) AS best_key
             | FROM ranked GROUP BY key_a HAVING sum(n) - 1 >= 1
             | ORDER BY key_a""".stripMargin.replace("\n", "")),
      presentOrder = Seq("key_a")),

    // Jaro–Winkler best-match linkage: for every customer name, the
    // single most-similar OTHER name in its block (blocked on the
    // hundreds-prefix of the numeric suffix — per-block candidate sets
    // are bounded at 100, the classic blocking discipline), scored by
    // the native codegen `jaro_winkler` Expression
    // (catalyst/JaroWinkler.scala — Spark has levenshtein but no Jaro
    // family; a Scala UDF here would serialize per pair and break
    // codegen around the ranking). Ranking runs on the RAW double (the
    // 25k-pair fuzz pins Spark/DuckDB bit-equality), ties by lowest
    // partner key; only the published score is 4dp-quantized. The top-1
    // window is the row_number()<=k shape the TopKPerKey rewrite
    // accelerates.
    QueryDef("q_fuzzy_jaro",
      (s, d) => {
        val c = Tables.customer(s, d).select(col("c_custkey"),
          col("c_name"), substring(col("c_name"), 10, 7).as("blk"))
        val pairs = c.toDF("key_a", "name_a", "blk")
          .join(c.toDF("key_b", "name_b", "blk"), Seq("blk"))
          .filter(col("key_a") =!= col("key_b"))
          .withColumn("jw", expr("jaro_winkler(name_a, name_b)"))
        pairs
          .withColumn("rk", row_number().over(Window
            .partitionBy(col("key_a"))
            .orderBy(col("jw").desc, col("key_b"))))
          .filter(col("rk") === 1)
          .select(col("key_a"), col("key_b").as("best_key"),
            graft.ops.SimOps.quant4(col("jw")).as("jw_q4"))
      },
      Some(s"""WITH c AS (SELECT c_custkey AS k, c_name AS nm,
             |   substr(c_name, 10, 7) AS blk FROM customer),
             | pr AS (SELECT a.k AS key_a, b.k AS key_b,
             |   jaro_winkler_similarity(a.nm, b.nm) AS jw
             |  FROM c a JOIN c b ON a.blk = b.blk AND a.k <> b.k),
             | rk AS (SELECT *, row_number() OVER (PARTITION BY key_a
             |   ORDER BY jw DESC, key_b) AS rk FROM pr)
             | SELECT key_a, key_b AS best_key,
             |  ${graft.ops.SimOps.quant4Sql("jw")} AS jw_q4
             | FROM rk WHERE rk = 1
             | ORDER BY key_a""".stripMargin.replace("\n", "")),
      presentOrder = Seq("key_a")),

    // Full-outer join completing the join matrix (inner/broadcast/semi/
    // anti/salted/as-of/interval are gated elsewhere): customers with no
    // orders survive with a zero count (the null-producing side), and the
    // coalesced key keeps the output total even if the fact side ever
    // carried orphan keys.
    QueryDef("q_join_outer",
      (s, d) => {
        val perCust = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
        Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
          .join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            col("c_mktsegment"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            col("sum_price"))
      },
      Some("""WITH pc AS (SELECT o_custkey, count(*) AS n_orders,
             |  round(sum(o_totalprice), 2) AS sum_price
             |  FROM orders GROUP BY o_custkey)
             | SELECT coalesce(c_custkey, o_custkey) AS custkey, c_mktsegment,
             |  coalesce(n_orders, 0) AS n_orders, sum_price
             | FROM customer FULL OUTER JOIN pc ON c_custkey = o_custkey
             | ORDER BY custkey""".stripMargin.replace("\n", "")),
      presentOrder = Seq("custkey")),

    // SCD2 intervalization: a (key, ts, value) changelog becomes
    // (key, value, valid_from, valid_to) rows — valid_to = next change's
    // ts (NULL while current). One window shuffle per key; the standard
    // point-in-time table build that feeds as-of joins downstream.
    QueryDef("q_scd2_intervals",
      (s, d) => {
        Tables.events(s, d)
          .select(col("user_id"), col("ts").as("valid_from"),
            col("event_id"), col("value"))
          .withColumn("valid_to",
            lead(col("valid_from"), 1).over(
              Window.partitionBy(col("user_id"))
                .orderBy(col("valid_from"), col("event_id"))))
      },
      Some("""SELECT user_id, ts AS valid_from, event_id, value,
             | lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
             | FROM events ORDER BY event_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("event_id")),

    // Gap-based sessionization (batch twin of session_window): a new
    // session starts after a >30-minute silence; session_id = running
    // count of gap-starts per user. Two stacked windows over ONE
    // (user, time) sort/shuffle.
    QueryDef("q_sessionize",
      (s, d) => {
        val byTime = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("__prev", lag(col("ts"), 1).over(byTime))
          .withColumn("__new_session",
            when(col("__prev").isNull ||
              col("ts").cast("long") - col("__prev").cast("long") > 1800, 1)
              .otherwise(0))
          .withColumn("session_id",
            sum(col("__new_session")).over(
              byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select("user_id", "ts", "event_id", "session_id")
      },
      Some("""WITH g AS (SELECT user_id, ts, event_id,
             |  CASE WHEN lag(ts) OVER w IS NULL
             |   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800 THEN 1 ELSE 0 END AS ns
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             | SELECT user_id, ts, event_id,
             |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             | FROM g ORDER BY event_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("event_id")),

    // RANGE window frames (value-based bounds, vs the ROWS frames in
    // q_window_orders) + first/last_value over an explicit frame.
    QueryDef("q_window_range_frame",
      (s, d) => {
        val byPrice = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"))
        Tables.orders(s, d)
          .filter(col("o_custkey") < 100)
          .withColumn("n_within_10k", count(lit(1)).over(
            byPrice.rangeBetween(-10000, 10000)))
          .withColumn("cheapest", first(col("o_orderkey")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("o_orderpriority"))
              .orderBy(col("o_totalprice"), col("o_orderkey"))
              .rowsBetween(Long.MinValue, Long.MaxValue)))
          .select("o_orderpriority", "o_orderkey", "n_within_10k", "cheapest")
      },
      Some("""SELECT o_orderpriority, o_orderkey,
             | count(*) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
             |   RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS n_within_10k,
             | first_value(o_orderkey) OVER (PARTITION BY o_orderpriority
             |   ORDER BY o_totalprice, o_orderkey
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cheapest
             | FROM orders WHERE o_custkey < 100
             | ORDER BY o_orderpriority, o_orderkey""".stripMargin.replace("\n", "")),
      presentOrder = Seq("o_orderpriority", "o_orderkey")),

    // Interval (time-range) self-join: for each high-value event, the
    // same user's events within ±5 minutes. Plans as an equi-join on
    // user_id with the range as a join filter — per-key fan-out bounded
    // by window density, no cross product. Batch twin of the
    // stream-stream interval join (StreamingSpec).
    QueryDef("q_interval_selfjoin",
      (s, d) => {
        val e = Tables.events(s, d)
        val high = e.filter(col("value") >= 200)
          .select(col("user_id").as("h_user"), col("ts").as("h_ts"),
            col("event_id").as("h_id"))
        high.join(e,
            col("user_id") === col("h_user") &&
              col("ts") >= col("h_ts") - expr("INTERVAL 5 MINUTES") &&
              col("ts") <= col("h_ts") + expr("INTERVAL 5 MINUTES"))
          .groupBy(col("h_id"))
          .agg(count(lit(1)).as("n_nearby"),
            round(sum(col("value")), 2).as("sum_value"))
      },
      Some("""WITH high AS (SELECT user_id AS hu, ts AS hts, event_id AS hid
             |  FROM events WHERE value >= 200)
             | SELECT hid AS h_id, count(*) AS n_nearby,
             |  round(sum(e.value), 2) AS sum_value
             | FROM high JOIN events e ON e.user_id = hu
             |  AND e.ts BETWEEN hts - INTERVAL 5 MINUTE AND hts + INTERVAL 5 MINUTE
             | GROUP BY hid ORDER BY hid""".stripMargin.replace("\n", "")),
      presentOrder = Seq("h_id")),

    // The banded scale path of the interval join: same ±window semantics,
    // but joined EQUI on (user, 600s-time-bucket) — a single celebrity
    // user can no longer make its join group |l|·|r| quadratic, because
    // each group holds only one tolerance-window cell of rows (pair cost
    // bounded by data density, not key popularity; the batch shape of the
    // watermarked stream-stream interval join). Left rows replicate to 3
    // buckets; right rows keep one, so each qualifying pair appears
    // exactly once. The oracle is the PLAIN range join — the banding must
    // be invisible in the result.
    QueryDef("q_interval_grid_join",
      (s, d) => {
        val e = Tables.events(s, d)
        val high = e.filter(col("value") >= 200)
          .select(col("user_id"), col("ts"), col("event_id").as("h_id"))
        graft.ops.AsofOps.bandedIntervalJoin(
            high, e.select(col("user_id"), col("ts"), col("value")),
            keyCols = Seq("user_id"), leftTime = "ts", rightTime = "ts",
            rightPayload = Seq("value"), toleranceSec = 600L)
          .groupBy(col("h_id"))
          .agg(count(lit(1)).as("n_nearby"),
            round(sum(col("r_value")), 2).as("sum_value"),
            min(col("delta_s")).as("min_delta_s"),
            max(col("delta_s")).as("max_delta_s"))
      },
      Some("""WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
             |   value, event_id FROM events),
             | high AS (SELECT user_id AS hu, es AS hes, event_id AS hid
             |   FROM e WHERE value >= 200)
             | SELECT hid AS h_id, count(*) AS n_nearby,
             |  round(sum(e.value), 2) AS sum_value,
             |  CAST(min(e.es - hes) AS BIGINT) AS min_delta_s,
             |  CAST(max(e.es - hes) AS BIGINT) AS max_delta_s
             | FROM high JOIN e ON e.user_id = hu AND abs(e.es - hes) <= 600
             | GROUP BY hid ORDER BY hid""".stripMargin.replace("\n", "")),
      presentOrder = Seq("h_id")),

    // LEFT OUTER band join in the NATURAL form — each event decorated
    // with the same user's high readings within ±300s, null row when
    // none. Written as the plain abs(Δt)<=tol left join; BandedJoinRule
    // rewrites it automatically (right side replicated to 3 buckets,
    // preserved left un-replicated, so outer multiplicity is exact —
    // PlanSpec pins the shape). The oracle is the un-banded LEFT JOIN:
    // the rewrite must be invisible, nulls included.
    QueryDef("q_interval_left_band",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            col("ts").cast("long").as("es"), col("value"))
        val high = e.filter(col("value") >= 200)
          .select(col("user_id").as("hu"), col("es").as("hes"),
            col("value").as("hv"))
        e.join(high,
            e("user_id") === high("hu") &&
              abs(e("es") - high("hes")) <= lit(300L), "left")
          .groupBy(col("event_id"))
          .agg(count(col("hes")).as("n_high_nearby"),
            round(sum(col("hv")), 2).as("sum_high"),
            min(abs(col("es") - col("hes"))).as("min_abs_delta"))
      },
      Some("""WITH e AS (SELECT event_id, user_id,
             |   CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events),
             | h AS (SELECT user_id AS hu, es AS hes, value AS hv
             |   FROM e WHERE value >= 200)
             | SELECT event_id, count(hes) AS n_high_nearby,
             |  round(sum(hv), 2) AS sum_high,
             |  CAST(min(abs(e.es - hes)) AS BIGINT) AS min_abs_delta
             | FROM e LEFT JOIN h ON e.user_id = hu AND abs(e.es - hes) <= 300
             | GROUP BY event_id ORDER BY event_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("event_id")),

    // Backward as-of (point-in-time) join: each event joined to the
    // user's most recent at-or-before "high" state change — the
    // union+window shape (one shuffle by key, zero join nodes, |left|
    // output rows) vs DuckDB's native ASOF JOIN as the oracle. The right
    // side is pre-reduced to one row per (user, ts) so the match is
    // well-defined in both engines.
    QueryDef("q_asof_join",
      (s, d) => {
        val events = Tables.events(s, d)
        val high = events.filter(col("value") >= 200)
          .groupBy(col("user_id"), col("ts").as("high_ts"))
          .agg(max(col("value")).as("high_value"))
        graft.ops.AsofOps.asofJoin(
          events.select("user_id", "ts", "event_id", "value"),
          high,
          keyCols = Seq("user_id"), leftTime = "ts", rightTime = "high_ts",
          rightPayload = Seq("high_ts", "high_value"))
      },
      Some("""WITH high AS (
             |  SELECT user_id, ts AS high_ts, max(value) AS high_value
             |  FROM events WHERE value >= 200 GROUP BY user_id, ts)
             | SELECT e.user_id, e.ts, e.event_id, e.value,
             |  h.high_ts AS asof_high_ts, h.high_value AS asof_high_value
             | FROM events e ASOF LEFT JOIN high h
             |  ON e.user_id = h.user_id AND h.high_ts <= e.ts
             | ORDER BY e.event_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("event_id")),

    // Tolerance-bounded as-of (pandas merge_asof(tolerance=...)): the
    // backward match above, DISCARDED when staler than 30 min — the
    // freshness contract of a point-in-time feature join. Same one-
    // exchange zero-join plan plus a scalar integer-second predicate;
    // the oracle wraps DuckDB's native ASOF in the identical CASE.
    QueryDef("q_asof_tolerance",
      (s, d) => {
        val events = Tables.events(s, d)
        val high = events.filter(col("value") >= 200)
          .groupBy(col("user_id"), col("ts").as("high_ts"))
          .agg(max(col("value")).as("high_value"))
        graft.ops.AsofOps.asofJoinTolerance(
          events.select("user_id", "ts", "event_id", "value"),
          high,
          keyCols = Seq("user_id"), leftTime = "ts", rightTime = "high_ts",
          rightPayload = Seq("high_ts", "high_value"), toleranceSec = 1800L)
      },
      Some("""WITH high AS (
             |  SELECT user_id, ts AS high_ts, max(value) AS high_value
             |  FROM events WHERE value >= 200 GROUP BY user_id, ts),
             | j AS (SELECT e.user_id, e.ts, e.event_id, e.value,
             |   h.high_ts, h.high_value,
             |   (CAST(floor(epoch(e.ts)) AS BIGINT)
             |    - CAST(floor(epoch(h.high_ts)) AS BIGINT) <= 1800) AS fr
             |  FROM events e ASOF LEFT JOIN high h
             |   ON e.user_id = h.user_id AND h.high_ts <= e.ts)
             | SELECT user_id, ts, event_id, value,
             |  CASE WHEN fr THEN high_ts END AS asof_high_ts,
             |  CASE WHEN fr THEN high_value END AS asof_high_value
             | FROM j ORDER BY event_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("event_id")),

    // Running distinct count — the discovery/novelty curve (how many
    // DISTINCT event types has each user touched so far, per event):
    // not expressible as a window COUNT(DISTINCT) in either engine, so
    // both sides compose it the same exact way — an is-first-occurrence
    // flag (row_number() == 1 over (user, type)) summed by a running
    // frame over the user's timeline. Two windows, but both partition
    // by user-prefixed keys; the flag is a column compare, not a
    // filter, so the top-k rewrite leaves it alone. All integer.
    QueryDef("q_cumulative_distinct",
      (s, d) => {
        val wFirst = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("sec"), col("event_id"))
        val wRun = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("CAST(ts AS LONG)").as("sec"))
          .withColumn("__new",
            when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
          .withColumn("cum_distinct_types", sum(col("__new")).over(wRun))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("cum_distinct_types"))
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type,
             |   CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
             | f AS (SELECT *, CASE WHEN row_number() OVER (
             |     PARTITION BY user_id, event_type ORDER BY sec, event_id)
             |     = 1 THEN 1 ELSE 0 END AS is_new FROM ev)
             | SELECT event_id, user_id, event_type,
             |  CAST(sum(is_new) OVER (PARTITION BY user_id
             |    ORDER BY sec, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |   AS BIGINT) AS cum_distinct_types
             | FROM f ORDER BY event_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("event_id")),

    // Group-wise top-k through the CUSTOM PHYSICAL OPERATOR: written as
    // the idiomatic row_number()-filter window, which TopKRewriteRule
    // turns into the TopKPerKey logical node and TopKStrategy plans as
    // a bounded-heap partial + streaming-head final — no Window, and
    // the only Sort runs over the partial-bounded exchange (k rows per
    // key × map partition cross the wire, not every order; the final
    // streams sorted groups in O(1) memory, spill-safe via SortExec).
    // PlanSpec pins the plan shape and the rewrite-off equality. The
    // oracle is the plain window SQL: the operator must be
    // row-identical to what the window computes.
    QueryDef("q_topk_per_key",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |   CAST(row_number() OVER (PARTITION BY o_custkey
             |     ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank
             |  FROM orders) WHERE rank <= 3
             | ORDER BY o_custkey, rank""".stripMargin.replace("\n", "")),
      presentOrder = Seq("o_custkey", "rank")),

    // Nearest as-of (pandas merge_asof direction='nearest', which
    // neither engine has natively): the CLOSEST high reading in either
    // direction, backward winning distance ties. One exchange, two
    // window scans (asc + desc over the same key partitioning), zero
    // join nodes; the oracle composes DuckDB's backward and forward
    // ASOF joins and picks the closer side by floored-second distance —
    // the same integer arithmetic as the Spark pick.
    QueryDef("q_asof_nearest",
      (s, d) => {
        val events = Tables.events(s, d)
        val high = events.filter(col("value") >= 200)
          .groupBy(col("user_id"), col("ts").as("high_ts"))
          .agg(max(col("value")).as("high_value"))
        graft.ops.AsofOps.asofJoinNearest(
          events.select("user_id", "ts", "event_id", "value"),
          high,
          keyCols = Seq("user_id"), leftTime = "ts", rightTime = "high_ts",
          rightPayload = Seq("high_ts", "high_value"))
      },
      Some("""WITH high AS (
             |  SELECT user_id, ts AS high_ts, max(value) AS high_value
             |  FROM events WHERE value >= 200 GROUP BY user_id, ts),
             | b AS (SELECT e.user_id, e.ts, e.event_id, e.value,
             |   h.high_ts AS bt, h.high_value AS bv
             |  FROM events e ASOF LEFT JOIN high h
             |   ON e.user_id = h.user_id AND h.high_ts <= e.ts),
             | f AS (SELECT e.event_id, h.high_ts AS ft, h.high_value AS fv
             |  FROM events e ASOF LEFT JOIN high h
             |   ON e.user_id = h.user_id AND h.high_ts >= e.ts)
             | SELECT b.user_id, b.ts, b.event_id, b.value,
             |  CASE WHEN ft IS NULL THEN bt WHEN bt IS NULL THEN ft
             |   WHEN CAST(floor(epoch(b.ts)) AS BIGINT)
             |       - CAST(floor(epoch(bt)) AS BIGINT)
             |     <= CAST(floor(epoch(ft)) AS BIGINT)
             |       - CAST(floor(epoch(b.ts)) AS BIGINT)
             |   THEN bt ELSE ft END AS asof_high_ts,
             |  CASE WHEN ft IS NULL THEN bv WHEN bt IS NULL THEN fv
             |   WHEN CAST(floor(epoch(b.ts)) AS BIGINT)
             |       - CAST(floor(epoch(bt)) AS BIGINT)
             |     <= CAST(floor(epoch(ft)) AS BIGINT)
             |       - CAST(floor(epoch(b.ts)) AS BIGINT)
             |   THEN bv ELSE fv END AS asof_high_value
             | FROM b JOIN f ON b.event_id = f.event_id
             | ORDER BY b.event_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("event_id")),

    // Forward as-of: the NEXT high reading at or after each event —
    // mirror of q_asof_join, same zero-join union+window shape with the
    // frame reversed; oracle = DuckDB's native forward ASOF (>=).
    QueryDef("q_asof_forward",
      (s, d) => {
        val events = Tables.events(s, d)
        val high = events.filter(col("value") >= 200)
          .groupBy(col("user_id"), col("ts").as("high_ts"))
          .agg(max(col("value")).as("high_value"))
        graft.ops.AsofOps.asofJoinForward(
          events.select("user_id", "ts", "event_id", "value"),
          high,
          keyCols = Seq("user_id"), leftTime = "ts", rightTime = "high_ts",
          rightPayload = Seq("high_ts", "high_value"))
      },
      Some("""WITH high AS (
             |  SELECT user_id, ts AS high_ts, max(value) AS high_value
             |  FROM events WHERE value >= 200 GROUP BY user_id, ts)
             | SELECT e.user_id, e.ts, e.event_id, e.value,
             |  h.high_ts AS asof_high_ts, h.high_value AS asof_high_value
             | FROM events e ASOF LEFT JOIN high h
             |  ON e.user_id = h.user_id AND h.high_ts >= e.ts
             | ORDER BY e.event_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("event_id")),

    // Approximate percentile sketch beside the exact value. The sketch
    // estimate is engine-specific, so the gate checks it with a tolerance
    // oracle instead of going rows-only: the exact percentile is compared
    // exactly (DECIMAL-cast), and the approx column is emitted as a
    // within-5%-of-exact boolean whose oracle twin is TRUE — an
    // out-of-bound sketch flips the boolean and fails the hash compare.
    // lag/lead offset windows: per-customer order history with previous/
    // next order date and the inter-order gap — the offset-window row of
    // the window-function matrix (frames, ranks, RANGE, and SCD2's lead
    // are gated elsewhere). One shuffle on the partition key, sort within.
    QueryDef("q_window_lag",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val prev = lag(col("o_orderdate"), 1).over(w)
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
            prev.as("prev_date"),
            lead(col("o_orderdate"), 1).over(w).as("next_date"),
            datediff(to_date(col("o_orderdate")), to_date(prev))
              .as("gap_days"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderdate,
             | lag(o_orderdate) OVER w AS prev_date,
             | lead(o_orderdate) OVER w AS next_date,
             | CAST(date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE),
             |   CAST(o_orderdate AS DATE)) AS INT) AS gap_days
             | FROM orders
             | WINDOW w AS (PARTITION BY o_custkey
             |   ORDER BY o_orderdate, o_orderkey)
             | ORDER BY o_orderkey""".stripMargin.replace("\n", "")),
      presentOrder = Seq("o_orderkey")),

    QueryDef("q_approx_percentile",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 2).cast("decimal(18,2)")
            .cast("double").as("exact_p50"),
          expr("approx_percentile(o_totalprice, 0.5, 1000)").as("__approx"))
        .withColumn("approx_within_5pct",
          abs(col("__approx") - col("exact_p50")) <= col("exact_p50") * 0.05)
        .select("o_orderpriority", "exact_p50", "approx_within_5pct"),
      Some("""SELECT o_orderpriority,
             | CAST(round(quantile_cont(o_totalprice, 0.5), 2) AS DECIMAL(18,2))::DOUBLE AS exact_p50,
             | TRUE AS approx_within_5pct
             | FROM orders GROUP BY o_orderpriority
             | ORDER BY o_orderpriority""".stripMargin.replace("\n", "")),
      presentOrder = Seq("o_orderpriority")),

    // Equi-width histogram: integer bucketing by floor division — one
    // hash-agg, the profiling pass every pipeline runs before choosing
    // thresholds. Bucket ids are exact integer math; only the bucket
    // bounds are derived (bucket·width), so no float can drift.
    QueryDef("q_histogram",
      (s, d) => Tables.orders(s, d)
        .withColumn("bucket", expr("CAST(floor(o_totalprice / 25000) AS BIGINT)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).cast("decimal(18,2)").cast("double").as("lo"),
          round(max(col("o_totalprice")), 2).cast("decimal(18,2)").cast("double").as("hi")),
      Some("""SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
             | count(*) AS n,
             | CAST(round(min(o_totalprice), 2) AS DECIMAL(18,2))::DOUBLE AS lo,
             | CAST(round(max(o_totalprice), 2) AS DECIMAL(18,2))::DOUBLE AS hi
             | FROM orders GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", "")),
      presentOrder = Seq("bucket")),

    // Recursive CTE (Spark 4 WITH RECURSIVE): iterate-to-fixpoint INSIDE
    // one SQL query — the hierarchy/graph-walk shape that previously
    // forced a driver loop (cf. DedupOps.connectedComponents' iterative
    // min-label rounds). The fixture is the implicit binary tree over
    // supplier keys (parent = k div 2): each recursion level joins the
    // next tree level, so depth(k) = floor(log2 k) comes out of pure
    // recursion, checked exactly by the identical DuckDB recursion.
    QueryDef("q_recursive_cte",
      (s, d) => {
        Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
        s.sql("""WITH RECURSIVE t(k, depth) AS (
                   SELECT CAST(1 AS BIGINT), 0
                   UNION ALL
                   SELECT s.s_suppkey, t.depth + 1
                   FROM supplier_v s JOIN t ON s.s_suppkey div 2 = t.k
                   WHERE s.s_suppkey > 1)
                 SELECT k, depth FROM t""")
      },
      Some("""WITH RECURSIVE t(k, depth) AS (
             |  SELECT CAST(1 AS BIGINT), 0
             |  UNION ALL
             |  SELECT s.s_suppkey, t.depth + 1
             |  FROM supplier s JOIN t ON s.s_suppkey // 2 = t.k
             |  WHERE s.s_suppkey > 1)
             | SELECT k, CAST(depth AS INT) AS depth FROM t
             | ORDER BY k""".stripMargin.replace("\n", "")),
      presentOrder = Seq("k")),

    // Higher-order array functions as a first-class gate: the HOF family
    // (transform/filter/aggregate/zip_with/sort/slice) every array-heavy
    // op in this engine leans on, exercised end-to-end on derived arrays
    // with integer-only math so both engines agree bit-for-bit.
    QueryDef("q_array_funcs",
      (s, d) => Tables.orders(s, d)
        .withColumn("arr",
          expr("sequence(CAST(1 AS INT), CAST(1 + o_orderkey % 5 AS INT))"))
        .select(col("o_orderkey"),
          expr("CAST(aggregate(transform(arr, x -> x * x), 0, (a, x) -> a + x) AS BIGINT)")
            .as("sum_sq"),
          expr("size(filter(arr, x -> x % 2 = 0))").as("n_even"),
          expr("array_join(transform(slice(sort_array(arr, false), 1, 3), x -> CAST(x AS STRING)), ',')")
            .as("top3_desc"),
          expr("CAST(element_at(zip_with(arr, arr, (a, b) -> a + b), 1) AS INT)")
            .as("first_doubled")),
      Some("""WITH t AS (SELECT o_orderkey,
             |  generate_series(1, CAST(1 + o_orderkey % 5 AS INT)) AS arr
             |  FROM orders)
             | SELECT o_orderkey,
             |  CAST(list_sum(list_transform(arr, x -> x * x)) AS BIGINT) AS sum_sq,
             |  CAST(len(list_filter(arr, x -> x % 2 = 0)) AS INT) AS n_even,
             |  array_to_string(list_transform(list_slice(list_reverse_sort(arr), 1, 3),
             |    x -> CAST(x AS VARCHAR)), ',') AS top3_desc,
             |  CAST(arr[1] + arr[1] AS INT) AS first_doubled
             | FROM t ORDER BY o_orderkey""".stripMargin.replace("\n", "")),
      presentOrder = Seq("o_orderkey")),

    // Unpivot (wide → long), the inverse of q_pivot_status: measure
    // columns melt into (metric, val) rows via stack() — a codegen'd
    // generator, no shuffle; the oracle spells the same reshape as the
    // portable UNION ALL. Both measures cast to DOUBLE so the long
    // column is one type.
    QueryDef("q_unpivot",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"),
          expr("""stack(2, 'price', CAST(o_totalprice AS DOUBLE),
                           'cust',  CAST(o_custkey  AS DOUBLE))""")
            .as(Seq("metric", "val"))),
      Some("""SELECT o_orderkey, 'price' AS metric,
             |  CAST(o_totalprice AS DOUBLE) AS val FROM orders
             | UNION ALL
             | SELECT o_orderkey, 'cust', CAST(o_custkey AS DOUBLE) FROM orders
             | ORDER BY o_orderkey, metric""".stripMargin.replace("\n", "")),
      presentOrder = Seq("o_orderkey", "metric")),

    // Sequential-pattern support (the PrefixSpan/SPAM family's length-2
    // core): for every ORDERED event-type pair (a, b), how many users
    // ever did a STRICTLY BEFORE some b — gap-allowed order, which
    // neither ref_event_transitions (adjacent only) nor q_market_basket
    // (unordered co-occurrence) expresses. "Some a before some b" ⟺
    // min ts(a) < max ts(b) per user, so the plan is ONE hash-agg to
    // (user, type, min_ts, max_ts) — map-side combined, type fan-out
    // bounded — then a per-user types×types self-join (≤ |types|² slim
    // rows per user, never event-grain) and a count-distinct-free
    // group-count. support_permille = users·1000 div total_users.
    QueryDef("q_seq_patterns",
      (s, d) => {
        val spans = Tables.events(s, d)
          .groupBy(col("user_id"), col("event_type"))
          .agg(min(col("ts")).as("t_min"), max(col("ts")).as("t_max"))
          .localCheckpoint()
        val nUsers = spans.select(col("user_id")).distinct().count()
        spans.as("a").join(spans.as("b"), Seq("user_id"))
          .filter(col("a.event_type") =!= col("b.event_type") &&
            col("a.t_min") < col("b.t_max"))
          .groupBy(col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"))
          .agg(count(lit(1)).as("n_users"))
          .withColumn("support_permille",
            expr(s"(n_users * 1000) div ${nUsers}L"))
      },
      Some("""WITH spans AS (SELECT user_id, event_type,
             |   min(ts) AS t_min, max(ts) AS t_max
             |  FROM events GROUP BY 1, 2),
             | nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n
             |  FROM spans),
             | p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |   CAST(count(*) AS BIGINT) AS n_users
             |  FROM spans a JOIN spans b ON a.user_id = b.user_id
             |  WHERE a.event_type <> b.event_type AND a.t_min < b.t_max
             |  GROUP BY 1, 2)
             | SELECT type_a, type_b, n_users,
             |  (n_users * 1000) // (SELECT n FROM nu) AS support_permille
             | FROM p ORDER BY type_a, type_b""".stripMargin
        .replace("\n", "")),
      presentOrder = Seq("type_a", "type_b"))
  )
}
