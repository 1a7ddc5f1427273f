package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.ops.{DedupOps, TextOps}

/** Corpus-level sketching: per-source MinHash sketches via the typed
  * mergeable [[MinHashSketchAgg]], compared pairwise for estimated
  * shingle-Jaccard between source corpora. The DuckDB oracle recomputes
  * the same signatures from the same (a, b, p) constants, proving the
  * Aggregator's reduce/merge path equals the closed-form SQL.
  */
object SketchQueries {

  val K: Int = graft.catalyst.MinHashSketchAgg.SketchK

  val defs: Seq[QueryDef] = Seq(

    // Corpus-overlap estimation by HLL inclusion–exclusion — the 100 TB
    // decontamination AUDIT: |train ∩ eval| shingles estimated from
    // three mergeable one-pass sketches (|A| + |B| − |A∪B|), no
    // cross-corpus join, constant memory; the sketches merge map-side
    // and ship as bytes, so two petabyte corpora compare in one scan
    // each. Exact columns exist for the gate at small SF (and are
    // themselves join-free: ∩ = A + B − U over distinct counts); at
    // scale only the sketch estimates would be published. Tolerance
    // gate (q_hll_approx pattern): the estimate must land within
    // 3·rsd·(|A|+|B|) of exact — inclusion–exclusion compounds three
    // sketches' error, so the bound scales with the SET sizes, not the
    // possibly-tiny intersection; the oracle pins the boolean TRUE.
    QueryDef("sketch_corpus_overlap",
      (s, d) => {
        val sh = Tables.documents(s, d)
          .withColumn("__toks", TextOps.tokens(col("text")))
          .select(pmod(col("doc_id"), lit(2)).as("half"),
            explode(TextOps.shingleStrings("__toks")).as("sg"))
          .select(col("half"), TextOps.hash64(col("sg")).as("h"))
        sh.agg(
            countDistinct(when(col("half") === 0, col("h"))).as("exact_a"),
            countDistinct(when(col("half") === 1, col("h"))).as("exact_b"),
            countDistinct(col("h")).as("exact_u"),
            approx_count_distinct(when(col("half") === 0, col("h"))).as("__ea"),
            approx_count_distinct(when(col("half") === 1, col("h"))).as("__eb"),
            approx_count_distinct(col("h")).as("__eu"))
          .select(col("exact_a"), col("exact_b"),
            (col("exact_a") + col("exact_b") - col("exact_u"))
              .as("exact_intersection"),
            (abs((col("__ea") + col("__eb") - col("__eu")) -
              (col("exact_a") + col("exact_b") - col("exact_u"))) <=
              (col("exact_a") + col("exact_b")) * lit(3 * 0.05))
              .as("est_within_bound"))
      },
      Some(s"""WITH t AS (SELECT doc_id % 2 AS half,
             |  string_split(text, ' ') AS tk FROM documents),
             | sh AS (SELECT half, unnest(${TextOps.shingleHashesSql("tk")}) AS h
             |  FROM t)
             | SELECT
             |  CAST(count(DISTINCT CASE WHEN half = 0 THEN h END) AS BIGINT) AS exact_a,
             |  CAST(count(DISTINCT CASE WHEN half = 1 THEN h END) AS BIGINT) AS exact_b,
             |  CAST(count(DISTINCT CASE WHEN half = 0 THEN h END)
             |    + count(DISTINCT CASE WHEN half = 1 THEN h END)
             |    - count(DISTINCT h) AS BIGINT) AS exact_intersection,
             |  TRUE AS est_within_bound
             | FROM sh""".stripMargin.replace("\n", "")),
      presentOrder = Seq("exact_a")),

    // Pairwise source-overlap MATRIX — the dataset-card cross-
    // contamination panel generalizing sketch_corpus_overlap from one
    // (train, eval) pair to every source pair. Sketch arm (the 100 TB
    // path): ONE scan folds a mergeable DataSketches HLL per source
    // (k sketches, map-side merge, bytes on the wire); the k²/2 pair
    // estimates then come from driver-scale scalar `hll_union` of a
    // k-row table — NO cross-corpus data join at any size. Exact arm
    // (gate-only audit, same contract as sketch_corpus_overlap): a
    // distinct-(source, shingle) self-equi-join on the hash — join
    // groups bounded by sources² per shingle, never doc². Tolerance
    // gate: each pair's estimated intersection must land within
    // 3·rsd·(|A|+|B|) of exact (rsd ≈ 1.04/√2¹² for the default lgK=12,
    // rounded up to 0.05/3 per sketch); the oracle pins the boolean.
    QueryDef("sketch_overlap_matrix",
      (s, d) => {
        // localCheckpoint: the distinct (source, shingle-hash) table
        // feeds the per-source sketch agg AND both sides of the exact
        // self-join — unmaterialized, the tokenize→shingle→md5 pipeline
        // re-executed 4× (the r14 plan's four identical Generate
        // chains). h-keyed layout co-partitions the self-join sides.
        val sh = Tables.documents(s, d)
          .withColumn("__toks", TextOps.tokens(col("text")))
          .select(col("source"),
            explode(TextOps.shingleStrings("__toks")).as("sg"))
          .select(col("source"), TextOps.hash64(col("sg")).as("h"))
          .distinct()
          .repartition(col("h")).localCheckpoint()
        val per = sh.groupBy("source").agg(
          count(lit(1)).as("n"), expr("hll_sketch_agg(h)").as("sk"))
        val a = per.select(col("source").as("source_a"),
          col("n").as("exact_a"), col("sk").as("__ska"))
        val b = per.select(col("source").as("source_b"),
          col("n").as("exact_b"), col("sk").as("__skb"))
        val inter = sh.as("x").join(sh.as("y"),
            col("x.h") === col("y.h") && col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("source_a"),
            col("y.source").as("source_b"))
          .agg(count(lit(1)).as("__xi"))
        a.join(b, col("source_a") < col("source_b"))
          .join(inter, Seq("source_a", "source_b"), "left")
          .select(col("source_a"), col("source_b"), col("exact_a"),
            col("exact_b"),
            coalesce(col("__xi"), lit(0L)).as("exact_intersection"),
            (abs((expr("hll_sketch_estimate(__ska)") +
                  expr("hll_sketch_estimate(__skb)") -
                  expr("hll_sketch_estimate(hll_union(__ska, __skb))")) -
                 coalesce(col("__xi"), lit(0L))) <=
              // 3 · rsd(lgK=12) ≈ 3 · 0.0163, rounded up to 0.05
              (col("exact_a") + col("exact_b")) * lit(0.05))
              .as("est_within_bound"))
      },
      Some(s"""WITH t AS (SELECT source, string_split(text, ' ') AS tk
             |  FROM documents),
             | sh AS (SELECT DISTINCT source,
             |   unnest(${TextOps.shingleHashesSql("tk")}) AS h FROM t),
             | per AS (SELECT source, CAST(count(*) AS BIGINT) AS n
             |   FROM sh GROUP BY 1),
             | inter AS (SELECT x.source AS sa, y.source AS sb,
             |   CAST(count(*) AS BIGINT) AS i
             |   FROM sh x JOIN sh y ON x.h = y.h AND x.source < y.source
             |   GROUP BY 1, 2)
             | SELECT a.source AS source_a, b.source AS source_b,
             |  a.n AS exact_a, b.n AS exact_b,
             |  coalesce(i.i, CAST(0 AS BIGINT)) AS exact_intersection,
             |  TRUE AS est_within_bound
             | FROM per a JOIN per b ON a.source < b.source
             | LEFT JOIN inter i ON i.sa = a.source AND i.sb = b.source
             | ORDER BY source_a, source_b""".stripMargin.replace("\n", "")),
      presentOrder = Seq("source_a", "source_b")),

    // Count-Min Sketch frequency audit: ONE 32 KiB mergeable sketch
    // (catalyst/CmsAgg, element-wise-sum merge, map-side partials) over
    // every term occurrence, probed for the top-10 exact-count terms —
    // (exact, estimate, overcount, no_undercount). The vocab ≫ W, so
    // collisions genuinely fire and the realized overcount is gate-
    // visible; the min-of-rows estimate can never under-count (the gate
    // pins no_undercount TRUE). The oracle replays each counter cell as
    // the sum of exact counts of all terms hashing there — provably the
    // sketch's own function (same LCG coefficients).
    QueryDef("text_cms_freq",
      (s, d) => {
        val terms = Tables.documents(s, d)
          .select(explode(TextOps.tokens(col("text"))).as("term"))
          .select(col("term"), TextOps.hash64(col("term")).as("h"))
        val cms = terms.agg(expr("cms_counts(h)").as("__cms"))
        val exact = terms.groupBy("term")
          .agg(count(lit(1)).as("exact_cnt"), max(col("h")).as("h"))
        val keys = exact.orderBy(col("exact_cnt").desc, col("term")).limit(10)
        keys.crossJoin(broadcast(cms))
          .withColumn("cms_est",
            expr(graft.catalyst.CmsAgg.estimateSql("h", "__cms")))
          .select(col("term"), col("exact_cnt"), col("cms_est"),
            (col("cms_est") - col("exact_cnt")).as("overcount"),
            (col("cms_est") >= col("exact_cnt")).as("no_undercount"))
      },
      Some {
        val pos = graft.catalyst.CmsAgg.positionSqls("h")
        val pcols = pos.zipWithIndex.map { case (p, i) => s"$p AS p$i" }
          .mkString(", ")
        val est = pos.indices.map { i =>
          s"(SELECT sum(t.exact_cnt) FROM pos t WHERE t.p$i = k.p$i)"
        }.mkString("least(", ", ", ")")
        s"""WITH tok AS (SELECT unnest(${TextOps.tokensSql("text")}) AS term
              FROM documents),
            tf AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt
                   FROM tok GROUP BY term),
            hh AS (SELECT term, exact_cnt, ${TextOps.hash64Sql("term")} AS h
                   FROM tf),
            pos AS (SELECT term, exact_cnt, $pcols FROM hh),
            keys AS (SELECT * FROM pos
                     ORDER BY exact_cnt DESC, term LIMIT 10),
            e AS (SELECT k.term, k.exact_cnt, $est AS cms_est FROM keys k)
            SELECT term, exact_cnt, CAST(cms_est AS BIGINT) AS cms_est,
                   CAST(cms_est - exact_cnt AS BIGINT) AS overcount,
                   cms_est >= exact_cnt AS no_undercount
            FROM e ORDER BY term"""
      },
      presentOrder = Seq("term")),

    QueryDef("q_source_sketch_sim",
      (s, d) => {
        // minhash_sketch = MinHashSketchAgg surfaced as a registered UDAF:
        // plain relational groupBy, no typed-encoder overhead.
        // (source, shingle_hash) inverted index — hash post-explode, codegen.
        val inv = Tables.documents(s, d)
          .withColumn("__toks", TextOps.tokens(col("text")))
          .select(col("source"), explode(TextOps.shingleStrings("__toks")).as("__s"))
          .select(col("source"), TextOps.hash64(col("__s")).as("h"))
        val sigs = inv.groupBy("source")
          .agg(expr("minhash_sketch(h)").as("sig"))
        // Pairwise estimated Jaccard = fraction of agreeing slots.
        sigs.as("a").join(sigs.as("b"), col("a.source") < col("b.source"))
          .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
            round(expr(s"size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y), v -> v)) / ${K}D"), 4)
              .as("est_jaccard"))
      },
      Some {
        val sh = TextOps.shingleHashesSql(TextOps.tokensSql("text"))
        val mins = DedupOps.minhashCoeffs(K).zipWithIndex.map { case ((a, b), i) =>
          s"min(($a * (h % ${DedupOps.P}) + $b) % ${DedupOps.P}) AS m$i"
        }.mkString(", ")
        // Flat list literal, not a 128-term `+` chain: DuckDB binds the
        // chain left-deep and trips its recursion limit at k=128.
        val agree = (0 until K)
          .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
          .mkString("list_sum([", ", ", "])")
        s"""WITH inv AS (SELECT source, unnest($sh) AS h FROM documents),
            sig AS (SELECT source, $mins FROM inv GROUP BY source)
            SELECT a.source AS src_a, b.source AS src_b,
                   round(($agree) / $K.0, 4) AS est_jaccard
            FROM sig a JOIN sig b ON a.source < b.source
            ORDER BY src_a, src_b"""
      },
      presentOrder = Seq("src_a", "src_b")),

    // Incremental cardinality via mergeable HLL sketches (DataSketches):
    // one sketch per source shard, then a sketch-union roll-up — the
    // 100 TB pattern where per-partition sketches are MATERIALIZED once
    // and merged forever after, instead of re-scanning raw ids (the same
    // two-level shape a streaming/backfill pipeline persists). The gate
    // pins shard count, exact cardinality, and that the merged estimate
    // lands within the ±3σ bound of lgConfigK=12 (σ ≈ 1.04/√2¹²);
    // the oracle's TRUE column makes a drifting estimator fail the hash.
    QueryDef("q_hll_partial_merge",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val shards = docs.groupBy(col("source"))
          .agg(expr("hll_sketch_agg(doc_id, 12)").as("sk"))
        val merged = shards.agg(
          count(lit(1)).as("n_sources"),
          expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("__est"))
        val exact = docs.agg(countDistinct(col("doc_id")).as("exact_docs"))
        merged.crossJoin(exact)
          .select(col("n_sources"), col("exact_docs"),
            (abs(col("__est") - col("exact_docs")) <=
              col("exact_docs") * (3 * 1.04 / math.sqrt(1 << 12)))
              .as("merged_within_bound"))
      },
      Some("""SELECT count(DISTINCT source) AS n_sources,
             | count(DISTINCT doc_id) AS exact_docs,
             | TRUE AS merged_within_bound FROM documents""".stripMargin
        .replace("\n", ""))),

    // Mergeable quantile summaries (Agarwal et al., PODS'12 shape):
    // each shard keeps every m-th rank of its sorted values — a
    // deterministic summary with per-shard rank error <= m — and the
    // union of shard summaries answers any quantile with global rank
    // error <= 2·m·shards WITHOUT a global sort of the data: only the
    // summaries (n/m rows) are merged and ranked. Everything is rank
    // arithmetic on distinct (value, event_id) keys, so estimates,
    // exact audit ranks, and the error-bound boolean gate EXACTLY; the
    // oracle pins bound_ok TRUE so a drifting estimator goes red.
    // Scale: the per-shard rank runs shard-parallel; the merged rank
    // sorts a 1/m-size summary (the only non-sharded step — at 100 TB
    // m scales up to keep the summary driver-bounded).
    QueryDef("sketch_quantile_shards",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val m = 16
        val shards = 8
        val ev = Tables.events(s, d)
          .select(col("value"), col("event_id"),
            pmod(col("event_id"), lit(shards)).as("__sh"))
        val wSh = Window.partitionBy(col("__sh"))
          .orderBy(col("value"), col("event_id"))
        val samp = ev
          .withColumn("__rn", row_number().over(wSh))
          .filter(col("__rn") % m === 0)
          .select(col("value"), col("event_id"))
        val wAll = Window.orderBy(col("value"), col("event_id"))
        val ranked = samp.withColumn("__rs", row_number().over(wAll))
        val totals = ev.agg(count(lit(1)).as("__n"))
          .crossJoin(samp.agg(count(lit(1)).as("__s")))
        val ps = s.range(1, 4).select((col("id") * 250).as("p"))
        val est = ps.crossJoin(broadcast(totals))
          .withColumn("__target",
            greatest(lit(1L), expr("p * __s div 1000")))
          .join(broadcast(ranked), col("__target") === col("__rs"))
          .select(col("p"), col("__n"), col("value").as("est_value"))
        ev.crossJoin(broadcast(est))
          .groupBy(col("p"), col("__n"), col("est_value"))
          .agg(sum(when(col("value") <= col("est_value"), 1L).otherwise(0L))
            .as("__le"))
          .select(col("p"), col("est_value"),
            expr("__le * 1000 div __n").as("true_rank_permille"),
            (abs(expr("__le * 1000 div __n") - col("p")) <=
              expr(s"2 * $m * $shards * 1000 div __n") + lit(1))
              .as("bound_ok"))
      },
      Some(s"""WITH ev AS (SELECT value, event_id, event_id % 8 AS sh
             |   FROM events),
             | r AS (SELECT value, event_id,
             |   row_number() OVER (PARTITION BY sh
             |     ORDER BY value, event_id) AS rn FROM ev),
             | samp AS (SELECT value, event_id FROM r WHERE rn % 16 = 0),
             | ranked AS (SELECT value,
             |   row_number() OVER (ORDER BY value, event_id) AS rs FROM samp),
             | tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ev) AS n,
             |   (SELECT CAST(count(*) AS BIGINT) FROM samp) AS s),
             | ps AS (SELECT unnest([250, 500, 750]) AS p),
             | est AS (SELECT p, n, value AS est_value
             |   FROM ps CROSS JOIN tot CROSS JOIN ranked
             |   WHERE greatest(1, p * s // 1000) = rs)
             | SELECT CAST(p AS BIGINT) AS p, est_value,
             |   CAST(sum(CASE WHEN ev.value <= est_value THEN 1 ELSE 0 END)
             |     AS BIGINT) * 1000 // max(n) AS true_rank_permille,
             |   TRUE AS bound_ok
             | FROM ev CROSS JOIN est
             | GROUP BY p, n, est_value
             | ORDER BY p""".stripMargin.replace("\n", "")),
      presentOrder = Seq("p")),

    // KMV (bottom-k) distinct sketch — the deterministic counterpart of
    // the HLL rows: the sketch is the k smallest distinct shingle
    // hashes, a pure FUNCTION of the value set, so the gate pins the
    // k-th order statistic and the (k-1)*M div h_k estimate EXACTLY
    // against a DuckDB window-rank twin — no tolerance bound, unlike
    // any HLL estimator. Spark folds the sketch with the typed
    // mergeable KmvSketchAgg (bounded sorted-array state, map-side
    // partials: a petabyte corpus ships k longs per source); the
    // __ALL__ row re-runs the SAME aggregator over the per-source
    // sketch CONTENTS, proving KMV's union closure (every globally
    // small hash is small in its own source). Exact distinct counts
    // are the gate-scale audit arm, as in sketch_corpus_overlap.
    QueryDef("sketch_kmv_distinct",
      (s, d) => {
        import graft.catalyst.KmvSketchAgg
        val k = KmvSketchAgg.SketchK
        val sh = Tables.documents(s, d)
          .withColumn("__toks", TextOps.tokens(col("text")))
          .select(col("source"),
            explode(TextOps.shingleStrings("__toks")).as("sg"))
          .select(col("source"), TextOps.hash64(col("sg")).as("h"))
        // perSource feeds the published rows AND the __ALL__ union-
        // closure re-aggregation, so the shingle explode + sketch fold
        // re-executes — left UNMATERIALIZED on purpose, round 15's
        // measurement: a localCheckpoint won the isolated profile
        // (2.57 → 2.22 s warm) but measured consistently SLOWER inside
        // the full bench session (+1.4–1.6 s across three runs; the
        // column-pruned globalRow copy recomputes a CHEAPER perSource
        // than the checkpoint materializes, and checkpoint cost tracks
        // session block pressure — OPTIMIZATION_r14.md).
        val perSource = sh.groupBy(col("source")).agg(
          KmvSketchAgg.kmvSketch(col("h")).as("__sk"),
          countDistinct(col("h")).as("exact_distinct"))
        val globalRow = perSource
          .select(explode(col("__sk")).as("h"))
          .agg(KmvSketchAgg.kmvSketch(col("h")).as("__sk"))
          .crossJoin(sh.agg(countDistinct(col("h")).as("exact_distinct")))
          .select(lit("__ALL__").as("source"), col("__sk"),
            col("exact_distinct"))
        perSource.select(col("source"), col("__sk"), col("exact_distinct"))
          .unionByName(globalRow)
          .select(col("source"),
            size(col("__sk")).cast("long").as("sketch_n"),
            element_at(col("__sk"), size(col("__sk"))).as("kth_min"),
            expr(KmvSketchAgg.estimateExpr("__sk")).as("est_distinct"),
            col("exact_distinct"),
            expr(s"""abs(${KmvSketchAgg.estimateExpr("__sk")} - exact_distinct)
                     * 1000 div exact_distinct""").as("err_permille"))
      },
      Some {
        val k = graft.catalyst.KmvSketchAgg.SketchK
        s"""WITH t AS (SELECT source, ${TextOps.tokensSql("text")} AS tk
              FROM documents),
            sh AS (SELECT source, unnest(${TextOps.shingleHashesSql("tk")}) AS h
              FROM t),
            d AS (SELECT DISTINCT source, h FROM sh),
            r AS (SELECT source, h,
                  row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                  FROM d),
            sk AS (SELECT source, list(h ORDER BY h) AS sk,
                   count(*) AS sketch_n FROM r WHERE rn <= $k GROUP BY source),
            ex AS (SELECT source, count(*) AS exact_distinct FROM d
                   GROUP BY source),
            ga AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
                   FROM (SELECT DISTINCT h FROM sh)),
            gsk AS (SELECT list(h ORDER BY h) AS sk, count(*) AS sketch_n
                    FROM ga WHERE rn <= $k),
            gex AS (SELECT count(DISTINCT h) AS exact_distinct FROM sh),
            u AS (SELECT source, sk, sketch_n, exact_distinct
                  FROM sk JOIN ex USING (source)
                  UNION ALL
                  SELECT '__ALL__', sk, sketch_n, exact_distinct
                  FROM gsk, gex)
            SELECT source, CAST(sketch_n AS BIGINT) AS sketch_n,
              sk[CAST(sketch_n AS INT)] AS kth_min,
              ${graft.catalyst.KmvSketchAgg.estimateSql("sk")} AS est_distinct,
              CAST(exact_distinct AS BIGINT) AS exact_distinct,
              abs(${graft.catalyst.KmvSketchAgg.estimateSql("sk")}
                  - exact_distinct) * 1000 // exact_distinct AS err_permille
            FROM u ORDER BY source"""
      },
      presentOrder = Seq("source")),

    // Sliding distinct-users via REUSED daily HLL partials — the reason
    // mergeable sketches exist: each day's sketch is built ONCE from
    // raw events, and every 3-day trailing window is answered by
    // merging three day-grain sketches (a tiny day×3 range self-join
    // over sketch rows), never by re-scanning the raw feed per window —
    // at 100 TB the raw-rescan variant costs 3× the corpus per window
    // family, the partial-merge variant costs one scan total. Gate
    // shape: exact windowed distinct (oracle-computable via the
    // 3-window unnest) plus the ±3σ lgK=12 bound pinned TRUE, the
    // q_hll_partial_merge regime — a drifting estimator goes red.
    QueryDef("sketch_hll_sliding",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), expr("CAST(ts AS LONG) div 86400").as("day"))
        val daily = ev.groupBy(col("day"))
          .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        val est = daily.toDF("wday", "wsk").as("w")
          .join(daily.as("p"),
            col("p.day").between(col("wday") - 2, col("wday")))
          .groupBy(col("wday"))
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))")
            .as("__est"), count(lit(1)).as("n_parts"))
        val exact = ev
          .select(col("user_id"), explode(expr(
            "sequence(day, day + 2)")).as("wday"))
          .groupBy(col("wday"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        // trailing windows only: a window is real when its day exists
        est.join(exact, "wday")
          .select(col("wday").as("window_day"), col("n_parts"),
            col("exact_users"),
            (abs(col("__est") - col("exact_users")) <=
              col("exact_users") * (3 * 1.04 / math.sqrt(1 << 12)))
              .as("within_bound"))
      },
      Some("""WITH ev AS (SELECT user_id,
             |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
             | days AS (SELECT DISTINCT day FROM ev),
             | wins AS (SELECT d.day AS window_day,
             |   CAST(count(*) AS BIGINT) AS n_parts
             |  FROM days d JOIN days p ON p.day BETWEEN d.day - 2 AND d.day
             |  GROUP BY d.day),
             | ex AS (SELECT wday AS window_day,
             |   CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
             |  FROM (SELECT user_id, unnest([day, day + 1, day + 2]) AS wday
             |        FROM ev)
             |  GROUP BY wday)
             | SELECT w.window_day, n_parts, exact_users, TRUE AS within_bound
             | FROM wins w JOIN ex ON w.window_day = ex.window_day
             | ORDER BY w.window_day""".stripMargin.replace("\n", "")),
      presentOrder = Seq("window_day"))
  )
}
