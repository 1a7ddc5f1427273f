package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.ops.{DedupOps, LinkOps, SampleOps, TextOps}

/** End-to-end corpus curation: the composition a training-data pipeline
  * actually runs — quality gate → exact-dup removal → near-dup cluster
  * canonicalization → span-level cleaning → stratified class mixing →
  * corpus stats. One gated query proves the operators COMPOSE (same
  * constants as their individual gates), with the full pipeline mirrored
  * in a single oracle SQL.
  */
object PipelineQueries {

  /** Per-source cap for the mixed-curation variant — a safety rail, not
    * a sampler: wide enough that temperature mixing does the shaping and
    * the cap only trims runaway sources. */
  val MixQuota = 50

  /** Train share of the leakage-safe split: 9000/10000 = 90%. */
  val SplitTrainBuckets = 9000

  /** k-anonymity threshold for the privacy ladder. */
  val KAnon = 5

  /** l-diversity floor: a published class whose members share fewer
    * than this many distinct sensitive values is homogeneity-attackable
    * even when it is k-anonymous. */
  val LDiv = 3

  /** t-closeness bound in micro-units: a published class whose ordered
    * sensitive-attribute distribution sits farther than this EMD from
    * the corpus-wide distribution leaks attribute skew (Li et al.,
    * ICDE 2007) even when k-anonymous AND l-diverse. */
  val TClose = 250000L

  /** The k-anonymity generalization ladder as a reusable frame:
    * (doc_id, k_level, qi). See `pipeline_k_anonymity` for semantics. */
  private def kAnonLadder(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), col("lang"),
      expr("n_chars div 1000").as("b0"),
      expr("n_chars div 5000").as("b1"))
    val s0 = broadcast(base.groupBy(col("source"), col("lang"), col("b0"))
      .agg(count(lit(1)).as("s0")))
    val d0 = base.join(s0, Seq("source", "lang", "b0"))
    // Rung 1 counts only level-0 leavers; rung 2 only rung-1 leavers.
    val s1 = broadcast(d0.filter(col("s0") < KAnon)
      .groupBy(col("source"), col("lang"), col("b1"))
      .agg(count(lit(1)).as("s1")))
    val d1 = d0.join(s1, Seq("source", "lang", "b1"), "left")
    val s2 = broadcast(d1
      .filter(col("s0") < KAnon && coalesce(col("s1"), lit(0L)) < KAnon)
      .groupBy(col("lang")).agg(count(lit(1)).as("s2")))
    d1.join(s2, Seq("lang"), "left")
      .select(col("doc_id"),
        when(col("s0") >= KAnon, 0)
          .when(col("s1") >= KAnon, 1)
          .when(coalesce(col("s2"), lit(0L)) >= KAnon, 2)
          .otherwise(3).as("k_level"),
        when(col("s0") >= KAnon,
            concat_ws("|", col("source"), col("lang"), col("b0")))
          .when(col("s1") >= KAnon,
            concat_ws("|", col("source"), col("lang"), col("b1")))
          .when(coalesce(col("s2"), lit(0L)) >= KAnon, col("lang"))
          .otherwise(lit("suppressed")).as("qi"))
  }

  /** Oracle CTE block producing the identical ladder as `lad(doc_id,
    * k_level, qi)` — shared by the k-anonymity and l-diversity gates. */
  private def kAnonLadderCtes: String =
    s"""dc AS (SELECT doc_id, source, lang,
       |   n_chars // 1000 AS b0, n_chars // 5000 AS b1
       |  FROM documents),
       | g0 AS (SELECT *,
       |   count(*) OVER (PARTITION BY source, lang, b0) AS s0 FROM dc),
       | g1 AS (SELECT *,
       |   sum(CASE WHEN s0 < $KAnon THEN 1 ELSE 0 END)
       |     OVER (PARTITION BY source, lang, b1) AS s1 FROM g0),
       | g2 AS (SELECT *,
       |   sum(CASE WHEN s0 < $KAnon AND s1 < $KAnon THEN 1 ELSE 0 END)
       |     OVER (PARTITION BY lang) AS s2 FROM g1),
       | lad AS (SELECT doc_id,
       |  CAST(CASE WHEN s0 >= $KAnon THEN 0
       |       WHEN s1 >= $KAnon THEN 1
       |       WHEN s2 >= $KAnon THEN 2 ELSE 3 END AS INT) AS k_level,
       |  CASE WHEN s0 >= $KAnon THEN source || '|' || lang || '|' || b0
       |       WHEN s1 >= $KAnon THEN source || '|' || lang || '|' || b1
       |       WHEN s2 >= $KAnon THEN lang
       |       ELSE 'suppressed' END AS qi
       | FROM g2)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // k-anonymity generalization ladder — the privacy audit-and-recode
    // pass run before PUBLISHING training data: every document's
    // quasi-identifier tuple (source, lang, length band) must be shared
    // by at least k PUBLISHED records, or an attacker joins the metadata
    // back to an individual. LOCAL recoding with REMAINING-count
    // refinement: each rung counts only docs not already safe at a finer
    // level —
    //   level 0: (source, lang, n_chars div 1000), full-group size ≥ k
    //   level 1: (source, lang, n_chars div 5000) over level-0 LEAVERS
    //   level 2: (lang) over the still-unsafe remainder
    //   level 3: suppressed
    // The remaining-count is what makes the guarantee real: counting
    // FULL groups at every rung (the naive form) lets the finer-level
    // docs leave a coarse group and publishes the leftovers as a class
    // smaller than k — the classic local-recoding pitfall, pinned by the
    // invariant spec (every published (k_level, qi) class has ≥ k rows).
    // Shape at 100 TB: the three group-size tables are bounded by
    // distinct QI values (dimension-tiny), so each lookup is a broadcast
    // equi-join onto the doc scan — one pass, zero doc-grain shuffles.
    QueryDef("pipeline_k_anonymity",
      (s, d) => kAnonLadder(Tables.documents(s, d)),
      Some(s"""WITH $kAnonLadderCtes
             | SELECT doc_id, k_level, qi
             | FROM lad ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // l-diversity audit of the ladder's PUBLISHED classes: k-anonymity
    // alone is homogeneity-attackable — if every member of a k-sized
    // class shares the same sensitive value, the attacker learns it
    // without re-identifying anyone. Sensitive proxy = first hex digit
    // of md5(text) (a deterministic 16-way content class both engines
    // compute identically); per (k_level, qi) class: size, distinct
    // sensitive values, and the l≥$LDiv verdict. Shape: the ladder's
    // three broadcast lookups, then one (k_level, qi)-keyed two-phase
    // distinct-agg — output bounded by the class count, not the corpus.
    QueryDef("pipeline_l_diversity",
      (s, d) => {
        val docs = Tables.documents(s, d)
        kAnonLadder(docs)
          .join(docs.select(col("doc_id"),
            substring(md5(col("text")), 1, 1).as("sens")), Seq("doc_id"))
          .groupBy(col("k_level"), col("qi"))
          .agg(count(lit(1)).as("class_size"),
            countDistinct(col("sens")).as("l_distinct"))
          .select(col("k_level"), col("qi"), col("class_size"),
            col("l_distinct"), (col("l_distinct") >= LDiv).as("is_l_diverse"))
      },
      Some(s"""WITH $kAnonLadderCtes,
             | sens AS (SELECT l.k_level, l.qi,
             |   substr(md5(dd.text), 1, 1) AS sens
             |  FROM lad l JOIN documents dd ON l.doc_id = dd.doc_id)
             | SELECT k_level, qi, CAST(count(*) AS BIGINT) AS class_size,
             |  CAST(count(DISTINCT sens) AS BIGINT) AS l_distinct,
             |  count(DISTINCT sens) >= $LDiv AS is_l_diverse
             | FROM sens GROUP BY 1, 2
             | ORDER BY k_level, qi""".stripMargin.replace("\n", "")),
      presentOrder = Seq("k_level", "qi")),

    // t-closeness audit — the third rung of the privacy ladder: a class
    // can be k-anonymous AND l-diverse yet still leak (skewness attack:
    // 90% of a class in one sensitive band tells the attacker plenty).
    // Sensitive attribute = capped length band (ORDERED, so the right
    // distance is Earth Mover's with unit ground distance = mean
    // |cumulative difference|, Li et al. ICDE 2007). Exact integers:
    // per-term micro probabilities by floor division, cumulated per
    // class, |Δ| summed, divided by m−1. Shape at 100 TB: the class ×
    // band grid is (classes · ≤16) rows — the doc scan contributes one
    // (class, band)-keyed hash-agg; everything after is dimension-tiny.
    QueryDef("pipeline_t_closeness",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val ls = kAnonLadder(docs).join(
          docs.select(col("doc_id"),
            expr("least(n_chars div 500, 15)").as("sv")), Seq("doc_id"))
        val svals = ls.groupBy(col("sv")).agg(count(lit(1)).as("g"))
        val tot = svals.agg(sum(col("g")).as("n_total"),
          count(lit(1)).as("m"))
        val classes = ls.groupBy(col("k_level"), col("qi"))
          .agg(count(lit(1)).as("class_size"))
        val cls = ls.groupBy(col("k_level"), col("qi"), col("sv"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("k_level"), col("qi"))
          .orderBy(col("sv"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        classes.crossJoin(broadcast(svals))
          .join(cls, Seq("k_level", "qi", "sv"), "left")
          .withColumn("c", coalesce(col("c"), lit(0L)))
          .crossJoin(broadcast(tot))
          .withColumn("cp",
            sum(expr("c * 1000000L div class_size")).over(w))
          .withColumn("cq", sum(expr("g * 1000000L div n_total")).over(w))
          .groupBy(col("k_level"), col("qi"), col("class_size"), col("m"))
          .agg(sum(abs(col("cp") - col("cq"))).as("sad"))
          .select(col("k_level"), col("qi"), col("class_size"),
            expr("sad div greatest(m - 1, 1L)").as("t_micro"))
          .withColumn("is_t_close", col("t_micro") <= TClose)
      },
      Some(s"""WITH $kAnonLadderCtes,
             | sb AS (SELECT doc_id, least(n_chars // 500, 15) AS sv
             |  FROM documents),
             | ls AS (SELECT l.k_level, l.qi, s.sv
             |  FROM lad l JOIN sb s ON l.doc_id = s.doc_id),
             | svals AS (SELECT sv, CAST(count(*) AS BIGINT) AS g
             |  FROM ls GROUP BY sv),
             | tot AS (SELECT CAST(sum(g) AS BIGINT) AS n_total,
             |   CAST(count(*) AS BIGINT) AS m FROM svals),
             | classes AS (SELECT k_level, qi,
             |   CAST(count(*) AS BIGINT) AS class_size
             |  FROM ls GROUP BY 1, 2),
             | cls AS (SELECT k_level, qi, sv,
             |   CAST(count(*) AS BIGINT) AS c FROM ls GROUP BY 1, 2, 3),
             | grid AS (SELECT cl.k_level, cl.qi, cl.class_size, s.sv,
             |   s.g, COALESCE(c.c, 0) AS c
             |  FROM classes cl CROSS JOIN svals s
             |  LEFT JOIN cls c ON c.k_level = cl.k_level
             |   AND c.qi = cl.qi AND c.sv = s.sv),
             | cum AS (SELECT k_level, qi, class_size, m,
             |   sum(c * 1000000 // class_size) OVER
             |     (PARTITION BY k_level, qi ORDER BY sv) AS cp,
             |   sum(g * 1000000 // n_total) OVER
             |     (PARTITION BY k_level, qi ORDER BY sv) AS cq
             |  FROM grid, tot)
             | SELECT k_level, qi, class_size,
             |  CAST(sum(abs(cp - cq)) // greatest(m - 1, 1) AS BIGINT)
             |    AS t_micro,
             |  CAST(sum(abs(cp - cq)) // greatest(m - 1, 1) AS BIGINT)
             |    <= $TClose AS is_t_close
             | FROM cum GROUP BY k_level, qi, class_size, m
             | ORDER BY k_level, qi""".stripMargin.replace("\n", "")),
      presentOrder = Seq("k_level", "qi")),

    // Fourth rung of the privacy ladder: LOCAL differential privacy via
    // generalized randomized response (Warner 1965; the RAPPOR
    // mechanism's core). Each record reports its true category with
    // p = 3/4, else a uniform draw over the full K=5 alphabet (so
    // P[report own] = 0.8, P[report specific other] = 0.05 —
    // ε = ln(0.8/0.05) ≈ 2.77). The aggregator sees ONLY reported
    // values and debiases: est = (obs − (1−p)·n/K) / p, in milli-units
    // with floor division (nonneg-residue identity on the Spark side so
    // negative numerators agree). The per-record coin is the
    // deterministic engine-portable hash64('rr'||doc_id) — the
    // pii_redact planting pattern: a real RNG is not hash-gateable, a
    // seeded hash exercises the identical estimator algebra. Gate
    // checks: exact truth beside the estimate, and the 3σ bound
    // err² ≤ (3·σ_max)²·n with σ_max = sd(obs)/p ≤ √n/(2p) pinned TRUE.
    // Shape at 100 TB: one narrow map (coin + report) into a K-row
    // hash-agg with map-side combine — the truth column is gate-only
    // audit; production publishes only (obs, est).
    QueryDef("pipeline_rr_frequency",
      (s, d) => {
        val alphabet = Seq("de", "en", "es", "fr", "zh")
        val arr = alphabet.map(l => s"'$l'").mkString("array(", ", ", ")")
        val docs = Tables.documents(s, d)
        val rep = docs.select(col("lang"),
            TextOps.hash64(concat(lit("rr"), col("doc_id").cast("string")))
              .as("coin"))
          .select(when(col("coin") % 20 < 15, col("lang"))
            .otherwise(expr(
              s"element_at($arr, CAST((coin div 20) % 5 AS INT) + 1)"))
            .as("lang"))
        val truth = docs.groupBy(col("lang"))
          .agg(count(lit(1)).as("true_n"))
        val obs = rep.groupBy(col("lang"))
          .agg(count(lit(1)).as("obs_n"))
        val tot = docs.agg(count(lit(1)).as("n_total"))
        truth.join(obs, Seq("lang"), "left")
          .withColumn("obs_n", coalesce(col("obs_n"), lit(0L)))
          .crossJoin(broadcast(tot))
          .withColumn("num", (col("obs_n") * 1000L - col("n_total") * 50L) * 4L)
          .withColumn("est_milli",
            expr("(num - ((num % 3) + 3) % 3) div 3"))
          .withColumn("err_milli", abs(col("est_milli") - col("true_n") * 1000L))
          .select(col("lang"), col("true_n"), col("obs_n"), col("est_milli"),
            col("err_milli"),
            (col("err_milli") * col("err_milli") <=
              lit(4000000L) * col("n_total")).as("in_bound"))
      },
      Some("""WITH c AS (SELECT doc_id, lang,
             |   CAST('0x' || substr(md5('rr' || CAST(doc_id AS VARCHAR)), 1, 15)
             |     AS BIGINT) AS coin
             |  FROM documents),
             | rep AS (SELECT CASE WHEN coin % 20 < 15 THEN lang
             |   ELSE (['de','en','es','fr','zh'])[CAST((coin // 20) % 5 AS INT) + 1]
             |   END AS lang FROM c),
             | t AS (SELECT lang, CAST(count(*) AS BIGINT) AS true_n
             |  FROM documents GROUP BY 1),
             | o AS (SELECT lang, CAST(count(*) AS BIGINT) AS obs_n
             |  FROM rep GROUP BY 1),
             | n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
             | e AS (SELECT t.lang, t.true_n, COALESCE(o.obs_n, 0) AS obs_n,
             |   ((COALESCE(o.obs_n, 0) * 1000 - n.n_total * 50) * 4) // 3
             |     AS est_milli, n.n_total
             |  FROM t LEFT JOIN o ON t.lang = o.lang CROSS JOIN n)
             | SELECT lang, true_n, obs_n, est_milli,
             |  abs(est_milli - true_n * 1000) AS err_milli,
             |  abs(est_milli - true_n * 1000) * abs(est_milli - true_n * 1000)
             |    <= 4000000 * n_total AS in_bound
             | FROM e ORDER BY lang""".stripMargin.replace("\n", "")),
      presentOrder = Seq("lang")),

    // Fifth rung of the privacy ladder — CENTRAL differential privacy:
    // the trusted aggregator computes exact per-language counts and
    // releases them with truncated two-sided geometric noise (the
    // discrete optimal mechanism; see SampleOps.geoNoise), ε = ln 2 at
    // unit sensitivity (each doc contributes to exactly one disjoint
    // count). Complements rung 4 (pipeline_rr_frequency), where noise
    // is added at the RECORD before aggregation. The coin is the
    // deterministic engine-portable hash (gate-able); production swaps
    // in a real RNG, same release algebra. true_n is gate-only audit;
    // production publishes (released_n) alone.
    QueryDef("pipeline_geometric_dp",
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs.groupBy(col("lang")).agg(count(lit(1)).as("true_n"))
          .withColumn("u", pmod(
            TextOps.hash64(concat(lit("geo"), col("lang"))),
            lit(SampleOps.GeoMod)))
          .select(col("lang"), col("true_n"),
            SampleOps.geoNoise(col("u")).as("noise"),
            greatest(col("true_n") + SampleOps.geoNoise(col("u")), lit(0L))
              .as("released_n"),
            (abs(SampleOps.geoNoise(col("u"))) <= 10).as("in_bound"))
      },
      Some(s"""WITH t AS (SELECT lang, CAST(count(*) AS BIGINT) AS true_n,
             |   ${TextOps.hash64Sql("'geo' || lang")} % ${SampleOps.GeoMod}
             |     AS u
             |  FROM documents GROUP BY lang)
             | SELECT lang, true_n,
             |  CAST(${SampleOps.geoNoiseSql("u")} AS BIGINT) AS noise,
             |  greatest(true_n + ${SampleOps.geoNoiseSql("u")}, 0)
             |    AS released_n,
             |  abs(${SampleOps.geoNoiseSql("u")}) <= 10 AS in_bound
             | FROM t ORDER BY lang""".stripMargin.replace("\n", "")),
      presentOrder = Seq("lang")),

    // LM-perplexity filtering (the CCNet recipe, Wenzek et al.
    // LREC'20): score every doc with the slice-trained Stupid Backoff
    // LM (text_stupid_backoff's operator), split the corpus into exact
    // terciles of the score order, keep the top band — THE standard
    // web-corpus cleaning pass before pretraining. Terciles are exact
    // integer ranks (3·(rn−1) div n), never float quantiles; scoreless
    // docs (< 3 tokens) sort below every scored doc via the −1
    // sentinel key and land in the dropped tail. The global sort is
    // the gate-exact variant; at crawl scale the same band assignment
    // runs on a range-partitioned sort (documented), everything else
    // is unchanged.
    QueryDef("pipeline_lm_filter",
      (s, d) => {
        val sb = TextOps.stupidBackoff(Tables.documents(s, d),
            col("lang") === "en")
          .select(col("doc_id"), col("sb_score"))
        val wOrd = org.apache.spark.sql.expressions.Window
          .orderBy(col("k"), col("doc_id"))
        sb.withColumn("k", coalesce(col("sb_score"), lit(-1d)))
          .withColumn("rn", row_number().over(wOrd).cast("long"))
          .crossJoin(broadcast(sb.agg(count(lit(1)).as("n"))))
          .select(col("doc_id"), col("sb_score"),
            expr("(3 * (rn - 1)) div n").as("band"),
            expr("(3 * (rn - 1)) div n = 2").as("kept"))
      },
      Some(s"""WITH sb AS (SELECT doc_id, sb_score FROM (
             |   ${TextOps.stupidBackoffSql("documents", "lang = 'en'")})),
             | r AS (SELECT doc_id, sb_score,
             |   COALESCE(sb_score, -1) AS k FROM sb),
             | n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
             | b AS (SELECT doc_id, sb_score,
             |   CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT)
             |     AS rn FROM r)
             | SELECT doc_id, sb_score, (3 * (rn - 1)) // n AS band,
             |  (3 * (rn - 1)) // n = 2 AS kept
             | FROM b CROSS JOIN n ORDER BY doc_id""".stripMargin
        .replace("\n", "")),
      presentOrder = Seq("doc_id")),

    QueryDef("pipeline_corpus_curation",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // 1. Quality gate (same thresholds as text_quality).
        val qual = docs
          .withColumn("__toks", TextOps.tokens(col("text")))
          .withColumn("n_tokens", size(col("__toks")))
          .withColumn("n_stop",
            TextOps.markerCountExpr("__toks", TextOps.stopwords))
          .filter(col("n_tokens") >= 20 &&
            col("n_stop").cast("double") / col("n_tokens") <= 0.3)
          .select("doc_id", "lang", "text", "n_tokens")
        // 2. Exact-dup removal: keep the min doc_id per payload hash.
        val keepExact = qual.groupBy(md5(col("text")).as("__h"))
          .agg(min(col("doc_id")).as("doc_id"))
        val exactKept = qual.join(keepExact.select("doc_id"), "doc_id")
        // 3. Near-dup canonicalization over the FULL corpus (clusters are
        //    a property of the data, not of this pipeline's filters):
        //    drop docs that are in a cluster but not its canonical id.
        //    jaccardPairsCached: when `graft.pairs.dir` is set this scans
        //    the pair table dedup_clusters already materialized instead of
        //    re-running the shingle self-join — pairs are computed once
        //    per corpus, clusters consumed many times.
        val nonCanonical = DedupOps.connectedComponents(
            DedupOps.jaccardPairsCached(docs, "text", "doc_id",
              DedupQueries.JaccardThreshold))
          .filter(col("doc_id") =!= col("cluster"))
          .select("doc_id")
        val deduped = exactKept.join(nonCanonical, Seq("doc_id"), "left_anti")
        // 4. Span-level cleaning of the survivors (dedup_span_rewrite's
        //    ExactSubstr transform over the DEDUPED corpus): duplicated
        //    >=8-token windows lose every copy but the globally first,
        //    token counts shrink accordingly, and a doc cleaned below
        //    the 20-token quality floor drops out of the mix.
        val cleaned = DedupOps.spanRewrite(
            deduped.select(col("doc_id"), col("text")), "text", "doc_id")
          .select(col("doc_id"),
            (col("n_tokens") - col("n_removed")).as("n_tokens_clean"))
        val survivors = deduped.drop("n_tokens").join(cleaned, "doc_id")
          .filter(col("n_tokens_clean") >= 20)
          .withColumnRenamed("n_tokens_clean", "n_tokens")
        // 5. Stratified class mixing (same rates/salt as the sample gate).
        val sampled = SampleOps.stratifiedSample(
          survivors, "doc_id", "lang", SampleQueries.LangRates,
          SampleQueries.Salt)
        // 6. Train-ready corpus stats over CLEANED token counts.
        sampled.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      },
      Some {
        val stop = TextOps.stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
        val cc = DedupOps.connectedComponentsSql(
          DedupOps.jaccardPairsSql("documents", "text", "doc_id",
            DedupQueries.JaccardThreshold))
        val thr = SampleOps.stratifiedThresholdSql("lang", SampleQueries.LangRates)
        s"""WITH q AS (SELECT doc_id, lang, text,
              len(string_split(text, ' ')) AS n_tokens,
              len(list_filter(string_split(text, ' '), t -> t IN $stop)) AS n_stop
            FROM documents),
           qual AS (SELECT doc_id, lang, text, n_tokens FROM q
                    WHERE n_tokens >= 20 AND n_stop * 1.0 / n_tokens <= 0.3),
           keep_exact AS (SELECT min(doc_id) AS doc_id FROM qual GROUP BY md5(text)),
           ek AS (SELECT qual.* FROM qual JOIN keep_exact USING (doc_id)),
           cc AS (SELECT * FROM ($cc) t),
           noncanon AS (SELECT doc_id FROM cc WHERE doc_id <> cluster),
           dd AS (SELECT * FROM ek
                  WHERE doc_id NOT IN (SELECT doc_id FROM noncanon)),
           sr AS (SELECT * FROM
                    (${DedupOps.spanRewriteSql("dd", "text", "doc_id")}) t),
           cleaned AS (SELECT dd.doc_id, dd.lang,
                         sr.n_tokens - sr.n_removed AS n_tokens
                       FROM dd JOIN sr USING (doc_id)
                       WHERE sr.n_tokens - sr.n_removed >= 20),
           samp AS (SELECT * FROM cleaned
                    WHERE ${SampleOps.sampleBucketSql("doc_id", SampleQueries.Salt)} < $thr)
           SELECT lang, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens
           FROM samp GROUP BY lang ORDER BY lang"""
      },
      presentOrder = Seq("lang")),

    // The curation pipeline with the OTHER mixing stages plugged in:
    // quality gate → exact-dup removal (stages 1-2 of
    // pipeline_corpus_curation, same constants) → temperature-based
    // domain re-weighting computed on the FILTERED corpus (composition
    // matters: the rates differ from sample_temperature's whole-corpus
    // gate) → per-source quota cap (no single source dominates the mix)
    // → per-domain audit. Proves the samplers compose as selectable
    // stages: same ops, same salts, different slot in the pipeline.
    QueryDef("pipeline_curation_mix",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val qual = docs
          .withColumn("__toks", TextOps.tokens(col("text")))
          .withColumn("n_tokens", size(col("__toks")))
          .withColumn("n_stop",
            TextOps.markerCountExpr("__toks", TextOps.stopwords))
          .filter(col("n_tokens") >= 20 &&
            col("n_stop").cast("double") / col("n_tokens") <= 0.3)
          .select("doc_id", "source", "text", "n_tokens")
        val keepExact = qual.groupBy(md5(col("text")).as("__h"))
          .agg(min(col("doc_id")).as("doc_id"))
        val ek = qual.join(keepExact.select("doc_id"), "doc_id")
        val domain = substring(col("source"), 4, 1)
        val rates = SampleOps.temperatureRates(ek, domain, SampleQueries.TempTarget)
        val tempered = SampleOps.temperatureSample(ek, domain, "doc_id",
          SampleQueries.TempTarget, SampleQueries.Salt, Some(rates))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(SampleOps.sampleBucket(col("doc_id"), SampleQueries.Salt),
            col("doc_id"))
        val capped = tempered.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= MixQuota)
        capped.groupBy(col("domain"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            countDistinct(col("source")).as("n_sources"))
      },
      Some {
        val stop = TextOps.stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
        val dom = "substr(source, 4, 1)"
        val bucket = SampleOps.sampleBucketSql("doc_id", SampleQueries.Salt)
        s"""WITH q AS (SELECT doc_id, source, text,
              len(string_split(text, ' ')) AS n_tokens,
              len(list_filter(string_split(text, ' '), t -> t IN $stop)) AS n_stop
            FROM documents),
           qual AS (SELECT doc_id, source, text, n_tokens FROM q
                    WHERE n_tokens >= 20 AND n_stop * 1.0 / n_tokens <= 0.3),
           keep_exact AS (SELECT min(doc_id) AS doc_id FROM qual GROUP BY md5(text)),
           ek AS (SELECT qual.* FROM qual JOIN keep_exact USING (doc_id)),
           rates AS (${SampleOps.temperatureRatesSql("ek", dom,
              SampleQueries.TempTarget)}),
           tempered AS (
             SELECT ek.*, rates.domain FROM ek
             JOIN rates ON $dom = rates.domain
             WHERE $bucket < rate10k),
           capped AS (SELECT * FROM (
             SELECT *, CAST(row_number() OVER (PARTITION BY source
               ORDER BY $bucket, doc_id) AS INT) AS rk FROM tempered)
             WHERE rk <= $MixQuota)
           SELECT domain, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             count(DISTINCT source) AS n_sources
           FROM capped GROUP BY domain ORDER BY domain"""
      },
      presentOrder = Seq("domain")),

    // Leakage-safe train/validation split: holdout sampled by near-dup
    // CLUSTER, not document, so a near-duplicate pair can never straddle
    // train/val (doc-grain hash splits leak memorized text into the
    // "held-out" set). Cluster ids come from the same CC over the cached
    // jaccard pair table the dedup gates use; singletons split by their
    // own id. The leaked_pairs audit column counts crossing pairs —
    // structurally 0 — and the oracle pins the CONSTANT 0, so any future
    // change that splits below cluster grain turns this gate red.
    QueryDef("pipeline_train_val_split",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = DedupOps.jaccardPairsCached(docs, "text", "doc_id",
          DedupQueries.JaccardThreshold)
        SampleOps.leakSafeSplit(docs,
          pairs.select(col("doc_a"), col("doc_b")),
          DedupOps.connectedComponents(pairs),
          "lang", SampleQueries.Salt, SplitTrainBuckets)
      },
      Some {
        val cc = DedupOps.connectedComponentsSql(
          DedupOps.jaccardPairsSql("documents", "text", "doc_id",
            DedupQueries.JaccardThreshold))
        s"""WITH cc AS (SELECT * FROM ($cc) t),
           docs2 AS (SELECT d.doc_id, d.lang,
                       CAST(len(string_split(d.text, ' ')) AS BIGINT)
                         AS n_tokens,
                       COALESCE(cc.cluster, d.doc_id) AS cluster
                     FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
           sp AS (SELECT *, CASE WHEN ${SampleOps.sampleBucketSql(
                      "cluster", SampleQueries.Salt)} < $SplitTrainBuckets
                    THEN 'train' ELSE 'val' END AS split FROM docs2)
           SELECT split, lang, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST(0 AS BIGINT) AS leaked_pairs
           FROM sp GROUP BY split, lang ORDER BY split, lang"""
      },
      presentOrder = Seq("split", "lang")),

    // Sequence packing (concat-and-split): lay every document into a
    // per-source token stream and cut fixed ctx-sized windows — the
    // sample-packing step that turns a curated corpus into training
    // rows. Each doc's stream offset is the running token sum before it;
    // pack_id = offset div ctx, pack_offset = offset mod ctx (a doc may
    // span packs; it starts in pack_id). Partitioning by source shard is
    // the scale shape: packing needs a total order, and a per-shard sort
    // is one shuffle while a GLOBAL order would funnel 100 TB through a
    // single range sort — shards are independent training files anyway.
    QueryDef("pipeline_pack",
      (s, d) => {
        val ctx = 512
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))
        Tables.documents(s, d)
          .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast("long"))
          .withColumn("__cum", sum(col("n_tokens")).over(w))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            expr(s"(__cum - n_tokens) div $ctx").as("pack_id"),
            ((col("__cum") - col("n_tokens")) % ctx).as("pack_offset"))
      },
      Some("""WITH t AS (SELECT doc_id, source,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             | c AS (SELECT doc_id, source, n_tokens,
             |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cum FROM t)
             | SELECT doc_id, source, n_tokens,
             |  (cum - n_tokens) // 512 AS pack_id,
             |  (cum - n_tokens) % 512 AS pack_offset
             | FROM c ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // Curriculum phase assignment: equi-depth deciles over an integer
    // quality score (token count), best scores in phase 1. The 100 TB
    // shape matters here: a naive `ntile(10) OVER (ORDER BY score)` is a
    // single-partition global sort. Instead the decile boundaries come
    // from the score HISTOGRAM — one hash-agg over distinct scores
    // (bounded by max document length, not corpus size), a tiny window
    // over that histogram for cumulative counts, and a broadcast join
    // back. Phase ids are exact integer math: 1 + (10·cum_higher) div n.
    QueryDef("pipeline_curriculum",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("score", size(TextOps.tokens(col("text"))))
        val hist = docs.groupBy(col("score")).agg(count(lit(1)).as("c"))
        val tot = hist.agg(sum(col("c")).as("__n"))
        // Window over ~|distinct scores| rows — single partition by
        // construction and bounded by construction (documented trade).
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val phases = hist
          .withColumn("cum_higher", coalesce(sum(col("c")).over(w), lit(0L)))
          .crossJoin(broadcast(tot))
          .select(col("score"),
            (lit(1L) + expr("(10 * cum_higher) div __n")).cast("int").as("phase"))
        docs.join(broadcast(phases), "score")
          .select(col("doc_id"), col("score"), col("phase"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS INT) AS score FROM documents),
             | hist AS (SELECT score, count(*) AS c FROM t GROUP BY score),
             | ph AS (SELECT score,
             |  CAST(1 + (10 * coalesce(sum(c) OVER (ORDER BY score DESC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
             |    // (SELECT sum(c) FROM hist) AS INT) AS phase
             |  FROM hist)
             | SELECT doc_id, t.score, phase FROM t JOIN ph ON t.score = ph.score
             | ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // Overlapping-window chunking: windows of 16 tokens at stride 8 per
    // document (the retrieval/embedding sibling of pipeline_pack's
    // concat-and-split). Chunk count and bounds are pure integer
    // arithmetic — ceil(a/b) spelled (a+b-1) div b so both engines
    // compute identical values with no float rounding — and the whole
    // operator is a narrow explode: zero shuffles at any scale.
    QueryDef("text_chunks",
      (s, d) => Tables.documents(s, d)
        .withColumn("n", size(TextOps.tokens(col("text"))).cast("long"))
        .withColumn("k", expr(TextOps.chunkCountExpr))
        .withColumn("chunk_idx", explode(sequence(lit(0L), col("k") - 1)))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * TextOps.ChunkStride).as("start_tok"),
          least(lit(TextOps.ChunkWindow.toLong),
            col("n") - col("chunk_idx") * TextOps.ChunkStride).as("chunk_len")),
      Some(s"""WITH t AS (SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
             | k AS (SELECT doc_id, n, ${TextOps.chunkCountSql} AS k FROM t),
             | c AS (SELECT doc_id, n,
             |  unnest(generate_series(0, k - 1)) AS chunk_idx FROM k)
             | SELECT doc_id, chunk_idx, chunk_idx * ${TextOps.ChunkStride} AS start_tok,
             |  least(${TextOps.ChunkWindow}, n - chunk_idx * ${TextOps.ChunkStride}) AS chunk_len
             | FROM c ORDER BY doc_id, chunk_idx""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id", "chunk_idx")),

    // Length-bucketed batching stats — the padding-waste audit that
    // decides a training job's bucket boundaries: docs grouped into
    // 32-token length buckets, each reporting size, the bucket's max
    // length, and the fraction of padding a max-length-padded batch
    // would waste. One hash-agg; padding math is exact integers until
    // the final quantized fraction.
    // Dataset card — the per-source summary panel a corpus release ships
    // (docs, tokens, median length, dominant language + share, exact-dup
    // and short-doc rates): every stat folds in ONE source-keyed
    // hash-agg over a doc-grain frame (the dup flag joins a corpus-wide
    // text-hash count — one row per DISTINCT text, broadcast-able); the
    // language mode resolves in the same pass via min(struct(-count,
    // lang)) (largest count, lexicographic tie-break) instead of a
    // window sort. Rates in integer permille; the median is the only
    // double (interpolated, quant4 both engines).
    QueryDef("pipeline_dataset_card",
      (s, d) => {
        val base = Tables.documents(s, d)
          .withColumn("__n",
            size(TextOps.tokens(col("text"))).cast("long"))
          .withColumn("__th", md5(col("text")))
        val dupes = base.groupBy(col("__th"))
          .agg(count(lit(1)).as("__c"))
        val flagged = base.join(dupes, "__th")
          .withColumn("__dup", col("__c") >= 2)
        val langTop = Tables.documents(s, d)
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("__lc"))
          .groupBy(col("source"))
          .agg(min(struct((-col("__lc")).as("nc"), col("lang").as("l")))
            .as("__t"))
          .select(col("source"), col("__t.l").as("top_lang"),
            (-col("__t.nc")).as("__tc"))
        flagged.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("__n")).as("total_tokens"),
            sum(when(col("__dup"), 1L).otherwise(0L)).as("__dups"),
            sum(when(col("__n") < 20, 1L).otherwise(0L)).as("__short"),
            expr("percentile(__n, 0.5)").as("__med"))
          .join(langTop, Seq("source"))
          .select(col("source"), col("n_docs"), col("total_tokens"),
            col("top_lang"),
            expr("__tc * 1000 div n_docs").as("top_lang_permille"),
            expr("__dups * 1000 div n_docs").as("dup_permille"),
            expr("__short * 1000 div n_docs").as("short_permille"),
            graft.ops.SimOps.quant4(col("__med")).as("median_tokens"))
      },
      Some(s"""WITH t AS (SELECT source, lang, md5(text) AS th,
             |   CAST(len(${TextOps.tokensSql("text")}) AS BIGINT) AS n
             |  FROM documents),
             | dupset AS (SELECT th FROM t GROUP BY th HAVING count(*) >= 2),
             | f AS (SELECT t.*, (th IN (SELECT th FROM dupset)) AS dup FROM t),
             | lt AS (SELECT source, lang, count(*) AS lc FROM t GROUP BY 1, 2),
             | topl AS (SELECT source, lang AS top_lang, lc FROM (
             |   SELECT *, row_number() OVER (PARTITION BY source
             |     ORDER BY lc DESC, lang) AS rn FROM lt) WHERE rn = 1),
             | agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |   CAST(sum(n) AS BIGINT) AS total_tokens,
             |   CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS dups,
             |   CAST(sum(CASE WHEN n < 20 THEN 1 ELSE 0 END) AS BIGINT) AS shorts,
             |   quantile_cont(n, 0.5) AS med
             |  FROM f GROUP BY source)
             | SELECT agg.source, n_docs, total_tokens, top_lang,
             |   lc * 1000 // n_docs AS top_lang_permille,
             |   dups * 1000 // n_docs AS dup_permille,
             |   shorts * 1000 // n_docs AS short_permille,
             |   ${graft.ops.SimOps.quant4Sql("med")} AS median_tokens
             | FROM agg JOIN topl ON agg.source = topl.source
             | ORDER BY 1""".stripMargin.replace("\n", "")),
      presentOrder = Seq("source")),

    QueryDef("pipeline_length_buckets",
      (s, d) => Tables.documents(s, d)
        .withColumn("n", size(TextOps.tokens(col("text"))).cast("long"))
        .withColumn("bucket", expr("n div 32"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("n")).as("max_len"),
          sum(col("n")).as("total_tokens"))
        .withColumn("padding_frac",
          round(lit(1.0) - col("total_tokens").cast("double") /
            (col("n_docs") * col("max_len")), 4)
            .cast("decimal(18,4)").cast("double")),
      Some("""WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
             |  FROM documents)
             | SELECT n // 32 AS bucket, count(*) AS n_docs,
             |  CAST(max(n) AS BIGINT) AS max_len,
             |  CAST(sum(n) AS BIGINT) AS total_tokens,
             |  CAST(round(1.0 - CAST(sum(n) AS BIGINT)::DOUBLE /
             |    (count(*) * max(n)), 4) AS DECIMAL(18,4))::DOUBLE AS padding_frac
             | FROM t GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", "")),
      presentOrder = Seq("bucket")),

    // Deterministic epoch shuffle — training order must be "random" AND
    // reproducible across restarts/retries: rank by salted hash within
    // each source shard. A new salt (epoch number) is a fresh
    // permutation; the same salt always replays the same order. Narrow
    // map + per-shard window, never a global sort.
    QueryDef("pipeline_shuffle_order",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(SampleOps.sampleBucket(col("doc_id"), "epoch1"),
            col("doc_id"))
        Tables.documents(s, d)
          .withColumn("epoch_rank", row_number().over(w))
          .select(col("source"), col("epoch_rank"), col("doc_id"))
      },
      Some(s"""SELECT source, CAST(row_number() OVER (PARTITION BY source
              |  ORDER BY ${SampleOps.sampleBucketSql("doc_id", "epoch1")}, doc_id)
              |  AS INT) AS epoch_rank, doc_id
              | FROM documents ORDER BY source, epoch_rank""".stripMargin
        .replace("\n", "")),
      presentOrder = Seq("source", "epoch_rank")),

    // Sub-document exact dedup — the C4 line-level dedup step, over the
    // shared 16/8 chunk windows (the corpus has no newlines, so chunks
    // stand in for lines): a chunk text kept only at its first
    // (doc, chunk) occurrence corpus-wide, every doc reporting how much
    // of it survived. Shape: one hash-agg over chunk md5 (map-side
    // combine; the shuffle carries one row per DISTINCT chunk) + a
    // broadcast-free re-join by hash, then a per-doc roll-up.
    QueryDef("dedup_chunk_exact",
      (s, d) => {
        val chunks = Tables.documents(s, d)
          .withColumn("__toks", TextOps.tokens(col("text")))
          .withColumn("n", size(col("__toks")).cast("long"))
          .withColumn("k", expr(TextOps.chunkCountExpr))
          .withColumn("chunk_idx", explode(sequence(lit(0L), col("k") - 1)))
          .withColumn("__h", md5(array_join(
            expr(TextOps.chunkSliceExpr("__toks")), " ")))
          .select(col("doc_id"), col("chunk_idx"), col("__h"))
        val firstOwner = chunks.groupBy(col("__h"))
          .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("__o"))
          .select(col("__h"), col("__o.doc_id").as("__od"),
            col("__o.chunk_idx").as("__oc"))
        chunks.join(firstOwner, "__h")
          .withColumn("kept",
            (col("doc_id") === col("__od") && col("chunk_idx") === col("__oc"))
              .cast("long"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("kept")).as("n_kept"),
            round(sum(col("kept")).cast("double") / count(lit(1)), 4)
              .cast("decimal(18,4)").cast("double").as("keep_frac"))
      },
      Some {
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
            k AS (SELECT doc_id, toks, n, ${TextOps.chunkCountSql} AS k FROM t),
            c AS (SELECT doc_id, toks,
              unnest(generate_series(0, k - 1)) AS chunk_idx FROM k),
            ch AS (SELECT doc_id, chunk_idx,
              md5(array_to_string(${TextOps.chunkSliceSql("toks")}, ' ')) AS h FROM c),
            own AS (SELECT h, doc_id AS od, chunk_idx AS oc FROM (
              SELECT h, doc_id, chunk_idx, row_number() OVER (PARTITION BY h
                ORDER BY doc_id, chunk_idx) AS rn FROM ch) WHERE rn = 1)
            SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
              CAST(sum(CASE WHEN ch.doc_id = od AND ch.chunk_idx = oc
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(round(sum(CASE WHEN ch.doc_id = od AND ch.chunk_idx = oc
                THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
                AS DECIMAL(18,4))::DOUBLE AS keep_frac
            FROM ch JOIN own ON ch.h = own.h
            GROUP BY ch.doc_id ORDER BY ch.doc_id"""
      },
      presentOrder = Seq("doc_id")),

    // Content-defined chunk dedup — the SHIFT-INVARIANT sibling of
    // dedup_chunk_exact: chunk boundaries come from a Rabin-style
    // polynomial rolling hash over the local 4-token window (cut where
    // h mod 8 = 0), so an insertion re-aligns all chunks past its
    // neighborhood instead of moving every fixed-grid window — the
    // rsync/LBFS/dedup-storage chunker applied to corpus text. Chunking
    // itself is ONE narrow array-HOF map (each position's hash is an
    // independent 4-term sum — no sequential scan); ownership then runs
    // the chunk_exact shape: one hash-agg per DISTINCT chunk + re-join +
    // per-doc roll-up.
    QueryDef("dedup_cdc_chunks",
      (s, d) => {
        val chunks = graft.ops.DedupOps.cdcChunks(
          Tables.documents(s, d), "text", "doc_id", cdcDivisor = 8L)
        val firstOwner = chunks.groupBy(col("chunk"))
          .agg(min(struct(col("doc_id"), col("start"))).as("__o"))
          .select(col("chunk"), col("__o.doc_id").as("__od"),
            col("__o.start").as("__os"))
        chunks.join(firstOwner, "chunk")
          .withColumn("kept",
            (col("doc_id") === col("__od") && col("start") === col("__os"))
              .cast("long"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("kept")).as("n_kept"),
            round(sum(col("kept")).cast("double") / count(lit(1)), 4)
              .cast("decimal(18,4)").cast("double").as("keep_frac"))
      },
      Some {
        val chunksSql = graft.ops.DedupOps.cdcChunksSql(
          "documents", "text", "doc_id", cdcDivisor = 8L)
        s"""WITH ch AS ($chunksSql),
            own AS (SELECT chunk, doc_id AS od, start AS os FROM (
              SELECT chunk, doc_id, start, row_number() OVER (PARTITION BY chunk
                ORDER BY doc_id, start) AS rn FROM ch) WHERE rn = 1)
            SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
              CAST(sum(CASE WHEN ch.doc_id = od AND ch.start = os
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(round(sum(CASE WHEN ch.doc_id = od AND ch.start = os
                THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
                AS DECIMAL(18,4))::DOUBLE AS keep_frac
            FROM ch JOIN own ON ch.chunk = own.chunk
            GROUP BY ch.doc_id ORDER BY ch.doc_id"""
      },
      presentOrder = Seq("doc_id")),

    // RAG ingestion prep, end to end: chunk (text_chunks' 16/8 windows,
    // now with materialized chunk text) → deterministic embedding (the
    // mm_embed_features recipe re-expressed declaratively: 60-bit md5
    // checksum → 16-bit shift slices → exact power-of-two scaling, every
    // component exactly representable) → int8 quantization audit →
    // hyperplane LSH bucket for the vector index. One narrow
    // explode-then-map plan — zero shuffles at any scale — composing
    // four operator families under one oracle.
    QueryDef("pipeline_rag_prep",
      (s, d) => {
        val planes = graft.ops.SimOps.hyperplanes(planes = 4, dim = 8, seed = 31L)
        val chunks = Tables.documents(s, d)
          .withColumn("__toks", TextOps.tokens(col("text")))
          .withColumn("n", size(col("__toks")).cast("long"))
          .withColumn("k", expr(TextOps.chunkCountExpr))
          .withColumn("chunk_idx", explode(sequence(lit(0L), col("k") - 1)))
          .withColumn("__ct",
            array_join(expr(TextOps.chunkSliceExpr("__toks")), " "))
        val embedded = chunks
          .withColumn("__h", TextOps.hash64(col("__ct")))
          .withColumn("embedding", expr(
            """transform(sequence(0, 7),
               i -> (CAST((__h >> (7 * i)) & 65535 AS DOUBLE) / 65536.0) * 2.0 - 1.0)"""))
        embedded
          .withColumn("__s",
            expr("array_max(transform(embedding, x -> abs(x)))") / 127d)
          .withColumn("__s", when(col("__s") === 0d, 1d).otherwise(col("__s")))
          .select(col("doc_id"), col("chunk_idx"),
            length(col("__ct")).as("chunk_chars"),
            round(col("__s"), 6).cast("decimal(18,6)").cast("double").as("scale"),
            expr("CAST(aggregate(transform(embedding, x -> CAST(floor(x / __s + 0.5d) AS LONG)), 0L, (acc, x) -> acc + x) AS BIGINT)")
              .as("q_sum"),
            graft.ops.SimOps.lshBucket("embedding", planes).cast("long").as("bucket"))
      },
      Some {
        val planes = graft.ops.SimOps.hyperplanes(planes = 4, dim = 8, seed = 31L)
        val h = TextOps.hash64Sql("ct")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
            k AS (SELECT doc_id, toks, n, ${TextOps.chunkCountSql} AS k FROM t),
            c AS (SELECT doc_id, toks,
              unnest(generate_series(0, k - 1)) AS chunk_idx FROM k),
            ct AS (SELECT doc_id, chunk_idx,
              array_to_string(${TextOps.chunkSliceSql("toks")}, ' ') AS ct FROM c),
            emb AS (SELECT doc_id, chunk_idx, ct,
              list_transform(range(0, 8),
                i -> (CAST((($h) >> (7 * i)) & 65535 AS DOUBLE) / 65536.0) * 2.0 - 1.0)
                AS e FROM ct),
            sc AS (SELECT doc_id, chunk_idx, ct, e,
              CASE WHEN m = 0 THEN 1 ELSE m END AS s FROM (
                SELECT *, list_max(list_transform(e, x -> abs(x))) / 127 AS m FROM emb))
            SELECT doc_id, chunk_idx, CAST(len(ct) AS INT) AS chunk_chars,
              CAST(CAST(round(s, 6) AS DECIMAL(18,6)) AS DOUBLE) AS scale,
              CAST(list_sum(list_transform(e, x -> CAST(floor(x / s + 0.5) AS BIGINT)))
                AS BIGINT) AS q_sum,
              CAST(${graft.ops.SimOps.lshBucketSql("e", planes)} AS BIGINT) AS bucket
            FROM sc ORDER BY doc_id, chunk_idx"""
      },
      presentOrder = Seq("doc_id", "chunk_idx"))
    ,

    // Contrastive training-pair prep: per anchor, its 5 nearest
    // neighbors labeled 1 (the positives a similarity loss pulls
    // together) unioned with 5 reproducible uniform NON-edges
    // labeled 0 (the easy negatives; sim_hard_negatives supplies
    // the confusable band separately) — a balanced 5/5 per anchor,
    // all integer columns. Composes the k-NN edge cache and the
    // hash-ordered anti-join sampler; both legs reuse the exact
    // machinery their own gates pin.
    QueryDef("pipeline_contrastive_pairs",
      (s, d) => {
        import graft.ops.SimOps
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d),
          SimQueries.KnnK, SimQueries.LshTabs)
        // rank <= 5 explicitly (not "all KnnK ranks") so the balanced
        // 5/5 contract survives a KnnK bump.
        val pos = edges.filter(col("query_id") < 10 && col("rank") <= 5)
          .select(col("query_id").as("anchor"),
            col("neighbor_id").as("other"), col("rank"), lit(1).as("label"))
        val e = edges.select(col("query_id").as("src"),
          col("neighbor_id").as("dst"))
        val nodes = Tables.embeddings(s, d).select(col("vec_id").as("node_id"))
        val qs = nodes.filter(col("node_id") < 10).select(col("node_id").as("q"))
        val cand = qs.crossJoin(nodes)
          .filter(col("node_id") =!= col("q"))
          .withColumn("hkey", graft.ops.TextOps.hash64(
            concat_ws("|", col("q"), col("node_id"))))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q")).orderBy(col("hkey"), col("node_id"))
        val neg = cand.join(e,
            cand("q") === e("src") && cand("node_id") === e("dst"),
            "left_anti")
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("q").as("anchor"), col("node_id").as("other"),
            col("rank"), lit(0).as("label"))
        pos.unionByName(neg)
      },
      Some(s"""WITH er AS (${graft.ops.SimOps.topKLshMultiSql("embeddings",
                 "TRUE", SimQueries.KnnK, SimQueries.LshTabs)}),
             | pos AS (SELECT query_id AS anchor, neighbor_id AS other,
             |   rank, 1 AS label FROM er WHERE query_id < 10 AND rank <= 5),
             | e AS (SELECT query_id AS src, neighbor_id AS dst FROM er),
             | n AS (SELECT vec_id AS node_id FROM embeddings),
             | q AS (SELECT node_id AS q FROM n WHERE node_id < 10),
             | c AS (SELECT q, node_id,
             |   ${graft.ops.TextOps.hash64Sql("q || '|' || node_id")} AS hkey
             |  FROM q CROSS JOIN n WHERE node_id <> q),
             | nn AS (SELECT c.q, c.node_id, c.hkey FROM c
             |  LEFT JOIN e ON c.q = e.src AND c.node_id = e.dst
             |  WHERE e.src IS NULL),
             | r AS (SELECT q, node_id, CAST(row_number() OVER (
             |    PARTITION BY q ORDER BY hkey, node_id) AS INT) AS rank
             |  FROM nn),
             | neg AS (SELECT q AS anchor, node_id AS other, rank, 0 AS label
             |  FROM r WHERE rank <= 5)
             | SELECT * FROM pos UNION ALL SELECT * FROM neg
             | ORDER BY anchor, label, rank""".stripMargin.replace("\n", "")),
      presentOrder = Seq("anchor", "label", "rank")),

    // Fellegi–Sunter probabilistic linkage (JASA 1969) — the SCORED
    // counterpart of pipeline_entity_resolution's boolean matcher:
    // blocked candidate pairs, per-field m/u likelihood ratios with
    // data-estimated u (exact rational agreement probability of a
    // random pair), composite product score in clipped fixed-point
    // micro, and the classic two-threshold match / possible / nonmatch
    // rule. Published at block-noun grain: decision counts + score
    // range. All-integer; see LinkOps for the overflow-by-construction
    // clip bound.
    QueryDef("pipeline_fs_linkage",
      (s, d) => LinkOps.fellegiSunter(Tables.part(s, d)),
      Some(LinkOps.fellegiSunterSql("part")),
      presentOrder = Seq("noun")),

    // PassJoin edit-distance similarity self-join (Li, Deng & Feng
    // VLDB'11): every doc pair whose key (prefix capped at 24 chars)
    // is within 2 edits — the fuzzy-key linkage pass over
    // titles/URLs/IDs. LENGTH-AWARE (round 10): keys are the paper's
    // length-grouped allocation, so short keys participate instead of
    // being filtered; the gate feeds VARIABLE-length keys (text
    // truncated to 2 + doc_id % 31 chars) so many length groups AND
    // the short-key pass (kl <= k) flow cross-engine. EXACT by
    // segment pigeonhole (k edits over k+1 segments leave one segment
    // intact, shifted <= k, and bound the length gap at k), so
    // candidates are a plain (length, segment, substring) equi-join
    // and the built-in levenshtein (bit-identical on both engines)
    // verifies — no recall knob, missed-pair probability 0. Per doc:
    // 3 index rows, <= 75 probe rows; the DP runs on candidates only.
    QueryDef("link_edit_join",
      (s, d) => LinkOps.passJoin(Tables.documents(s, d)
        .select(col("doc_id"),
          expr("substring(text, 1, CAST(2 + doc_id % 31 AS INT))")
            .as("text"))),
      Some(LinkOps.passJoinSql(
        "(SELECT doc_id, substr(text, 1, CAST(2 + doc_id % 31 AS INT))" +
          " AS text FROM documents)")),
      presentOrder = Seq("doc_a", "doc_b")),

    // Entity resolution end-to-end — the composition record-linkage
    // pipelines run: block → fuzzy-match → TRANSITIVE-CLOSURE cluster →
    // canonicalize. q_fuzzy_join stops at pairwise matches; here the
    // match graph (blocked levenshtein <= 2 over DISTINCT part names,
    // name id = min partkey per name — the factorization that keeps the
    // verify at name grain, never entity pairs) feeds the shared
    // union-find/pointer-jump CC, and every name maps to its cluster's
    // canonical id (CC's min-label IS the canonical). Names with no
    // fuzzy partner keep their own id via the left join. Integer output
    // end to end; the oracle replays CC as the recursive min-label walk.
    QueryDef("pipeline_entity_resolution",
      (s, d) => {
        val nm = Tables.part(s, d)
          .groupBy(col("p_name"))
          .agg(min(col("p_partkey")).as("nid"),
            count(lit(1)).as("n_entities"))
          .withColumn("blk",
            concat(regexp_extract(col("p_name"), "[^ ]+$", 0), lit("|"),
              substring(col("p_name"), 1, 1)))
        val pairs = nm.select(col("p_name").as("na"), col("nid").as("doc_a"),
            col("blk"))
          .join(nm.select(col("p_name").as("nb"), col("nid").as("doc_b"),
            col("blk")), "blk")
          .filter(col("doc_a") < col("doc_b") &&
            levenshtein(col("na"), col("nb")) <= 2)
          .select(col("doc_a"), col("doc_b"))
        val cc = DedupOps.connectedComponents(pairs)
        nm.join(cc, nm("nid") === cc("doc_id"), "left")
          .select(col("nid").as("name_id"),
            coalesce(col("cluster"), col("nid")).as("canonical_id"),
            col("n_entities"))
      },
      Some("""WITH RECURSIVE nm AS (SELECT p_name, min(p_partkey) AS nid,
             |   CAST(count(*) AS BIGINT) AS n_entities,
             |   regexp_extract(p_name, '[^ ]+$') || '|' || substr(p_name, 1, 1)
             |     AS blk
             |  FROM part GROUP BY p_name),
             | pr AS (SELECT a.nid AS doc_a, b.nid AS doc_b
             |  FROM nm a JOIN nm b ON a.blk = b.blk AND a.nid < b.nid
             |  WHERE levenshtein(a.p_name, b.p_name) <= 2),
             | edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
             |  UNION ALL SELECT doc_b, doc_a FROM pr),
             | walk(id, label) AS (
             |  SELECT DISTINCT src, src FROM edges
             |  UNION
             |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id
             |  WHERE w.label < e.dst),
             | cc AS (SELECT id, min(label) AS cluster FROM walk GROUP BY id)
             | SELECT nid AS name_id, COALESCE(cluster, nid) AS canonical_id,
             |  n_entities
             | FROM nm LEFT JOIN cc ON nm.nid = cc.id
             | ORDER BY name_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("name_id")),

    // Crawl-intake composition — the FIRST mile of the pipeline, run
    // end to end as one gate: raw per-doc "pages" (an HTML shell around
    // the text, every third doc carrying a planted mojibake defect, the
    // rest the correctly-encoded multiscript suffix) flow through
    // HTML-strip → mojibake detection → script profiling, and the keep
    // decision composes all three (no encoding defect, ASCII-dominant,
    // minimum clean length). Proves the round's intake operators chain
    // on one frame with the whole derivation mirrored in a single
    // oracle; still one codegen'd pass per row per probe — no explode,
    // no shuffle beyond the scan and the slim doc-grain join.
    QueryDef("pipeline_crawl_intake",
      (s, d) => {
        val iq = graft.queries.IndexQueries
        val raw = Tables.documents(s, d).select(col("doc_id"),
          concat(lit(iq.HtmlPre), coalesce(col("text"), lit("")),
            when(col("doc_id") % 3 === 0, lit(" " + iq.MojibakeFix))
              .otherwise(lit(" " + iq.MultiScript)),
            lit(iq.HtmlPost)).as("text"))
        val clean = TextOps.htmlCleanText(raw)
        val mj = TextOps.mojibakeProfile(clean)
          .select(col("doc_id"), col("n_mojibake"))
        val sp = TextOps.scriptProfile(clean)
          .select(col("doc_id"), col("n_cp"), col("dominant"))
        mj.join(sp, Seq("doc_id"))
          .select(col("doc_id"), col("n_cp").as("n_clean"),
            col("n_mojibake"), col("dominant"),
            (col("n_mojibake") === 0 && col("dominant") === "ascii" &&
              col("n_cp") >= 20).as("keep"))
      },
      Some {
        val iq = graft.queries.IndexQueries
        s"""WITH raw AS (SELECT doc_id,
             '${iq.HtmlPre}' || COALESCE(text, '') ||
             CASE WHEN doc_id % 3 = 0 THEN ' ${iq.MojibakeFix}'
               ELSE ' ${iq.MultiScript}' END || '${iq.HtmlPost}' AS text
             FROM documents),
           clean AS (${TextOps.htmlCleanTextSql("raw")}),
           m AS (SELECT doc_id, n_mojibake FROM
             (${TextOps.mojibakeProfileSql("clean")})),
           sp AS (SELECT doc_id, n_cp, dominant FROM
             (${TextOps.scriptProfileSql("clean")}))
           SELECT m.doc_id, n_cp AS n_clean, n_mojibake, dominant,
             (n_mojibake = 0 AND dominant = 'ascii' AND n_cp >= 20)
               AS keep
           FROM m JOIN sp ON m.doc_id = sp.doc_id
           ORDER BY m.doc_id"""
      },
      presentOrder = Seq("doc_id"))
  )
}
