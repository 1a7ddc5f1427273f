package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines: corpus
  * subsampling and per-class mixing that is REPRODUCIBLE — the same
  * (salt, id) always lands in or out of the sample, independent of
  * partitioning, task retries, or cluster size.
  *
  * Why not `df.sample()`/rand(): Spark's sampling draws from a
  * per-partition RNG stream, so the selected set changes with partition
  * layout and task re-execution — a lineage hazard for training data
  * (a retried task silently trains on different rows). Hashing the row
  * id is a pure narrow map: codegen'd, pushdown-friendly, and the
  * sample is a stable, auditable function of the data.
  *
  * The hash is the engine-wide 60-bit md5 ([[TextOps.hash64]]), bucketed
  * into 10000 permille-of-permille slots; rates are expressed as integer
  * thresholds out of 10000 so the predicate compares integers, not
  * floats, in both engines.
  */
object SampleOps {

  val Buckets = 10000

  /** Stable sample bucket in [0, 10000) for (salt, id). */
  def sampleBucket(idCol: Column, salt: String): Column =
    pmod(TextOps.hash64(concat(lit(salt), idCol.cast("string"))), lit(Buckets))

  /** Leakage-safe train/validation split: the holdout is sampled by
    * near-dup CLUSTER, not by document. A hash split on doc_id leaks
    * whenever a near-duplicate pair straddles the boundary — the val
    * set then "measures" memorization of training text. Every doc takes
    * the bucket of its cluster id (singletons: their own id), so a
    * whole near-dup family lands on one side together.
    *
    * `pairs` is the near-dup pair table (doc_a, doc_b); `clusters` the
    * (doc_id, cluster) assignment over it. The `leaked_pairs` output
    * column COUNTS pairs whose endpoints landed on different sides —
    * structurally zero by construction — so the oracle can pin the
    * CONSTANT 0 (the meets_floor pattern) and any future change that
    * splits below cluster grain turns the gate red instead of silently
    * leaking.
    *
    * Scale shape: bucket assignment is a narrow codegen'd map over the
    * doc_id-keyed join with `clusters` (the join the dedup consumers
    * already pay); the audit is two slim (id, split) equi-joins over the
    * pair table; stats are one partial-aggregable (split, class) agg.
    * Output: (split, <classCol>, n_docs, total_tokens, leaked_pairs).
    */
  def leakSafeSplit(docs: DataFrame, pairs: DataFrame, clusters: DataFrame,
                    classCol: String, salt: String,
                    trainBuckets: Int): DataFrame = {
    val withCluster = docs
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast("long"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("split",
        when(sampleBucket(col("cluster"), salt) < trainBuckets, lit("train"))
          .otherwise(lit("val")))
    val bySplit = withCluster.select(col("doc_id"), col("split"))
    val leaked = pairs
      .join(bySplit.select(col("doc_id").as("doc_a"), col("split").as("sa")),
        "doc_a")
      .join(bySplit.select(col("doc_id").as("doc_b"), col("split").as("sb")),
        "doc_b")
      .filter(col("sa") =!= col("sb"))
      .agg(count(lit(1)).as("leaked_pairs"))
    withCluster.groupBy(col("split"), col(classCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .crossJoin(broadcast(leaked))
  }

  def sampleBucketSql(idExpr: String, salt: String): String =
    s"${TextOps.hash64Sql(s"'$salt' || CAST($idExpr AS VARCHAR)")} % $Buckets"

  /** Keep ~rate10k/10000 of rows, deterministically. */
  def hashSample(df: DataFrame, idCol: String, rate10k: Int,
                 salt: String): DataFrame =
    df.filter(sampleBucket(col(idCol), salt) < rate10k)

  /** Per-stratum rates (class mixing): strata absent from `rates` are
    * dropped — the unrolled when-chain keeps the predicate a codegen'd
    * scalar, no join against a rates table. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Seq[(String, Int)], salt: String): DataFrame = {
    val threshold = rates.foldRight(lit(0)) { case ((stratum, r), acc) =>
      when(col(strataCol) === stratum, lit(r)).otherwise(acc)
    }
    df.filter(sampleBucket(col(idCol), salt) < threshold)
  }

  def stratifiedThresholdSql(strataExpr: String, rates: Seq[(String, Int)]): String =
    rates.foldRight("0") { case ((stratum, r), acc) =>
      s"CASE WHEN $strataExpr = '$stratum' THEN $r ELSE $acc END"
    }

  /** Temperature-based domain re-weighting (the UniMax/multilingual-mix
    * recipe at α = 0.5): domain d gets weight n_d^α / Σ n^α, a total
    * budget of `target` docs is split by weight, and each domain is
    * hash-sampled at rate min(1, target·w_d / n_d) — big domains are
    * compressed, small ones promoted (possibly kept whole via the cap).
    *
    * Every value the gate compares is INTEGER: sqrt(n_d) is quantized to
    * micro-units (floor(√n · 1e6) — IEEE sqrt is correctly rounded, so
    * both engines produce the same BIGINT) and the weight sum is an exact
    * BIGINT sum. The rate threshold is a fixed-order double product/
    * quotient chain + floor — bit-identical across engines (scalar IEEE
    * ops, no accumulation) and overflow-free where 64-bit integer
    * products wrap. No cross-engine divergence can flip a result.
    *
    * Scale shape: one count shuffle over domains, a broadcast of the
    * (tiny) rate table back onto the corpus, and a narrow hash-bucket
    * filter — the same plan at 500 docs or 100 TB.
    */
  def temperatureRates(docs: DataFrame, domainCol: Column, target: Long): DataFrame = {
    // Beyond ~1e12 the 1e4·target double product passes 2^53 and the two
    // engines' rounding (and BIGINT-cast overflow behavior) can diverge;
    // a larger budget than a trillion docs is a caller bug anyway.
    require(target > 0 && target <= 1000000000000L,
      s"target must be in (0, 1e12], got $target")
    val counts = docs.groupBy(domainCol.as("domain"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("s_units",
        floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
    val total = counts.agg(sum(col("s_units")).as("__S"))
    // The rate threshold is computed in DOUBLE with a fixed operation
    // order — ((((1e4 · T) · s) / S) / n), then floor. IEEE doubles make
    // this bit-identical in Spark and DuckDB, and unlike 64-bit integer
    // products it cannot overflow for ANY corpus/target combination
    // (a naive (1e4·T·s) div (S·n) wraps once either product passes
    // 2^63). The result is within 1 ulp of the exact integer division —
    // a ±1/10000 rate difference at worst, and the same ±1 on BOTH sides.
    counts.crossJoin(broadcast(total))
      .withColumn("rate10k",
        least(lit(10000L),
          floor(lit(10000.0) * target.toDouble * col("s_units").cast("double") /
            col("__S").cast("double") / col("n_docs").cast("double"))
            .cast("long")))
      .select(col("domain"), col("n_docs"), col("s_units"), col("rate10k"))
  }

  /** Pass `rates` when the caller already computed [[temperatureRates]]
    * (one domain-count shuffle instead of two over the same corpus). */
  def temperatureSample(docs: DataFrame, domainCol: Column, idCol: String,
                        target: Long, salt: String,
                        rates: Option[DataFrame] = None): DataFrame = {
    val r = rates.getOrElse(temperatureRates(docs, domainCol, target))
    docs.withColumn("domain", domainCol)
      .withColumn("__b", sampleBucket(col(idCol), salt))
      .join(broadcast(r), "domain")
      .filter(col("__b") < col("rate10k"))
  }

  def temperatureRatesSql(table: String, domainExpr: String, target: Long): String =
    s"""WITH counts AS (
          SELECT $domainExpr AS domain, count(*) AS n_docs,
                 CAST(floor(sqrt(count(*)::DOUBLE) * 1e6) AS BIGINT) AS s_units
          FROM $table GROUP BY 1),
        tot AS (SELECT sum(s_units) AS s FROM counts)
        SELECT domain, n_docs, s_units,
               least(10000, CAST(floor(CAST(10000 AS DOUBLE) * CAST($target AS DOUBLE)
                 * CAST(s_units AS DOUBLE)
                 / CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS BIGINT)) AS rate10k
        FROM counts, tot"""

  /** Priority sampling (Duffield, Lund & Thorup, JACM 2007; Ohlsson's
    * sequential Poisson): each row draws u uniform on (0, 1] from the
    * deterministic 60-bit hash of (salt, id) and takes priority w / u;
    * the weight-proportional without-replacement sample of a group is
    * its TOP-k by priority, and each sampled row's Horvitz–Thompson
    * contribution max(w, τ) — τ the (k+1)-th largest priority — sums
    * to an unbiased estimate of the group's TOTAL weight from k rows
    * alone (the subsample-then-extrapolate primitive behind weighted
    * corpus subsampling and sampled analytics).
    *
    * Cross-engine exactness, with NO tolerance gate: int→double
    * conversion and IEEE division are correctly rounded in every
    * conforming engine, so priority w/u is bit-identical in Spark and
    * DuckDB; distinct hashes make ties impossible, so the top-k set,
    * τ, and the per-row max(w, τ) (4-dp-quantized only for rendering)
    * are all deterministic. This is the libm-free discipline: no
    * ln/pow (whose last-ulp behavior is implementation-defined) —
    * the Efraimidis–Sirivas u^(1/w) key would NOT gate exactly.
    *
    * Scale shape: priorities are a narrow codegen'd map; the bottom-
    * (k+1) per group runs under WindowGroupLimit (rank pushdown — each
    * partition retains k+1 rows per group before the exchange, so the
    * sort never sees the full group); τ re-attaches via a broadcast of
    * the k+1-th rows. Output rows: k per group.
    */
  /** Hash space of [[TextOps.hash64]] as a double (2^60): u = (h+1)/M
    * is uniform on (0, 1]. */
  private val HashSpaceD = "1152921504606846976.0"

  def prioritySample(df: DataFrame, idCol: String, weightCol: String,
                     groupCol: String, salt: String, k: Int): DataFrame = {
    val pr = df
      .withColumn("__u",
        (TextOps.hash64(concat(lit(salt), col(idCol).cast("string"))) + 1)
          .cast("double") / expr(HashSpaceD))
      .withColumn("__pri", col(weightCol).cast("double") / col("__u"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__pri").desc)
    val ranked = pr.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k + 1)
    val tau = ranked.filter(col("__rn") === k + 1)
      .select(col(groupCol), col("__pri").as("__tau"))
    ranked.filter(col("__rn") <= k)
      .join(broadcast(tau), Seq(groupCol), "left")
      .select(col(groupCol), col("__rn").as("rank"), col(idCol),
        col(weightCol).as("weight"),
        graft.ops.SimOps.quant4(
          coalesce(greatest(col(weightCol).cast("double"), col("__tau")),
            col(weightCol).cast("double"))).as("est_contrib"))
  }

  /** Oracle twin of [[prioritySample]] — identical hash, priority,
    * ranking, τ, and contribution. */
  def prioritySampleSql(table: String, idCol: String, weightCol: String,
                        groupCol: String, salt: String, k: Int): String =
    s"""WITH pr AS (SELECT $groupCol AS grp, $idCol AS id,
              $weightCol AS w,
              ($weightCol)::DOUBLE /
                ((${TextOps.hash64Sql(s"'$salt' || CAST($idCol AS VARCHAR)")} + 1)::DOUBLE
                 / 1152921504606846976.0) AS pri
            FROM $table),
        r AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY pri DESC) AS rn
              FROM pr),
        tau AS (SELECT grp, pri AS tau FROM r WHERE rn = ${k + 1})
        SELECT grp AS $groupCol, CAST(rn AS INT) AS rank, id AS $idCol,
          w AS weight,
          ${SimOps.quant4Sql("coalesce(greatest((w)::DOUBLE, tau), (w)::DOUBLE)")}
            AS est_contrib
        FROM r LEFT JOIN tau USING (grp) WHERE rn <= $k
        ORDER BY 1, 2"""

  /** Pareto-frontier (skyline) document selection: keep every doc NOT
    * dominated on the two maximize-objectives (o1 = token count,
    * o2 = type-token ratio permille) — the multi-objective data
    * selection a curation pipeline runs when "long" and "lexically
    * diverse" trade off and any scalarization would bake in weights.
    * q dominates p iff q ≥ p on both objectives and > on at least one;
    * equal-point duplicates are mutually non-dominating and both stay.
    *
    * Scale shape — NO global sort and NO self-join: o1 is bucketed
    * (width `bucketW`); the bucket-grain max-o2 table (dimension-tiny)
    * gets a strict-upper cumulative max and broadcasts back. A doc in
    * bucket b with o2 ≤ that upper max is dominated by some strictly-
    * longer doc and is pruned BEFORE any window. Domination by a pruned
    * doc implies domination by its (upper-bucket) pruner, so the
    * surviving set is closed under the remaining checks, which are two
    * PER-BUCKET windows (partitioned, parallel): max o2 over same-
    * bucket strictly-greater o1 (integer RANGE frame on −o1), and max
    * o2 over ties of o1. The classic one-reducer `ORDER BY o1` skyline
    * sweep becomes bucket-local work exactly like
    * [[SkewOps.prefixSums]] de-globalizes the running sum. */
  def paretoFront(docs: DataFrame, bucketW: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__t"))
      .select(col("doc_id"), size(col("__t")).cast("long").as("o1"),
        expr("size(array_distinct(__t)) * 1000L div size(__t)").as("o2"))
      .filter(col("o1") > 0L)
      .withColumn("b", expr(s"o1 div $bucketW"))
    val wUpper = Window.orderBy(col("b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // Bucket-grain (tiny): per-bucket max o2, then the running max over
    // STRICTLY higher buckets. The single-partition window is over the
    // bucket table, not the corpus — the k-means-summary discipline.
    val upper = base.groupBy(col("b")).agg(max(col("o2")).as("mx"))
      .withColumn("ub", max(col("mx")).over(wUpper))
      .select(col("b"), coalesce(col("ub"), lit(-1L)).as("ub"))
    val wIn = Window.partitionBy(col("b")).orderBy(col("o1n"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy(col("b"), col("o1"))
    base.join(broadcast(upper), "b")
      .filter(col("o2") > col("ub"))
      .withColumn("o1n", -col("o1"))
      .withColumn("m1", max(col("o2")).over(wIn))
      .withColumn("m2", max(col("o2")).over(wEq))
      .filter(coalesce(col("m1"), lit(-1L)) < col("o2") &&
        col("m2") === col("o2"))
      .select(col("doc_id"), col("o1").as("n_tokens"),
        col("o2").as("ttr_permille"))
  }

  /** Oracle twin of [[paretoFront]]: the definitional NOT EXISTS —
    * gate equality proves the bucket-pruned window plan IS the
    * skyline. */
  def paretoFrontSql(table: String): String =
    s"""WITH t AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks
          FROM $table),
        b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS o1,
                CAST(len(list_distinct(toks)) AS BIGINT) * 1000
                  // len(toks) AS o2
              FROM t WHERE len(toks) > 0)
        SELECT p.doc_id, p.o1 AS n_tokens, p.o2 AS ttr_permille
        FROM b p
        WHERE NOT EXISTS (SELECT 1 FROM b q
          WHERE q.o1 >= p.o1 AND q.o2 >= p.o2
            AND (q.o1 > p.o1 OR q.o2 > p.o2))
        ORDER BY p.doc_id"""

  /** Modulus of the geometric-mechanism coin: 3·2²⁰. Divisible by 3 and
    * by every 2^j (j ≤ 20), so EVERY branch probability of the α = 1/2
    * two-sided geometric is an exact integer cell count — the whole
    * sampler is integer arithmetic, no floats anywhere. */
  val GeoMod = 3145728L

  /** Truncated two-sided geometric mechanism (Ghosh–Roughgarden–
    * Sundararajan STOC'09 — the discrete, utility-optimal counterpart
    * of Laplace noise for ε-differentially-private counts): noise Δ with
    * P(Δ=k) = ((1−α)/(1+α))·α^|k| at α = 1/2 (ε = ln 2 per unit
    * sensitivity), truncated at |Δ| ≤ 10 with the residual tail mass
    * folded into ±10 (the truncated geometric mechanism — itself the
    * optimal mechanism for bounded output ranges).
    *
    * `u` must be uniform over [0, [[GeoMod]]): the inverse-CDF walk is a
    * static 21-branch when-chain over exact integer cell widths —
    * P(0) = 2²⁰/M = 1/3, P(±k) = 2^(20−k)/M for k = 1..9, P(±10) =
    * 2048/M each. Deterministic, codegen-friendly, engine-exact; a
    * production deployment swaps the hash coin for a real RNG without
    * touching the estimator algebra (the pipeline_rr_frequency
    * contract). */
  def geoNoise(u: Column): Column = {
    var acc = 1L << 20
    var c = when(u < acc, 0L)
    for (k <- 1 to 10) {
      val w = if (k == 10) 2048L else 1L << (20 - k)
      c = c.when(u < acc + w, k.toLong); acc += w
      c = c.when(u < acc + w, -k.toLong); acc += w
    }
    c.otherwise(0L) // unreachable for u in [0, GeoMod)
  }

  /** JVM scalar twin of [[geoNoise]] for keyed-state streaming twins —
    * the identical cumulative walk (parity spec-pinned at every branch
    * boundary in TsPrivacySpec). */
  def geoNoiseScalar(u: Long): Long = {
    var acc = 1L << 20
    if (u < acc) return 0L
    var k = 1
    while (k <= 10) {
      val w = if (k == 10) 2048L else 1L << (20 - k)
      if (u < acc + w) return k.toLong
      acc += w
      if (u < acc + w) return -k.toLong
      acc += w
      k += 1
    }
    0L // unreachable for u in [0, GeoMod)
  }

  /** Oracle twin of [[geoNoise]]: the identical CASE chain over `uExpr`. */
  def geoNoiseSql(uExpr: String): String = {
    val sb = new StringBuilder(s"CASE WHEN $uExpr < ${1L << 20} THEN 0")
    var acc = 1L << 20
    for (k <- 1 to 10) {
      val w = if (k == 10) 2048L else 1L << (20 - k)
      sb.append(s" WHEN $uExpr < ${acc + w} THEN $k"); acc += w
      sb.append(s" WHEN $uExpr < ${acc + w} THEN -$k"); acc += w
    }
    sb.append(" ELSE 0 END").toString
  }

  /** Water-filling token-budget allocation across domains — the
    * max-min-fair split used when a pretraining mix must fit a token
    * budget without letting one giant domain starve the rest: every
    * domain receives min(demand, level), with the common `level` chosen
    * so the budget is exactly consumed (up to floor remainder). The
    * classic iterative cap-and-redistribute converges in one pass when
    * demands are sorted: with d₁ ≤ … ≤ d_n and prefix sums S_k, domain
    * k saturates iff d_k·(n−k+1) ≤ B − S_{k−1} (its demand fits even if
    * every later domain got the same), k* = max such k, and
    * level = (B − S_{k*}) div (n − k*). All-integer; the floor
    * remainder (< n−k* tokens) stays unallocated, documented.
    *
    * Budget here = half the corpus tokens. Scale shape: one token-count
    * hash-agg to domain grain, then windows over the DOMAIN table —
    * rows bounded by the number of sources, never corpus size (the
    * vocab-window discipline); the k* boundary is a broadcast scalar. */
  def waterFill(docs: DataFrame): DataFrame = {
    // NULL text → NULL token count in both engines; coalesce to 0 so
    // demand is never NULL (Spark windows order NULLs first, DuckDB
    // last — a NULL demand would diverge the rank/prefix-sum solve).
    val dem = docs
      .select(col("source"),
        coalesce(size(TextOps.tokens(col("text"))).cast("long"), lit(0L))
          .as("tk"))
      .groupBy(col("source")).agg(sum(col("tk")).as("demand"))
    val tot = dem.agg(sum(col("demand")).as("t"),
      count(lit(1)).as("n"))
    // One task is correct: `dem` has one row per source (20 at every test scale).
    val w = Window.orderBy(col("demand"), col("source"))
    val ranked = dem.crossJoin(broadcast(tot))
      .withColumn("b", expr("t div 2"))
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("s_k", sum(col("demand")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cond",
        col("demand") * (col("n") - col("k") + 1) <=
          col("b") - (col("s_k") - col("demand")))
    val bound = ranked.agg(
      max(when(col("cond"), col("k")).otherwise(0L)).as("kstar"),
      max(when(col("cond"), col("s_k")).otherwise(0L)).as("s_star"))
    // greatest(n - kstar, 1): when every domain saturates (kstar = n,
    // e.g. total demand ≤ 1 token) the raw divisor is 0 — Spark div
    // yields NULL while DuckDB // errors; the guard makes both emit a
    // well-defined level (b - s_star ≥ 0 there by the cond at k = n).
    ranked.crossJoin(broadcast(bound))
      .select(col("source"), col("demand"),
        expr("(b - s_star) div greatest(n - kstar, 1)").as("level"),
        when(col("k") <= col("kstar"), col("demand"))
          .otherwise(expr("(b - s_star) div greatest(n - kstar, 1)"))
          .as("alloc"),
        (col("k") <= col("kstar")).as("saturated"))
  }

  /** Oracle twin of [[waterFill]]: identical sort, prefix sums,
    * saturation condition, and floor-divided level in DuckDB. */
  def waterFillSql(table: String): String =
    s"""WITH dem AS (SELECT source,
          CAST(sum(COALESCE(len(${TextOps.tokensSql("text")}), 0))
            AS BIGINT) AS demand
          FROM $table GROUP BY source),
        tot AS (SELECT CAST(sum(demand) AS BIGINT) AS t,
            CAST(count(*) AS BIGINT) AS n FROM dem),
        rk AS (SELECT source, demand, t, n, t // 2 AS b,
            CAST(row_number() OVER (ORDER BY demand, source) AS BIGINT)
              AS k,
            CAST(sum(demand) OVER (ORDER BY demand, source
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS s_k
          FROM dem CROSS JOIN tot),
        cd AS (SELECT *,
            demand * (n - k + 1) <= b - (s_k - demand) AS cond FROM rk),
        bd AS (SELECT max(CASE WHEN cond THEN k ELSE 0 END) AS kstar,
            max(CASE WHEN cond THEN s_k ELSE 0 END) AS s_star FROM cd)
        SELECT source, demand,
          (b - s_star) // greatest(n - kstar, 1) AS level,
          CASE WHEN k <= kstar THEN demand
               ELSE (b - s_star) // greatest(n - kstar, 1) END AS alloc,
          k <= kstar AS saturated
        FROM cd CROSS JOIN bd ORDER BY source"""

  /** Hashed-feature space for [[dsirWeights]]: 64 unigram buckets. */
  val DsirBuckets = 64

  /** Per-doc cap on likelihood-ratio factors (first 8 distinct features
    * in bucket order) — bounds the fold depth and, with the 4×
    * clipping, keeps the fixed-point product inside BIGINT by
    * construction (1e6 · 4⁸ · 4e6 < 2⁶³). */
  val DsirMaxFeats = 8

  /** Per-factor clip to [¼×, 4×] — truncated importance sampling
    * (Ionides 2008), the standard variance control; also the overflow
    * proof above. */
  val DsirClipLo = 250000L
  val DsirClipHi = 4000000L

  /** The smoothed likelihood-ratio-in-micro-units expression over
    * (ct, cr, tt, tr). The raw numerator (ct+1)·(tr+64)·1e6 grows as
    * ~ndocs² (tr ≈ 64·ndocs) and would wrap 2⁶³ silently near 4e5
    * docs, so the products route through DECIMAL(38,0) (the
    * stupidBackoff/modularity pattern); the clipped result is ≤ 4e6,
    * making the BIGINT cast back exact. Spec-pinned at an
    * over-2⁶³-numerator fixture against the HUGEINT oracle route. */
  val dsirRatioExpr: String =
    s"""least(greatest(
          CAST(CAST(ct + 1 AS DECIMAL(38,0)) * (tr + $DsirBuckets)
              * 1000000 div
            (CAST(cr + 1 AS DECIMAL(38,0)) * (tt + $DsirBuckets))
            AS BIGINT),
          ${DsirClipLo}L), ${DsirClipHi}L)"""

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023),
    * re-expressed in the engine's fixed-point discipline: hashed
    * unigram presence features ([[DsirBuckets]] buckets of the engine
    * hash), Laplace-smoothed per-bucket document frequencies for the
    * TARGET slice (`targetPred`) vs the RAW corpus, and a per-doc
    * importance weight that is the PRODUCT of per-feature likelihood
    * ratios — computed as a sequential micro-fixed-point fold
    * (w ← w·r // 1e6 over the doc's first [[DsirMaxFeats]] features in
    * bucket order) instead of a float log-sum, so both engines produce
    * the identical BIGINT. Each ratio is clipped to
    * [[[DsirClipLo]], [[DsirClipHi]]] (truncated importance sampling).
    * Selection is hash-systematic: keep when the doc's stable
    * [0,10000) bucket falls under the capped weight — deterministic,
    * partition-independent, auditable (the [[sampleBucket]] contract).
    *
    * Scale shape: one tokenize+explode pass into a distinct (doc, f)
    * hash-agg; the feature grid is [[DsirBuckets]] rows (broadcast);
    * the per-doc fold rides the existing (doc)-keyed aggregation. No
    * shuffle carries more than the distinct (doc, feature) pairs —
    * ≤ 64 per doc regardless of document length. */
  def dsirWeights(docs: DataFrame, targetPred: Column): DataFrame = {
    val feats = docs
      .select(col("doc_id"), targetPred.as("is_t"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("is_t"),
        pmod(TextOps.hash64(col("tok")), lit(DsirBuckets.toLong)).as("f"))
      .distinct()
    val grid = feats.groupBy(col("f")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val tot = grid.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val ratios = grid.crossJoin(broadcast(tot))
      .select(col("f"), expr(dsirRatioExpr).as("rm"))
    val perDoc = feats.select(col("doc_id"), col("f"))
      .join(broadcast(ratios), "f")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        expr(s"""aggregate(
            transform(slice(array_sort(collect_list(struct(f, rm))),
              1, $DsirMaxFeats), s -> s.rm),
            1000000L, (acc, x) -> acc * x div 1000000L)""").as("w_micro"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("w_micro"), lit(1000000L)).as("w_micro"))
      .withColumn("kept",
        sampleBucket(col("doc_id"), "dsir") * 100L <
          least(col("w_micro"), lit(1000000L)))
  }

  /** Oracle twin of [[dsirWeights]]: identical grid, clip, and fold —
    * DuckDB's `list(rm ORDER BY f)` + `list_reduce` seeded by
    * `list_prepend(1e6)` is the same left fold. */
  def dsirWeightsSql(table: String, targetPredSql: String): String =
    s"""WITH fx AS (SELECT DISTINCT doc_id, $targetPredSql AS is_t,
          ${TextOps.hash64Sql("tok")} % $DsirBuckets AS f
          FROM (SELECT t.*, unnest(${TextOps.tokensSql("text")})
                  AS tok FROM $table t)),
        grid AS (SELECT f,
            CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
            CAST(count(*) AS BIGINT) AS cr
          FROM fx GROUP BY f),
        tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
            CAST(sum(cr) AS BIGINT) AS tr FROM grid),
        ratios AS (SELECT f,
            CAST(least(greatest(
              CAST(ct + 1 AS HUGEINT) * (tr + $DsirBuckets) * 1000000 //
                (CAST(cr + 1 AS HUGEINT) * (tt + $DsirBuckets)),
              $DsirClipLo), $DsirClipHi) AS BIGINT) AS rm
          FROM grid CROSS JOIN tot),
        pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
            CAST(list_reduce(
              list_prepend(CAST(1000000 AS BIGINT),
                list_slice(list(rm ORDER BY f), 1, $DsirMaxFeats)),
              (acc, x) -> (acc * x) // 1000000) AS BIGINT) AS w_micro
          FROM (SELECT doc_id, f FROM fx) j JOIN ratios USING (f)
          GROUP BY doc_id)
        SELECT d.doc_id,
          COALESCE(pd.n_feats, 0) AS n_feats,
          COALESCE(pd.w_micro, 1000000) AS w_micro,
          ${sampleBucketSql("d.doc_id", "dsir")} * 100 <
            least(COALESCE(pd.w_micro, 1000000), 1000000) AS kept
        FROM $table d LEFT JOIN pd ON d.doc_id = pd.doc_id
        ORDER BY d.doc_id"""
}
