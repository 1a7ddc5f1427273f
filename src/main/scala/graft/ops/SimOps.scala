package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exactness baseline, and a
  * random-hyperplane LSH-bucketed variant as the 100 TB scale path.
  *
  * Scale design:
  *  - Brute force broadcasts the (small) query set against the full vector
  *    table — a map-side nested loop with no shuffle of the big side, then
  *    a per-query top-k (one narrow shuffle of k rows per query per
  *    partition via TakeOrdered-style aggregation).
  *  - LSH buckets both sides by a signature of sign(v · r_i) bits; only
  *    same-bucket pairs are scored. Bucket count 2^planes bounds the
  *    candidate set; recall is data-dependent and the whole point of the
  *    oracle twin is that approximate ≠ nondeterministic.
  *
  * Determinism: all scores are computed in double precision with a fixed
  * left-to-right accumulation (`aggregate(zip_with(...))`), ranked on the
  * 6-dp rounded score with vector id as tie-break, and emitted rounded to
  * 4 dp — identical in DuckDB (double-cast lists), so the oracle matches
  * exactly.
  */
object SimOps {

  /** Fixed pseudo-random hyperplanes: `planes` × `dim` entries in [-1, 1],
    * derived from the same LCG as the minhash constants. */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 7L): Seq[Seq[Double]] = {
    val it = Iterator.iterate(seed)(x => (1103515245L * x + 12345L) % DedupOps.P).drop(1)
    Seq.fill(planes)(Seq.fill(dim)(it.next().toDouble / DedupOps.P * 2 - 1))
  }

  /** cosine(a, b) in double precision, left-to-right accumulation, via the
    * codegen'd [[graft.catalyst.ArrayDotProduct]] (`array_dot`) — the HOF
    * (`aggregate(zip_with(...))`) version computes identical values but
    * evaluates interpreted, 100× slower on all-pairs workloads. The
    * session needs [[graft.catalyst.GraftFunctions]] installed, which
    * [[graft.QueryDef.run]] and [[graft.GraftSession]] do.
    * Prefer [[withNorm]] + dividing by precomputed norms when one side is
    * scored against many (avoids recomputing norms per pair). */
  def cosine(a: String, b: String): Column =
    expr(s"array_dot($a, $b)") /
      (sqrt(expr(s"array_dot($a, $a)")) * sqrt(expr(s"array_dot($b, $b)")))

  /** Adds `normCol` = sqrt(v·v), computed once per row. */
  def withNorm(df: DataFrame, vecCol: String, normCol: String): DataFrame =
    df.withColumn(normCol, sqrt(expr(s"array_dot($vecCol, $vecCol)")))

  /** Hard row ceiling for deliberately-quadratic exactness audit arms
    * (brute all-pairs cosine and friends). 10⁵ rows ≈ 5·10⁹ candidate
    * pairs — the most a single audit run should ever be asked to chew;
    * past it the bucketed scale path (LSH / IVF / banded) is the only
    * sane plan. Same discipline as [[graft.ops.DedupOps.DriverCcMaxEdges]]:
    * an explicit, spec-proven clamp instead of a silent scale cliff. */
  val BruteAuditMaxRows: Long = 100000L

  /** Refuses (IllegalArgumentException) to hand `df` to a quadratic audit
    * arm when it exceeds `maxRows`. The check is a bounded probe —
    * `limit(maxRows+1).count()` — so the guard itself never scans more
    * than maxRows+1 rows regardless of input size. */
  def guardBruteAudit(df: DataFrame, what: String,
                      maxRows: Long = BruteAuditMaxRows): DataFrame = {
    val lim = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
    val n = df.limit(lim).count()
    require(n <= maxRows,
      s"$what is a deliberately-quadratic exactness audit arm; refusing an " +
        s"input with more than $maxRows rows (saw at least $n). Point the " +
        "bucketed scale path (LSH/IVF/banded) at this corpus instead, or " +
        "pass an explicit higher bound if you really mean to pay O(n^2).")
    df
  }

  /** DuckDB twin: computed from double-cast lists so both sides run in
    * double precision; 4-dp output rounding absorbs the ~1e-15 tail. */
  def cosineSql(a: String, b: String): String =
    s"list_cosine_similarity(($a)::DOUBLE[], ($b)::DOUBLE[])"

  /** 4-dp output quantization, bit-identical across engines. `round(x,4)`
    * is NOT: Spark rounds the shortest-decimal string (BigDecimal
    * HALF_UP — 0.26685 → 0.2669) while DuckDB rounds the binary double
    * (0.26684999… → 0.2668), so a 6-dp score landing on a 4-dp half
    * boundary renders differently (first seen on `sim_knn_graph`'s 2500
    * rows: query 23, neighbor 141). floor(x·10⁴ + 0.5)/10⁴ is pure IEEE
    * arithmetic — same product, same floor, same division in both
    * engines. NaN/±Inf pass through unchanged on BOTH sides (Spark's
    * long-typed floor would silently turn NaN into 0 and ±Inf into
    * ±Long.Max; DuckDB's double floor keeps them — the guard restores
    * round(x,4)'s NaN-preserving behavior and keeps engines aligned). */
  def quant4(c: Column): Column =
    when(isnan(c) || abs(c) === lit(Double.PositiveInfinity), c)
      .otherwise(floor(c * lit(1e4) + lit(0.5)) / lit(1e4))
  def quant4Sql(e: String): String =
    s"""CASE WHEN isnan($e) OR isinf($e) THEN ($e)
        ELSE floor(($e) * 10000 + 0.5) / CAST(10000 AS DOUBLE) END"""

  /** Brute-force exact top-k: for each query vector (filtered by
    * `queryPred`), the k nearest non-self vectors by cosine.
    */
  def topKBruteForce(vectors: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val queries = withNorm(vectors.filter(queryPred), "embedding", "qn")
      .select(col("vec_id").as("query_id"), col("embedding").as("q"), col("qn"))
    val scored = withNorm(vectors.select(col("vec_id"), col("embedding")),
        "embedding", "vn")
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score",
        round(expr("array_dot(q, embedding)") / (col("qn") * col("vn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        quant4(col("score")).as("cosine"))
  }

  /** Materialized exact-top-k reuse — the [[knnEdgesCached]] pattern
    * for the brute-force reference (round-11 verdict #4): the recall
    * audit's ground-truth arm and the `sim_topk_brute` gate compute
    * the SAME O(q·n) exact scan per corpus snapshot, so it is a
    * `knn`-kind [[graft.Artifacts]] entry keyed by (corpus files,
    * predTag, k). `predTag` must name `queryPred`'s semantics uniquely
    * (it IS the cache key — two different predicates must never share
    * a tag); an empty tag recomputes, as does an unset dir or an
    * in-memory input (the Verify gate's path). */
  def bruteTopKCached(vectors: DataFrame, queryPred: Column, k: Int,
                      predTag: String): DataFrame =
    if (predTag.isEmpty) topKBruteForce(vectors, queryPred, k)
    // |queries|·k slim rows — one file is the right write grain
    else graft.Artifacts.cached(vectors.sparkSession, "knn", "brute",
        Seq(predTag, k), vectors.inputFiles, files = Some(1)) {
      topKBruteForce(vectors, queryPred, k)
    }

  def topKBruteForceSql(table: String, queryPredSql: String, k: Int): String =
    s"""WITH queries AS (SELECT vec_id AS query_id, embedding AS q
                         FROM $table WHERE $queryPredSql),
        scored AS (
          SELECT query_id, vec_id,
                 round(${cosineSql("q", "embedding")}, 6) AS score
          FROM queries CROSS JOIN $table WHERE vec_id <> query_id)
        SELECT query_id, rank, neighbor_id, cosine FROM (
          SELECT query_id, vec_id AS neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, vec_id) AS INT) AS rank,
                 ${quant4Sql("score")} AS cosine
          FROM scored)
        WHERE rank <= $k ORDER BY query_id, rank"""

  /** Maximum-inner-product search (MIPS) with the norm-augmentation
    * reduction to cosine (Bachrach et al., "Speeding Up the Xbox
    * Recommender System Using a Euclidean Transformation for
    * Inner-Product Spaces", RecSys 2014): append sqrt(M² − ‖x‖²) to every
    * database vector (M = max corpus norm, making every augmented vector
    * the SAME length M) and 0 to every query; then
    * cos(q̂, x̂) = q·x / (‖q‖·M) is a fixed positive rescaling of the
    * inner product per query, so cosine order ≡ inner-product order and
    * MIPS inherits every cosine-ANN path in this file (LSH tables, IVF
    * cells, PQ codes) UNCHANGED — that is the 100 TB story: no new index
    * structure, one extra float per vector.
    *
    * This operator returns the exact brute top-k by inner product (the
    * baseline the ANN paths would be recall-audited against, same
    * contract as [[topKBruteForce]]) plus a per-query `reduction_ok`
    * audit: the top-k SET chosen by augmented-cosine order (double
    * precision, same vec_id tie-break) must equal the inner-product
    * top-k set. The augmentation runs in double space, so its only
    * distortion is the ~1-ulp sqrt round-trip in ‖x̂‖ — an order flip
    * would need two inner products within ~1e-13 relative, i.e. the
    * audit genuinely fails if the transform is wrong and never fails on
    * float noise. The oracle pins the boolean TRUE and ranks by raw
    * inner product.
    *
    * Scale shape: identical to [[topKBruteForce]] — queries broadcast,
    * one narrow scored map, per-query top-k window; M is a single-scalar
    * driver collect (codebook-class, not data-scale). The audit doubles
    * the window work at gate scale only; production publishes the
    * ranking alone.
    */
  def topKMips(vectors: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val base = vectors.select(col("vec_id"), col("embedding"))
      .withColumn("__n2", expr("array_dot(embedding, embedding)"))
    val m2 = base.agg(max(col("__n2"))).head.getDouble(0)
    val aug = base.withColumn("__aug", expr(
      s"""concat(transform(embedding, x -> CAST(x AS DOUBLE)),
          array(sqrt(greatest($m2 - __n2, 0d))))"""))
    val queries = aug.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        expr("concat(transform(embedding, x -> CAST(x AS DOUBLE)), array(0d))")
          .as("qa"))
    val scored = aug
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("__ip", expr("array_dot(q, embedding)"))
      .withColumn("__cos_aug",
        expr("array_dot(qa, __aug)") /
          (sqrt(expr("array_dot(qa, qa)")) * sqrt(expr("array_dot(__aug, __aug)"))))
    val wIp = Window.partitionBy(col("query_id"))
      .orderBy(col("__ip").desc, col("vec_id"))
    val wAug = Window.partitionBy(col("query_id"))
      .orderBy(col("__cos_aug").desc, col("vec_id"))
    val ranked = scored
      .withColumn("__ri", row_number().over(wIp))
      .withColumn("__ra", row_number().over(wAug))
    val audit = ranked.filter(col("__ri") <= k || col("__ra") <= k)
      .groupBy(col("query_id"))
      .agg((sort_array(collect_set(when(col("__ri") <= k, col("vec_id")))) ===
        sort_array(collect_set(when(col("__ra") <= k, col("vec_id")))))
        .as("reduction_ok"))
    // Output ranking re-ranks on the 6-dp ROUNDED inner product (the
    // cross-engine-stable key, as topKBruteForce does) — the raw-double
    // __ri order is audit-internal only.
    val wOut = Window.partitionBy(col("query_id"))
      .orderBy(round(col("__ip"), 6).desc, col("vec_id"))
    ranked
      .withColumn("rank", row_number().over(wOut))
      .filter(col("rank") <= k)
      .join(broadcast(audit), Seq("query_id"))
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        quant4(round(col("__ip"), 6)).as("ip"), col("reduction_ok"))
  }

  /** Oracle twin of [[topKMips]] — raw inner-product ranking; the
    * reduction audit is pinned TRUE. */
  def topKMipsSql(table: String, queryPredSql: String, k: Int): String =
    s"""WITH queries AS (SELECT vec_id AS query_id, embedding AS q
                         FROM $table WHERE $queryPredSql),
        scored AS (
          SELECT query_id, vec_id,
                 round(list_inner_product((q)::DOUBLE[], (embedding)::DOUBLE[]),
                       6) AS score
          FROM queries CROSS JOIN $table WHERE vec_id <> query_id)
        SELECT query_id, rank, neighbor_id, ip, TRUE AS reduction_ok FROM (
          SELECT query_id, vec_id AS neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, vec_id) AS INT) AS rank,
                 ${quant4Sql("score")} AS ip
          FROM scored)
        WHERE rank <= $k ORDER BY query_id, rank"""

  /** Signature bits: sign of v · r_i per hyperplane, packed into a bucket
    * id. Vectors in the same bucket are "probably close".
    * Built with Column/typedLit, NOT an expr(...) string: inlining the
    * hyperplane constants as SQL text made multi-table bucket expressions
    * ~400 KB of SQL re-parsed on every query construction (measured ~3 s
    * of driver time at 8 tables × 4 planes × 64 dims); literal ArrayData
    * goes straight into the plan instead. */
  def lshBucket(vecCol: String, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (r, i) =>
      when(call_function("array_dot", col(vecCol), typedLit(r)) >= 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  def lshBucketSql(vecCol: String, planes: Seq[Seq[Double]]): String = {
    val bits = planes.zipWithIndex.map { case (r, i) =>
      val arr = r.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(($vecCol)::DOUBLE[], $arr) >= 0 THEN ${1L << i} ELSE 0 END)"
    }
    bits.mkString("(", " + ", ")")
  }

  /** Multi-table LSH approximate top-k — the production recall shape.
    * A single sign-LSH table caps recall at (bucket occupancy)/k: with
    * 2^planes buckets a query sees only ~n/2^planes candidates and cannot
    * even fill k when buckets are small. Multi-table fixes this the
    * standard way: T independent hyperplane tables, a candidate is any
    * vector sharing the query's bucket in ANY table (union, dedup), then
    * candidates-only exact scoring. (tables, planes) is the recall/cost
    * knob: more tables raise recall, more planes shrink buckets.
    *
    * Scale shape: bucket keys are scalar sign-bit packs (codegen'd
    * array_dot), candidates come from a (tbl, bucket) equi-join — one
    * shuffle of slim (vec_id, tbl, bucket) rows, never an O(n²) loop, and
    * no embedding array enters the candidate shuffle; embeddings re-join
    * by id for the exact verify. On this synthetic near-uniform corpus
    * the candidate fraction at recall≈0.7 is ~40% — an inherent property
    * of random vectors (no cluster structure for LSH to exploit), not of
    * the plan; clustered real corpora hit the same recall far cheaper.
    * Recall is regression-gated by `sim_recall_audit`.
    */
  def topKLshMulti(vectors: DataFrame, queryPred: Column, k: Int,
                   tables: Seq[Seq[Seq[Double]]]): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    lshScored(vectors, queryPred, tables)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        quant4(col("score")).as("cosine"))
  }

  /** Shared multi-table-LSH candidate scoring: (query_id, vec_id, score)
    * for every deduped (query, candidate) bucket collision — the common
    * core of [[topKLshMulti]] and [[hardNegatives]]. Expression order is
    * bit-stable; both consumers inherit the identical scores. */
  private def lshScored(vectors: DataFrame, queryPred: Column,
                        tables: Seq[Seq[Seq[Double]]]): DataFrame = {
    val v = withNorm(vectors.select(col("vec_id"), col("embedding")),
      "embedding", "vn")
    val keyed = v.withColumn("bks",
      array(tables.map(p => lshBucket("embedding", p)): _*))
    val buckets = keyed.select(col("vec_id"),
      posexplode(col("bks")).as(Seq("tbl", "bucket")))
    val qb = keyed.filter(queryPred)
      .select(col("vec_id").as("query_id"),
        posexplode(col("bks")).as(Seq("tbl", "bucket")))
    val cand = buckets.join(qb, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    cand
      .join(v.select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("vn").as("qn")), "query_id")
      .join(v.select(col("vec_id"), col("embedding").as("e"), col("vn")), "vec_id")
      .withColumn("score",
        round(expr("array_dot(q, e)") / (col("qn") * col("vn")), 6))
  }

  /** Hard-negative mining for contrastive training: per anchor (query),
    * the top-n candidates whose cosine falls in [lo, hi) — above the
    * unrelated floor (a hard negative must be plausibly confusable) and
    * below the near-duplicate cutoff (a near-dup is a false negative
    * that would poison the loss). The band test runs on the engine-exact
    * 4-dp quantized cosine so a boundary score cannot flip membership
    * across engines; ranking reuses the 6-dp score ordering of
    * [[topKLshMulti]].
    *
    * Scale shape: identical to the k-NN graph build (the shared
    * [[lshScored]] bucket equi-join — candidates from bucket occupancy,
    * never n²); the band filter drops rows before the per-anchor window
    * ranks them. */
  def hardNegatives(vectors: DataFrame, queryPred: Column,
                    lo: Double, hi: Double, n: Int,
                    tables: Seq[Seq[Seq[Double]]]): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    // The band test runs on floor(score·10⁴ + 0.5) — the INTEGER inside
    // quant4 — instead of the quant4'd double. Equivalent row set for
    // 4-dp-grid bounds (checked below): n/10⁴ is a correctly-rounded
    // strictly-increasing map, so quant4(x) >= lo ⟺ floor(x·10⁴+0.5) >=
    // lo·10⁴, and the non-finite exclusions match (NaN/±Inf floor to
    // 0/±Long.Max under Spark's double→long floor, all outside [lo·10⁴,
    // hi·10⁴)). Why: Catalyst pushes the filter into the LSH verify
    // join's condition, where each quant4 CASE re-evaluates the
    // round(array_dot)/norm score ~3× (no subexpression elimination in
    // join-condition codegen) — 6 dot products per candidate pair. The
    // integer band pays 2. The published `cosine` column stays quant4.
    val loQ = math.floor(lo * 1e4 + 0.5).toLong
    val hiQ = math.floor(hi * 1e4 + 0.5).toLong
    // loQ > 0 also pins the NaN exclusion: NaN floors to 0L, which must
    // fall below the band exactly as quant4-NaN fell outside [lo, hi).
    // Bounds off the grid, or lo <= 0, test the quant4 band itself.
    val q = floor(col("score") * lit(1e4) + lit(0.5))
    val band =
      if (lo == loQ / 1e4 && hi == hiQ / 1e4 && loQ > 0)
        q >= lit(loQ) && q < lit(hiQ)
      else quant4(col("score")) >= lit(lo) && quant4(col("score")) < lit(hi)
    lshScored(vectors, queryPred, tables)
      .filter(band)
      .withColumn("cosine", quant4(col("score")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
  }

  /** `tables` independent hyperplane sets (LSH tables) for near-dup
    * pairing: more tables raise recall (a close pair only needs to
    * collide in ONE table), more planes per table shrink buckets
    * (2^planes buckets bound candidate fan-out). */
  def lshTables(tables: Int, planes: Int, dim: Int): Seq[Seq[Seq[Double]]] =
    (0 until tables).map(t => hyperplanes(planes, dim, seed = 101L + t))

  /** Embedding-cosine near-dup pairs via multi-table hyperplane LSH —
    * the 100 TB replacement for the all-pairs self-join: candidates are
    * pairs sharing a (table, bucket) key in ANY table (a bucket equi-join,
    * shuffled by bucket id — never an O(n²) nested loop), then verified
    * with the exact cosine against the threshold. Recall < 1 is inherent
    * to LSH and tuned by (tables, planes); the oracle twin replicates the
    * identical pipeline so results still match exactly.
    */
  def cosineLshPairs(vectors: DataFrame, threshold: Double,
                     tables: Seq[Seq[Seq[Double]]]): DataFrame = {
    val v = withNorm(vectors.select(col("vec_id"), col("embedding")),
      "embedding", "n")
    // One row per (vector, table): bucket keys are scalar codegen'd
    // sign-bit packs; no embedding array ever enters the candidate shuffle.
    val keyed = v.withColumn("bks",
      array(tables.map(p => lshBucket("embedding", p)): _*))
    val buckets = keyed.select(col("vec_id"),
      posexplode(col("bks")).as(Seq("tbl", "bucket")))
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    // Exact verification on candidates only: embeddings re-join by id.
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("n").as("na")), "vec_a")
      .join(v.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("n").as("nb")), "vec_b")
      .withColumn("score",
        round(expr("array_dot(ea, eb)") / (col("na") * col("nb")), 6))
      .filter(col("score") >= threshold)
      .select(col("vec_a"), col("vec_b"), quant4(col("score")).as("cosine"))
  }

  def cosineLshPairsSql(table: String, threshold: Double,
                        tables: Seq[Seq[Seq[Double]]]): String = {
    val bks = tables.map(p => lshBucketSql("embedding", p)).mkString("[", ", ", "]")
    s"""WITH v AS (SELECT vec_id, embedding FROM $table),
        keyed AS (SELECT vec_id, $bks AS bks FROM v),
        buckets AS (SELECT vec_id, generate_subscripts(bks, 1) AS tbl,
                           unnest(bks) AS bucket FROM keyed),
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM buckets a JOIN buckets b
            ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        verified AS (
          SELECT vec_a, vec_b,
                 round(${cosineSql("va.embedding", "vb.embedding")}, 6) AS score
          FROM cand JOIN v va ON cand.vec_a = va.vec_id
                    JOIN v vb ON cand.vec_b = vb.vec_id)
        SELECT vec_a, vec_b, ${quant4Sql("score")} AS cosine FROM verified
        WHERE score >= $threshold ORDER BY vec_a, vec_b"""
  }

  /** IVF (inverted-file) approximate top-k — the other classic ANN scale
    * path beside LSH: a small coarse quantizer of `c` centroids partitions
    * the corpus into inverted lists; a query scores only the lists of its
    * `nprobe` nearest centroids.
    *
    * Scale design (FAISS-style IVF re-expressed declaratively):
    *  - Centroids: with `trainRounds > 0` (the default surface), a
    *    k-means-TRAINED quantizer ([[kmeansCentroidsMicro]] on
    *    normalized vectors — the FAISS normalize-then-L2 recipe;
    *    measured recall@10 0.50 → 0.56 at sf0.01); with 0, a
    *    deterministic hash-ordered sample (random sampling is the
    *    standard initializer). `orderBy(h).limit(c)` plans as
    *    TakeOrderedAndProject — a distributed partial top-c, never a
    *    global sort.
    *  - Assignment is `crossJoin(broadcast(centroids))` (n×c narrow rows)
    *    reduced by a map-side-combinable `max_by` — ONE shuffle of slim
    *    (vec_id, cell) rows; no embedding array is ever shuffled.
    *  - Probing broadcasts the same centroid table against the (small)
    *    query side; candidates come from an equi-join on cell id, and only
    *    candidates are exactly scored (embeddings re-joined by id).
    *
    * Determinism: centroid choice is the engine-wide md5-derived
    * [[graft.ops.TextOps.hash64]] order; every ranking uses the 6-dp
    * rounded score with id tie-break, so the DuckDB twin matches exactly.
    * Recall < 1 by construction (a neighbor in an unprobed cell is missed).
    */
  /** Hash-sampled coarse cells (the untrained IVF baseline): c corpus
    * vectors as centroids, cosine assignment via broadcast cross-join +
    * partial-aggregable max_by argmax. Returns (assign = (vec_id, cell),
    * probes = (query_id, q, qn, cell), cellCents = (cell, cc) with cc
    * the L2-NORMALIZED double centroid — the residual-PQ anchor). */
  private def sampledCells(v: DataFrame, queryPred: Column,
                           c: Int, nprobe: Int,
                           salt: String): (DataFrame, DataFrame, DataFrame) = {
    // One task is correct: centW ranks the `limit(c)` centroid sample.
    val centW = Window.orderBy(col("h"), col("vec_id"))
    val cent = v
      .withColumn("h", graft.ops.TextOps.hash64(
        concat(lit(salt), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(c) // TakeOrderedAndProject
      .withColumn("cell", row_number().over(centW)) // c rows — tiny window
      .select(col("cell"), col("embedding").as("cvec"), col("vn").as("cn"))
    val scoredCells = v.crossJoin(broadcast(cent))
      .withColumn("score",
        round(expr("array_dot(embedding, cvec)") / (col("vn") * col("cn")), 6))
    // argmax(score, tie: lowest cell) via max_by on a lexicographic struct —
    // partial-aggregable, unlike a per-vector window sort over n×c rows.
    val assign = scoredCells.groupBy(col("vec_id"))
      .agg(max_by(col("cell"), struct(col("score"), -col("cell"))).as("cell"))
    val probes = v.filter(queryPred).crossJoin(broadcast(cent))
      .withColumn("score",
        round(expr("array_dot(embedding, cvec)") / (col("vn") * col("cn")), 6))
      .withColumn("pr", row_number().over(Window.partitionBy(col("vec_id"))
        .orderBy(col("score").desc, col("cell"))))
      .filter(col("pr") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("vn").as("qn"), col("cell"))
    val cellCents = cent.select(col("cell"),
      when(col("cn") === 0d, transform(col("cvec"), x => x.cast("double")))
        .otherwise(transform(col("cvec"), x => x.cast("double") / col("cn")))
        .as("cc"))
    (assign, probes, cellCents)
  }

  /** k-means-TRAINED coarse cells (the quality upgrade the hash sample
    * stands in for): centroids from [[kmeansCentroidsMicro]], then
    * assignment/probing by exact integer L2 in micro-units — the same
    * metric the trainer optimized, bit-identical across engines (no
    * float rounding can flip a cell choice). Assignment is a pure
    * NARROW map (the centroid literal rides inside the expression; no
    * broadcast join, no shuffle of embeddings); probing explodes only
    * the c-length distance array of the few query rows. Same return
    * contract as [[sampledCells]]. */
  private def trainedCells(v: DataFrame, queryPred: Column,
                           c: Int, nprobe: Int, trainRounds: Int,
                           dim: Int, saltKm: String)
      : (DataFrame, DataFrame, DataFrame) = {
    require(dim > 0, "trained IVF needs the embedding dim")
    // Corpus-keyed driver-side memo (the jaccardPairsCached pattern, k·dim
    // longs instead of parquet): one corpus snapshot trains the quantizer
    // once per session, however many consumers probe it — sim_topk_ivf,
    // sim_topk_ivfpq, and both recall-audit legs share the same training
    // for the same knobs. Identity = input file set + knobs; in-memory
    // frames have no files and always retrain (test isolation).
    val corpus = v.inputFiles.sorted.mkString("\n")
    def train() = kmeansCentroidsMicro(v, c, trainRounds, dim, saltKm,
      normalize = true, trainCap = IvfTrainCap * c)
    val cents =
      if (corpus.isEmpty) train()
      else centroidMemo.getOrElseUpdate(
        s"$corpus|$c|$trainRounds|$dim|$saltKm", train())
    // Assignment space = the training space: L2 over NORMALIZED micro
    // vectors, so exact-integer cell choice tracks cosine neighborhoods.
    val micro = v.withColumn("vm", microOf(normalized(col("vn"))))
    val assign = assignedToCells(micro, cents)
      .select(col("vec_id"), col("cl").as("cell"))
    val probes = assignedToCells(micro.filter(queryPred), cents)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("vn").as("qn"), posexplode(col("dists")).as(Seq("p", "dd")))
      .withColumn("cell", (col("p") + 1).cast("int"))
      .withColumn("pr", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("dd"), col("cell"))))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("q"), col("qn"), col("cell"))
    // The trained centroids back in normalized-double space (micro/1e6
    // — the same exact-integer-to-double division both engines run):
    // the anchor the residual-PQ codebook subtracts per assigned cell.
    val cellCents = v.sparkSession.createDataFrame(
        cents.zipWithIndex.map { case (cv, i) =>
          (i + 1, cv.map(_.toDouble / 1e6)) })
      .toDF("cell", "cc")
    (assign, probes, cellCents)
  }

  def topKIvf(vectors: DataFrame, queryPred: Column, k: Int,
              c: Int, nprobe: Int, salt: String = "ivf",
              trainRounds: Int = 0, dim: Int = 0,
              saltKm: String = "ivfkm",
              cellsPre: Option[(DataFrame, DataFrame, DataFrame)] = None)
  : DataFrame = {
    val v = withNorm(vectors.select(col("vec_id"), col("embedding")),
      "embedding", "vn")
    // cellsPre: a caller (recallAudit) sharing ONE assignment/probe
    // build across the ivf and ivfpq arms — identical values, the
    // pipeline just executes once instead of per arm.
    val (assign, probes, _) = cellsPre.getOrElse(
      if (trainRounds > 0) trainedCells(v, queryPred, c, nprobe,
        trainRounds, dim, saltKm)
      else sampledCells(v, queryPred, c, nprobe, salt))
    val cand = probes.join(assign, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q"), col("qn"), col("vec_id"))
    val scored = cand
      .join(v.select(col("vec_id"), col("embedding").as("e"), col("vn")), "vec_id")
      .withColumn("score",
        round(expr("array_dot(q, e)") / (col("qn") * col("vn")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        quant4(col("score")).as("cosine"))
  }

  def topKIvfSql(table: String, queryPredSql: String, k: Int,
                 c: Int, nprobe: Int, salt: String = "ivf",
                 trainRounds: Int = 0, dim: Int = 0,
                 saltKm: String = "ivfkm"): String = {
    val h = graft.ops.TextOps.hash64Sql(s"'$salt' || CAST(vec_id AS VARCHAR)")
    val cellCtes =
      if (trainRounds > 0)
        trainedCellCtes(table, queryPredSql, c, nprobe, trainRounds, dim,
          saltKm)
      else
        s"""cent AS (
          SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INT) AS cell,
                 embedding AS cvec
          FROM (SELECT vec_id, embedding, $h AS h FROM v
                ORDER BY h, vec_id LIMIT $c)),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT v.vec_id, cent.cell,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     round(${cosineSql("v.embedding", "cvec")}, 6) DESC,
                     cent.cell) AS rn
            FROM v CROSS JOIN cent) WHERE rn = 1),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT v.vec_id AS query_id, cent.cell,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     round(${cosineSql("v.embedding", "cvec")}, 6) DESC,
                     cent.cell) AS pr
            FROM v CROSS JOIN cent WHERE $queryPredSql) WHERE pr <= $nprobe)"""
    s"""WITH v AS (SELECT vec_id, embedding FROM $table),
        $cellCtes,
        cand AS (
          SELECT p.query_id, a.vec_id
          FROM probes p JOIN assign a USING (cell)
          WHERE a.vec_id <> p.query_id),
        scored AS (
          SELECT query_id, cand.vec_id,
                 round(${cosineSql("q.embedding", "n.embedding")}, 6) AS score
          FROM cand JOIN v q ON q.vec_id = cand.query_id
                    JOIN v n ON n.vec_id = cand.vec_id)
        SELECT query_id, rank, neighbor_id, cosine FROM (
          SELECT query_id, vec_id AS neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, vec_id) AS INT) AS rank,
                 ${quant4Sql("score")} AS cosine
          FROM scored)
        WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** Int8 scalar quantization of an embedding column — the storage/ANN
    * compression step (4× smaller vectors, SIMD-friendly int dot products)
    * every large-scale vector pipeline runs before indexing.
    *
    * Per vector: `scale = max(|v_i|)/127`, `q_i = floor(v_i/scale + 0.5)`.
    * floor(x + 0.5) is used instead of round(): both engines' round()
    * differ on tie-breaking mode, floor is IEEE-exact in both. All math in
    * double (float inputs upcast first); zero vectors quantize to zeros via
    * a scale floor of 1. A narrow map — no shuffle, scale-free.
    */
  def quantizeInt8(vectors: DataFrame): DataFrame =
    vectors
      .withColumn("s",
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))") / 127d)
      .withColumn("s", when(col("s") === 0d, 1d).otherwise(col("s")))
      .withColumn("q",
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / s + 0.5d) AS INT))"))
      .select(
        col("vec_id"),
        round(col("s"), 6).cast("decimal(18,6)").cast("double").as("scale"),
        expr("CAST(aggregate(q, 0L, (acc, x) -> acc + x) AS BIGINT)").as("q_sum"),
        expr("array_min(q)").as("q_min"),
        expr("array_max(q)").as("q_max"))

  def quantizeInt8Sql(table: String): String =
    s"""WITH scaled AS (
          SELECT vec_id, embedding::DOUBLE[] AS e,
                 CASE WHEN m = 0 THEN 1 ELSE m END AS s
          FROM (SELECT vec_id, embedding,
                       list_max(list_transform(embedding::DOUBLE[],
                                               x -> abs(x))) / 127 AS m
                FROM $table)),
        quant AS (
          SELECT vec_id, s,
                 list_transform(e, x -> CAST(floor(x / s + 0.5) AS INT)) AS q
          FROM scaled)
        SELECT vec_id,
               CAST(CAST(round(s, 6) AS DECIMAL(18,6)) AS DOUBLE) AS scale,
               CAST(list_sum(q) AS BIGINT) AS q_sum,
               CAST(list_min(q) AS INT) AS q_min,
               CAST(list_max(q) AS INT) AS q_max
        FROM quant ORDER BY vec_id"""

  /** Per-dimension corpus statistics (count / mean / population
    * variance) over an embedding column — the whitening / feature-
    * normalization prep step every embedding pipeline runs before
    * training or indexing.
    *
    * Cross-engine exactness: floating-point SUMS are partition-order-
    * dependent, so both engines first quantize elements to integer
    * micro-units (floor(x·10⁶ + 0.5) — the repo's engine-exact
    * quantizer) and aggregate Σv and Σv² as DECIMAL(38,0) — exact,
    * order-free, overflow-safe far beyond 10⁹ rows (the vm² square is
    * taken in DECIMAL/HUGEINT space too, so no 64-bit wrap at any
    * plausible element magnitude). mean = Σv/n and
    * popvar = (n·Σv² − (Σv)²)/n² are then single correctly-rounded
    * double operations on exact integers, quantized to 4 dp via
    * [[quant4]]. Scale shape: posexplode to slim (dim, v) rows, one
    * hash-agg shuffle with map-side partials — 64·partitions rows move,
    * regardless of corpus size.
    */
  def dimStats(vectors: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    vectors
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"),
        floor(col("v").cast("double") * lit(1e6) + lit(0.5)).as("vm"))
      .groupBy(col("dim"))
      // count(vm): null elements are excluded from n on BOTH engines
      // (the oracle's range-join manufactures a row per dimension even
      // for short/null arrays — counting vm, not *, keeps them aligned).
      // The square multiplies DECIMAL, not LONG: a 64-bit vm² would
      // silently wrap on Spark for |v| > ~3e3 while DuckDB errors.
      .agg(count(col("vm")).as("n"),
        sum(col("vm").cast(dec)).as("s"),
        sum(col("vm").cast(dec) * col("vm").cast(dec)).as("s2"))
      .select(col("dim"), col("n"),
        quant4(col("s").cast("double") /
          (col("n") * lit(1000000L)).cast("double")).as("mean"),
        quant4((col("n").cast(dec) * col("s2") - col("s") * col("s"))
            .cast("double") /
          (col("n") * col("n")).cast("double") / lit(1e12))
          .as("popvar"))
  }

  /** DuckDB twin: the same integer-micro-unit pipeline with HUGEINT
    * (128-bit exact) sums in place of Spark's DECIMAL(38,0) — both hold
    * the identical integers, so the single double conversion agrees. */
  def dimStatsSql(table: String, dim: Int): String =
    s"""WITH x AS (
          SELECT s.j AS dim,
                 CAST(floor(e[s.j + 1] * 1000000 + 0.5) AS BIGINT) AS vm
          FROM (SELECT embedding::DOUBLE[] AS e FROM $table)
               CROSS JOIN (SELECT unnest(range(0, $dim)) AS j) s),
        agg AS (
          SELECT dim, CAST(count(vm) AS BIGINT) AS n,
                 sum(vm) AS s, sum(CAST(vm AS HUGEINT) * vm) AS s2
          FROM x GROUP BY dim)
        SELECT CAST(dim AS INT) AS dim, n,
               ${quant4Sql("CAST(s AS DOUBLE) / CAST(n * 1000000 AS DOUBLE)")} AS mean,
               ${quant4Sql(
                 "CAST(CAST(n AS HUGEINT) * s2 - s * s AS DOUBLE)" +
                 " / CAST(n * n AS DOUBLE) / 1e12")} AS popvar
        FROM agg ORDER BY dim"""

  /** Embedding drift monitor — [[dimStats]] computed independently over
    * a reference slice and a current slice, joined per dimension, with
    * the absolute mean shift and variance ratio as the drift signals.
    * This is the observable that triggers offline re-training of the
    * frozen [[indexIncremental]] centroids/codebook. Two slim hash-agg
    * shuffles (one per slice) + a 64-row join — corpus-size-free
    * movement; every number inherits dimStats' exact-integer
    * determinism, ratios quantized via [[quant4]] with a NULL on a
    * zero reference variance (both engines). */
  def dimDrift(vectors: DataFrame, refPred: Column): DataFrame = {
    val ref = dimStats(vectors.filter(refPred))
      .select(col("dim"), col("n").as("ref_n"), col("mean").as("ref_mean"),
        col("popvar").as("ref_var"))
    val cur = dimStats(vectors.filter(!refPred))
      .select(col("dim"), col("n").as("cur_n"), col("mean").as("cur_mean"),
        col("popvar").as("cur_var"))
    ref.join(cur, "dim")
      .select(col("dim"), col("ref_n"), col("cur_n"),
        col("ref_mean"), col("cur_mean"),
        quant4(abs(col("cur_mean") - col("ref_mean"))).as("mean_shift"),
        quant4(col("cur_var") / when(col("ref_var") === 0d, lit(null))
          .otherwise(col("ref_var"))).as("var_ratio"))
  }

  def dimDriftSql(table: String, refPredSql: String, dim: Int): String =
    s"""WITH ref AS (
          SELECT dim, n AS ref_n, mean AS ref_mean, popvar AS ref_var
          FROM (${dimStatsSql(s"(SELECT * FROM $table WHERE $refPredSql)", dim)})),
        cur AS (
          SELECT dim, n AS cur_n, mean AS cur_mean, popvar AS cur_var
          FROM (${dimStatsSql(s"(SELECT * FROM $table WHERE NOT ($refPredSql))", dim)}))
        SELECT dim, ref_n, cur_n, ref_mean, cur_mean,
               ${quant4Sql("abs(cur_mean - ref_mean)")} AS mean_shift,
               ${quant4Sql("cur_var / nullif(ref_var, 0)")} AS var_ratio
        FROM ref JOIN cur USING (dim) ORDER BY dim"""

  /** Incremental IVF-PQ index maintenance — continuous ingestion for
    * the ANN index, the vector-side twin of `dedup_incremental`: the
    * coarse centroids and PQ codebook are FROZEN from the already-
    * indexed corpus (`oldPred`), and only the arriving batch is
    * assigned a cell and encoded. Cost scales with the batch, not the
    * corpus — at 100 TB the batch's (cell, codes) rows append to the
    * cell-bucketed code index, no existing row is touched, and queries
    * see the union. Re-clustering/re-training is a separate offline
    * decision (drift is observable via [[dimStats]] on old vs new).
    *
    * Output is flat (vec_id, cell, code_0..code_{m-1}) — the gated-
    * output contract (no nested columns in hashed results).
    */
  def indexIncremental(vectors: DataFrame, oldPred: Column,
                       c: Int, m: Int, k: Int, dim: Int,
                       saltIvf: String = "ivf",
                       saltPq: String = "pq"): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val old = vectors.filter(oldPred)
    val batch = withNorm(vectors.filter(!oldPred)
      .select(col("vec_id"), col("embedding")), "embedding", "vn")
    // One task is correct: centW ranks the `limit(c)` centroid sample.
    val centW = Window.orderBy(col("h"), col("vec_id"))
    val cent = withNorm(old.select(col("vec_id"), col("embedding")),
      "embedding", "cn0")
      .withColumn("h", graft.ops.TextOps.hash64(
        concat(lit(saltIvf), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(c)
      .withColumn("cell", row_number().over(centW))
      .select(col("cell"), col("embedding").as("cvec"), col("cn0").as("cn"))
    val assign = batch.crossJoin(broadcast(cent))
      .withColumn("score",
        round(expr("array_dot(embedding, cvec)") / (col("vn") * col("cn")), 6))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cell"), struct(col("score"), -col("cell"))).as("cell"))
    val cb: Array[Array[Double]] = old
      .withColumn("h", graft.ops.TextOps.hash64(
        concat(lit(saltPq), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    batch
      .select(col("vec_id"), pqEncode(col("embedding"), cb, m, "codes").as("__c"))
      .join(assign, "vec_id")
      .select(col("vec_id") +: col("cell") +:
        (0 until m).map(mi =>
          element_at(col("__c"), mi + 1).as(s"code_$mi")): _*)
  }

  def indexIncrementalSql(table: String, oldPredSql: String,
                          c: Int, m: Int, k: Int, dim: Int,
                          saltIvf: String = "ivf",
                          saltPq: String = "pq"): String = {
    val d = dim / m
    val hi = graft.ops.TextOps.hash64Sql(s"'$saltIvf' || CAST(vec_id AS VARCHAR)")
    val hp = graft.ops.TextOps.hash64Sql(s"'$saltPq' || CAST(vec_id AS VARCHAR)")
    val codeCols = (0 until m).map(mi =>
      s"CAST(max(CASE WHEN mi = $mi THEN ki END) AS INT) AS code_$mi")
      .mkString(", ")
    s"""WITH old AS (SELECT vec_id, embedding FROM $table WHERE $oldPredSql),
        batch AS (SELECT vec_id, embedding FROM $table
                  WHERE NOT ($oldPredSql)),
        cent AS (
          SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INT) AS cell,
                 embedding AS cvec
          FROM (SELECT vec_id, embedding, $hi AS h FROM old
                ORDER BY h, vec_id LIMIT $c)),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT b.vec_id, cent.cell,
                   row_number() OVER (PARTITION BY b.vec_id ORDER BY
                     round(${cosineSql("b.embedding", "cvec")}, 6) DESC,
                     cent.cell) AS rn
            FROM batch b CROSS JOIN cent) WHERE rn = 1),
        cb AS (
          SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INT) - 1 AS ki,
                 embedding::DOUBLE[] AS cvec
          FROM (SELECT vec_id, embedding, $hp AS h FROM old
                ORDER BY h, vec_id LIMIT $k)),
        dists AS (
          SELECT b.vec_id, s.mi, cb.ki,
                 ${pqSubDistSql("e", "cvec", "s.mi", d)} AS dd
          FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM batch) b
               CROSS JOIN cb
               CROSS JOIN (SELECT unnest(range(0, $m)) AS mi) s),
        amin AS (
          SELECT vec_id, mi, ki FROM (
            SELECT vec_id, mi, ki,
                   row_number() OVER (PARTITION BY vec_id, mi
                                      ORDER BY dd, ki) AS rn
            FROM dists) WHERE rn = 1)
        SELECT vec_id, cell, $codeCols
        FROM amin JOIN assign USING (vec_id)
        GROUP BY vec_id, cell ORDER BY vec_id"""
  }

  /** Product quantization — the 100 TB ANN memory story beside int8:
    * each vector splits into `m` subvectors; a per-subspace codebook of
    * `k` centroids (rows of the same deterministic hash-ordered corpus
    * sample IVF uses — the reproducible stand-in for a k-means train; a
    * trained codebook drops in without changing any plan) assigns every
    * subvector its nearest centroid id. Storage per vector falls from
    * dim×4 bytes to m codes (m×log2(k) bits) + one shared codebook.
    *
    * Scale shape: the codebook is k×dim doubles — a model artifact —
    * collected once to the driver (bounded, like BPE's top-pair) and
    * shipped as literals, so ASSIGNMENT IS A NARROW MAP: zero shuffle,
    * zero join; argmin per subspace is array_min over (dist, id) structs
    * (lexicographic, so ties break to the lowest centroid id — each
    * distance evaluated once).
    *
    * Determinism: distances rounded to 6 dp before compare;
    * reconstruction error emitted as micro-units via the engine-exact
    * floor(x+0.5) and summed in INTEGER space (order-free — a float sum
    * across subspaces would depend on aggregation order). The oracle
    * recomputes the identical pipeline relationally (row_number argmin).
    */
  /** round((‖sub‖² + ‖c‖²) − 2·sub·c, 6): squared L2 distance of a
    * vector's subspace slice to a literal centroid slice in EXPANSION
    * form, so every term runs inside the codegen'd array_dot — the
    * direct (x−c)² HOF fold evaluates interpreted and measured ~7 s for
    * 500 rows × 512 (mi, ki) pairs. The oracle computes the identical
    * expansion (its ‖c‖² from the same left-to-right fold), so the 6-dp
    * rounding agrees bit-for-bit. */
  private[graft] def pqSubDist(vecCol: Column, cent: Array[Array[Double]],
                        mi: Int, ki: Int, d: Int): Column = {
    val c = cent(ki).slice(mi * d, mi * d + d)
    val c2 = c.foldLeft(0d)((a, x) => a + x * x)
    val sub = slice(vecCol, mi * d + 1, d)
    round((call_function("array_dot", sub, sub) + lit(c2)) -
      lit(2d) * call_function("array_dot", sub, typedLit(c.toSeq)), 6)
  }

  /** [[graft.catalyst.PqEncode]] call: the whole m×k distance table in
    * one expression node (tree-size O(1)); bit-parity with the
    * [[pqSubDist]] tree form is pinned by `DedupSimSpec`. */
  private def pqEncode(vecCol: Column, cent: Array[Array[Double]],
                       m: Int, mode: String): Column =
    call_function("pq_encode", vecCol,
      typedLit(cent.map(_.toSeq).toSeq), lit(m), lit(mode))

  /** The same expansion for the oracle, with `mi` a SQL column. */
  private def pqSubDistSql(vecExpr: String, centExpr: String,
                           miExpr: String, d: Int): String = {
    val sub = s"list_slice($vecExpr, $miExpr * $d + 1, $miExpr * $d + $d)"
    val csub = s"list_slice($centExpr, $miExpr * $d + 1, $miExpr * $d + $d)"
    s"""round((list_dot_product($sub, $sub) + list_dot_product($csub, $csub))
        - 2 * list_dot_product($sub, $csub), 6)"""
  }

  def quantizePq(vectors: DataFrame, m: Int, k: Int, dim: Int,
                 salt: String = "pq"): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val cent: Array[Array[Double]] = vectors
      .withColumn("h", graft.ops.TextOps.hash64(
        concat(lit(salt), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    vectors
      .select(col("vec_id"), pqEncode(col("embedding"), cent, m, "mins").as("__mins"))
      .select(
        col("vec_id") +:
          (0 until m).map(mi =>
            element_at(col("__mins"), mi + 1).getField("k").as(s"code_$mi")) :+
          (0 until m).map(mi =>
              floor(element_at(col("__mins"), mi + 1).getField("d") * 1e6 + 0.5)
                .cast("long"))
            .reduce(_ + _).as("err_micro"): _*)
  }

  def quantizePqSql(table: String, m: Int, k: Int, dim: Int,
                    salt: String = "pq"): String = {
    val d = dim / m
    val h = graft.ops.TextOps.hash64Sql(s"'$salt' || CAST(vec_id AS VARCHAR)")
    val codeCols = (0 until m).map(mi =>
      s"CAST(max(CASE WHEN mi = $mi THEN ki END) AS INT) AS code_$mi")
      .mkString(", ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $table),
        cent AS (
          SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INT) - 1 AS ki,
                 e AS c
          FROM (SELECT vec_id, embedding::DOUBLE[] AS e, $h AS h FROM $table
                ORDER BY h, vec_id LIMIT $k)),
        dists AS (
          SELECT v.vec_id, s.mi, cent.ki,
                 ${pqSubDistSql("e", "c", "s.mi", d)} AS dd
          FROM v CROSS JOIN cent
               CROSS JOIN (SELECT unnest(range(0, $m)) AS mi) s),
        amin AS (
          SELECT vec_id, mi, ki, dd FROM (
            SELECT vec_id, mi, ki, dd,
                   row_number() OVER (PARTITION BY vec_id, mi
                                      ORDER BY dd, ki) AS rn
            FROM dists) WHERE rn = 1)
        SELECT vec_id, $codeCols,
               CAST(sum(CAST(floor(dd * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                 AS err_micro
        FROM amin GROUP BY vec_id ORDER BY vec_id"""
  }

  /** PQ-ADC approximate top-k — quantized search completing the PQ
    * story: the corpus is L2-normalized (so L2 order ≡ cosine order) and
    * PQ-encoded (m codes per vector); a query scans CODES ONLY with
    * asymmetric distance (per-query LUT of query-subspace→centroid
    * distances, pair cost = m integer lookups against 32-byte codes
    * instead of dim floats — the 100 TB memory story), keeps a
    * `shortlist` per query, and exactly re-ranks just the shortlist with
    * the same raw-vector cosine the brute baseline uses.
    *
    * Determinism: subspace distances round to 6 dp, LUT entries quantize
    * to integer micro-units (floor(x+0.5)) so ADC is an order-free
    * INTEGER sum; ranks tie-break on vec_id. Measured recall@10 = 0.95
    * at m=16, k=32, shortlist=100 (sf0.01) — gated by `sim_recall_audit`.
    */
  def topKPqAdc(vectors: DataFrame, queryPred: Column, topK: Int,
                m: Int, k: Int, dim: Int, shortlist: Int,
                salt: String = "pq"): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val vRaw = withNorm(vectors.select(col("vec_id"), col("embedding")),
      "embedding", "vn")
    val nrm = col("vn")
    val vNorm = vRaw.select(col("vec_id"),
      when(nrm === 0d,
        transform(col("embedding"), x => x.cast("double")))
        .otherwise(transform(col("embedding"), x => x.cast("double") / nrm))
        .as("ne"))
    val cent: Array[Array[Double]] = vNorm
      .withColumn("h", graft.ops.TextOps.hash64(
        concat(lit(salt), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("ne")).collect()
      .map(_.getSeq[Double](0).toArray)
    val codes = vNorm.select(col("vec_id"),
      pqEncode(col("ne"), cent, m, "codes").as("codes"))
    val qlut = vNorm.filter(queryPred)
      .select(col("vec_id").as("query_id"),
        pqEncode(col("ne"), cent, m, "lut").as("lm"))
    val adcExpr = (0 until m).map(mi =>
      element_at(element_at(col("lm"), mi + 1),
        (element_at(col("codes"), mi + 1) + 1).cast("int")))
      .reduce(_ + _)
    val short = codes.crossJoin(broadcast(qlut))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), adcExpr.as("adc_micro"))
      .withColumn("sr", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("adc_micro"), col("vec_id"))))
      .filter(col("sr") <= shortlist)
    val scored = short
      .join(vRaw.select(col("vec_id"), col("embedding").as("e"), col("vn")),
        "vec_id")
      .join(vRaw.filter(queryPred).select(col("vec_id").as("query_id"),
        col("embedding").as("q"), col("vn").as("qn")), "query_id")
      .withColumn("score",
        round(expr("array_dot(q, e)") / (col("qn") * col("vn")), 6))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        quant4(col("score")).as("cosine"))
  }

  def topKPqAdcSql(table: String, queryPredSql: String, topK: Int,
                   m: Int, k: Int, dim: Int, shortlist: Int,
                   salt: String = "pq"): String = {
    val d = dim / m
    val h = graft.ops.TextOps.hash64Sql(s"'$salt' || CAST(vec_id AS VARCHAR)")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $table),
        vn AS (SELECT vec_id,
                 CASE WHEN sqrt(list_dot_product(e, e)) = 0 THEN e
                 ELSE list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
                 END AS ne
               FROM v),
        cent AS (
          SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INT) - 1 AS ki,
                 ne AS c
          FROM (SELECT vec_id, ne, $h AS h FROM vn ORDER BY h, vec_id LIMIT $k)),
        dists AS (
          SELECT vn.vec_id, s.mi, cent.ki,
                 ${pqSubDistSql("ne", "c", "s.mi", d)} AS dd
          FROM vn CROSS JOIN cent
               CROSS JOIN (SELECT unnest(range(0, $m)) AS mi) s),
        codes AS (
          SELECT vec_id, mi, ki FROM (
            SELECT vec_id, mi, ki,
                   row_number() OVER (PARTITION BY vec_id, mi
                                      ORDER BY dd, ki) AS rn
            FROM dists) WHERE rn = 1),
        lut AS (
          SELECT vec_id AS query_id, mi, ki,
                 CAST(floor(dd * 1000000 + 0.5) AS BIGINT) AS d_micro
          FROM dists WHERE $queryPredSql),
        adc AS (
          SELECT l.query_id, c.vec_id,
                 CAST(sum(l.d_micro) AS BIGINT) AS adc_micro
          FROM codes c JOIN lut l USING (mi, ki)
          WHERE c.vec_id <> l.query_id
          GROUP BY 1, 2),
        short AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc_micro, vec_id) AS sr
            FROM adc) WHERE sr <= $shortlist),
        scored AS (
          SELECT query_id, short.vec_id,
                 round(${cosineSql("q.embedding", "n.embedding")}, 6) AS score
          FROM short JOIN $table q ON q.vec_id = short.query_id
                     JOIN $table n ON n.vec_id = short.vec_id)
        SELECT query_id, rank, neighbor_id, cosine FROM (
          SELECT query_id, vec_id AS neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, vec_id) AS INT) AS rank,
                 ${quant4Sql("score")} AS cosine
          FROM scored)
        WHERE rank <= $topK ORDER BY query_id, rank"""
  }

  /** IVF-PQ composite index — the canonical billion-scale ANN shape
    * (coarse inverted file × product quantization, RESIDUAL variant —
    * Jégou et al., "Product quantization for nearest neighbor
    * search", TPAMI 2011 §IV.B, the recipe FAISS's IndexIVFPQ runs):
    * the coarse quantizer bounds WHICH vectors a query scans
    * (`nprobe` of `c` cells instead of the whole corpus) and PQ-ADC
    * bounds WHAT is read per candidate (m one-byte codes instead of
    * `dim` floats). Cell build/assignment/probing is bit-identical to
    * [[topKIvf]]; the PQ machinery is [[topKPqAdc]]'s applied to the
    * RESIDUAL r = ne − cc(cell) instead of ne — within a cell the
    * residuals span a far tighter ball than raw vectors span the
    * sphere, so the same m×k codebook buys a finer grid exactly where
    * candidates are ranked. Since ne = cc + r,
    * ‖ne_q − ne_x‖² = ‖(ne_q − cc) − r_x‖², so the LUT is built from
    * the query residual against each probed cell — nprobe small LUTs
    * per query (the FAISS "multiple precomputed tables" shape) joined
    * on (cell): still a broadcast of queries×nprobe rows.
    *
    * At 100 TB the code index is written bucketed by `cell`, so a query
    * reads nprobe buckets of 32-byte rows — both the scan set and the
    * bytes-per-row are bounded, which neither ingredient achieves
    * alone. Degeneracy proof in `DedupSimSpec`: nprobe=c +
    * full-corpus shortlist ≡ brute force (residual encoding cannot
    * break it — the shortlist re-rank is exact either way). Recall@10
    * gated by `sim_recall_audit`: residual raised the gated floor
    * 0.55 → 0.65 (cell pruning is now the only loss).
    */
  def topKIvfPq(vectors: DataFrame, queryPred: Column, topK: Int,
                c: Int, nprobe: Int, m: Int, k: Int, dim: Int,
                shortlist: Int, saltIvf: String = "ivf",
                saltPq: String = "pq", trainRounds: Int = 0,
                saltKm: String = "ivfkm",
                cellsPre: Option[(DataFrame, DataFrame, DataFrame)] = None)
  : DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val vRaw = withNorm(vectors.select(col("vec_id"), col("embedding")),
      "embedding", "vn")
    // Coarse cells, assignment, probes: the topKIvf shapes verbatim
    // (or the audit's shared pre-built triple — identical values).
    val (assign, probesFull, cellCents) = cellsPre.getOrElse(
      if (trainRounds > 0) trainedCells(vRaw, queryPred, c, nprobe,
        trainRounds, dim, saltKm)
      else sampledCells(vRaw, queryPred, c, nprobe, saltIvf))
    val probes = probesFull.select(col("query_id"), col("q"),
      col("qn"), col("cell"))
    // RESIDUAL encoding (Jégou et al. TPAMI'11 §IV.B, FAISS's actual
    // IVFPQ): PQ codes quantize r = ne − cc(cell), not ne itself.
    // Within a cell the residuals span a far tighter ball than raw
    // vectors span the sphere, so the same m×k codebook budget buys a
    // finer grid exactly where the ADC scan ranks candidates; since
    // ne = cc + r, ‖ne_q − ne_x‖² = ‖(ne_q − cc) − r_x‖² — the LUT is
    // built from the QUERY residual against the probed cell, one LUT
    // per (query, probed cell) instead of one per query. Measured
    // recall@10 on the gated audit: 0.55-floor → ivf-level (the cell
    // pruning becomes the only loss, the PQ ordering stops costing).
    val vNorm = vRaw.select(col("vec_id"),
      when(col("vn") === 0d,
        transform(col("embedding"), x => x.cast("double")))
        .otherwise(
          transform(col("embedding"), x => x.cast("double") / col("vn")))
        .as("ne"))
    // The residual table feeds the codebook collect AND the code
    // index; one checkpoint of the slim (vec_id, cell, rv) frame keeps
    // the normalize+assign+subtract pipeline from running per consumer
    // (the matrixProfile ReuseExchange lesson). At 100 TB this IS the
    // code-index build pass — materialized once, bucketed by cell.
    val resid = vNorm.join(assign, "vec_id")
      .join(broadcast(cellCents), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("ne"), col("cc"), (a, b) => a - b).as("rv"))
      .localCheckpoint()
    val centPq: Array[Array[Double]] = resid
      .withColumn("h", graft.ops.TextOps.hash64(
        concat(lit(saltPq), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select(col("rv")).collect()
      .map(_.getSeq[Double](0).toArray)
    // The cell-partitioned code index (at scale: written bucketed by
    // cell); codes arrive with their cell from the residual join.
    val index = resid
      .select(col("vec_id"), col("cell"),
        pqEncode(col("rv"), centPq, m, "codes").as("codes"))
    // One LUT per (query, probed cell): the query residual vs that cell.
    val probesLut = probes
      .join(broadcast(cellCents), "cell")
      .select(col("query_id"), col("cell"),
        pqEncode(zip_with(
            when(col("qn") === 0d, transform(col("q"), x => x.cast("double")))
              .otherwise(transform(col("q"), x => x.cast("double") / col("qn"))),
            col("cc"), (a, b) => a - b),
          centPq, m, "lut").as("lm"))
    val adcExpr = (0 until m).map(mi =>
      element_at(element_at(col("lm"), mi + 1),
        (element_at(col("codes"), mi + 1) + 1).cast("int")))
      .reduce(_ + _)
    val short = index.join(broadcast(probesLut), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), adcExpr.as("adc_micro"))
      .withColumn("sr", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("adc_micro"), col("vec_id"))))
      .filter(col("sr") <= shortlist)
    val scored = short
      .join(vRaw.select(col("vec_id"), col("embedding").as("e"), col("vn")),
        "vec_id")
      .join(vRaw.filter(queryPred).select(col("vec_id").as("query_id"),
        col("embedding").as("q"), col("vn").as("qn")), "query_id")
      .withColumn("score",
        round(expr("array_dot(q, e)") / (col("qn") * col("vn")), 6))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        quant4(col("score")).as("cosine"))
  }

  def topKIvfPqSql(table: String, queryPredSql: String, topK: Int,
                   c: Int, nprobe: Int, m: Int, k: Int, dim: Int,
                   shortlist: Int, saltIvf: String = "ivf",
                   saltPq: String = "pq", trainRounds: Int = 0,
                   saltKm: String = "ivfkm"): String = {
    val d = dim / m
    val hi = graft.ops.TextOps.hash64Sql(s"'$saltIvf' || CAST(vec_id AS VARCHAR)")
    val hp = graft.ops.TextOps.hash64Sql(s"'$saltPq' || CAST(vec_id AS VARCHAR)")
    val cellCtes =
      if (trainRounds > 0)
        trainedCellCtes(table, queryPredSql, c, nprobe, trainRounds, dim,
          saltKm)
      else
        s"""centi AS (
          SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INT) AS cell,
                 embedding AS cvec
          FROM (SELECT vec_id, embedding, $hi AS h FROM v
                ORDER BY h, vec_id LIMIT $c)),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT v.vec_id, centi.cell,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     round(${cosineSql("v.embedding", "cvec")}, 6) DESC,
                     centi.cell) AS rn
            FROM v CROSS JOIN centi) WHERE rn = 1),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT v.vec_id AS query_id, centi.cell,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     round(${cosineSql("v.embedding", "cvec")}, 6) DESC,
                     centi.cell) AS pr
            FROM v CROSS JOIN centi WHERE $queryPredSql) WHERE pr <= $nprobe)"""
    val ccdCte =
      if (trainRounds > 0)
        s"""ccd AS (SELECT cl AS cell,
              list_transform(c, x -> x / 1000000.0) AS cc
            FROM c$trainRounds)"""
      else
        s"""ccd AS (SELECT cell,
              CASE WHEN sqrt(list_dot_product(cvec::DOUBLE[],
                     cvec::DOUBLE[])) = 0 THEN cvec::DOUBLE[]
              ELSE list_transform(cvec::DOUBLE[], x ->
                     x / sqrt(list_dot_product(cvec::DOUBLE[],
                       cvec::DOUBLE[])))
              END AS cc
            FROM centi)"""
    s"""WITH v AS (SELECT vec_id, embedding FROM $table),
        $cellCtes,
        vd AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $table),
        vn AS (SELECT vec_id,
                 CASE WHEN sqrt(list_dot_product(e, e)) = 0 THEN e
                 ELSE list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
                 END AS ne
               FROM vd),
        $ccdCte,
        resid AS MATERIALIZED (
          SELECT vn.vec_id, a.cell,
                 list_transform(range(1, ${dim + 1}),
                   j -> vn.ne[j] - ccd.cc[j]) AS rv
          FROM vn JOIN assign a ON a.vec_id = vn.vec_id
               JOIN ccd USING (cell)),
        centp AS (
          SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INT) - 1 AS ki,
                 rv AS cp
          FROM (SELECT vec_id, rv, $hp AS h FROM resid
                ORDER BY h, vec_id LIMIT $k)),
        dists AS MATERIALIZED (
          SELECT r.vec_id, s.mi, centp.ki,
                 ${pqSubDistSql("rv", "cp", "s.mi", d)} AS dd
          FROM resid r CROSS JOIN centp
               CROSS JOIN (SELECT unnest(range(0, $m)) AS mi) s),
        codes AS (
          SELECT vec_id, mi, ki FROM (
            SELECT vec_id, mi, ki,
                   row_number() OVER (PARTITION BY vec_id, mi
                                      ORDER BY dd, ki) AS rn
            FROM dists) WHERE rn = 1),
        qres AS (
          SELECT p.query_id, p.cell,
                 list_transform(range(1, ${dim + 1}),
                   j -> vn.ne[j] - ccd.cc[j]) AS qr
          FROM probes p JOIN vn ON vn.vec_id = p.query_id
               JOIN ccd USING (cell)),
        lut AS MATERIALIZED (
          SELECT q.query_id, q.cell, s.mi, centp.ki,
                 CAST(floor(${pqSubDistSql("qr", "cp", "s.mi", d)}
                   * 1000000 + 0.5) AS BIGINT) AS d_micro
          FROM qres q CROSS JOIN centp
               CROSS JOIN (SELECT unnest(range(0, $m)) AS mi) s),
        cand AS (
          SELECT p.query_id, p.cell, a.vec_id
          FROM probes p JOIN assign a USING (cell)
          WHERE a.vec_id <> p.query_id),
        adc AS (
          SELECT ca.query_id, ca.vec_id,
                 CAST(sum(l.d_micro) AS BIGINT) AS adc_micro
          FROM cand ca
               JOIN codes c ON c.vec_id = ca.vec_id
               JOIN lut l ON l.query_id = ca.query_id
                         AND l.cell = ca.cell
                         AND l.mi = c.mi AND l.ki = c.ki
          GROUP BY 1, 2),
        short AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc_micro, vec_id) AS sr
            FROM adc) WHERE sr <= $shortlist),
        scored AS (
          SELECT query_id, short.vec_id,
                 round(${cosineSql("q.embedding", "n.embedding")}, 6) AS score
          FROM short JOIN $table q ON q.vec_id = short.query_id
                     JOIN $table n ON n.vec_id = short.vec_id)
        SELECT query_id, rank, neighbor_id, cosine FROM (
          SELECT query_id, vec_id AS neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, vec_id) AS INT) AS rank,
                 ${quant4Sql("score")} AS cosine
          FROM scored)
        WHERE rank <= $topK ORDER BY query_id, rank"""
  }

  /** Materialized k-NN reuse — the vector-side twin of
    * `DedupOps.jaccardPairsCached`: the full-corpus k-NN edge table (the
    * expensive LSH build + exact verify over EVERY vector) is computed
    * once per corpus snapshot and consumed by the whole graph stack
    * (`sim_knn_graph`, `graph_pagerank`, `graph_triangles`), as a
    * `knn`-kind [[graft.Artifacts]] entry keyed by corpus files + k +
    * LSH config. Unset dir (the oracle gate's default), this is exactly
    * [[topKLshMulti]] with an all-rows query predicate; in-memory inputs
    * have no files and always recompute.
    *
    * `variant` disambiguates DERIVED corpora that share the same input
    * files (e.g. the HNSW level subsets — a filtered frame reports its
    * parent's inputFiles, so without the tag two different subsets
    * would collide on one entry). */
  def knnEdgesCached(vectors: DataFrame, k: Int,
                     tables: Seq[Seq[Seq[Double]]],
                     variant: String = ""): DataFrame = {
    val cfg = tables.map(_.map(_.mkString(",")).mkString(";")).mkString("|")
    graft.Artifacts.cached(vectors.sparkSession, "knn", "knn",
        Seq(k, cfg, variant), vectors.inputFiles) {
      topKLshMulti(vectors, lit(true), k, tables)
    }
  }

  /** Shared CTE prefix (v … scored) for the multi-table-LSH oracles —
    * the SQL twin of [[lshScored]]. */
  private def lshScoredCtes(table: String, queryPredSql: String,
                            tables: Seq[Seq[Seq[Double]]]): String = {
    val bks = tables.map(p => lshBucketSql("embedding", p)).mkString("[", ", ", "]")
    s"""v AS (SELECT vec_id, embedding FROM $table),
        keyed AS (SELECT vec_id, embedding, $bks AS bks FROM v),
        buckets AS (SELECT vec_id, generate_subscripts(bks, 1) AS tbl,
                           unnest(bks) AS bucket FROM keyed),
        qb AS (SELECT vec_id AS query_id, generate_subscripts(bks, 1) AS tbl,
                      unnest(bks) AS bucket FROM keyed WHERE $queryPredSql),
        cand AS (
          SELECT DISTINCT query_id, b.vec_id
          FROM qb JOIN buckets b USING (tbl, bucket)
          WHERE b.vec_id <> qb.query_id),
        scored AS (
          SELECT query_id, cand.vec_id,
                 round(${cosineSql("q.embedding", "n.embedding")}, 6) AS score
          FROM cand JOIN v q ON q.vec_id = cand.query_id
                    JOIN v n ON n.vec_id = cand.vec_id)"""
  }

  def topKLshMultiSql(table: String, queryPredSql: String, k: Int,
                      tables: Seq[Seq[Seq[Double]]]): String =
    s"""WITH ${lshScoredCtes(table, queryPredSql, tables)}
        SELECT query_id, rank, neighbor_id, cosine FROM (
          SELECT query_id, vec_id AS neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, vec_id) AS INT) AS rank,
                 ${quant4Sql("score")} AS cosine
          FROM scored)
        WHERE rank <= $k ORDER BY query_id, rank"""

  /** Oracle twin of [[hardNegatives]]: band filter on the quantized
    * cosine, then the per-anchor rank, over the same scored CTEs. */
  def hardNegativesSql(table: String, queryPredSql: String,
                       lo: Double, hi: Double, n: Int,
                       tables: Seq[Seq[Seq[Double]]]): String =
    s"""WITH ${lshScoredCtes(table, queryPredSql, tables)},
        banded AS (SELECT * FROM (
            SELECT query_id, vec_id, score, ${quant4Sql("score")} AS cosine
            FROM scored)
          WHERE cosine >= $lo AND cosine < $hi)
        SELECT query_id, rank, neighbor_id, cosine FROM (
          SELECT query_id, vec_id AS neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, vec_id) AS INT) AS rank,
                 cosine
          FROM banded)
        WHERE rank <= $n ORDER BY query_id, rank"""

  /** Graph-navigating ANN — the NSW/HNSW family's base-layer search
    * (Malkov & Yashunin, "Efficient and robust approximate nearest
    * neighbor search using Hierarchical Navigable Small World graphs",
    * TPAMI'18) re-expressed as batch beam search over the corpus k-NN
    * graph: start every query at the same `entries` hash-ordered entry
    * points, then for `rounds` rounds expand the per-query beam (the
    * `beam` best NEW nodes by exact cosine) through the symmetrized
    * adjacency, finally rank everything VISITED and keep the top k.
    * Greedy navigation converges to the query's neighborhood in
    * O(diameter) rounds because k-NN edges shrink distance
    * monotonically in expectation — the same reason HNSW's base layer
    * works.
    *
    * Determinism: entry choice is the engine-wide md5 hash order (the
    * IVF-init rule), scores are 6-dp-rounded cosines with vec_id
    * tie-breaks everywhere, so the unrolled-CTE oracle replays the
    * exact search. Recall < 1 by construction (a neighbor unreachable
    * within `rounds` beam hops is missed) — floor-gated in
    * [[recallAudit]].
    *
    * Scale shape: per round, ONE frontier→adjacency equi-join (frontier
    * is beam·|queries| slim rows), one anti-join against the visited
    * set, one candidate-sized exact-scoring join (embeddings fetched by
    * id — never scanned), one per-query WindowGroupLimit; every
    * round state is localCheckpoint'ed (the bfsLayers discipline) so
    * lineage stays flat. Nothing ever touches corpus² — cost is
    * O(rounds · beam · degree · |queries|). */
  def topKGraphBeam(vectors: DataFrame, queryPred: Column, k: Int,
                    edges: DataFrame, beam: Int, rounds: Int,
                    entries: Int, salt: String = "nsw"): DataFrame = {
    require(rounds >= 1 && beam >= 1 && entries >= 1,
      s"topKGraphBeam needs rounds/beam/entries >= 1, got " +
        s"$rounds/$beam/$entries")
    // Repartition-once-by-join-key + checkpoint (the bfsLayers edge
    // discipline): every round's candidate-scoring join fetches
    // embeddings by vec_id, and without the pinned distribution the
    // corpus re-shuffles per round.
    val v = withNorm(vectors.select(col("vec_id"), col("embedding")),
        "embedding", "vn")
      .repartition(col("vec_id"))
      .localCheckpoint()
    val queries = v.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("vn").as("qn"))
    // Checkpoint the directed edge list BEFORE symmetrizing: the union
    // of two selects over the live LSH-built plan re-runs that build
    // twice and carries its constraints into Union rewriting.
    val dir = edges
      .select(col("query_id").as("u"), col("neighbor_id").as("v"))
      .localCheckpoint()
    val adj = dir
      .unionAll(dir.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .repartition(col("u")) // rounds re-join on u; shuffle adj ONCE
      .localCheckpoint()
    val ent = v
      .withColumn("h", graft.ops.TextOps.hash64(
        concat(lit(salt), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(entries)
      .select(col("vec_id"))
    // The query's OWN node stays in the walk (it scores 1.0, tops the
    // beam, and its neighborhood is exactly where the answers are —
    // excluding it here would wall off anything only reachable through
    // it); it is dropped from the final ranking instead.
    def score(cand: DataFrame): DataFrame =
      cand.join(v, "vec_id")
        .join(broadcast(queries), "query_id")
        .withColumn("score",
          round(expr("array_dot(q, embedding)") / (col("qn") * col("vn")), 6))
        .select(col("query_id"), col("vec_id"), col("score"))
    def topBeam(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= beam)
        .select(col("query_id"), col("vec_id"))
    }
    // Visited state is a LIST of checkpointed layer leaves, unioned
    // fresh per use (the bfsLayers discipline) — checkpointing a
    // union-of-unions instead trips Union constraint rewriting on the
    // shared-lineage attribute ids and grows the plan besides.
    // frontier is NOT checkpointed: it is one window over the already-
    // checkpointed layer leaf, so its lineage is flat and skipping the
    // eager materialization saves an action per round (the rounds are
    // overhead-bound — per-round state is beam·degree·|queries| slim
    // rows).
    var layers = List(score(
        queries.select(col("query_id")).crossJoin(broadcast(ent)))
      .localCheckpoint())
    var frontier = topBeam(layers.head)
    // Re-alias every output before a union: checkpointed leaves carry
    // constraints naming pre-checkpoint attribute ids, which crashes
    // Union constraint rewriting (key-not-found in the optimizer); a
    // fresh Project rewrites constraints onto new ids and drops the
    // foreign ones.
    def scrub(df: DataFrame): DataFrame =
      df.select(df.columns.map(c => col(c).as(c)).toIndexedSeq: _*)
    var r = 0
    while (r < rounds) {
      val visited = layers.map(l =>
          scrub(l.select(col("query_id"), col("vec_id"))))
        .reduce(_ unionAll _)
      val cand = frontier.as("f").join(adj.as("a"),
          col("f.vec_id") === col("a.u"))
        .select(col("f.query_id").as("query_id"), col("a.v").as("vec_id"))
        .distinct()
      val fresh = cand.join(visited, Seq("query_id", "vec_id"), "left_anti")
      val scored = score(fresh).localCheckpoint()
      layers = scored :: layers
      frontier = topBeam(scored)
      r += 1
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    // One more scrub ABOVE the union (a fresh Project rewriting
    // constraints onto new attribute ids) — the per-input scrubs
    // already keep Union constraint rewriting safe, so the final rank
    // plans directly over the union: whole-stage codegen and AQE span
    // the window stage (round-10 verdict: the previous RDD round-trip
    // here was an analysis barrier).
    scrub(layers.map(scrub).reduce(_ unionAll _))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        quant4(col("score")).as("cosine"))
  }

  /** Oracle twin of [[topKGraphBeam]]: the identical entry choice, beam
    * rounds, and rankings unrolled as chained MATERIALIZED CTEs (each
    * vis/fr layer is referenced twice downstream — materialization
    * keeps the chain linear, the kCore/bfsLayers oracle pattern). */
  def topKGraphBeamSql(table: String, queryPredSql: String, k: Int,
                       knnK: Int, tables: Seq[Seq[Seq[Double]]],
                       beam: Int, rounds: Int, entries: Int,
                       salt: String = "nsw"): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH er AS MATERIALIZED (
          SELECT query_id, neighbor_id
          FROM (${topKLshMultiSql(table, "TRUE", knnK, tables)}) e0),
        adj AS MATERIALIZED (SELECT DISTINCT u, v FROM (
          SELECT query_id AS u, neighbor_id AS v FROM er
          UNION ALL
          SELECT neighbor_id AS u, query_id AS v FROM er) s),
        vv AS MATERIALIZED (SELECT vec_id, embedding FROM $table),
        qq AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS q
          FROM vv WHERE $queryPredSql),
        ent AS MATERIALIZED (SELECT vec_id FROM vv
          ORDER BY ${graft.ops.TextOps.hash64Sql(
            s"'$salt' || CAST(vec_id AS VARCHAR)")}, vec_id
          LIMIT $entries),
        vis0 AS MATERIALIZED (
          SELECT query_id, vv.vec_id,
                 round(${cosineSql("q", "embedding")}, 6) AS score
          FROM qq CROSS JOIN ent JOIN vv ON vv.vec_id = ent.vec_id),
        fr0 AS MATERIALIZED (SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, vec_id) AS rk
          FROM vis0) z WHERE rk <= $beam)""")
    for (r <- 1 to rounds) {
      sb.append(s""",
        cand$r AS (SELECT DISTINCT f.query_id, a.v AS vec_id
          FROM fr${r - 1} f JOIN adj a ON f.vec_id = a.u),
        new$r AS MATERIALIZED (
          SELECT c.query_id, c.vec_id,
                 round(${cosineSql("q", "embedding")}, 6) AS score
          FROM cand$r c JOIN vv ON vv.vec_id = c.vec_id
               JOIN qq ON qq.query_id = c.query_id
          WHERE NOT EXISTS (SELECT 1 FROM vis${r - 1} w
            WHERE w.query_id = c.query_id AND w.vec_id = c.vec_id)),
        vis$r AS MATERIALIZED (
          SELECT * FROM vis${r - 1} UNION ALL SELECT * FROM new$r),
        fr$r AS MATERIALIZED (SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, vec_id) AS rk
          FROM new$r) z WHERE rk <= $beam)""")
    }
    sb.append(s"""
        SELECT query_id, rank, neighbor_id, cosine FROM (
          SELECT query_id, vec_id AS neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, vec_id) AS INT) AS rank,
                 ${quant4Sql("score")} AS cosine
          FROM vis$rounds WHERE vec_id <> query_id) z
        WHERE rank <= $k ORDER BY query_id, rank""")
    sb.toString
  }

  /** Level-ℓ membership predicate for [[topKHnsw]]: the HNSW geometric
    * level draw (P(lvl ≥ 1) = 1/4, P(lvl ≥ 2) = 1/16) made
    * engine-deterministic via the 60-bit nonnegative md5 hash —
    * lvl(v) ≥ ℓ iff hash("hnswlvl"+id) % 4^ℓ == 0. */
  private def hnswLvlCond(lvl: Int): Column =
    graft.ops.TextOps.hash64(
      concat(lit("hnswlvl"), col("vec_id").cast("string"))) %
      math.pow(4, lvl).toLong === 0L
  private def hnswLvlCondSql(lvl: Int): String =
    s"${graft.ops.TextOps.hash64Sql("'hnswlvl' || CAST(vec_id AS VARCHAR)")}" +
      s" % ${math.pow(4, lvl).toLong} = 0"

  /** HNSW search — the hierarchical layers over [[topKGraphBeam]]'s
    * base walk (Malkov & Yashunin, TPAMI'18). Nodes draw geometric
    * levels from the engine-wide hash (P(lvl ≥ ℓ) = 4^−ℓ, the paper's
    * mL = 1/ln 4); every upper layer gets its OWN k-NN graph over its
    * level subset (the paper's per-layer M neighbors — a batch engine
    * builds log-many geometrically shrinking LSH indexes instead of
    * replaying sequential inserts; total build cost ≤ Σ 4^−ℓ ≈ 1.33×
    * the base build). Search: hash entries at the top layer, ONE
    * narrow descent round per upper layer (beam `descentBeam` over the
    * layer's small adjacency), then the base-layer beam search with
    * FEWER rounds — the descent lands the walk inside the query's
    * neighborhood, so base hops shrink (the NSW gate walks 5 base
    * rounds; this walks 2 descent + `baseRounds` base, each descent
    * round touching a 16×/4×-smaller graph). Recall is floor-gated in
    * [[recallAudit]]'s hnsw arm.
    *
    * Scale shape: identical per-round joins to [[topKGraphBeam]] (the
    * schedule just swaps adjacency frame + beam width per round); the
    * upper-layer graphs are geometrically smaller, so the added build
    * and walk cost is a constant factor on the base's. Determinism:
    * same hash-order entries, 6-dp cosine, vec_id ties — the oracle
    * unrolls the whole schedule. */
  def topKHnsw(vectors: DataFrame, queryPred: Column, k: Int,
               edges: DataFrame, beam: Int, baseRounds: Int,
               entries: Int, layerDeg: Int,
               tables: Seq[Seq[Seq[Double]]],
               descentBeam: Int = 4, salt: String = "hnsw"): DataFrame = {
    require(baseRounds >= 1 && beam >= 1 && entries >= 1 &&
      descentBeam >= 1, "bad topKHnsw params")
    val v = withNorm(vectors.select(col("vec_id"), col("embedding")),
        "embedding", "vn")
      .repartition(col("vec_id"))
      .localCheckpoint()
    val queries = v.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("vn").as("qn"))
    def symm(e: DataFrame): DataFrame = {
      val dir = e.select(col("query_id").as("u"), col("neighbor_id").as("v"))
        .localCheckpoint()
      dir.unionAll(dir.select(col("v").as("u"), col("u").as("v")))
        .distinct()
        .repartition(col("u"))
        .localCheckpoint()
    }
    val adj0 = symm(edges)
    // Per-layer k-NN graphs over the level subsets (NOT induced
    // subgraphs of the base graph — an induced expander subset loses
    // navigability; the per-subset build is what HNSW's insert
    // produces).
    // Layer graphs ride the same artifact cache as the base k-NN
    // table (built once per corpus snapshot, scanned by later
    // queries); the variant tag keeps the level subsets from
    // colliding with the base entry on the shared input files.
    val adjL = (1 to 2).map { l =>
      symm(knnEdgesCached(vectors.filter(hnswLvlCond(l)),
        layerDeg, tables, variant = s"hnswL$l"))
    }
    // Entry points: highest level first (HNSW enters at the top), then
    // hash order — the level-DESC sort BACKFILLS from lower layers when
    // the top layer holds fewer than `entries` nodes (a tiny corpus
    // can't strand the search on an empty entry set).
    val ent = v
      .withColumn("lv", when(hnswLvlCond(2), 2)
        .when(hnswLvlCond(1), 1).otherwise(0))
      .withColumn("h", graft.ops.TextOps.hash64(
        concat(lit(salt), col("vec_id").cast("string"))))
      .orderBy(col("lv").desc, col("h"), col("vec_id")).limit(entries)
      .select(col("vec_id"))
    def score(cand: DataFrame): DataFrame =
      cand.join(v, "vec_id")
        .join(broadcast(queries), "query_id")
        .withColumn("score",
          round(expr("array_dot(q, embedding)") / (col("qn") * col("vn")), 6))
        .select(col("query_id"), col("vec_id"), col("score"))
    def topBeam(scored: DataFrame, w0: Int): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= w0)
        .select(col("query_id"), col("vec_id"))
    }
    def scrub(df: DataFrame): DataFrame =
      df.select(df.columns.map(c => col(c).as(c)).toIndexedSeq: _*)
    // Schedule: top layer down (descent rounds), then the base rounds.
    // The LAST descent round runs at 2x the descent beam (round-11):
    // it hands the entry set to the base walk, and a wider handoff
    // recovers the recall the shortened base schedule gives up on
    // larger corpora (sf0.1: 0.88 -> measured >= 0.9) for one extra
    // layer-graph expansion of bounded width.
    val schedule: Seq[(DataFrame, Int)] =
      Seq((adjL(1), descentBeam), (adjL(0), descentBeam * 2)) ++
        Seq.fill(baseRounds)((adj0, beam))
    var layers = List(score(
        queries.select(col("query_id")).crossJoin(broadcast(ent)))
      .localCheckpoint())
    for ((adjR, w0) <- schedule) {
      val frontier = topBeam(layers.head, w0)
      val visited = layers.map(l =>
          scrub(l.select(col("query_id"), col("vec_id"))))
        .reduce(_ unionAll _)
      val cand = frontier.as("f").join(adjR.as("a"),
          col("f.vec_id") === col("a.u"))
        .select(col("f.query_id").as("query_id"), col("a.v").as("vec_id"))
        .distinct()
      val fresh = cand.join(visited, Seq("query_id", "vec_id"), "left_anti")
      layers = score(fresh).localCheckpoint() :: layers
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    // Final rank plans directly over the scrubbed union (no RDD
    // round-trip) — see the topKGraphBeam note.
    scrub(layers.map(scrub).reduce(_ unionAll _))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        quant4(col("score")).as("cosine"))
  }

  /** Oracle twin of [[topKHnsw]]: level-subset k-NN CTEs, the same
    * hash entries, and the full descent+base schedule unrolled as
    * MATERIALIZED CTEs (the [[topKGraphBeamSql]] pattern with a
    * per-round adjacency and beam width). */
  def topKHnswSql(table: String, queryPredSql: String, k: Int,
                  knnK: Int, tables: Seq[Seq[Seq[Double]]],
                  beam: Int, baseRounds: Int, entries: Int,
                  layerDeg: Int, descentBeam: Int = 4,
                  salt: String = "hnsw"): String = {
    val sb = new StringBuilder
    def symmCte(name: String, src: String): String =
      s"""$name AS MATERIALIZED (SELECT DISTINCT u, v FROM (
          SELECT query_id AS u, neighbor_id AS v FROM $src
          UNION ALL
          SELECT neighbor_id AS u, query_id AS v FROM $src) s)"""
    sb.append(s"""WITH er AS MATERIALIZED (
          SELECT query_id, neighbor_id
          FROM (${topKLshMultiSql(table, "TRUE", knnK, tables)}) e0),
        ${symmCte("adj0", "er")},
        er1 AS MATERIALIZED (SELECT query_id, neighbor_id
          FROM (${topKLshMultiSql(
            s"(SELECT * FROM $table WHERE ${hnswLvlCondSql(1)})",
            "TRUE", layerDeg, tables)}) e1),
        ${symmCte("adj1", "er1")},
        er2 AS MATERIALIZED (SELECT query_id, neighbor_id
          FROM (${topKLshMultiSql(
            s"(SELECT * FROM $table WHERE ${hnswLvlCondSql(2)})",
            "TRUE", layerDeg, tables)}) e2),
        ${symmCte("adj2", "er2")},
        vv AS MATERIALIZED (SELECT vec_id, embedding FROM $table),
        qq AS MATERIALIZED (SELECT vec_id AS query_id, embedding AS q
          FROM vv WHERE $queryPredSql),
        ent AS MATERIALIZED (SELECT vec_id FROM vv
          ORDER BY (CASE WHEN ${hnswLvlCondSql(2)} THEN 2
                    WHEN ${hnswLvlCondSql(1)} THEN 1 ELSE 0 END) DESC,
            ${graft.ops.TextOps.hash64Sql(
            s"'$salt' || CAST(vec_id AS VARCHAR)")}, vec_id
          LIMIT $entries),
        vis0 AS MATERIALIZED (
          SELECT query_id, vv.vec_id,
                 round(${cosineSql("q", "embedding")}, 6) AS score
          FROM qq CROSS JOIN ent JOIN vv ON vv.vec_id = ent.vec_id)""")
    val schedule: Seq[(String, Int)] =
      Seq(("adj2", descentBeam), ("adj1", descentBeam * 2)) ++
        Seq.fill(baseRounds)(("adj0", beam))
    schedule.zipWithIndex.foreach { case ((adjName, w0), i) =>
      val r = i + 1
      sb.append(s""",
        fr${r - 1} AS MATERIALIZED (SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, vec_id) AS rk
          FROM ${if (r == 1) "vis0" else s"new${r - 1}"}) z
          WHERE rk <= $w0),
        cand$r AS (SELECT DISTINCT f.query_id, a.v AS vec_id
          FROM fr${r - 1} f JOIN $adjName a ON f.vec_id = a.u),
        new$r AS MATERIALIZED (
          SELECT c.query_id, c.vec_id,
                 round(${cosineSql("q", "embedding")}, 6) AS score
          FROM cand$r c JOIN vv ON vv.vec_id = c.vec_id
               JOIN qq ON qq.query_id = c.query_id
          WHERE NOT EXISTS (SELECT 1 FROM vis${r - 1} w
            WHERE w.query_id = c.query_id AND w.vec_id = c.vec_id)),
        vis$r AS MATERIALIZED (
          SELECT * FROM vis${r - 1} UNION ALL SELECT * FROM new$r)""")
    }
    val n = schedule.size
    sb.append(s"""
        SELECT query_id, rank, neighbor_id, cosine FROM (
          SELECT query_id, vec_id AS neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, vec_id) AS INT) AS rank,
                 ${quant4Sql("score")} AS cosine
          FROM vis$n WHERE vec_id <> query_id) z
        WHERE rank <= $k ORDER BY query_id, rank""")
    sb.toString
  }

  /** Recall@k regression gate for the two approximate indexes: joins each
    * approximate top-k to the brute-force exact top-k and emits per-method
    * (matched, total, recall, meets_floor). The oracle twin recomputes the
    * identical pipelines (both engines are bit-deterministic), so matched/
    * total/recall hash-match exactly; `meets_floor` is the actual gate —
    * the oracle asserts the CONSTANT true, so a future plane/centroid/knob
    * change that craters recall below the floor flips the Spark side to
    * false and turns the correctness entry red (the q_hll_approx pattern).
    */
  def recallAudit(vectors: DataFrame, queryPred: Column, k: Int,
                  tables: Seq[Seq[Seq[Double]]], c: Int, nprobe: Int,
                  pqM: Int, pqK: Int, dim: Int, pqShortlist: Int,
                  lshFloor: Double, ivfFloor: Double,
                  pqFloor: Double, ivfpqFloor: Double,
                  ivfTrainRounds: Int = 0,
                  graphParams: Option[(Int, Int, Int, Int, Double)] = None,
                  ivfpqShortlist: Int = 0,
                  hnswParams: Option[(Int, Int, Int, Int, Int, Double)] =
                    None,
                  bruteTag: String = "")
  : DataFrame = {
    val ivfpqSl = if (ivfpqShortlist > 0) ivfpqShortlist else pqShortlist
    // persist: all four method branches join against the same exact
    // top-k; without it the all-pairs brute scan re-executes per branch.
    // With a bruteTag + graft.knn.dir set, the reference arm rides the
    // materialized artifact shared with sim_topk_brute instead of
    // recomputing the O(q·n) scan per audit run.
    val bruteK = bruteTopKCached(vectors, queryPred, k, bruteTag)
      .select(col("query_id"), col("neighbor_id")).persist()
    // ONE coarse-cell build shared by the ivf and ivfpq arms: the
    // assignment/probe pipelines are value-identical across the two,
    // and the slim (vec_id, cell) / (query, cell) frames checkpoint
    // cheaply — without this each arm re-executes the full
    // normalize+assign map (measured in the round-9 audit profile).
    val vA = withNorm(vectors.select(col("vec_id"), col("embedding")),
      "embedding", "vn")
    val (a0, p0, cc0) =
      if (ivfTrainRounds > 0) trainedCells(vA, queryPred, c, nprobe,
        ivfTrainRounds, dim, "ivfkm")
      else sampledCells(vA, queryPred, c, nprobe, "ivf")
    val cellsShared = Some((a0.localCheckpoint(), p0.localCheckpoint(), cc0))
    // broadcast: each approx arm's OUTPUT is top-k-bounded (≤ k rows per
    // query), so the audit join never needs the SortMergeJoin the planner
    // picked (each branch re-sorted + re-exchanged the persisted brute
    // relation — 4 Exchanges + 2 Sorts per method, r14 verdict #2/§3.1).
    // Size limit: the broadcast side is nQueries × k (query_id,
    // neighbor_id) pairs, 16 bytes each — 10 × K for the one caller
    // (sim_recall_audit audits vec_id < 10). The hint holds only for an
    // audit-sized query set; a queryPred that selects a corpus-scale set
    // must drop it and let the planner sort-merge.
    def one(name: String, approx: DataFrame, floor: Double): DataFrame =
      bruteK.join(
          broadcast(approx.select(col("query_id"), col("neighbor_id"))
            .withColumn("hit", lit(1))),
          Seq("query_id", "neighbor_id"), "left")
        .agg(count(col("hit")).as("matched"), count(lit(1)).as("total"))
        // quant4, not round(x,4): matched/total ratios land on 4-dp half
        // boundaries easily (7/160 = 0.04375) and round() diverges
        // between engines there.
        .withColumn("recall",
          quant4(col("matched").cast("double") / col("total").cast("double")))
        .select(lit(name).as("method"), col("matched"), col("total"),
          col("recall"), (col("recall") >= floor).as("meets_floor"))
    val base = one("ivf", topKIvf(vectors, queryPred, k, c, nprobe,
        trainRounds = ivfTrainRounds, dim = dim,
        cellsPre = cellsShared), ivfFloor)
      .union(one("lsh", topKLshMulti(vectors, queryPred, k, tables), lshFloor))
      .union(one("pq",
        topKPqAdc(vectors, queryPred, k, pqM, pqK, dim, pqShortlist), pqFloor))
      .union(one("ivfpq",
        topKIvfPq(vectors, queryPred, k, c, nprobe, pqM, pqK, dim,
          ivfpqSl, trainRounds = ivfTrainRounds,
          cellsPre = cellsShared), ivfpqFloor))
    val withGraph = graphParams.fold(base) {
      case (knnK, beam, rounds, entries, floor) =>
        base.union(one("graph",
          topKGraphBeam(vectors, queryPred, k,
            knnEdgesCached(vectors, knnK, tables), beam, rounds, entries),
          floor))
    }
    hnswParams.fold(withGraph) {
      case (knnK, beam, baseRounds, entries, layerDeg, floor) =>
        withGraph.union(one("hnsw",
          topKHnsw(vectors, queryPred, k,
            knnEdgesCached(vectors, knnK, tables), beam, baseRounds,
            entries, layerDeg, tables),
          floor))
    }
  }

  def recallAuditSql(table: String, queryPredSql: String, k: Int,
                     tables: Seq[Seq[Seq[Double]]], c: Int, nprobe: Int,
                     pqM: Int, pqK: Int, dim: Int, pqShortlist: Int,
                     ivfTrainRounds: Int = 0,
                     graphParams: Option[(Int, Int, Int, Int)] = None,
                     ivfpqShortlist: Int = 0,
                     hnswParams: Option[(Int, Int, Int, Int, Int)] = None)
  : String = {
    val ivfpqSl = if (ivfpqShortlist > 0) ivfpqShortlist else pqShortlist
    val graphCte = graphParams.fold("") { case (knnK, beam, rounds, ent) =>
      s""",
        graphk AS (SELECT * FROM (${topKGraphBeamSql(table, queryPredSql,
          k, knnK, tables, beam, rounds, ent)}) tg)"""
    }
    val graphArm = if (graphParams.isEmpty) "" else
      s"""UNION ALL
          SELECT 'graph' AS method,
                 CAST(count(a.neighbor_id) AS BIGINT) AS matched,
                 CAST(count(*) AS BIGINT) AS total
          FROM brute b LEFT JOIN graphk a USING (query_id, neighbor_id)
          """
    val hnswCte = hnswParams.fold("") {
      case (knnK, beam, baseRounds, ent, layerDeg) =>
        s""",
        hnswk AS (SELECT * FROM (${topKHnswSql(table, queryPredSql,
          k, knnK, tables, beam, baseRounds, ent, layerDeg)}) th)"""
    }
    val hnswArm = if (hnswParams.isEmpty) "" else
      s"""UNION ALL
          SELECT 'hnsw' AS method,
                 CAST(count(a.neighbor_id) AS BIGINT) AS matched,
                 CAST(count(*) AS BIGINT) AS total
          FROM brute b LEFT JOIN hnswk a USING (query_id, neighbor_id)
          """
    s"""WITH brute AS (SELECT * FROM (${topKBruteForceSql(table, queryPredSql, k)}) tb),
        ivfk AS (SELECT * FROM (${topKIvfSql(table, queryPredSql, k, c, nprobe,
                  trainRounds = ivfTrainRounds, dim = dim)}) ti),
        lshk AS (SELECT * FROM (${topKLshMultiSql(table, queryPredSql, k, tables)}) tl),
        pqk AS (SELECT * FROM (${topKPqAdcSql(table, queryPredSql, k,
                  pqM, pqK, dim, pqShortlist)}) tp),
        ivfpqk AS (SELECT * FROM (${topKIvfPqSql(table, queryPredSql, k,
                  c, nprobe, pqM, pqK, dim, ivfpqSl,
                  trainRounds = ivfTrainRounds)}) tq)$graphCte$hnswCte,
        m AS (
          SELECT 'ivf' AS method,
                 CAST(count(a.neighbor_id) AS BIGINT) AS matched,
                 CAST(count(*) AS BIGINT) AS total
          FROM brute b LEFT JOIN ivfk a USING (query_id, neighbor_id)
          UNION ALL
          SELECT 'lsh' AS method,
                 CAST(count(a.neighbor_id) AS BIGINT) AS matched,
                 CAST(count(*) AS BIGINT) AS total
          FROM brute b LEFT JOIN lshk a USING (query_id, neighbor_id)
          UNION ALL
          SELECT 'pq' AS method,
                 CAST(count(a.neighbor_id) AS BIGINT) AS matched,
                 CAST(count(*) AS BIGINT) AS total
          FROM brute b LEFT JOIN pqk a USING (query_id, neighbor_id)
          UNION ALL
          SELECT 'ivfpq' AS method,
                 CAST(count(a.neighbor_id) AS BIGINT) AS matched,
                 CAST(count(*) AS BIGINT) AS total
          FROM brute b LEFT JOIN ivfpqk a USING (query_id, neighbor_id)
          $graphArm$hnswArm)
        SELECT method, matched, total,
               ${quant4Sql("CAST(matched AS DOUBLE) / CAST(total AS DOUBLE)")}
                 AS recall,
               TRUE AS meets_floor
        FROM m ORDER BY method"""
  }

  /** Lloyd's k-means over the embedding column — the trainer behind
    * [[topKIvf]]'s coarse quantizer (via [[kmeansCentroidsMicro]]) and
    * the semantic-clustering step (cluster-then-sample curation,
    * per-cluster dedup budgets) every large curation pipeline runs.
    *
    * Cross-engine exactness (no float accumulation anywhere):
    *  - Vectors quantize once to integer micro-units
    *    (floor(x·10⁶ + 0.5), the repo's engine-exact quantizer); every
    *    distance is then an exact BIGINT Σ(vᵢ−cᵢ)² (≤ 64·(2·10⁶)² ≈
    *    2.6·10¹⁴ — no wrap), compared exactly, tie-broken by lowest
    *    cluster id (first-minimum `array_position`).
    *  - Init = first k vectors in the engine-wide md5 hash order (the
    *    same deterministic-sample rule as IVF), so runs are reproducible
    *    on any partitioning.
    *  - The update step floors the per-dimension mean back to integer
    *    micro-units: component sums aggregate as DECIMAL(38,0) (Spark) /
    *    HUGEINT (DuckDB) — exact at any corpus size — and
    *    floor(s/n + 0.5) is a single correctly-rounded double division
    *    of exact integers, identical in both engines. An empty cluster
    *    keeps its previous centroid (the FAISS rule), on both sides.
    *
    * Scale shape (per round): assignment is a NARROW map — the k×dim
    * centroid table rides along as one array literal (a single codegen
    * reference, not a k·dim expression tree) and each row scores k HOF
    * distances in place; the update is ONE hash-agg shuffle of slim
    * (cluster, dim, partial-sum) rows — k·dim rows per partition after
    * map-side combine, corpus-size-free. Rounds iterate on the driver
    * holding only k·dim longs (the CC/BPE driver-iteration pattern).
    * Output is k summary rows: size, centroid checksums, inertia.
    */
  /** Engine-exact micro-unit quantization of the embedding column —
    * shared by [[kmeans]] and the trained-quantizer IVF paths. */
  private val microExpr =
    "transform(embedding, x -> " +
      "CAST(floor(CAST(x AS DOUBLE) * 1000000.0d + 0.5d) AS BIGINT))"

  /** Column form of [[microExpr]] for arbitrary (double-element) input. */
  private def microOf(vec: Column): Column =
    transform(vec, x =>
      floor(x.cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))

  /** L2-normalized double copy of the (float) embedding, zero-norm-safe —
    * the same construction [[topKPqAdc]]/[[topKIvfPq]] hash-verify
    * against DuckDB's `x / sqrt(list_dot_product(e, e))`. `normCol` must
    * already hold sqrt(v·v). */
  private def normalized(normCol: Column): Column =
    when(normCol === 0d, transform(col("embedding"), x => x.cast("double")))
      .otherwise(transform(col("embedding"), x => x.cast("double") / normCol))

  /** (vec_id, vm) in micro-units, raw or L2-normalized first. Cosine-
    * metric consumers (the trained IVF quantizer) normalize so integer
    * L2 cell choice tracks cosine neighborhoods (the FAISS normalize-
    * then-METRIC_L2 recipe); [[kmeans]] clusters raw vectors. */
  private def microVectors(vectors: DataFrame,
                           normalize: Boolean): DataFrame =
    if (normalize) {
      withNorm(vectors.select(col("vec_id"), col("embedding")),
        "embedding", "__n")
        .select(col("vec_id"), microOf(normalized(col("__n"))).as("vm"))
    } else vectors.select(col("vec_id"), expr(microExpr).as("vm"))

  /** Assignment of micro-unit vectors against a fixed centroid set:
    * exact integer Σ(vᵢ−cᵢ)² distances, first-minimum (= lowest cluster
    * id) tie-break. A NARROW map — the k×dim centroid table rides along
    * as one array literal; nothing shuffles. The distance array comes
    * from the native [[graft.catalyst.CellDists]] loop: the old
    * transform→aggregate(zip_with) tree paid k·dim boxed lambda steps
    * per row, and lambda-body column inlining re-evaluated the whole
    * upstream normalize→micro chain once PER CELL (see CellDists). */
  private def assignedToCells(micro: DataFrame,
                              cents: Seq[Seq[Long]]): DataFrame =
    micro
      .withColumn("dists",
        call_function("cell_dists", col("vm"), typedLit(cents)))
      .withColumn("cl",
        array_position(col("dists"), array_min(col("dists"))).cast("int"))
      .withColumn("d", array_min(col("dists")))

  /** The Lloyd trainer behind [[kmeans]], exposed so [[topKIvf]] /
    * [[topKIvfPq]] can run a TRAINED coarse quantizer: k hash-seeded
    * centroids refined for `rounds` exact-integer rounds. Driver holds
    * only k·dim longs between rounds. */
  def kmeansCentroidsMicro(vectors: DataFrame, k: Int, rounds: Int,
                           dim: Int, salt: String = "km",
                           normalize: Boolean = false,
                           trainCap: Int = 0): Seq[Seq[Long]] = {
    // With trainCap > 0, Lloyd rounds run on the first `trainCap`
    // vectors in the engine-wide hash order (the FAISS train-on-a-
    // sample rule — ~256 vectors/centroid suffice; training cost stops
    // scaling with the corpus). The init seed is the first k of the
    // SAME ordered prefix, so capped and uncapped runs share their
    // seed. Persisted across rounds: each Lloyd step re-reads the
    // k·trainCap sample, never the corpus.
    val microAll = microVectors(vectors, normalize)
      .withColumn("h", graft.ops.TextOps.hash64(
        concat(lit(salt), col("vec_id").cast("string"))))
    val micro =
      (if (trainCap > 0)
        microAll.orderBy(col("h"), col("vec_id")).limit(trainCap)
          .select(col("vec_id"), col("vm"), col("h"))
      else microAll).persist()
    val init: Seq[Seq[Long]] = micro
      .orderBy(col("h"), col("vec_id")).limit(k) // TakeOrderedAndProject
      .select(col("vm")).collect().map(_.getSeq[Long](0).toIndexedSeq).toSeq

    def step(cents: Seq[Seq[Long]]): Seq[Seq[Long]] = {
      val comps = assignedToCells(micro, cents)
        .select(col("cl"), posexplode(col("vm")).as(Seq("j", "v")))
        .groupBy(col("cl"), col("j"))
        .agg(sum(col("v").cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("n"))
        .select(col("cl"), col("j"),
          floor(col("s").cast("double") / col("n").cast("double") + lit(0.5))
            .cast("long").as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      cents.indices.map { i =>
        if (comps.contains((i + 1, 0)))
          (0 until dim).map(j => comps((i + 1, j)))
        else cents(i) // empty cluster: centroid carries forward
      }
    }
    try (1 to rounds).foldLeft(init)((c, _) => step(c))
    finally micro.unpersist()
  }

  def kmeans(vectors: DataFrame, k: Int, rounds: Int, dim: Int,
             salt: String = "km"): DataFrame = {
    val micro = vectors.select(col("vec_id"), expr(microExpr).as("vm"))
    def assigned(cents: Seq[Seq[Long]]): DataFrame =
      assignedToCells(micro, cents)

    val fin = kmeansCentroidsMicro(vectors, k, rounds, dim, salt)
    val centDf = vectors.sparkSession
      .createDataFrame(fin.zipWithIndex.map { case (c, i) =>
        (i + 1, c.sum, c.min, c.max)
      })
      .toDF("cl", "c_sum", "c_min", "c_max")
    assigned(fin)
      .groupBy(col("cl"))
      .agg(count(lit(1)).as("n"),
        quant4(sum(col("d").cast("decimal(38,0)")).cast("double") / lit(1e12))
          .as("inertia"))
      .join(broadcast(centDf), "cl")
      .select(col("cl").as("cluster"), col("n"),
        col("c_sum"), col("c_min"), col("c_max"), col("inertia"))
  }

  /** DuckDB twin: the identical rounds unrolled as chained CTEs —
    * cross-join assignment ranked by (exact distance, cluster id),
    * HUGEINT component sums, the same floor-mean and empty-cluster
    * carry-forward (LEFT JOIN + COALESCE against the previous round). */
  /** Per-centroid training-sample budget for the trained IVF coarse
    * quantizer (the FAISS rule of thumb): Lloyd rounds see at most
    * `IvfTrainCap · c` hash-ordered vectors, so training cost stops
    * scaling with the corpus while assignment stays full-corpus. */
  val IvfTrainCap = 256

  /** Session-lifetime memo of trained coarse quantizers, keyed by corpus
    * file set + knobs — see the note in [[trainedCells]]. */
  private val centroidMemo =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Long]]]

  /** The per-round assignment CTE `a{r}` of the unrolled Lloyd chain:
    * exact integer distances from `src` against `c{r-1}`, lowest-cluster
    * tie-break. Shared by [[kmeansSql]] and the trained-IVF oracles. */
  private def kmAssignCte(r: Int, dim: Int, src: String = "vmt"): String =
    s"""a$r AS (
          SELECT vec_id, vm, cl, d FROM (
            SELECT vec_id, vm, cl, d,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cl) AS rn
            FROM (SELECT v.vec_id, v.vm, c.cl,
                         list_sum(list_transform(range(1, ${dim + 1}),
                           j -> (v.vm[j] - c.c[j]) * (v.vm[j] - c.c[j]))) AS d
                  FROM $src v CROSS JOIN c${r - 1} c))
          WHERE rn = 1)"""

  /** The per-round update CTE `c{r}`: HUGEINT component sums, floor-mean
    * back to micro-units, empty-cluster carry-forward. */
  private def kmUpdateCte(r: Int, dim: Int): String =
    s"""c$r AS (
          SELECT p.cl, COALESCE(u.c, p.c) AS c
          FROM c${r - 1} p LEFT JOIN (
            SELECT cl, list(cv ORDER BY j) AS c FROM (
              SELECT cl, s.j AS j,
                     CAST(floor(CAST(sum(vm[s.j]) AS DOUBLE) /
                                CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT)
                       AS cv
              FROM a$r CROSS JOIN
                   (SELECT unnest(range(1, ${dim + 1})) AS j) s
              GROUP BY cl, s.j)
            GROUP BY cl) u ON p.cl = u.cl)"""

  /** The unrolled-Lloyd CTE chain `vmt, c0, a1, c1, …, c{rounds}` (no
    * leading WITH) — identical micro-units, init, and rounds as
    * [[kmeansCentroidsMicro]]. The enclosing WITH must not already bind
    * `vmt`/`c*`/`a*`. */
  private def kmChainCtes(table: String, k: Int, rounds: Int, dim: Int,
                          salt: String, normalize: Boolean = false,
                          trainCap: Int = 0): String = {
    val trainSrc = if (trainCap > 0) "vtr" else "vmt"
    val roundCtes = (1 to rounds)
      .map(r => kmAssignCte(r, dim, trainSrc) + ",\n        " +
        kmUpdateCte(r, dim))
      .mkString(",\n        ")
    // Normalized variant mirrors the topKIvfPq `vn` CTE construction
    // (zero-norm-safe double normalize) before micro-quantization.
    val vmtSrc =
      if (normalize)
        s"""(SELECT vec_id,
               CASE WHEN sqrt(list_dot_product(e, e)) = 0 THEN e
               ELSE list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
               END AS ee
             FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM $table))"""
      else s"(SELECT vec_id, embedding::DOUBLE[] AS ee FROM $table)"
    // Training sample (trainCap > 0): first trainCap vectors in hash
    // order; the c0 seed is the first k of the SAME ordered prefix.
    val sampleCte =
      if (trainCap > 0)
        s""",
        vtr AS (SELECT vec_id, vm FROM
                  (SELECT vec_id, vm,
                          ${graft.ops.TextOps.hash64Sql(
                            s"'$salt' || CAST(vec_id AS VARCHAR)")} AS h
                   FROM vmt ORDER BY h, vec_id LIMIT $trainCap))"""
      else ""
    s"""vmt AS (
          SELECT vec_id,
                 list_transform(ee,
                   x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vm
          FROM $vmtSrc)$sampleCte,
        c0 AS (
          SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INT) AS cl,
                 vm AS c
          FROM (SELECT vec_id, vm,
                       ${graft.ops.TextOps.hash64Sql(
                         s"'$salt' || CAST(vec_id AS VARCHAR)")} AS h
                FROM $trainSrc ORDER BY h, vec_id LIMIT $k)),
        $roundCtes"""
  }

  /** Trained coarse-cell CTEs for the IVF oracles: the Lloyd chain plus
    * `assign` (corpus → cell) and `probes` (query → nprobe nearest
    * cells), both by exact integer L2 — the SQL twin of
    * [[trainedCells]]. Binds vmt, c0..cN, a1..aN, assign, probes. */
  private def trainedCellCtes(table: String, queryPredSql: String,
                              c: Int, nprobe: Int, trainRounds: Int,
                              dim: Int, saltKm: String): String = {
    val fr = trainRounds + 1
    s"""${kmChainCtes(table, c, trainRounds, dim, saltKm, normalize = true,
          trainCap = IvfTrainCap * c)},
        ${kmAssignCte(fr, dim, "vmt")},
        assign AS (SELECT vec_id, cl AS cell FROM a$fr),
        probes AS (
          SELECT query_id, cell FROM (
            SELECT v.vec_id AS query_id, c.cl AS cell,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     list_sum(list_transform(range(1, ${dim + 1}),
                       j -> (v.vm[j] - c.c[j]) * (v.vm[j] - c.c[j]))),
                     c.cl) AS pr
            FROM vmt v CROSS JOIN c$trainRounds c
            WHERE $queryPredSql) WHERE pr <= $nprobe)"""
  }

  /** Farthest-point traversal (Gonzalez k-center greedy, the classic
    * 2-approximation): seed = the lowest vec_id, then k−1 rounds each
    * adding the point MAXIMIZING its distance to the chosen set
    * (ties → lowest vec_id — a total order). This is the
    * diversity-first data-selection pass (coreset seeding, annotation
    * budgeting): the k picks cover the embedding space's extremes
    * rather than its density peaks. Distances are exact-integer
    * micro-unit squared L2 ([[kmeans]]'s quantization), so the pick
    * sequence is engine-portable with zero float compares.
    *
    * Scale shape: each round is one narrow map over the corpus against
    * a ≤k-entry broadcast literal (the chosen set), reduced by a
    * TakeOrdered(1) — no shuffle wider than a single-row reduce, k·dim
    * longs on the driver, identical to the Lloyd-round discipline. */
  def coresetFarthest(vectors: DataFrame, k: Int): DataFrame = {
    val spark = vectors.sparkSession
    val micro = vectors.select(col("vec_id"), expr(microExpr).as("vm"))
      .persist()
    try {
      val seed = micro.orderBy(col("vec_id")).limit(1)
        .select(col("vec_id"), col("vm")).collect()(0)
      var chosen = Vector[(Long, Seq[Long], Long)](
        (seed.getLong(0), seed.getSeq[Long](1).toIndexedSeq, 0L))
      var r = 2
      while (r <= k) {
        val far = assignedToCells(micro, chosen.map(_._2))
          .orderBy(col("d").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("vm"), col("d")).collect()(0)
        chosen = chosen :+
          ((far.getLong(0), far.getSeq[Long](1).toIndexedSeq, far.getLong(2)))
        r += 1
      }
      spark.createDataFrame(chosen.zipWithIndex.map {
        case ((id, _, d), i) => (i + 1, id, d)
      }).toDF("rank", "vec_id", "d2_micro")
    } finally { micro.unpersist(false); () }
  }

  /** Oracle twin of [[coresetFarthest]]: the identical greedy unrolled
    * as chained pick/set CTEs with the same integer distances and
    * (d DESC, vec_id) tie order. */
  def coresetFarthestSql(table: String, k: Int, dim: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH m AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(embedding::DOUBLE[],
                   x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vm
          FROM $table),
        p1 AS (SELECT vec_id, vm, CAST(0 AS BIGINT) AS d
               FROM m ORDER BY vec_id LIMIT 1),
        s1 AS (SELECT vec_id, vm FROM p1)""")
    for (r <- 2 to k) {
      sb.append(s""",
        p$r AS (SELECT vec_id, vm, d FROM (
            SELECT v.vec_id, v.vm,
                   min(list_sum(list_transform(range(1, ${dim + 1}),
                     j -> (v.vm[j] - c.vm[j]) * (v.vm[j] - c.vm[j])))) AS d
            FROM m v CROSS JOIN s${r - 1} c
            GROUP BY v.vec_id, v.vm)
          ORDER BY d DESC, vec_id LIMIT 1),
        s$r AS (SELECT vec_id, vm FROM s${r - 1}
                UNION ALL SELECT vec_id, vm FROM p$r)""")
    }
    sb.append((1 to k).map(r =>
        s"SELECT CAST($r AS INT) AS rank, vec_id, " +
          s"CAST(d AS BIGINT) AS d2_micro FROM p$r")
      .mkString("\n        ", "\n        UNION ALL ", "\n        ORDER BY rank"))
    sb.toString
  }

  /** Dominant principal component by power iteration over the corpus
    * Gram matrix — the whitening/projection axis a training-data
    * pipeline extracts before dimensionality reduction or deduplication
    * in a projected space. Exact-integer end to end: embeddings are
    * MILLI-quantized (so G = Σ v·vᵀ stays in 63 bits at any realistic
    * corpus: |v_milli| ≤ 2¹⁰ ⇒ G ≤ n·2²⁰), the iterate is renormalized
    * each round to max|component| = 10⁶ with SIGN-SPLIT division
    * (divide the absolute value, reapply the sign) so truncating Spark
    * and flooring DuckDB agree, and after `rounds` rounds the 64
    * components are published in micro-units.
    *
    * Scale shape: the Gram is ONE distributed pass — posexplode to
    * (i, vᵢ) then to (i, j, vᵢ·vⱼ), hash-agg to d² = 4096 cells with
    * map-side combine (the shuffle carries d² rows per partition, not
    * data). The iteration itself runs on the collected d×d matrix — a
    * bounded driver artifact exactly like the k-means centroids and PQ
    * codebooks. At 100 TB only the one Gram pass touches data.
    */
  def pcaPower(vectors: DataFrame, dim: Int, rounds: Int): DataFrame = {
    val spark = vectors.sparkSession
    val milli = vectors.select(col("vec_id"), expr(milliExpr).as("vm"))
    val gRows = milli
      .select(col("vm"), posexplode(col("vm")).as(Seq("i", "vi")))
      .select(col("i"), col("vi"), posexplode(col("vm")).as(Seq("j", "vj")))
      .groupBy(col("i"), col("j"))
      .agg(sum(expr("vi * vj")).as("g"))
      .collect()
    val g = Array.ofDim[Long](dim, dim)
    gRows.foreach(r => g(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    var x = Array.fill(dim)(1000000L)
    var r = 0
    while (r < rounds) {
      // Accumulate G·x in BigInt: Gram entries scale with corpus size
      // (|G| up to n·2²⁰) so the per-component sum can exceed Int64
      // for corpora beyond ~1.4e5 vectors; the oracle already runs
      // this product in HUGEINT, and a silent Long wrap here would
      // diverge engines exactly at the advertised scale.
      val y = Array.tabulate(dim) { i =>
        var acc = BigInt(0)
        var j = 0
        while (j < dim) { acc += BigInt(g(i)(j)) * x(j); j += 1 }
        acc
      }
      val m = y.map(_.abs).max
      if (m > 0)
        x = y.map(v =>
          if (v < 0) -((-v * 1000000) / m).toLong
          else ((v * 1000000) / m).toLong)
      r += 1
    }
    spark.createDataFrame(x.toIndexedSeq.zipWithIndex.map {
      case (c, i) => (i + 1, c)
    }).toDF("dim", "comp_micro")
  }

  /** Engine-exact MILLI quantization (PCA's Gram needs the smaller
    * radix to keep G·x inside 63 bits — see [[pcaPower]]). */
  private val milliExpr =
    "transform(embedding, x -> " +
      "CAST(floor(CAST(x AS DOUBLE) * 1000.0d + 0.5d) AS BIGINT))"

  /** Oracle twin of [[pcaPower]]: the identical Gram and the identical
    * sign-split renormalized rounds unrolled as chained CTEs. */
  def pcaPowerSql(table: String, dim: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH m AS MATERIALIZED (
          SELECT list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS vm
          FROM $table),
        e AS (SELECT vm, CAST(unnest(range(1, ${dim + 1})) AS INT) AS i
              FROM m),
        p AS (SELECT i, vm[i] AS vi,
                CAST(unnest(range(1, ${dim + 1})) AS INT) AS j, vm
              FROM e),
        g AS MATERIALIZED (SELECT i, j,
               CAST(sum(vi * vm[j]) AS BIGINT) AS g
             FROM p GROUP BY i, j),
        x0 AS (SELECT CAST(unnest(range(1, ${dim + 1})) AS INT) AS i,
                      CAST(1000000 AS BIGINT) AS x)""")
    for (r <- 1 to rounds) {
      sb.append(s""",
        y$r AS (SELECT g.i, CAST(sum(g.g * x.x) AS HUGEINT) AS y
                FROM g JOIN x${r - 1} x ON g.j = x.i GROUP BY g.i),
        n$r AS (SELECT max(abs(y)) AS mx FROM y$r),
        x$r AS (SELECT i, CAST(CASE WHEN y < 0
                  THEN -(((-y) * 1000000) // mx)
                  ELSE (y * 1000000) // mx END AS BIGINT) AS x
                FROM y$r, n$r)""")
    }
    sb.append(s"""
        SELECT i AS dim, x AS comp_micro FROM x$rounds ORDER BY dim""")
    sb.toString
  }

  def kmeansSql(table: String, k: Int, rounds: Int, dim: Int,
                salt: String = "km"): String = {
    val fr = rounds + 1
    s"""WITH ${kmChainCtes(table, k, rounds, dim, salt)},
        ${kmAssignCte(fr, dim)},
        stats AS (
          SELECT cl, CAST(count(*) AS BIGINT) AS n,
                 ${quant4Sql("CAST(sum(CAST(d AS HUGEINT)) AS DOUBLE) / 1e12")}
                   AS inertia
          FROM a$fr GROUP BY cl),
        csum AS (
          SELECT cl, CAST(list_sum(c) AS BIGINT) AS c_sum,
                 CAST(list_min(c) AS BIGINT) AS c_min,
                 CAST(list_max(c) AS BIGINT) AS c_max
          FROM c$rounds)
        SELECT CAST(s.cl AS INT) AS cluster, n, c_sum, c_min, c_max, inertia
        FROM stats s JOIN csum ON s.cl = csum.cl ORDER BY cluster"""
  }

  /** SQ8 (scalar-quantized int8) search — the memory-bandwidth scale path
    * between brute-force floats and PQ codes: the corpus is stored as one
    * signed byte per dimension plus one scale per vector (~65 bytes/row at
    * dim 64 vs 256 float bytes — a 4× scan-I/O cut with far better
    * fidelity than PQ's 16 bytes), the shortlist pass reads ONLY the
    * quantized codes, and the exact re-rank touches `shortlist` full
    * vectors per query. This is FAISS's `SQ8` flat index re-expressed
    * relationally.
    *
    * Recipe (applied to the L2-NORMALIZED vector, so the integer dot
    * approximates cosine directly): per vector `s = max|ne_i|/127`
    * (floor 1 when the vector is all-zero), `code_i = floor(ne_i/s + 0.5)`
    * ∈ [-127, 127] — [[quantizeInt8]]'s storage recipe, here actually
    * SEARCHED.
    *
    * Cross-engine exactness of the shortlist: the code arrays hold small
    * integers, so `array_dot` over them is EXACT in double (every partial
    * sum is an integer ≤ 64·127² ≈ 1.03e6 ≪ 2^53 — order-free), cast to
    * BIGINT; scales quantize once to integer micro-units (≤ 127·10⁶/127²
    * when |ne|max = 1, so the approx product idot·sa·sb ≤ 6.4e13 — no
    * 64-bit wrap). Ranking on (approx DESC, vec_id) is pure BIGINT
    * comparison; the re-rank emits the same engine-exact [[quant4]]
    * cosine as every other top-k method.
    *
    * Scale shape: the query side broadcasts (codes only); the corpus-side
    * scan moves no vector anywhere (narrow map + per-query top-shortlist);
    * the re-rank joins `shortlist`-row slices back to full vectors by id.
    */
  def topKInt8(vectors: DataFrame, queryPred: Column, topK: Int,
               shortlist: Int): DataFrame = {
    val vRaw = withNorm(vectors.select(col("vec_id"), col("embedding")),
      "embedding", "vn")
    val q8 = vRaw.select(col("vec_id"), normalized(col("vn")).as("ne"))
      .withColumn("s", expr("array_max(transform(ne, x -> abs(x)))") / 127d)
      .withColumn("s", when(col("s") === 0d, 1d).otherwise(col("s")))
      .withColumn("codes",
        expr("transform(ne, x -> CAST(floor(x / s + 0.5d) AS DOUBLE))"))
      .select(col("vec_id"), col("codes"),
        floor(col("s") * lit(1e6) + lit(0.5)).cast("long").as("s_micro"))
    val queries = q8.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"),
        col("s_micro").as("q_micro"))
    val short = q8.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("approx",
        expr("CAST(array_dot(qc, codes) AS BIGINT)") *
          col("q_micro") * col("s_micro"))
      .withColumn("sr", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("approx").desc, col("vec_id"))))
      .filter(col("sr") <= shortlist)
    val scored = short
      .join(vRaw.select(col("vec_id"), col("embedding").as("e"), col("vn")),
        "vec_id")
      .join(vRaw.filter(queryPred).select(col("vec_id").as("query_id"),
        col("embedding").as("q"), col("vn").as("qn")), "query_id")
      .withColumn("score",
        round(expr("array_dot(q, e)") / (col("qn") * col("vn")), 6))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        quant4(col("score")).as("cosine"))
  }

  def topKInt8Sql(table: String, queryPredSql: String, topK: Int,
                  shortlist: Int): String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM $table),
        vn AS (SELECT vec_id,
                 CASE WHEN sqrt(list_dot_product(e, e)) = 0 THEN e
                 ELSE list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
                 END AS ne
               FROM v),
        q8 AS (
          SELECT vec_id,
                 list_transform(ne, x -> CAST(floor(x / s + 0.5) AS DOUBLE))
                   AS codes,
                 CAST(floor(s * 1000000 + 0.5) AS BIGINT) AS s_micro
          FROM (SELECT vec_id, ne, CASE WHEN m = 0 THEN 1 ELSE m END AS s
                FROM (SELECT vec_id, ne,
                             list_max(list_transform(ne, x -> abs(x))) / 127
                               AS m
                      FROM vn))),
        qs AS (SELECT vec_id AS query_id, codes AS qc, s_micro AS q_micro
               FROM q8 WHERE $queryPredSql),
        short AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, c.vec_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY
                     CAST(list_dot_product(qc, c.codes) AS BIGINT)
                       * q_micro * c.s_micro DESC, c.vec_id) AS sr
            FROM q8 c CROSS JOIN qs WHERE c.vec_id <> query_id)
          WHERE sr <= $shortlist),
        scored AS (
          SELECT query_id, short.vec_id,
                 round(${cosineSql("q.embedding", "n.embedding")}, 6) AS score
          FROM short JOIN $table q ON q.vec_id = short.query_id
                     JOIN $table n ON n.vec_id = short.vec_id)
        SELECT query_id, rank, neighbor_id, cosine FROM (
          SELECT query_id, vec_id AS neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, vec_id) AS INT) AS rank,
                 ${quant4Sql("score")} AS cosine
          FROM scored)
        WHERE rank <= $topK ORDER BY query_id, rank"""

  /** Fixed ±1 Rademacher sign matrix (`p` rows × `dim` cols) for the
    * Johnson–Lindenstrauss random projection, derived from the shared
    * LCG so both engines embed the identical literal. Achlioptas (2003)
    * showed ±1 entries satisfy the JL distance-preservation guarantee —
    * no Gaussian sampling (and no libm) needed. */
  def jlSigns(p: Int, dim: Int, seed: Long = 11L): Seq[Seq[Long]] = {
    val it = Iterator.iterate(seed)(x =>
      (1103515245L * x + 12345L) % DedupOps.P).drop(1)
    Seq.fill(p)(Seq.fill(dim)(if (it.next() % 2 == 0) 1L else -1L))
  }

  /** Johnson–Lindenstrauss random projection distortion audit: project
    * micro-quantized embeddings through the fixed ±1 sign matrix
    * ([[jlSigns]]) to `p` dimensions and report, for every pair in the
    * (small, fixed) audit set, the projected vs original squared-L2
    * ratio in permille. For a Rademacher matrix E‖Rx‖² = p·‖x‖², so an
    * undistorted pair reads ~1000; JL says the spread tightens as p
    * grows — this is the observability a pipeline needs before it
    * swaps full embeddings for projected sketches in dedup/clustering.
    *
    * Exact-integer end to end: the pair DIFFERENCE is projected (one
    * signed sum per output dim — |Δproj_j| ≤ dim·2·10⁶ keeps every
    * square within BIGINT), squares summed per pair, and the permille
    * ratio taken with a DECIMAL(38,0)/HUGEINT product and floor
    * division on nonnegative values — identical in both engines.
    *
    * Scale shape: the projection itself is a NARROW map (the p×dim sign
    * matrix rides along as one literal — the k-means-centroid
    * discipline); only the audit's pair join touches a bounded slice
    * (`auditPred` rows, broadcast self-join). At 100 TB the projection
    * runs corpus-wide with zero shuffles; the distortion audit stays a
    * bounded probe. */
  def jlProjectionAudit(vectors: DataFrame, auditPred: Column,
                        p: Int, dim: Int): DataFrame = {
    val signs = jlSigns(p, dim)
    val vm = vectors.filter(auditPred)
      .select(col("vec_id"), expr(microExpr).as("vm"))
    val a = vm.toDF("vec_a", "va")
    val b = vm.toDF("vec_b", "vb")
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("dv", zip_with(col("va"), col("vb"), (x, y) => x - y))
      .withColumn("orig_d2",
        aggregate(col("dv"), lit(0L), (acc, x) => acc + x * x))
      .withColumn("proj_d2",
        aggregate(
          transform(typedLit(signs), row =>
            aggregate(zip_with(col("dv"), row, (x, s) => x * s),
              lit(0L), (acc, x) => acc + x)),
          lit(0L), (acc, y) => acc + y * y))
      .select(col("vec_a"), col("vec_b"), col("orig_d2"), col("proj_d2"),
        when(col("orig_d2") === 0L, lit(null).cast("long"))
          .otherwise(expr(
            s"CAST(CAST(proj_d2 AS DECIMAL(38,0)) * 1000 div " +
              s"(CAST($p AS DECIMAL(38,0)) * orig_d2) AS BIGINT)"))
          .as("ratio_permille"))
  }

  /** Oracle twin of [[jlProjectionAudit]]: identical sign literal,
    * difference projection, and HUGEINT floor-division ratio. */
  def jlProjectionAuditSql(table: String, auditPredSql: String,
                           p: Int, dim: Int): String = {
    val signs = jlSigns(p, dim)
    val lit = signs.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]") + "::BIGINT[][]"
    s"""WITH vm AS (
          SELECT vec_id, list_transform(embedding::DOUBLE[],
            x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS vm
          FROM $table WHERE $auditPredSql),
        pr AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            list_transform(range(1, $dim + 1),
              i -> a.vm[i] - b.vm[i]) AS dv
          FROM vm a JOIN vm b ON a.vec_id < b.vec_id),
        d AS (
          SELECT vec_a, vec_b,
            CAST(list_sum(list_transform(dv, x -> x * x)) AS BIGINT)
              AS orig_d2,
            CAST(list_sum(list_transform($lit,
              row -> CAST(list_sum(list_transform(range(1, $dim + 1),
                       i -> dv[i] * row[i])) AS BIGINT)
                     * CAST(list_sum(list_transform(range(1, $dim + 1),
                       i -> dv[i] * row[i])) AS BIGINT)))
              AS BIGINT) AS proj_d2
          FROM pr)
        SELECT vec_a, vec_b, orig_d2, proj_d2,
          CASE WHEN orig_d2 = 0 THEN NULL
               ELSE CAST((CAST(proj_d2 AS HUGEINT) * 1000) //
                         (CAST($p AS HUGEINT) * orig_d2) AS BIGINT)
          END AS ratio_permille
        FROM d ORDER BY vec_a, vec_b"""
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication
    * with the pairwise cosine comparison BOUNDED to k-means clusters —
    * the curation pass that removes "different words, same meaning"
    * redundancy exact/MinHash dedup cannot see.
    *
    * Pipeline: (1) cluster the corpus with the trained coarse quantizer
    * ([[kmeansCentroidsMicro]] on normalized vectors — shared memo with
    * the IVF family, exact-integer cell choice); (2) within each
    * cluster only, exact-cosine self-join; (3) a vector is DROPPED when
    * a lower-id cluster-mate scores ≥ threshold (the keep-min-id rule
    * every dedup operator here uses; the paper keeps the member least
    * similar to the centroid — any deterministic representative works,
    * min-id is engine-portable with zero float compares).
    *
    * Output: one row per dropped vector — (cell, dropped_id,
    * dup_of = lowest qualifying keeper, cosine = score against it).
    *
    * Scale shape (the paper's own argument, re-expressed relationally):
    * the cluster equi-join caps candidate pairs at Σ(nᵢ²) ≈ n²/c — with
    * c grown ∝ n (the paper uses 50k clusters for LAION-scale) the
    * per-cluster block stays constant-sized, training cost is capped by
    * [[IvfTrainCap]]·c samples, assignment is a narrow map, and the
    * only shuffles are the cell hash-partition + per-cell join. No
    * global pairwise pass exists at any size. Recall < 1 across cell
    * boundaries is inherent (same contract as IVF's unprobed cells). */
  def semDedup(vectors: DataFrame, threshold: Double, c: Int,
               trainRounds: Int, dim: Int,
               saltKm: String = "semkm"): DataFrame = {
    val v = withNorm(vectors.select(col("vec_id"), col("embedding")),
      "embedding", "vn")
    val (assign, _, _) =
      trainedCells(v, lit(false), c, 1, trainRounds, dim, saltKm)
    val wc = v.join(assign, "vec_id")
    val pairs = wc.as("a").join(wc.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cell").as("cell"),
        col("a.vec_id").as("keep"), col("b.vec_id").as("dropped"),
        round(expr("array_dot(a.embedding, b.embedding)") /
          (col("a.vn") * col("b.vn")), 6).as("score"))
      .filter(col("score") >= threshold)
    pairs.groupBy(col("cell"), col("dropped").as("dropped_id"))
      .agg(min(col("keep")).as("dup_of"),
        quant4(min_by(col("score"), col("keep"))).as("cosine"))
  }

  /** Oracle twin of [[semDedup]]: the Lloyd chain + assignment CTEs the
    * IVF oracles use, then the identical within-cell join and
    * keep-min-id aggregation. */
  def semDedupSql(table: String, threshold: Double, c: Int,
                  trainRounds: Int, dim: Int,
                  saltKm: String = "semkm"): String = {
    val fr = trainRounds + 1
    s"""WITH ${kmChainCtes(table, c, trainRounds, dim, saltKm,
          normalize = true, trainCap = IvfTrainCap * c)},
        ${kmAssignCte(fr, dim, "vmt")},
        assign AS (SELECT vec_id, cl AS cell FROM a$fr),
        wc AS (SELECT s.cell, v.vec_id, v.embedding
               FROM assign s JOIN $table v USING (vec_id)),
        pairs AS (
          SELECT cell, keep, dropped, score FROM (
            SELECT a.cell, a.vec_id AS keep, b.vec_id AS dropped,
                   round(${cosineSql("a.embedding", "b.embedding")}, 6)
                     AS score
            FROM wc a JOIN wc b
              ON a.cell = b.cell AND a.vec_id < b.vec_id)
          WHERE score >= $threshold)
        SELECT cell, dropped AS dropped_id, min(keep) AS dup_of,
               ${quant4Sql("min_by(score, keep)")} AS cosine
        FROM pairs GROUP BY cell, dropped
        ORDER BY cell, dropped_id"""
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) — the diversity-aware final stage every retrieval
    * stack runs after top-k: greedily pick
    * argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) at λ = ½, so an
    * exact duplicate of an already-picked result scores ~0 while a
    * moderately-relevant but DIFFERENT result wins (the near-dup
    * collapse that plain top-k can't avoid). Candidates come from the
    * existing brute top-`nCand` arm (at scale: any ANN arm — the
    * rerank only ever sees the bounded candidate list); relevance and
    * pairwise sims are the same round-6-then-quant4 cosine the brute
    * gate pins, and the greedy argmax ties break (score desc, vec_id),
    * so both engines select the identical sequence.
    *
    * Scale shape: everything after candidate generation is O(nCand²)
    * on a bounded table — the candidate list (≤ nCand rows) and its
    * pairwise sim table (≤ nCand² rows) collect once and the `k`
    * greedy rounds run as a driver fold over those arrays (the
    * bounded-artifact discipline of the k-means codebooks); Spark
    * computes every cosine, the driver only replays the argmax — no
    * corpus scan, join, or per-round job anywhere in the rounds. */
  def mmrRerank(vectors: DataFrame, queryId: Long, nCand: Int = 20,
                k: Int = 5): DataFrame = {
    // nCand is also the DRIVER-memory envelope: the greedy fold collects
    // ≤ nCand candidate rows plus the ≤ nCand² pairwise sim table (the
    // bounded-collect class every other driver probe in ops/ is held
    // to). 1024 caps the pair table at ~1M slim rows (~tens of MB) —
    // rerank pools beyond that belong in a distributed rerank, not here.
    require(nCand >= k && k >= 1 && nCand <= 1024,
      s"mmrRerank bad params ($nCand, $k): need k >= 1, k <= nCand <= 1024")
    val spark = vectors.sparkSession
    // Candidate list and pairwise sims are BOUNDED by construction
    // (≤ nCand and ≤ nCand² rows — the ≤k-rows driver-probe class every
    // other bounded collect in ops/ is held to), so the greedy argmax
    // rounds run as a driver fold over the collected arrays instead of
    // k rounds of plan composition. The old shape unioned k limit-1
    // subplans, and without per-round materialization round j re-embedded
    // the FULL lineage of rounds 1..j-1 — the unrolled plan carried 160
    // exchanges for 20 candidate rows (plans/r14/sim_mmr_rerank_before
    // .txt); with per-round localCheckpoints it still paid ~2k tiny jobs
    // whose cost tracked session block-manager pressure, not the data.
    // Scores are bit-identical: rel/sim come back as the same quant4'd
    // doubles the old plan compared, ·0.5 halves exponents exactly, and
    // quant4 (floor(x·10⁴ + 0.5)/10⁴ over IEEE doubles) replays the
    // Catalyst expression verbatim.
    val candRows = topKBruteForce(vectors, col("vec_id") === queryId, nCand)
      .select(col("neighbor_id").as("vec_id"), col("cosine").as("rel"))
      .orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val candIds = candRows.map(_._1)
    val cv = withNorm(
        vectors.select(col("vec_id"), col("embedding"))
          .filter(col("vec_id").isin(candIds: _*)),
        "embedding", "nn")
    val simRows = cv.select(col("vec_id").as("ca"), col("embedding").as("ea"),
        col("nn").as("na"))
      .crossJoin(broadcast(cv.select(col("vec_id").as("cb"),
        col("embedding").as("eb"), col("nn").as("nb"))))
      .filter(col("ca") =!= col("cb"))
      .select(col("ca"), col("cb"),
        quant4(round(expr("array_dot(ea, eb)") / (col("na") * col("nb")),
          6)).as("sim"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    def q4(x: Double): Double =
      if (x.isNaN || x.isInfinite) x else math.floor(x * 1e4 + 0.5) / 1e4
    // argmax by (score desc, vec_id asc) under SPARK's ordering: NaN
    // sorts GREATEST (java.lang.Double.compare), so a NaN score (a
    // zero-norm embedding's cosine) wins the round exactly as the old
    // orderBy(score.desc) plan and the oracle twin rank it — tuple-key
    // negation ((-s, id)) would have sorted NaN LAST instead.
    def pick(scored: Seq[(Long, Double, Double)]): (Long, Double, Double) =
      scored.reduceLeft { (a, b) =>
        val c = java.lang.Double.compare(a._3, b._3)
        if (c > 0 || (c == 0 && a._1 <= b._1)) a else b
      }
    val sel = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Long, Double, Double)]
    // Degenerate pools (queryId absent, corpus smaller than k) yield
    // FEWER than k rows, matching the old unrolled-union plan and the
    // SQL twin — the fold must not crash on an empty round.
    if (candRows.nonEmpty) {
      val first = pick(candRows.toSeq.map { case (id, rel) =>
        (id, rel, q4(rel * 0.5)) })
      sel += ((first._1, 1L, first._2, first._3))
      var j = 2
      var exhausted = false
      while (j <= k && !exhausted) {
        val selIds = sel.map(_._1).toSet
        // inner-join semantics preserved: a candidate with no sims row to
        // the selected set is excluded from the round (cannot happen on a
        // complete pairwise table, but the fold must mirror the plan).
        val scored = candRows.toSeq.collect {
          case (id, rel) if !selIds(id) &&
              selIds.exists(s => simRows.contains((id, s))) =>
            val msim = selIds.flatMap(s => simRows.get((id, s))).max
            (id, rel, q4(rel * 0.5 - msim * 0.5))
        }
        if (scored.isEmpty) exhausted = true
        else {
          val (id, rel, score) = pick(scored)
          sel += ((id, j.toLong, rel, score))
          j += 1
        }
      }
    }
    spark.createDataFrame(sel.toSeq)
      .toDF("vec_id", "pick_order", "rel", "mmr_score")
  }

  /** Oracle twin of [[mmrRerank]]: the greedy rounds replay as unrolled
    * CTEs (the pageRank pattern), identical cosine/round/quant4 chain
    * and tie order. */
  def mmrRerankSql(table: String, queryId: Long, nCand: Int = 20,
                   k: Int = 5): String = {
    val rounds = (2 to k).map { j =>
      s"""s$j AS (SELECT c.vec_id, CAST($j AS BIGINT) AS pick_order, c.rel,
            ${quant4Sql("c.rel * 0.5 - max(s.sim) * 0.5")} AS mmr_score
          FROM cand c JOIN sims s ON s.ca = c.vec_id
            AND s.cb IN (SELECT vec_id FROM sel${j - 1})
          WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${j - 1})
          GROUP BY c.vec_id, c.rel
          ORDER BY mmr_score DESC, c.vec_id LIMIT 1),
        sel$j AS (SELECT * FROM sel${j - 1} UNION ALL SELECT * FROM s$j)"""
    }
    s"""WITH cand AS (SELECT neighbor_id AS vec_id, cosine AS rel
          FROM (${topKBruteForceSql(table, s"vec_id = $queryId", nCand)})),
        cv AS (SELECT e.vec_id, e.embedding
          FROM $table e JOIN cand USING (vec_id)),
        sims AS (SELECT a.vec_id AS ca, b.vec_id AS cb,
            ${quant4Sql(
              s"round(${cosineSql("a.embedding", "b.embedding")}, 6)")}
              AS sim
          FROM cv a JOIN cv b ON a.vec_id <> b.vec_id),
        s1 AS (SELECT vec_id, CAST(1 AS BIGINT) AS pick_order, rel,
            ${quant4Sql("rel * 0.5")} AS mmr_score
          FROM cand ORDER BY mmr_score DESC, vec_id LIMIT 1),
        sel1 AS (SELECT * FROM s1),
        ${rounds.mkString(",\n        ")}
        SELECT vec_id, pick_order, rel, mmr_score FROM sel$k
        ORDER BY pick_order"""
  }
}
