package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline surface: exact
  * (hash-groupBy), exact n-gram Jaccard (inverted-index self-join), and
  * MinHash+LSH (signature → band buckets → candidate join → exact verify).
  *
  * Scale design:
  *  - The exact-Jaccard pairing never materializes the O(n²) cross product:
  *    docs are exploded to (shingle_hash, doc), grouped by the 64-bit hash
  *    into bounded per-shingle doc sets, and pairs are generated inside
  *    each group — only pairs sharing ≥1 shingle exist. At 100 TB the hot
  *    shingles are the skew risk; the `maxShingleFreq` guard saturates
  *    their collection at the cap and drops them (stopword-shingles carry
  *    no dedup signal but quadratic pair fan-out).
  *  - MinHash+LSH replaces the shingle join with a band-bucket join whose
  *    key count per doc is `bands`, independent of document length —
  *    the 100 TB path. Candidates are then verified exactly.
  *
  * All hash constants live here and feed both the Spark plan and the
  * DuckDB oracle SQL so the two sides cannot drift.
  */
object DedupOps {

  /** Mersenne prime 2^31-1: minhash permutation modulus. a*x+b stays
    * < 2^62 for x < p, so 64-bit arithmetic never overflows. */
  val P: Long = 2147483647L

  /** Deterministic LCG (glibc constants) over 31-bit state, used only to
    * derive the published (a_i, b_i) permutation constants. */
  private def lcgStream(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(x => (1103515245L * x + 12345L) % P).drop(1)

  /** k (a, b) pairs for h_i(x) = (a_i * (x mod p) + b_i) mod p. */
  def minhashCoeffs(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val it = lcgStream(seed)
    Seq.fill(k)((it.next() % (P - 1) + 1, it.next()))
  }

  /** Exact dedup: group identical payloads by stable hash, keep the
    * smallest id. One shuffle on the 60-bit hash; map-side partial
    * aggregation makes the shuffle O(distinct docs). */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-source dedup attribution — the curation report every corpus
    * owner asks for after [[exactDedup]]: for each source, how many docs
    * it contributed, how many survive (they ARE the min-id keeper), how
    * many were dropped, and how many of those losses went to a keeper in
    * a DIFFERENT source (cross-source duplication, the licensing /
    * provenance signal — intra-source boilerplate and cross-source
    * scraping are different problems).
    *
    * Scale shape: the dedup hash-agg (O(distinct texts) shuffle) keeps
    * (text_hash, keep_id, keep_source); docs re-join it by text_hash —
    * ONE equi-join of slim (hash, source, id) rows, then a per-source
    * roll-up. No self-join of the corpus, no array/text columns in any
    * shuffle (the md5 is computed in codegen on both sides of the
    * equi-join rather than shipping text). */
  def dedupAttribution(docs: DataFrame, textCol: String, idCol: String,
                       srcCol: String): DataFrame = {
    val slim = docs.select(md5(col(textCol)).as("text_hash"),
      col(idCol).as("id"), col(srcCol).as("source"))
    val keepers = slim.groupBy(col("text_hash"))
      .agg(min(col("id")).as("keep_id"),
        min_by(col("source"), col("id")).as("keep_source"))
    slim.join(keepers, "text_hash")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("id") === col("keep_id"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("id") =!= col("keep_id"), 1L).otherwise(0L))
          .as("n_dropped"),
        sum(when(col("id") =!= col("keep_id") &&
            col("source") =!= col("keep_source"), 1L).otherwise(0L))
          .as("n_lost_cross_source"))
  }

  def dedupAttributionSql(table: String, textCol: String, idCol: String,
                          srcCol: String): String =
    s"""WITH slim AS (
          SELECT md5($textCol) AS text_hash, $idCol AS id, $srcCol AS source
          FROM $table),
        keepers AS (
          SELECT text_hash,
                 min(id) AS keep_id,
                 min_by(source, id) AS keep_source
          FROM slim GROUP BY text_hash)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN id = keep_id THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               CAST(sum(CASE WHEN id <> keep_id THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dropped,
               CAST(sum(CASE WHEN id <> keep_id AND source <> keep_source
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_lost_cross_source
        FROM slim JOIN keepers USING (text_hash)
        GROUP BY source ORDER BY source"""

  /** (id, shingle_hashes array) — array form for candidate verification
    * and fingerprints; the bulk path is [[shingleInv]]. */
  def shingleSets(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .select(col(idCol).as("doc_id"),
        TextOps.shingleHashes("__toks").as("sh"))

  /** Exploded (doc_id, shingle_hash) inverted index, NOT distinct. The
    * md5 hash runs post-explode in whole-stage codegen (8× faster than
    * hashing inside the array lambda, measured), and no wide array rows
    * ever enter a shuffle — the 100 TB-correct bulk shape. */
  def shingleInv(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .select(col(idCol).as("doc_id"),
        explode(TextOps.shingleStrings("__toks")).as("__s"))
      .select(col("doc_id"), TextOps.hash64(col("__s")).as("h"))

  /** EXACT Jaccard-threshold set-similarity self-join via prefix
    * filtering (the AllPairs/PPJoin family — Bayardo et al., "Scaling Up
    * All Pairs Similarity Search", WWW'07; Chaudhuri et al.'s SSJoin
    * prefix filter) over each document's distinct 3-token SHINGLE set —
    * the certified-exact arm beside [[jaccardPairs]] (whose df-capped
    * universe drifts from true Jaccard the moment any natural shingle's
    * df exceeds the cap — documented there) and the probabilistic LSH
    * paths. Shingles, not word sets: over a small vocabulary word SETS
    * collapse (every doc looks like every other — measured 73k of 125k
    * possible pairs over 500 synthetic docs), while shingles keep
    * word-order structure and pairs sparse.
    *
    * The theorem that prunes: order each doc's shingles by (global df
    * asc, hash) — rarest first — and keep only the first n − ⌈t·n⌉ + 1
    * as its PREFIX. J(A,B) >= t implies |A∩B| >= t·|A| (from
    * c >= t(na+nb−c) and c <= nb), so a qualifying pair cannot have all
    * its common shingles inside A's excluded suffix of size ⌈t·na⌉ − 1 —
    * every qualifying pair shares a PREFIX shingle, and the candidate
    * join over the slim prefix index is complete. A length filter
    * (t·na <= nb and t·nb <= na, also implied by J >= t) prunes
    * size-mismatched pairs inside the same join.
    *
    * Everything is integer: prefix length and ceil via floor-division
    * identities, the threshold test as cross-multiplication
    * (c·(tNum+tDen) >= tNum·(na+nb) ⟺ J >= t), the score in permille —
    * hash-exact on both engines with zero float columns.
    *
    * Scale shape: shingle df (one hash-keyed agg), per-doc ordering (one
    * doc-keyed window over slim (doc, h, df) rows), candidate generation
    * over the PREFIX-ONLY inverted index — prefixes hold each doc's
    * RAREST shingles, so the per-shingle fan-out df² concentrates on
    * low-df shingles by construction (the structural opposite of the
    * hot-shingle risk the df cap exists for), then one pair-keyed count
    * for the exact verify. PPJoin's POSITIONAL upper-bound filter
    * (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW'08) prunes candidates before that verify join with
    * zero recall loss: both docs order shingles by the same global
    * (df, h) key, so at the pair's FIRST common shingle — positions
    * (pa, pb), nothing common before it — the overlap is at most
    * 1 + min(na − pa, nb − pb) (one for the match plus whatever follows
    * it in each set); pairs whose bound already misses the required
    * overlap c·(tNum+tDen) >= tNum·(na+nb) never reach the verify. The
    * dedup over prefix-join multi-matches becomes a min_by aggregate
    * (same shuffle as the old distinct, map-side combinable), so the
    * filter is free shuffle-wise and strictly shrinks the verify join. */
  def prefixFilterPairs(docs: DataFrame, textCol: String, idCol: String,
                        tNum: Long = 3, tDen: Long = 5): DataFrame = {
    // Materialize the distinct shingle index ONCE: five consumers read
    // it (df agg, size agg, the ordering window, both verify-join
    // sides) and without the checkpoint each one re-runs the tokenize +
    // explode + md5 + distinct pipeline — the most expensive scan in
    // the query — from the raw text.
    val toks = shingleInv(docs, textCol, idCol).distinct().localCheckpoint()
    val dfreq = toks.groupBy("h").agg(count(lit(1)).as("df"))
    val sized = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val ordered = toks.join(dfreq, "h")
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("df"), col("h"))))
      .join(sized, "doc_id")
    val prefix = ordered.filter(
      col("pos") <= col("n") -
        expr(s"($tNum * n + ${tDen - 1}) div $tDen") + 1)
      .select(col("doc_id"), col("h"), col("df"), col("pos"), col("n"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id") &&
        lit(tNum) * col("a.n") <= lit(tDen) * col("b.n") &&
        lit(tNum) * col("b.n") <= lit(tDen) * col("a.n"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"),
        col("a.df").as("df"), col("a.h").as("h"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      // One row per pair at its FIRST common prefix shingle in the
      // global (df, h) order — the occurrence where the positional
      // bound is valid (no common shingle precedes it).
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(min_by(struct(col("pa"), col("pb")),
        struct(col("df"), col("h"))).as("fp"))
      .filter((lit(1) +
        least(col("na") - col("fp.pa"), col("nb") - col("fp.pb"))) *
        lit(tNum + tDen) >= lit(tNum) * (col("na") + col("nb")))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"))
    cand
      .join(toks.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("h")),
        Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") * lit(tNum + tDen) >=
        lit(tNum) * (col("na") + col("nb")))
      .select(col("doc_a"), col("doc_b"), col("common"),
        expr("common * 1000 div (na + nb - common)").as("jaccard_permille"))
  }

  /** Oracle twin of [[prefixFilterPairs]] — identical shingle universe
    * ([[shingleSetsSql]], already distinct per doc), df ordering,
    * prefix/length pruning, and integer threshold algebra. */
  def prefixFilterPairsSql(table: String, textCol: String, idCol: String,
                           tNum: Long = 3, tDen: Long = 5): String =
    s"""WITH sets AS (${shingleSetsSql(table, textCol, idCol)}),
        toks AS (SELECT doc_id, unnest(sh) AS h FROM sets),
        dfq AS (SELECT h, CAST(count(*) AS BIGINT) AS df
                FROM toks GROUP BY h),
        sized AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                  FROM toks GROUP BY doc_id),
        ordered AS (SELECT t.doc_id, t.h, n,
            row_number() OVER (PARTITION BY t.doc_id
              ORDER BY df, t.h) AS pos
          FROM toks t JOIN dfq USING (h) JOIN sized USING (doc_id)),
        pre AS (SELECT doc_id, h, n FROM ordered
          WHERE pos <= n - (($tNum * n + ${tDen - 1}) // $tDen) + 1),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
            a.n AS na, b.n AS nb
          FROM pre a JOIN pre b ON a.h = b.h AND a.doc_id < b.doc_id
           AND $tNum * a.n <= $tDen * b.n AND $tNum * b.n <= $tDen * a.n),
        com AS (SELECT doc_a, doc_b, na, nb,
            CAST(count(*) AS BIGINT) AS common
          FROM cand JOIN toks ta ON ta.doc_id = cand.doc_a
            JOIN toks tb ON tb.doc_id = cand.doc_b AND tb.h = ta.h
          GROUP BY 1, 2, 3, 4)
        SELECT doc_a, doc_b, common,
          common * 1000 // (na + nb - common) AS jaccard_permille
        FROM com WHERE common * ${tNum + tDen} >= $tNum * (na + nb)
        ORDER BY doc_a, doc_b"""

  /** Default document-frequency cap for [[jaccardPairs]]: shingles shared
    * by more than this many documents are dropped from the shingle
    * universe. Near-dup trigrams cluster in small groups; a shingle in
    * hundreds of documents is corpus boilerplate with no pair signal but
    * O(df²) join fan-out. Shared with the oracle twin.
    *
    * SEMANTICS NOTE: with any cap in effect the returned scores are
    * capped-universe Jaccard — similarity over the shingles whose document
    * frequency is <= the cap — NOT exact Jaccard, the moment any natural
    * shingle's df exceeds the cap. Both the Spark plan and the oracle
    * apply the same cap, so the gate can't detect drift from true Jaccard
    * as a corpus grows: exactness-sensitive callers must pass an explicit
    * cap sized to their corpus (e.g. a small fraction of doc count;
    * Int.MaxValue disables the guard and restores exact Jaccard). */
  val MaxShingleFreq = 100

  /** Exact n-gram Jaccard near-dup pairs via inverted index:
    * explode → self-join on shingle hash → per-pair common count →
    * J = common / (|A| + |B| - common). Returns (doc_a, doc_b, jaccard)
    * for J >= threshold, doc_a < doc_b.
    *
    * Scale note: hot shingles (stopword n-grams) are the skew risk — the
    * `maxShingleFreq` document-frequency cap drops them from the universe
    * (both the pair fan-out AND the per-doc set sizes, so a planted hot
    * shingle neither blows up the pair count nor shifts Jaccard values).
    * The cap is enforced DURING aggregation by a saturating bounded-set
    * aggregate, so even a shingle shared by 10^8 documents costs O(cap)
    * buffer memory, and per-shingle pair generation is O(df²) with
    * df <= cap by construction.
    */
  def jaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                   threshold: Double,
                   maxShingleFreq: Int = MaxShingleFreq): DataFrame =
    pairStats(docs, textCol, idCol, maxShingleFreq)
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))

  /** Max-containment near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|) over
    * the same capped shingle universe as [[jaccardPairs]]. Containment
    * catches what Jaccard misses — a short document copied INSIDE a much
    * longer one scores C≈1 but J≈|A|/|B|≈0 — the sub-document/quote
    * duplication and benchmark-contamination case. Same single-shuffle
    * plan; only the scoring expression differs. */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
                       threshold: Double,
                       maxShingleFreq: Int = MaxShingleFreq): DataFrame =
    pairStats(docs, textCol, idCol, maxShingleFreq)
      .withColumn("containment",
        col("common").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 4).cast("decimal(18,4)").cast("double")
          .as("containment"))

  /** Shared pair-statistics core: (doc_a, doc_b, common, na, nb) for every
    * document pair sharing ≥1 shingle in the capped universe, where na/nb
    * are the documents' capped distinct-shingle counts.
    *
    * One groupBy(h) replaces the old distinct + df-cap groupBy +
    * semi-join + self-join: the per-shingle doc list IS the df cap's
    * count, the per-doc capped set size, and the pair source all at
    * once. Pair fan-out happens post-shuffle inside the bounded (≤cap)
    * group — O(df²) per shingle with df ≤ maxShingleFreq — and the old
    * self-join's recompute of the entire upstream scan disappears.
    * The set aggregate is [[graft.catalyst.BoundedCollectSet]], which
    * SATURATES at cap+1 distinct docs (NULL = dropped hot shingle): a
    * plain collect_set would build the full doc list for a 10^8-df
    * stop-word shingle before the size filter could discard it. Its
    * set semantics also absorb repeated (doc, shingle) rows, so no
    * pre-distinct pass is needed. Net: ONE shuffle of the inverted
    * index where the old shape had four (measured 3.9 → ~2 s at sf0.1).
    */
  private def pairStats(docs: DataFrame, textCol: String, idCol: String,
                        maxShingleFreq: Int): DataFrame = {
    val groupedRaw = shingleInv(docs, textCol, idCol)
      .groupBy("h")
      .agg(graft.catalyst.BoundedCollectSet(col("doc_id"), maxShingleFreq)
        .as("docs"))
      .filter(col("docs").isNotNull)
      .select(col("docs"))
    // `grouped` feeds THREE consumers (per-doc counts + the pair fan-out,
    // and counts is joined twice) and Spark does not reuse the exchange
    // across the branches, so the explode+hash+set-agg pipeline runs 3×.
    // With `graft.jaccard.checkpoint=true` the capped doc-set table is
    // materialized once instead — localCheckpoint, NOT persist, on
    // purpose: it is RDD-level, so it cannot leak into the CacheManager
    // and silently serve OTHER queries' identical subplans, and its
    // blocks are reclaimed by the ContextCleaner when the frame is GC'd.
    // Default OFF: at sf0.1 the checkpoint write costs what the two
    // saved recomputes cost (measured 2.1 → 2.3 s, a wash) because the
    // source parquet is small and compressed; at 100 TB the balance
    // flips — three scans of the corpus vs one write of the (far
    // smaller) capped-set table — so a cluster deployment turns this on
    // (with a reliable checkpoint dir: executor loss invalidates local
    // blocks — same trade as connectedComponents).
    val grouped =
      if (docs.sparkSession.conf.get("graft.jaccard.checkpoint", "false").toBoolean)
        groupedRaw.localCheckpoint()
      else groupedRaw
    val counts = grouped
      .select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = grouped
      .select(explode(col("docs")).as("doc_a"), col("docs"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
    // counts is one row per doc — auto-broadcast at test SF, shuffle join
    // beyond the threshold (a billion-doc counts dim must not broadcast).
    pairs
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
  }

  /** Benchmark-contamination report: for every training document, how many
    * of its distinct shingles also occur in the evaluation set (any eval
    * document), as a count and a fraction. The standard n-gram-overlap
    * decontamination check a training pipeline runs before shipping data.
    *
    * Scale shape: `evalPred` filters BEFORE the explode, so the eval
    * branch's scan reads only the (tiny) eval partition of the corpus and
    * its distinct shingle set broadcasts to the training side — the big
    * side is never shuffled for the membership test; one hash-agg per
    * train doc (with map-side combine) finishes the job. Output:
    * (doc_id, n_sh, n_shared, overlap) for contaminated docs only.
    */
  def contamination(docs: DataFrame, textCol: String, idCol: String,
                    evalPred: Column): DataFrame = {
    val evalSh = shingleInv(docs.filter(evalPred), textCol, idCol)
      .select("h").distinct().withColumn("__hit", lit(1))
    val train = shingleInv(docs.filter(!evalPred), textCol, idCol).distinct()
    train.join(broadcast(evalSh), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("__hit"), lit(0))).as("n_shared"))
      .filter(col("n_shared") > 0)
      .withColumn("overlap",
        round(col("n_shared").cast("double") / col("n_sh"), 4)
          .cast("decimal(18,4)").cast("double"))
  }

  /** Bloom-filter decontamination AUDIT: [[contamination]] with the exact
    * broadcast shingle SET replaced by a [[graft.catalyst.BloomSetAgg]]
    * bitset, PLUS the exact check kept alongside so the realized
    * false-positive behavior is gate-visible. Per training doc:
    * (n_sh, n_bloom = shingles the filter flags, n_shared = exact shared
    * count, no_false_neg = n_bloom >= n_shared — the Bloom guarantee).
    *
    * Scale shape: the eval side folds into ONE 8 KiB bitset row
    * (mergeable OR, map-side partials) that broadcasts regardless of the
    * eval shingle cardinality — the exact-set broadcast in
    * [[contamination]] grows with the eval suite; this does not. The
    * membership test is pure codegen bit arithmetic on the training side
    * (no UDF, no shuffle of the training shingles). A production
    * decontamination pass drops the exact-set join and keeps only the
    * Bloom arm; this audit form is what the oracle gates, and the oracle
    * replays the identical positions as a position-set membership test
    * (same LCG coefficients), so Spark's bitset semantics are pinned
    * bit-for-bit. */
  def contaminationBloomAudit(docs: DataFrame, textCol: String, idCol: String,
                              evalPred: Column): DataFrame = {
    import graft.catalyst.BloomSetAgg
    val evalSh = shingleInv(docs.filter(evalPred), textCol, idCol)
      .select("h").distinct()
    val bloom = evalSh.agg(expr("bloom_bits(h)").as("__bits"))
    val evalExact = evalSh.withColumn("__hit", lit(1))
    val train = shingleInv(docs.filter(!evalPred), textCol, idCol).distinct()
    train
      .crossJoin(broadcast(bloom))
      .join(broadcast(evalExact), Seq("h"), "left")
      .withColumn("__bloom", expr(BloomSetAgg.memberSql("h", "__bits")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("__bloom"), lit(1L)).otherwise(lit(0L))).as("n_bloom"),
        sum(coalesce(col("__hit"), lit(0))).as("n_shared"))
      .filter(col("n_bloom") > 0)
      .withColumn("no_false_neg", col("n_bloom") >= col("n_shared"))
  }

  /** Oracle twin of [[contaminationBloomAudit]]: membership replayed as a
    * position-SET test — `h` is flagged iff all K of its derived bit
    * positions appear in the eval side's position set, which is exactly
    * "all K bits set" in the bitset formulation. */
  def contaminationBloomAuditSql(table: String, textCol: String, idCol: String,
                                 evalPredSql: String): String = {
    import graft.catalyst.BloomSetAgg
    val pos = BloomSetAgg.positionSqls("h")
    val posList = pos.mkString("[", ", ", "]")
    val allIn = pos.map(p => s"($p) IN (SELECT pos FROM eval_pos)")
      .mkString("(", " AND ", ")")
    s"""WITH sets AS (${shingleSetsSql(table, textCol, idCol)}),
        inv AS (SELECT DISTINCT doc_id, h FROM
                  (SELECT doc_id, unnest(sh) AS h FROM sets)),
        eval_sh AS (SELECT DISTINCT h FROM inv WHERE $evalPredSql),
        eval_pos AS (SELECT DISTINCT unnest($posList) AS pos FROM eval_sh),
        flags AS (SELECT doc_id, h,
                         CASE WHEN $allIn THEN 1 ELSE 0 END AS bloom_hit,
                         CASE WHEN h IN (SELECT h FROM eval_sh)
                              THEN 1 ELSE 0 END AS hit
                  FROM inv WHERE NOT ($evalPredSql))
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
               CAST(sum(bloom_hit) AS BIGINT) AS n_bloom,
               CAST(sum(hit) AS BIGINT) AS n_shared,
               sum(bloom_hit) >= sum(hit) AS no_false_neg
        FROM flags GROUP BY doc_id HAVING sum(bloom_hit) > 0
        ORDER BY doc_id"""
  }

  /** Duplicate-SPAN length: token windows this long, at EVERY start
    * offset (stride 1), are the unit of exact-substring duplication
    * detection — the arbitrary-offset semantic of suffix-array training-
    * data dedup, which the fixed 16/8 chunk grid of `dedup_chunk_exact`
    * cannot see (a duplicated run straddling chunk boundaries hashes into
    * different chunks). Shared with the oracle twin. */
  val SpanLen = 8

  /** (doc_id, __toks) tokenization — the first stage every span
    * operator shares. */
  private def spanToks(docs: DataFrame, textCol: String,
                       idCol: String): DataFrame =
    docs.withColumn("__toks", TextOps.tokens(col(textCol)))
      .select(col(idCol).as("doc_id"), col("__toks"))

  /** (doc_id, pos, h) hashed window occurrences over a (doc_id, __toks)
    * frame — the shared grams stage of every span operator (codegen'd
    * window build, hash after explode). Extra input columns are
    * dropped; filter before calling when a subset is wanted. */
  private def spanGrams(toks: DataFrame, spanLen: Int): DataFrame =
    toks.select(col("doc_id"), posexplode(expr(
      s"""CASE WHEN size(__toks) < $spanLen THEN CAST(array() AS ARRAY<STRING>)
          ELSE transform(sequence(0, size(__toks) - $spanLen),
            j -> concat_ws(' ', slice(__toks, j + 1, $spanLen))) END""")))
      .select(col("doc_id"), col("pos"), TextOps.hash64(col("col")).as("h"))

  /** Per-document duplicated-span coverage (exact-substring dedup):
    * every [[SpanLen]]-token window (stride 1) is hashed; a window GRAM
    * occurring >= 2 times anywhere in the corpus (any doc, any offset —
    * same-doc internal repetition counts) is duplicated; a doc's covered
    * positions are the union of its duplicated windows' [pos, pos+L)
    * ranges. Output per doc: (n_tokens, n_covered, dup_frac), all docs.
    *
    * Scale shape: the occurrence table (doc, pos, h) is linear in corpus
    * tokens; ONE h-shuffle computes per-gram occurrence counts (window
    * count over h — no self-join, no pair fan-out: hot grams cost their
    * occurrence count, never df²); covered positions then explode L rows
    * per duplicated window and reduce by count(DISTINCT pos) per doc.
    * Every stage is linear in (tokens × small constant) at any corpus
    * size — this is the cheap exactness complement to the probabilistic
    * near-dup family. */
  def spanCoverage(docs: DataFrame, textCol: String, idCol: String,
                   spanLen: Int = SpanLen): DataFrame = {
    val toks = spanToks(docs, textCol, idCol)
    val grams = spanGrams(toks, spanLen)
    val counted = grams.withColumn("__cnt",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("h")))
    val covered = counted.filter(col("__cnt") >= 2)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(spanLen - 1))).as("tok"))
      .groupBy("doc_id")
      .agg(countDistinct(col("tok")).as("n_covered"))
    toks.select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("n_covered", coalesce(col("n_covered"), lit(0L)))
      .withColumn("dup_frac",
        SimOps.quant4(col("n_covered").cast("double") / col("n_tokens")))
  }

  /** Oracle twin of [[spanCoverage]]. */
  def spanCoverageSql(table: String, textCol: String, idCol: String,
                      spanLen: Int = SpanLen): String =
    s"""WITH toks AS (SELECT $idCol AS doc_id,
                             ${TextOps.tokensSql(textCol)} AS t FROM $table),
        grams AS (SELECT doc_id,
                         unnest(generate_series(0, len(t) - $spanLen)) AS pos,
                         t FROM toks WHERE len(t) >= $spanLen),
        hashed AS (SELECT doc_id, pos,
                          ${TextOps.hash64Sql(
                            s"array_to_string(list_slice(t, pos + 1, pos + $spanLen), ' ')")} AS h
                   FROM grams),
        counted AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt
                    FROM hashed),
        cov AS (SELECT doc_id AS cov_doc, count(DISTINCT tok) AS n_covered FROM
                  (SELECT doc_id, pos + unnest(generate_series(0, ${spanLen - 1})) AS tok
                   FROM counted WHERE cnt >= 2)
                GROUP BY doc_id)
        SELECT toks.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(coalesce(n_covered, 0) AS BIGINT) AS n_covered,
               ${SimOps.quant4Sql("coalesce(n_covered, 0)::DOUBLE / len(t)")} AS dup_frac
        FROM toks LEFT JOIN cov ON toks.doc_id = cov.cov_doc
        ORDER BY doc_id"""

  /** Window df-cap for [[maxSpans]]: a window text shared by more docs
    * than this is boilerplate (the stopword class of spans) and is
    * excluded from pairing — the same quadratic-blowup guard as
    * [[MaxShingleFreq]], applied at window grain. */
  val MaxSpanWindowFreq = 64
  /** Minimum reported span length (tokens) and report cap. */
  val MinSpanTokens = 12
  val MaxSpanTopK = 50

  /** MAXIMAL duplicated spans between document pairs — the working core
    * of suffix-array training-data dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better": remove any substring
    * of ≥ k tokens shared across documents) re-expressed relationally:
    * consecutive shared [[SpanLen]]-token windows between a doc pair lie
    * on one DIAGONAL (pos_a − pos_b constant), so each maximal shared
    * substring is exactly one gaps-and-islands run along that diagonal —
    * a run of c windows is a shared span of c + SpanLen − 1 tokens, with
    * its start offsets in both documents.
    *
    * Scale shape: windows hash in codegen (only (doc, pos, h) slim rows
    * shuffle); the pair join is an equi-join on window hash with a
    * df-cap ([[MaxSpanWindowFreq]]) so one boilerplate window cannot
    * emit df² rows; the island detection is one window function over
    * (doc_a, doc_b, diagonal) partitions — work proportional to MATCHED
    * windows, not the corpus, and no suffix array needs to exist. */
  def maxSpans(docs: DataFrame, textCol: String, idCol: String,
               spanLen: Int = SpanLen,
               maxWindowFreq: Int = MaxSpanWindowFreq,
               minSpan: Int = MinSpanTokens,
               topK: Int = MaxSpanTopK): DataFrame = {
    val toks = spanToks(docs, textCol, idCol)
    val grams = spanGrams(toks, spanLen)
    val capped = grams.withColumn("__cnt",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("__cnt") >= 2 && col("__cnt") <= maxWindowFreq)
      .select("doc_id", "pos", "h")
    val m = capped.as("a").join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"),
        (col("a.pos") - col("b.pos")).as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    m.withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("start_a"), min(col("pb")).as("start_b"),
        (count(lit(1)) + lit(spanLen - 1).cast("long")).as("span_len"))
      .filter(col("span_len") >= minSpan)
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("span_len"))
      .orderBy(col("span_len").desc, col("doc_a"), col("doc_b"),
        col("start_a"), col("start_b"))
      .limit(topK)
  }

  /** Oracle twin of [[maxSpans]] — identical windows, cap, diagonal
    * islands, and report order. */
  def maxSpansSql(table: String, textCol: String, idCol: String,
                  spanLen: Int = SpanLen,
                  maxWindowFreq: Int = MaxSpanWindowFreq,
                  minSpan: Int = MinSpanTokens,
                  topK: Int = MaxSpanTopK): String =
    s"""WITH toks AS (SELECT $idCol AS doc_id,
                             ${TextOps.tokensSql(textCol)} AS t FROM $table),
        grams AS (SELECT doc_id,
                         unnest(generate_series(0, len(t) - $spanLen)) AS pos,
                         t FROM toks WHERE len(t) >= $spanLen),
        hashed AS (SELECT doc_id, CAST(pos AS INT) AS pos,
                          ${TextOps.hash64Sql(
                            s"array_to_string(list_slice(t, pos + 1, pos + $spanLen), ' ')")} AS h
                   FROM grams),
        capped AS (SELECT doc_id, pos, h FROM (
                     SELECT *, count(*) OVER (PARTITION BY h) AS cnt
                     FROM hashed)
                   WHERE cnt >= 2 AND cnt <= $maxWindowFreq),
        m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
              FROM capped a JOIN capped b
                ON a.h = b.h AND a.doc_id < b.doc_id),
        isl AS (SELECT doc_a, doc_b, diag, pa, pb,
                       pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                         ORDER BY pa) AS grp
                FROM m),
        sp AS (SELECT doc_a, doc_b,
                      CAST(min(pa) AS INT) AS start_a,
                      CAST(min(pb) AS INT) AS start_b,
                      CAST(count(*) + ${spanLen - 1} AS BIGINT) AS span_len
               FROM isl GROUP BY doc_a, doc_b, diag, grp)
        SELECT doc_a, doc_b, start_a, start_b, span_len FROM sp
        WHERE span_len >= $minSpan
        ORDER BY span_len DESC, doc_a, doc_b, start_a, start_b
        LIMIT $topK"""

  /** Span-removal REWRITE — the cleaning transform that [[spanCoverage]]
    * only measures and [[maxSpans]] only reports: Lee et al.'s
    * ExactSubstr dedup ("Deduplicating Training Data Makes Language
    * Models Better" §4.1: any substring of ≥ k tokens repeated verbatim
    * in the corpus is removed, keeping one copy) re-expressed
    * relationally and applied, re-emitting the cleaned corpus.
    *
    * Semantics: every [[SpanLen]]-token window (stride 1) is hashed; for
    * each window text occurring ≥ 2 times anywhere in the corpus (any
    * doc, any offset — same-doc repetition counts), the single
    * globally-first occurrence (min (doc_id, pos)) is CANONICAL and
    * kept; every other occurrence marks its [pos, pos+k) token positions
    * for removal. A doc's cleaned text is its kept tokens re-joined on
    * single spaces (the corpus vocabulary is single-spaced, so the
    * rewrite round-trips losslessly for clean docs). Consecutive
    * duplicated windows union into the full maximal span, so any
    * duplicated substring of length ≥ k is removed from all but its
    * first site — no suffix array, no pair join.
    *
    * Scale shape: ONE window-hash shuffle computes occurrence count and
    * global first-occurrence rank together (count + row_number over the
    * same h partition — one exchange, one sort); removal positions
    * explode k rows per NON-canonical duplicated window only (linear in
    * duplicated occurrences — a 1M-occurrence boilerplate gram costs 1M
    * rows, never 1M²); reconstruction is a doc_id-keyed collect of
    * removed positions joined back to the token arrays and filtered by a
    * codegen'd array HOF — no per-token row explosion on the Spark side.
    * Deliberately NO df-cap: unlike [[maxSpans]] reporting, the cleaner
    * must strip boilerplate too — that is the point of the operator.
    *
    * Output per doc (all docs, cleaned or not): (doc_id, n_tokens,
    * n_removed, clean_text).
    */
  def spanRewrite(docs: DataFrame, textCol: String, idCol: String,
                  spanLen: Int = SpanLen): DataFrame = {
    val toks = spanToks(docs, textCol, idCol)
    val grams = spanGrams(toks, spanLen)
    val byH = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val byHOrdered = byH.orderBy(col("doc_id"), col("pos"))
    val marked = grams
      .withColumn("__cnt", count(lit(1)).over(byH))
      .withColumn("__rn", row_number().over(byHOrdered))
    val removed = marked
      .filter(col("__cnt") >= 2 && col("__rn") > 1)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(spanLen - 1))).as("tok"))
      .groupBy("doc_id")
      .agg(collect_set(col("tok")).as("__rm"))
    toks.join(removed, Seq("doc_id"), "left")
      .withColumn("__rm", coalesce(col("__rm"),
        expr("CAST(array() AS ARRAY<INT>)")))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__rm")).cast("long").as("n_removed"),
        expr(s"""concat_ws(' ',
          transform(
            filter(transform(__toks, (t, i) -> struct(i AS i, t AS t)),
                   s -> NOT array_contains(__rm, s.i)),
            s -> s.t))""").as("clean_text"))
  }

  /** Incremental span cleaning — the span-grain member of the
    * continuous-ingestion family (`dedup_incremental` dedups arriving
    * DOCS, `sim_index_incremental` encodes arriving VECTORS; this
    * strips arriving TEXT): every ≥ [[SpanLen]]-token window of a new
    * doc whose text already occurs anywhere in the EXISTING corpus is
    * removed; the cleaned batch is re-emitted with removal stats.
    * New-vs-new duplication is out of scope by the same contract as
    * `dedup_incremental` (it is next snapshot's `spanRewrite` problem).
    *
    * Scale shape: the old corpus contributes only its DISTINCT window
    * hashes — the frozen inverted index a production pipeline keeps
    * materialized (bucketed by h); the batch probes it with ONE hash
    * equi-join, so per-batch cost is batch-windows + index probe, never
    * a rescan of old×old. Removal explode and HOF reconstruction are
    * the [[spanRewrite]] shapes verbatim.
    */
  def spanRewriteIncremental(docs: DataFrame, textCol: String,
                             idCol: String, oldPred: Column,
                             spanLen: Int = SpanLen): DataFrame = {
    val toks = docs
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .select(col(idCol).as("doc_id"), col("__toks"), oldPred.as("__old"))
    val oldIndex = spanGrams(toks.filter(col("__old")), spanLen)
      .select("h").distinct()
    val newToks = toks.filter(!col("__old"))
    val removed = spanGrams(newToks, spanLen)
      .join(oldIndex, "h")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(spanLen - 1))).as("tok"))
      .groupBy("doc_id")
      .agg(collect_set(col("tok")).as("__rm"))
    newToks.join(removed, Seq("doc_id"), "left")
      .withColumn("__rm", coalesce(col("__rm"),
        expr("CAST(array() AS ARRAY<INT>)")))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__rm")).cast("long").as("n_removed"),
        expr(s"""concat_ws(' ',
          transform(
            filter(transform(__toks, (t, i) -> struct(i AS i, t AS t)),
                   s -> NOT array_contains(__rm, s.i)),
            s -> s.t))""").as("clean_text"))
  }

  /** Oracle twin of [[spanRewriteIncremental]]. */
  def spanRewriteIncrementalSql(table: String, textCol: String,
                                idCol: String, oldPredSql: String,
                                spanLen: Int = SpanLen): String =
    s"""WITH toks AS (SELECT $idCol AS doc_id,
                             ${TextOps.tokensSql(textCol)} AS t,
                             ($oldPredSql) AS is_old FROM $table),
        grams AS (SELECT doc_id, is_old,
                         unnest(generate_series(0, len(t) - $spanLen)) AS pos,
                         t FROM toks WHERE len(t) >= $spanLen),
        hashed AS (SELECT doc_id, is_old, pos,
                          ${TextOps.hash64Sql(
                            s"array_to_string(list_slice(t, pos + 1, pos + $spanLen), ' ')")} AS h
                   FROM grams),
        old_index AS (SELECT DISTINCT h FROM hashed WHERE is_old),
        rm AS (SELECT DISTINCT n.doc_id, n.pos + u.g AS tok
               FROM hashed n JOIN old_index o ON n.h = o.h,
                    unnest(generate_series(0, ${spanLen - 1})) AS u(g)
               WHERE NOT n.is_old),
        rmn AS (SELECT doc_id AS rdoc, count(*) AS n_removed FROM rm
                GROUP BY doc_id),
        newt AS (SELECT doc_id, t FROM toks WHERE NOT is_old),
        pos AS (SELECT doc_id, unnest(generate_series(0, len(t) - 1)) AS i, t
                FROM newt),
        kept AS (SELECT pos.doc_id, pos.i, pos.t[pos.i + 1] AS tokstr
                 FROM pos LEFT JOIN rm
                   ON pos.doc_id = rm.doc_id AND pos.i = rm.tok
                 WHERE rm.tok IS NULL),
        clean AS (SELECT doc_id AS cdoc,
                         string_agg(tokstr, ' ' ORDER BY i) AS clean_text
                  FROM kept GROUP BY doc_id)
        SELECT newt.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed,
               coalesce(clean_text, '') AS clean_text
        FROM newt LEFT JOIN rmn ON newt.doc_id = rmn.rdoc
                  LEFT JOIN clean ON newt.doc_id = clean.cdoc
        ORDER BY doc_id"""

  /** Duplicated-window ATTRIBUTION rows — the batch twin of
    * `StatefulOps.streamingSpanDedup`'s emission: every non-canonical
    * occurrence of a duplicated window as (doc_id, pos, canon_doc,
    * canon_pos), naming the globally-first site it duplicates. This is
    * the per-site detail [[spanRewrite]]'s removal-count union cannot
    * see, gated so the canonical CHOICE (min (doc_id, pos) per window
    * text) is oracle-pinned. Same single h-shuffle as the rewrite: the
    * count, rank, and first-site window functions all share one
    * exchange. */
  def spanMarks(docs: DataFrame, textCol: String, idCol: String,
                spanLen: Int = SpanLen): DataFrame = {
    val toks = spanToks(docs, textCol, idCol)
    val grams = spanGrams(toks, spanLen)
    val byH = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val byHOrdered = byH.orderBy(col("doc_id"), col("pos"))
    grams
      .withColumn("__cnt", count(lit(1)).over(byH))
      .withColumn("__rn", row_number().over(byHOrdered))
      .withColumn("canon_doc", first(col("doc_id")).over(byHOrdered))
      .withColumn("canon_pos", first(col("pos")).over(byHOrdered))
      .filter(col("__cnt") >= 2 && col("__rn") > 1)
      .select(col("doc_id"), col("pos"), col("canon_doc"), col("canon_pos"))
  }

  /** Oracle twin of [[spanMarks]]. */
  def spanMarksSql(table: String, textCol: String, idCol: String,
                   spanLen: Int = SpanLen): String =
    s"""WITH toks AS (SELECT $idCol AS doc_id,
                             ${TextOps.tokensSql(textCol)} AS t FROM $table),
        grams AS (SELECT doc_id,
                         unnest(generate_series(0, len(t) - $spanLen)) AS pos,
                         t FROM toks WHERE len(t) >= $spanLen),
        hashed AS (SELECT doc_id, CAST(pos AS INT) AS pos,
                          ${TextOps.hash64Sql(
                            s"array_to_string(list_slice(t, pos + 1, pos + $spanLen), ' ')")} AS h
                   FROM grams),
        m AS (SELECT doc_id, pos,
                     count(*) OVER (PARTITION BY h) AS cnt,
                     row_number() OVER (PARTITION BY h
                       ORDER BY doc_id, pos) AS rn,
                     first_value(doc_id) OVER (PARTITION BY h
                       ORDER BY doc_id, pos) AS canon_doc,
                     first_value(pos) OVER (PARTITION BY h
                       ORDER BY doc_id, pos) AS canon_pos
              FROM hashed)
        SELECT doc_id, pos, canon_doc, canon_pos FROM m
        WHERE cnt >= 2 AND rn > 1
        ORDER BY doc_id, pos"""

  /** Oracle twin of [[spanRewrite]] — identical windows, canonical
    * choice, and reconstruction (per-token explode + anti-join +
    * ordered string_agg, since DuckDB lambdas carry no element index).
    */
  def spanRewriteSql(table: String, textCol: String, idCol: String,
                     spanLen: Int = SpanLen): String =
    s"""WITH toks AS (SELECT $idCol AS doc_id,
                             ${TextOps.tokensSql(textCol)} AS t FROM $table),
        grams AS (SELECT doc_id,
                         unnest(generate_series(0, len(t) - $spanLen)) AS pos,
                         t FROM toks WHERE len(t) >= $spanLen),
        hashed AS (SELECT doc_id, pos,
                          ${TextOps.hash64Sql(
                            s"array_to_string(list_slice(t, pos + 1, pos + $spanLen), ' ')")} AS h
                   FROM grams),
        marked AS (SELECT doc_id, pos,
                          count(*) OVER (PARTITION BY h) AS cnt,
                          row_number() OVER (PARTITION BY h
                            ORDER BY doc_id, pos) AS rn
                   FROM hashed),
        rm AS (SELECT DISTINCT doc_id, pos + u.g AS tok
               FROM marked, unnest(generate_series(0, ${spanLen - 1})) AS u(g)
               WHERE cnt >= 2 AND rn > 1),
        rmn AS (SELECT doc_id AS rdoc, count(*) AS n_removed FROM rm
                GROUP BY doc_id),
        pos AS (SELECT doc_id, unnest(generate_series(0, len(t) - 1)) AS i, t
                FROM toks),
        kept AS (SELECT pos.doc_id, pos.i, pos.t[pos.i + 1] AS tokstr
                 FROM pos LEFT JOIN rm
                   ON pos.doc_id = rm.doc_id AND pos.i = rm.tok
                 WHERE rm.tok IS NULL),
        clean AS (SELECT doc_id AS cdoc,
                         string_agg(tokstr, ' ' ORDER BY i) AS clean_text
                  FROM kept GROUP BY doc_id)
        SELECT toks.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed,
               coalesce(clean_text, '') AS clean_text
        FROM toks LEFT JOIN rmn ON toks.doc_id = rmn.rdoc
                  LEFT JOIN clean ON toks.doc_id = clean.cdoc
        ORDER BY doc_id"""

  /** Materialized-pair reuse: at 100 TB the near-dup pair table is
    * computed once per corpus snapshot and consumed many times (cluster
    * canonicalization, curation, audits) — recomputing the shingle
    * self-join per consumer is the expensive anti-pattern. So it is a
    * `pairs`-kind [[graft.Artifacts]] entry: with `graft.pairs.dir` set
    * the first caller writes it and every later caller scans it. Unset
    * (the oracle gate's default), this is exactly [[jaccardPairs]].
    *
    * The key identifies the CORPUS, not just the parameters: the same
    * threshold at two scale factors (check.py runs sf0.001 AND sf0.01)
    * must not read each other's pair tables. Identity = input file set
    * + the (textCol, idCol) pair read from it; an in-memory frame has
    * no files, so it always recomputes. LIMIT: filters applied to
    * `docs` are invisible to inputFiles — callers passing a derived
    * frame must leave graft.pairs.dir unset. */
  def jaccardPairsCached(docs: DataFrame, textCol: String, idCol: String,
                         threshold: Double,
                         maxShingleFreq: Int = MaxShingleFreq): DataFrame =
    graft.Artifacts.cached(docs.sparkSession, "pairs", "jaccard",
        Seq(textCol, idCol, threshold, maxShingleFreq), docs.inputFiles) {
      jaccardPairs(docs, textCol, idCol, threshold, maxShingleFreq)
    }

  /** MinHash signatures via explode + hash aggregation:
    * sig_i = min over shingles of (a_i * (x mod p) + b_i) mod p, computed
    * as `groupBy(doc_id).agg(k × min(...))` over the exploded
    * (doc_id, shingle_hash) inverted index.
    *
    * Why not `transform`+`array_min` over the array column: array
    * higher-order functions evaluate outside whole-stage codegen AND
    * Catalyst's projection collapse duplicates the (md5-heavy) shingle
    * expression into each of the k minhash expressions — measured 135 s
    * at sf0.1 vs ~4 s for this shape. The aggregation is also the
    * 100 TB-correct shape: map-side partial mins make the shuffle one row
    * per doc per map partition.
    *
    * Output: (doc_id, m0 … m{k-1}).
    */
  def signatures(inv: DataFrame, k: Int): DataFrame = {
    val withX = inv.withColumn("x", col("h") % P)
    val aggs = minhashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("x") + lit(b)) % P).as(s"m$i")
    }
    withX.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** One bucket key per band: polynomial combine of the band's signature
    * columns (m0 … m{k-1}), bounded by p at each step. Pure scalar
    * codegen'd arithmetic. */
  def bandKeys(bands: Int, rowsPerBand: Int): Column = {
    val keys: Seq[Column] = (0 until bands).map { bi =>
      (0 until rowsPerBand).foldLeft(lit(0L)) { (acc, ri) =>
        (acc * 31L + col(s"m${bi * rowsPerBand + ri}")) % P
      }
    }
    array(keys: _*)
  }

  /** One-Permutation-Hashing MinHash signatures with rotation
    * densification (Li, Owen & Zhang NIPS'12; Shrivastava & Li ICML'14
    * "Densifying One Permutation Hashing via Rotation") — the
    * CPU-scale path beside [[signatures]]: ONE hash evaluation per
    * shingle instead of k. The hash space [0, p) is split into k bins
    * by `x mod k`; each bin keeps its min; an EMPTY bin i borrows the
    * value of the nearest non-empty bin to its right (cyclic, distance
    * j) offset by j·p, so a borrowed slot only collides with a slot
    * borrowed from the same distance with the same source value — the
    * rotation scheme's unbiased-estimator construction.
    *
    * At 100 TB the signature scan is the dominant dedup cost: classic
    * k=16 MinHash evaluates 16 modular products per (doc, shingle) row,
    * OPH exactly one `mod` + one conditional-min — same single
    * hash-agg shuffle shape, k× less signature CPU. Short documents
    * (fewer shingles than bins) are exactly where densification matters;
    * with no densification empty bins would never collide.
    *
    * Output: (doc_id, m0 … m{k-1}) — drop-in for [[bandKeys]]. */
  def ophSignatures(inv: DataFrame, k: Int): DataFrame = {
    val withX = inv.withColumn("x", col("h") % P)
    val sparse = (0 until k).map { i =>
      min(when(col("x") % k === i, col("x"))).as(s"s$i")
    }
    val binned = withX.groupBy("doc_id").agg(sparse.head, sparse.tail: _*)
    val dens = (0 until k).map { i =>
      coalesce((0 until k).map { j =>
        col(s"s${(i + j) % k}") + lit(j.toLong * P)
      }: _*).as(s"m$i")
    }
    binned.select(col("doc_id") +: dens: _*)
  }

  /** Oracle twins of [[ophSignatures]] over a shingle-array expression:
    * per-bin list mins (empty list → NULL), then the identical cyclic
    * coalesce with j·p offsets over a column named by `spExpr`. */
  def ophSparseSql(shExpr: String, k: Int): String = {
    val sparse = (0 until k).map { i =>
      s"list_min(list_filter(list_transform($shExpr, x -> x % ${P}), " +
        s"x -> x % $k = $i))"
    }
    sparse.mkString("[", ", ", "]")
  }

  def ophDensifySql(spExpr: String, k: Int): String = {
    val dens = (0 until k).map { i =>
      (0 until k).map { j =>
        s"$spExpr[${(i + j) % k + 1}] + ${j.toLong * P}"
      }.mkString("COALESCE(", ", ", ")")
    }
    dens.mkString("[", ", ", "]")
  }

  /** MinHash+LSH near-dup pairs on OPH-densified signatures — identical
    * banding/candidate/verify machinery to [[minhashLshPairs]], only the
    * signature scan changes (1 hash per shingle instead of k). Recall
    * differs slightly from the classic estimator (binned mins are a
    * sampled permutation), which is why both surfaces exist. */
  def ophLshPairs(docs: DataFrame, textCol: String, idCol: String,
                  threshold: Double, bands: Int = 4,
                  rowsPerBand: Int = 4): DataFrame = {
    val k = bands * rowsPerBand
    val sigs = ophSignatures(shingleInv(docs, textCol, idCol), k)
      .withColumn("bk", bandKeys(bands, rowsPerBand))
    // NOTE (r14 optimization round): the aliased self-join + candIds
    // union multiply the signature subtree out to ~24 parquet scans in
    // one plan — but materializing the reused frames (persist or
    // localCheckpoint, with or without a parallelism-preserving
    // repartition) measured 2-6× SLOWER here at sf0.1: AQE coalesces
    // the tiny frames to one partition and every downstream stage then
    // runs single-task, while the codegen recompute of a small corpus
    // is embarrassingly parallel. At 100 TB the balance flips — the
    // pairStats `graft.jaccard.checkpoint` flag documents the same
    // trade-off; these ops would take the identical flag there.
    val buckets = sigs.select(col("doc_id"),
      posexplode(col("bk")).as(Seq("band", "key")))
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val candIds = cand.select(col("doc_a").as("cid"))
      .union(cand.select(col("doc_b").as("cid"))).distinct()
    val candSets = shingleSets(
      docs.join(candIds, col(idCol) === col("cid"), "left_semi"),
      textCol, idCol)
    cand
      .join(candSets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(candSets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  def ophLshPairsSql(table: String, textCol: String, idCol: String,
                     threshold: Double, bands: Int = 4,
                     rowsPerBand: Int = 4): String = {
    val k = bands * rowsPerBand
    s"""WITH sets AS (${shingleSetsSql(table, textCol, idCol)}),
        sigs0 AS (SELECT doc_id, sh, ${ophSparseSql("sh", k)} AS sp
                  FROM sets WHERE len(sh) > 0),
        sigs AS (SELECT doc_id, sh, ${ophDensifySql("sp", k)} AS sig
                 FROM sigs0),
        keyed AS (SELECT doc_id, sh, ${bandKeysSql("sig", bands, rowsPerBand)} AS bk FROM sigs),
        buckets AS (SELECT doc_id, sh, generate_subscripts(bk, 1) AS band,
                           unnest(bk) AS key FROM keyed),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM buckets a JOIN buckets b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        verified AS (
          SELECT doc_a, doc_b,
                 len(list_intersect(sa.sh, sb.sh))::DOUBLE /
                 (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j
          FROM cand JOIN sets sa ON cand.doc_a = sa.doc_id
                    JOIN sets sb ON cand.doc_b = sb.doc_id)
        SELECT doc_a, doc_b, round(j, 4) AS jaccard FROM verified
        WHERE j >= $threshold ORDER BY doc_a, doc_b"""
  }

  /** MinHash+LSH near-dup pairs: signature → band buckets → candidate
    * pairs sharing ≥1 bucket → exact-Jaccard verification >= threshold.
    * Output identical in shape to [[jaccardPairs]]; recall < 1 is inherent
    * to LSH (the oracle replicates the same pipeline, so results still
    * match exactly).
    */
  def minhashLshPairs(docs: DataFrame, textCol: String, idCol: String,
                      threshold: Double, bands: Int = 4,
                      rowsPerBand: Int = 4): DataFrame = {
    val k = bands * rowsPerBand
    // Bulk path: exploded inverted index → one hash-agg for all k mins
    // (docs with <3 tokens yield no rows, so they can't become candidates).
    val sigs = signatures(shingleInv(docs, textCol, idCol), k)
      .withColumn("bk", bandKeys(bands, rowsPerBand))
    // (band_index, bucket_key, doc) inverted index — band index must be part
    // of the join key: equal keys in DIFFERENT bands are not LSH collisions.
    // The bucket rows carry only (doc_id, band, key): shingle sets are
    // recomputed AFTER candidate dedup for candidate docs only, so no
    // array column ever enters a shuffle. (Materializing the reused
    // frames measured slower at gate scale — see the ophLshPairs note.)
    val buckets = sigs.select(col("doc_id"),
      posexplode(col("bk")).as(Seq("band", "key")))
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // Exact verification on the (few) candidates: recompute shingle sets
    // for candidate docs only — a semi-joined second scan, far cheaper
    // than carrying arrays through the LSH stages.
    val candIds = cand.select(col("doc_a").as("cid"))
      .union(cand.select(col("doc_b").as("cid"))).distinct()
    val candSets = shingleSets(
      docs.join(candIds, col(idCol) === col("cid"), "left_semi"),
      textCol, idCol)
    cand
      .join(candSets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(candSets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash estimator-accuracy audit — the quality gate beside the
    * estimator (`sim_recall_audit`'s role for the ANN stack): for every
    * LSH candidate pair, the SIGNATURE-AGREEMENT Jaccard estimate
    * (matching minhash positions / k — the only similarity a streaming
    * or privacy-constrained consumer ever sees, [[graft.streaming
    * .StatefulOps.streamingNearDup]]'s verification regime) next to the
    * EXACT shingle Jaccard, both in integer permille with the absolute
    * error. The oracle recomputes both sides independently from the
    * same hash constants, so a drifted coefficient, band key, or
    * signature bug mismatches `est_permille` row-for-row. Shape:
    * identical candidate machinery to [[minhashLshPairs]]; signatures
    * and shingle sets join back for CANDIDATE pairs only. */
  def minhashAccuracy(docs: DataFrame, textCol: String, idCol: String,
                      bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val k = bands * rowsPerBand
    // sigs feeds the band buckets AND both per-side signature re-joins
    // (~28 parquet scans in one plan) — left unmaterialized on purpose:
    // see the ophLshPairs note (measured slower when checkpointed).
    val sigs = signatures(shingleInv(docs, textCol, idCol), k)
      .withColumn("bk", bandKeys(bands, rowsPerBand))
    val buckets = sigs.select(col("doc_id"),
      posexplode(col("bk")).as(Seq("band", "key")))
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val candIds = cand.select(col("doc_a").as("cid"))
      .union(cand.select(col("doc_b").as("cid"))).distinct()
    val candSets = shingleSets(
      docs.join(candIds, col(idCol) === col("cid"), "left_semi"),
      textCol, idCol)
    val sigA = sigs.select(
      col("doc_id").as("doc_a") +: (0 until k).map(i => col(s"m$i").as(s"a$i")): _*)
    val sigB = sigs.select(
      col("doc_id").as("doc_b") +: (0 until k).map(i => col(s"m$i").as(s"b$i")): _*)
    cand
      .join(sigA, "doc_a").join(sigB, "doc_b")
      .join(candSets.select(col("doc_id").as("doc_a"), col("sh").as("sha")),
        "doc_a")
      .join(candSets.select(col("doc_id").as("doc_b"), col("sh").as("shb")),
        "doc_b")
      .withColumn("agree",
        (0 until k).map(i => when(col(s"a$i") === col(s"b$i"), 1L)
          .otherwise(0L)).reduce(_ + _))
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .select(col("doc_a"), col("doc_b"),
        expr(s"agree * 1000 div $k").as("est_permille"),
        expr("CAST(common AS BIGINT) * 1000 div " +
          "(size(sha) + size(shb) - common)").as("exact_permille"))
      .withColumn("abs_err_permille",
        abs(col("est_permille") - col("exact_permille")))
  }

  /** Oracle twin of [[minhashAccuracy]] — independent recomputation of
    * both the signature estimate and the exact Jaccard from the shared
    * hash constants. */
  def minhashAccuracySql(table: String, textCol: String, idCol: String,
                         bands: Int = 4, rowsPerBand: Int = 4): String = {
    val k = bands * rowsPerBand
    s"""WITH sets AS (${shingleSetsSql(table, textCol, idCol)}),
        sigs AS (SELECT doc_id, sh, ${signatureSql("sh", k)} AS sig
                 FROM sets WHERE len(sh) > 0),
        keyed AS (SELECT doc_id, ${bandKeysSql("sig", bands, rowsPerBand)}
                    AS bk FROM sigs),
        buckets AS (SELECT doc_id, generate_subscripts(bk, 1) AS band,
                           unnest(bk) AS key FROM keyed),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM buckets a JOIN buckets b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        j AS (SELECT doc_a, doc_b,
            CAST(list_sum(list_transform(range(1, $k + 1),
              i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
              AS BIGINT) AS agree,
            CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS common,
            CAST(len(sa.sh) AS BIGINT) AS na, CAST(len(sb.sh) AS BIGINT) AS nb
          FROM cand JOIN sigs sa ON cand.doc_a = sa.doc_id
                    JOIN sigs sb ON cand.doc_b = sb.doc_id)
        SELECT doc_a, doc_b,
          agree * 1000 // $k AS est_permille,
          common * 1000 // (na + nb - common) AS exact_permille,
          abs(agree * 1000 // $k - common * 1000 // (na + nb - common))
            AS abs_err_permille
        FROM j ORDER BY doc_a, doc_b"""
  }

  /** Incremental dedup: match an ARRIVING batch (rows where `newPred`
    * over the `doc_id` column holds) against the EXISTING corpus — the
    * continuous-ingestion shape of a 100 TB pipeline, where the corpus
    * was deduplicated long ago and each day's batch must only be checked
    * against it. New-vs-new duplication is out of scope here (that is the
    * batch operators' job on the arriving slice itself).
    *
    * Two arms, exact-match wins:
    *  - exact: md5(text) equi-join new→old, min old id per new doc;
    *  - near: MinHash band buckets, but the candidate join is
    *    new-buckets ⋈ old-buckets — old×old pairs are NEVER generated,
    *    which is the entire incremental advantage (the full-corpus
    *    quadratic term disappears; cost is |new| × collision rate).
    *    Candidates verify with exact shingle Jaccard >= threshold.
    *
    * In production the old corpus' signatures/buckets are computed once
    * and persisted (the [[jaccardPairsCached]] pattern); here both sides
    * derive inline from one table, which changes cost, not results.
    * Output: (doc_id, dup_of, kind) — one row per duplicated new doc,
    * dup_of = min matching old id, kind ∈ ('exact', 'near').
    */
  def incrementalDedup(docs: DataFrame, textCol: String, idCol: String,
                       newPred: Column, threshold: Double,
                       bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val k = bands * rowsPerBand
    val sigs = signatures(shingleInv(docs, textCol, idCol), k)
      .withColumn("bk", bandKeys(bands, rowsPerBand))
    val buckets = sigs.select(col("doc_id"),
      posexplode(col("bk")).as(Seq("band", "key")))
    val cand = buckets.filter(newPred).as("n")
      .join(buckets.filter(!newPred).as("o"),
        col("n.band") === col("o.band") && col("n.key") === col("o.key"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .dropDuplicates("new_id", "old_id")
    val candIds = cand.select(col("new_id").as("cid"))
      .union(cand.select(col("old_id").as("cid"))).distinct()
    val candSets = shingleSets(
      docs.join(candIds, col(idCol) === col("cid"), "left_semi"),
      textCol, idCol)
    val near = cand
      .join(candSets.select(col("doc_id").as("new_id"), col("sh").as("shn")), "new_id")
      .join(candSets.select(col("doc_id").as("old_id"), col("sh").as("sho")), "old_id")
      .withColumn("common", size(array_intersect(col("shn"), col("sho"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("shn")) + size(col("sho")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("new_id")).agg(min(col("old_id")).as("dup_of"))
    val exact = docs.filter(newPred)
      .select(col(idCol).as("new_id"), md5(col(textCol)).as("__hn"))
      .join(docs.filter(!newPred)
        .select(col(idCol).as("old_id"), md5(col(textCol)).as("__ho")),
        col("__hn") === col("__ho"))
      .groupBy(col("new_id")).agg(min(col("old_id")).as("dup_of"))
    exact.withColumn("kind", lit("exact"))
      .union(near.join(exact, Seq("new_id"), "left_anti")
        .withColumn("kind", lit("near")))
      .select(col("new_id").as("doc_id"), col("dup_of"), col("kind"))
  }

  /** Oracle twin of [[incrementalDedup]]; `newPredSql` renders the
    * arriving-batch predicate for a given qualified id expression. */
  def incrementalDedupSql(table: String, textCol: String, idCol: String,
                          newPredSql: String => String, threshold: Double,
                          bands: Int = 4, rowsPerBand: Int = 4): String = {
    val k = bands * rowsPerBand
    s"""WITH sets AS (${shingleSetsSql(table, textCol, idCol)}),
        sigs AS (SELECT doc_id, sh, ${signatureSql("sh", k)} AS sig
                 FROM sets WHERE len(sh) > 0),
        keyed AS (SELECT doc_id, ${bandKeysSql("sig", bands, rowsPerBand)} AS bk
                  FROM sigs),
        buckets AS (SELECT doc_id, generate_subscripts(bk, 1) AS band,
                           unnest(bk) AS key FROM keyed),
        cand AS (
          SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
          FROM buckets n JOIN buckets o
            ON n.band = o.band AND n.key = o.key
          WHERE ${newPredSql("n.doc_id")} AND NOT (${newPredSql("o.doc_id")})),
        verified AS (
          SELECT new_id, old_id
          FROM cand JOIN sets sn ON cand.new_id = sn.doc_id
                    JOIN sets so ON cand.old_id = so.doc_id
          WHERE len(list_intersect(sn.sh, so.sh))::DOUBLE /
                (len(sn.sh) + len(so.sh) - len(list_intersect(sn.sh, so.sh)))
                >= $threshold),
        near AS (SELECT new_id, min(old_id) AS dup_of
                 FROM verified GROUP BY new_id),
        exact AS (
          SELECT n.$idCol AS new_id, min(o.$idCol) AS dup_of
          FROM $table n JOIN $table o ON md5(n.$textCol) = md5(o.$textCol)
          WHERE ${newPredSql(s"n.$idCol")} AND NOT (${newPredSql(s"o.$idCol")})
          GROUP BY 1)
        SELECT new_id AS doc_id, dup_of, 'exact' AS kind FROM exact
        UNION ALL
        SELECT new_id AS doc_id, dup_of, 'near' AS kind FROM near
        WHERE new_id NOT IN (SELECT new_id FROM exact)
        ORDER BY doc_id"""
  }

  /** Connected components over near-dup pairs → canonical keep id per
    * document (the cluster step after pair generation: A~B, B~C must
    * collapse to ONE cluster even though (A,C) was never scored).
    *
    * Iterative min-label propagation with pointer jumping — the standard
    * distributed CC: every node starts labeled with itself; each round
    * joins labels across edges (both directions), keeps the per-node
    * min, then also adopts the label OF its label (path halving), so a
    * length-L chain converges in O(log L) rounds. Labels are
    * `localCheckpoint`ed each round: the round's self-join would
    * otherwise DOUBLE the logical plan every iteration (exponential
    * plan growth → planner OOM), and checkpointing truncates lineage to
    * a leaf. (On a fault-tolerant cluster use a reliable checkpoint dir;
    * local checkpoints trade executor-loss recovery for speed.)
    *
    * Output: (doc_id, cluster) for every doc appearing in a pair, where
    * cluster = min doc id of its component.
    */
  /** Size-guarded fast path: near-dup pair sets are usually tiny relative
    * to the corpus (they ARE the duplicates), so below this many edges the
    * component computation runs as driver-side union-find on one collected
    * pass — one job instead of O(log diameter) rounds of shuffles. Same
    * class of threshold as a broadcast-join cutoff: 1M edges ≈ 16 MB. */
  val DriverCcMaxEdges: Long = 1L << 20

  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
                          driverFastPathMaxEdges: Long = DriverCcMaxEdges): DataFrame = {
    val isLongIds = pairs.schema("doc_a").dataType ==
      org.apache.spark.sql.types.LongType &&
      pairs.schema("doc_b").dataType == org.apache.spark.sql.types.LongType
    if (isLongIds && driverFastPathMaxEdges > 0) {
      // Persist so the threshold count and the collect share one compute
      // of the upstream pair pipeline.
      val p = pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .persist()
      try {
        // Clamp: limit() takes an Int; a caller-supplied threshold near
        // Long.MaxValue must degrade to "count up to Int.MaxValue", not
        // overflow to a negative limit and throw.
        val lim = math.min(driverFastPathMaxEdges + 1, Int.MaxValue.toLong).toInt
        val n = p.limit(lim).count()
        if (n <= driverFastPathMaxEdges)
          return driverUnionFind(p)
      } finally p.unpersist() // driverUnionFind collected before this runs
      // fall through to the distributed path (pairs recomputed — the
      // above-threshold case where one extra pass is noise)
    }
    connectedComponentsDistributed(pairs, maxIters)
  }

  /** Driver union-find with path compression and min-root union: exact
    * same (doc_id, min-of-component) contract as the distributed path. */
  private def driverUnionFind(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    for ((a, b) <- edges) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min root wins -> cluster id = min of component
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("doc_id", "cluster")
  }

  private def connectedComponentsDistributed(pairs: DataFrame,
                                             maxIters: Int): DataFrame = {
    // Persist the edge set: without it every propagation round (and the
    // fixpoint check) would recompute the entire upstream pair pipeline.
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    val nodes = edges.select(col("src").as("id")).distinct()
    var labels = nodes.withColumn("label", col("id")).localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      // Fresh aliases on the union branch: the checkpointed `labels` leaf
      // feeds both union children, and duplicate attribute ids across
      // children trip Union's constraint rewrite.
      val prop = edges.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("label"))
        .union(labels.select(col("id").as("id"), col("label").as("label")))
        .groupBy("id").agg(min("label").as("label"))
      // One checkpoint per round is enough to bound the plan: `prop` is
      // referenced twice below (recomputed, cheap — it roots at the
      // checkpointed `labels` leaf), and checkpointing `jumped` keeps the
      // NEXT round's plan depth constant.
      val jumped = prop
        .join(prop.select(col("id").as("label"), col("label").as("label2")),
          Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("label2"), col("label")))
            .as("label"))
        .localCheckpoint() // eager: truncates lineage, materializes round
      changed = jumped.as("n").join(labels.as("o"), "id")
        .filter(col("n.label") < col("o.label")).count()
      // Superseded rounds' checkpoint blocks are reclaimed by Spark's
      // ContextCleaner once the old `labels` reference is GC'd —
      // Dataset.unpersist does not release local-checkpoint RDDs.
      labels = jumped
      iter += 1
    }
    edges.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "raise maxIters (component diameter exceeds 2^maxIters)")
    labels.select(col("id").as("doc_id"), col("label").as("cluster"))
  }

  // ---------------- DuckDB oracle twins (same constants) ----------------

  /** CC oracle: recursive min-label walk over the (both-direction) edge
    * set — `walk` holds every label that can reach a node along a
    * decreasing path; min per node == min of its component. */
  def connectedComponentsSql(pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS ($pairsSql),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        walk(id, label) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.id
          WHERE w.label < e.dst)
        SELECT id AS doc_id, min(label) AS cluster FROM walk
        GROUP BY id ORDER BY doc_id"""

  def shingleSetsSql(table: String, textCol: String, idCol: String): String =
    s"""SELECT $idCol AS doc_id,
        ${TextOps.shingleHashesSql(TextOps.tokensSql(textCol))} AS sh
        FROM $table"""

  /** Shared CTE block for the pair-statistics oracles: the inverted
    * index, df-capped shingle universe, per-doc counts, and per-pair
    * common counts — the SQL twin of [[pairStats]]. */
  private def pairStatsCtes(table: String, textCol: String, idCol: String,
                            maxShingleFreq: Int): String =
    s"""sets AS (${shingleSetsSql(table, textCol, idCol)}),
        inv0 AS (SELECT doc_id, unnest(sh) AS h FROM sets),
        keep AS (SELECT h FROM inv0 GROUP BY h
                 HAVING count(*) <= $maxShingleFreq),
        inv AS (SELECT doc_id, h FROM inv0
                WHERE h IN (SELECT h FROM keep)),
        counts AS (SELECT doc_id, count(*) AS n_sh FROM inv GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
          FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2)"""

  def jaccardPairsSql(table: String, textCol: String, idCol: String,
                      threshold: Double,
                      maxShingleFreq: Int = MaxShingleFreq): String =
    s"""WITH ${pairStatsCtes(table, textCol, idCol, maxShingleFreq)}
        SELECT doc_a, doc_b,
               round(common::DOUBLE / (ca.n_sh + cb.n_sh - common), 4) AS jaccard
        FROM pairs JOIN counts ca ON pairs.doc_a = ca.doc_id
                   JOIN counts cb ON pairs.doc_b = cb.doc_id
        WHERE common::DOUBLE / (ca.n_sh + cb.n_sh - common) >= $threshold
        ORDER BY doc_a, doc_b"""

  def containmentPairsSql(table: String, textCol: String, idCol: String,
                          threshold: Double,
                          maxShingleFreq: Int = MaxShingleFreq): String =
    s"""WITH ${pairStatsCtes(table, textCol, idCol, maxShingleFreq)}
        SELECT doc_a, doc_b,
               CAST(round(common::DOUBLE / least(ca.n_sh, cb.n_sh), 4)
                    AS DECIMAL(18,4))::DOUBLE AS containment
        FROM pairs JOIN counts ca ON pairs.doc_a = ca.doc_id
                   JOIN counts cb ON pairs.doc_b = cb.doc_id
        WHERE common::DOUBLE / least(ca.n_sh, cb.n_sh) >= $threshold
        ORDER BY doc_a, doc_b"""

  /** Oracle twin of [[contamination]]; `evalPredSql` is the eval-set
    * predicate over the table's columns (e.g. "doc_id % 50 = 0"). */
  def contaminationSql(table: String, textCol: String, idCol: String,
                       evalPredSql: String): String =
    s"""WITH sets AS (${shingleSetsSql(table, textCol, idCol)}),
        inv AS (SELECT DISTINCT doc_id, h FROM
                  (SELECT doc_id, unnest(sh) AS h FROM sets)),
        eval_sh AS (SELECT DISTINCT h FROM inv WHERE $evalPredSql),
        train AS (SELECT doc_id, h,
                         CASE WHEN h IN (SELECT h FROM eval_sh)
                              THEN 1 ELSE 0 END AS hit
                  FROM inv WHERE NOT ($evalPredSql))
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
               CAST(sum(hit) AS BIGINT) AS n_shared,
               CAST(round(sum(hit)::DOUBLE / count(*), 4)
                    AS DECIMAL(18,4))::DOUBLE AS overlap
        FROM train GROUP BY doc_id HAVING sum(hit) > 0
        ORDER BY doc_id"""

  def signatureSql(shExpr: String, k: Int): String = {
    val mins = minhashCoeffs(k).map { case (a, b) =>
      s"list_min(list_transform($shExpr, x -> ($a * (x % ${P}) + $b) % ${P}))"
    }
    s"[${mins.mkString(", ")}]"
  }

  def bandKeysSql(sigExpr: String, bands: Int, rowsPerBand: Int): String = {
    // DuckDB list indexing is 1-based.
    val keys = (0 until bands).map { bi =>
      (0 until rowsPerBand).foldLeft("CAST(0 AS BIGINT)") { (acc, ri) =>
        s"(($acc * 31 + ($sigExpr)[${bi * rowsPerBand + ri + 1}]) % ${P})"
      }
    }
    s"[${keys.mkString(", ")}]"
  }

  def minhashLshPairsSql(table: String, textCol: String, idCol: String,
                         threshold: Double, bands: Int = 4,
                         rowsPerBand: Int = 4): String = {
    val k = bands * rowsPerBand
    s"""WITH sets AS (${shingleSetsSql(table, textCol, idCol)}),
        sigs AS (SELECT doc_id, sh, ${signatureSql("sh", k)} AS sig
                 FROM sets WHERE len(sh) > 0),
        keyed AS (SELECT doc_id, sh, ${bandKeysSql("sig", bands, rowsPerBand)} AS bk FROM sigs),
        buckets AS (SELECT doc_id, sh, generate_subscripts(bk, 1) AS band,
                           unnest(bk) AS key FROM keyed),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM buckets a JOIN buckets b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        verified AS (
          SELECT doc_a, doc_b,
                 len(list_intersect(sa.sh, sb.sh))::DOUBLE /
                 (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j
          FROM cand JOIN sets sa ON cand.doc_a = sa.doc_id
                    JOIN sets sb ON cand.doc_b = sb.doc_id)
        SELECT doc_a, doc_b, round(j, 4) AS jaccard FROM verified
        WHERE j >= $threshold ORDER BY doc_a, doc_b"""
  }

  /** SimHash near-dup PAIRING (Manku/Charikar): block on equal
    * fingerprint bands, verify candidates by Hamming distance. With
    * `bands` bands and `maxHamming < bands`, a qualifying pair differs
    * in at most `maxHamming` bands, so by pigeonhole it agrees on at
    * least one band — band blocking has RECALL 1 for the Hamming radius
    * (unlike MinHash bands' probabilistic recall), which is why web-scale
    * simhash dedup uses exactly this shape.
    *
    * Scale: candidates come from a band equi-join (never n²); Hamming is
    * one codegen'd `bit_count(xor)`. Band width is the fan-out knob: this
    * 32-bit/4-band default suits the gate corpus; at 100 TB use 64-bit
    * fingerprints and 16-bit bands, and cap pathological band groups with
    * the [[BoundedCollectSet]]/[[MaxShingleFreq]] regime.
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   bits: Int = 32, bands: Int = 4,
                   maxHamming: Int = 3): DataFrame = {
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val sh = TextOps.simhashAgg(docs, textCol, idCol, bits)
      .select(col(idCol).as("doc_id"), col(s"simhash$bits").as("s"))
    val banded = sh.select(col("doc_id"), col("s"),
      posexplode(array((0 until bands).map(i =>
        shiftright(col("s"), i * bandBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bv")))
    // Hamming filter BEFORE the pair-dedup: bit_count(xor) is a scalar
    // codegen'd op, so applying it per band-collision row costs nothing,
    // while the dropDuplicates shuffle then carries only the qualifying
    // pairs (~20× fewer here) instead of every band collision.
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("CAST(bit_count(a.s ^ b.s) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  def simhashPairsSql(table: String, textCol: String, idCol: String,
                      bits: Int = 32, bands: Int = 4,
                      maxHamming: Int = 3): String = {
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val bandIdx = (0 until bands).mkString("[", ", ", "]")
    s"""WITH sh AS (SELECT $idCol AS doc_id,
          ${TextOps.simhashSql(TextOps.tokensSql(textCol), bits)} AS s
          FROM $table),
        bands AS (SELECT doc_id, s, unnest($bandIdx) AS band FROM sh),
        b2 AS (SELECT doc_id, s, band,
               (s >> ($bandBits * band)) & $mask AS bv FROM bands),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.s AS sa, b.s AS sb
                 FROM b2 a JOIN b2 b ON a.band = b.band AND a.bv = b.bv
                   AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= $maxHamming
        ORDER BY doc_a, doc_b"""
  }

  /** Content-defined chunking (Rabin-style polynomial rolling hash) —
    * the shift-INVARIANT chunker fixed grids cannot be: a token inserted
    * at the front of a doc moves every 16/8 grid chunk
    * (`dedup_chunk_exact` then sees nothing shared), but CDC cut points
    * are a pure function of the local token window, so all chunks after
    * the edit's neighborhood re-align — the rsync/LBFS/dedup-storage
    * trick applied to corpus text.
    *
    * Rolling hash: token value x = hash64(token) mod P (P = 1000003,
    * prime); window hash over the last W=4 tokens
    * h_i = Σ_{k<W} x_{i−k}·B^k mod P (B = 257 — largest intermediate
    * x·B³ < 2⁵⁵, no wrap); a cut lands after position i whenever
    * h_i mod D = 0 (D = `cdcDivisor` — expected chunk length D), never
    * after the final token (no empty tail chunk). Every position's hash
    * is an independent 4-term sum, so the whole chunker is ONE narrow
    * array-HOF map — no sequential scan, no shuffle, embarrassingly
    * parallel at any corpus size.
    *
    * Output: one row per chunk — (idCol, start [0-based token offset],
    * chunk [space-joined text]).
    */
  val CdcP = 1000003L
  val CdcB = 257L
  val CdcW = 4
  /** B^k mod P for k = 1..3 (B⁰ = 1), precomputed so both engines inline
    * the same literals. */
  private val cdcB2 = (CdcB * CdcB) % CdcP
  private val cdcB3 = (cdcB2 * CdcB) % CdcP

  def cdcChunks(docs: DataFrame, textCol: String, idCol: String,
                cdcDivisor: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    // 0-based: window-end index i in [3, n-2]; cut after i.
    val cuts =
      s"""CASE WHEN size(__toks) < 5 THEN CAST(array() AS ARRAY<INT>)
          ELSE filter(sequence(3, size(__toks) - 2), i ->
            (__xs[i] + __xs[i-1] * $CdcB + __xs[i-2] * $cdcB2 +
             __xs[i-3] * $cdcB3) % $CdcP % $cdcDivisor = 0) END"""
    docs
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .withColumn("__xs", expr(
        s"transform(__toks, s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) % $CdcP)"))
      .withColumn("__bs", expr(cuts))
      .withColumn("__j", explode(expr("sequence(0, size(__bs))")))
      .withColumn("start", expr(
        "CAST(CASE WHEN __j = 0 THEN 0 ELSE __bs[__j - 1] + 1 END AS BIGINT)"))
      .withColumn("__end", expr(
        "CASE WHEN __j = size(__bs) THEN size(__toks) ELSE __bs[__j] + 1 END"))
      .select(col(idCol), col("start"),
        expr("concat_ws(' ', slice(__toks, CAST(start AS INT) + 1, __end - CAST(start AS INT)))")
          .as("chunk"))
  }

  def cdcChunksSql(table: String, textCol: String, idCol: String,
                   cdcDivisor: Long): String =
    // 1-based: window-end index i in [4, n-1]; cut after token i; the
    // emitted 0-based start of the following chunk is exactly i.
    s"""SELECT $idCol, CAST(st[j] AS BIGINT) AS start,
          array_to_string(list_slice(tk, st[j] + 1, en[j]), ' ') AS chunk
        FROM (
          SELECT $idCol, tk, list_concat([0], bs) AS st,
                 list_concat(bs, [len(tk)]) AS en,
                 unnest(range(1, len(bs) + 2)) AS j
          FROM (
            SELECT $idCol, tk,
                   list_filter(range(4, len(xs)), i ->
                     (xs[i] + xs[i-1] * $CdcB + xs[i-2] * $cdcB2 +
                      xs[i-3] * $cdcB3) % $CdcP % $cdcDivisor = 0) AS bs
            FROM (
              SELECT $idCol, tk,
                     list_transform(tk, s ->
                       ${TextOps.hash64Sql("s")} % $CdcP) AS xs
              FROM (SELECT $idCol, ${TextOps.tokensSql(textCol)} AS tk
                    FROM $table))))"""

  /** Boilerplate-removal knobs: non-overlapping [[BoilerBlock]]-token
    * blocks (last block may be short); a block TEXT occurring in >=
    * [[BoilerMinDf]] DISTINCT documents anywhere in the corpus is
    * boilerplate. */
  val BoilerBlock = 8
  val BoilerMinDf = 3

  /** Boilerplate stripping — C4's line-frequency rule ("Exploring the
    * Limits of Transfer Learning…" §2.2: any line occurring >= 3 times
    * in the corpus is removed from every page) at the block grain.
    *
    * Contrast with [[spanRewrite]] (Lee et al. ExactSubstr): that keeps
    * the globally-FIRST copy of each duplicated stride-1 window;
    * boilerplate is navigation/footer noise with NO canonical owner —
    * every occurrence is removed, including the first, and the trigger is
    * document frequency (>= [[BoilerMinDf]] distinct docs), not raw
    * occurrence count (same-doc repetition alone never flags a block).
    * Domain-scoped template removal (RefinedWeb-style) is the same plan
    * with the source column added to the df key.
    *
    * Scale shape: blocks are non-overlapping, so the occurrence table is
    * tokens/[[BoilerBlock]] rows (8x smaller than the stride-1 span
    * table); document frequency is ONE block-hash aggregation with
    * map-side partials (countDistinct over doc_id — exact at gate scale;
    * the 100 TB variant would fold an HLL per block the way
    * `sketch_overlap_matrix` does); the flag join is a hash equi-join
    * where the df side holds one row per DISTINCT block — broadcast-able
    * for template-heavy corpora. Reconstruction never touches the token
    * array again: blocks PARTITION the document, so the cleaned text is
    * the kept blocks re-joined in block order inside one doc_id-keyed
    * aggregation.
    *
    * Output per doc (all docs): (doc_id, n_blocks, n_removed,
    * clean_text).
    */
  def boilerplateClean(docs: DataFrame, textCol: String, idCol: String,
                       block: Int = BoilerBlock,
                       minDf: Int = BoilerMinDf): DataFrame = {
    val blocks = docs
      .withColumn("__toks", TextOps.tokens(col(textCol)))
      .select(col(idCol).as("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, CAST((size(__toks) + ${block - 1}) div $block AS INT) - 1),
              b -> concat_ws(' ', slice(__toks, b * $block + 1, $block)))""")))
      .select(col("doc_id"), col("pos"), col("col").as("__bt"),
        TextOps.hash64(col("col")).as("__h"))
    val df = blocks.groupBy(col("__h"))
      .agg(countDistinct(col("doc_id")).as("__df"))
    blocks.join(df, Seq("__h"))
      .withColumn("__bp", col("__df") >= minDf)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("__bp").cast("long")).as("n_removed"),
        expr("""array_join(transform(
            filter(sort_array(collect_list(struct(pos AS p, __bt AS t, __bp AS r))),
                   s -> NOT s.r),
            s -> s.t), ' ')""").as("clean_text"))
  }

  /** Oracle twin of [[boilerplateClean]] — identical blocks, document
    * frequency, remove-everywhere rule, and block-order
    * reconstruction. */
  def boilerplateCleanSql(table: String, textCol: String, idCol: String,
                          block: Int = BoilerBlock,
                          minDf: Int = BoilerMinDf): String =
    s"""WITH t AS (SELECT $idCol AS doc_id,
              ${TextOps.tokensSql(textCol)} AS tk FROM $table),
        b AS (SELECT doc_id, tk,
              unnest(generate_series(0, (len(tk) + ${block - 1}) // $block - 1)) AS bi
              FROM t),
        bt AS (SELECT doc_id, CAST(bi AS INT) AS bi,
               array_to_string(list_slice(tk, bi * $block + 1, bi * $block + $block), ' ') AS btxt
               FROM b),
        h AS (SELECT doc_id, bi, btxt, ${TextOps.hash64Sql("btxt")} AS h FROM bt),
        df AS (SELECT h, count(DISTINCT doc_id) AS df FROM h GROUP BY h),
        fl AS (SELECT doc_id, bi, btxt, (df >= $minDf) AS bp
               FROM h JOIN df USING (h))
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
          CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
          coalesce(string_agg(CASE WHEN NOT bp THEN btxt END, ' ' ORDER BY bi), '')
            AS clean_text
        FROM fl GROUP BY doc_id
        ORDER BY doc_id"""
}
