package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-data-pipeline surface (north star):
  * tokenization, quality scoring, language-ID heuristic, fingerprinting.
  *
  * Every operator here has a DuckDB-SQL twin generated from the SAME Scala
  * constants (stopword lists, hash constants), so the Spark implementation
  * and the oracle cannot drift. All hashes are derived from md5 — identical
  * bytes in any engine — truncated to 60 bits so 64-bit arithmetic never
  * overflows.
  *
  * Scale note: the array higher-order functions used here evaluate outside
  * whole-stage codegen. That is acceptable because text ops are bounded by
  * string processing cost, not expression dispatch; if profiling at scale
  * says otherwise the hash pipeline is the candidate for a custom codegen
  * Expression.
  */
object TextOps {

  /** 60-bit stable hash of a string: first 15 hex digits of md5.
    * Identical in Spark (`conv(...,16,10)`) and DuckDB (`'0x…'::BIGINT`). */
  def hash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
  def hash64Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** JVM scalar twin of [[hash64]] for keyed-state streaming twins that
    * must draw the SAME deterministic coin as their batch gate (60-bit
    * nonnegative, so `parseLong` never overflows). Parity is spec-pinned
    * in TsPrivacySpec. */
  def hash64Scalar(s: String): Long =
    java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)

  /** Whitespace tokenization — the reference vocabulary is single-spaced. */
  def tokens(text: Column): Column = split(text, " ")
  def tokensSql(e: String): String = s"string_split($e, ' ')"

  /** Tiny multilingual stopword markers for the language-ID heuristic and
    * the quality score's stopword ratio. */
  val stopwords: Seq[String] =
    Seq("the", "a", "is", "of", "to", "and", "in", "on", "for", "with")

  /** Chunking geometry shared by `text_chunks` and `pipeline_rag_prep`
    * (Spark AND oracle sides): 16-token windows at stride 8. The chunk
    * count for n tokens is 1 + ceil((n-W)/S) when n > W else 1, spelled
    * with the (a + b - 1) div b integer-ceil on both engines. */
  val ChunkWindow = 16
  val ChunkStride = 8
  def chunkCountExpr: String =
    s"CASE WHEN n <= $ChunkWindow THEN 1 ELSE 1 + (n - $ChunkWindow + ${ChunkStride - 1}) div $ChunkStride END"
  def chunkCountSql: String =
    s"CASE WHEN n <= $ChunkWindow THEN 1 ELSE 1 + (n - $ChunkWindow + ${ChunkStride - 1}) // $ChunkStride END"
  /** Chunk `chunk_idx`'s token slice of `toksCol` (1-based starts; Spark
    * slice takes a LENGTH, DuckDB list_slice an inclusive stop — these
    * two spell the identical window). */
  def chunkSliceExpr(toksCol: String): String =
    s"slice($toksCol, CAST(1 + chunk_idx * $ChunkStride AS INT), $ChunkWindow)"
  def chunkSliceSql(toksExpr: String): String =
    s"list_slice($toksExpr, 1 + chunk_idx * $ChunkStride, chunk_idx * $ChunkStride + $ChunkWindow)"

  /** PII scrub patterns, written in the Java-regex ∩ RE2 subset so Spark
    * (java.util.regex) and DuckDB (RE2) match identically: no backrefs,
    * no lookaround, explicit classes only. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+1-555-[0-9]{4}"
  val Ipv4Re  = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "and", "of"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "es", "y", "de"),
    "fr" -> Seq("le", "la", "est", "et", "un"),
    "zh" -> Seq("de5", "shi4", "he2", "zai4", "le5"))

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Count of tokens belonging to `words`, as a Spark SQL expression over a
    * token-array column named `toksCol`. */
  def markerCountExpr(toksCol: String, words: Seq[String]): Column =
    expr(s"size(filter($toksCol, t -> t IN ${inList(words)}))")
  def markerCountSql(toksExpr: String, words: Seq[String]): String =
    s"len(list_filter($toksExpr, t -> t IN ${inList(words)}))"

  /** 3-token shingle strings (w_i w_i+1 w_i+2), NOT distinct, no hashing —
    * hash after `explode` instead so md5 runs in whole-stage codegen:
    * hashing inside the transform lambda is interpreted, and exploding
    * arrays built that way measured ~8 s vs ~1 s for explode-then-hash at
    * sf0.1. */
  def shingleStrings(toksCol: String): Column = expr(
    s"""CASE WHEN size($toksCol) < 3 THEN CAST(array() AS ARRAY<STRING>)
        ELSE transform(sequence(0, size($toksCol) - 3),
          j -> concat_ws(' ', $toksCol[j], $toksCol[j+1], $toksCol[j+2]))
        END""")

  /** 3-token shingles (w_i w_i+1 w_i+2), distinct, as 60-bit hashes.
    * Array form — use only on small/candidate row sets (the hash runs
    * interpreted inside the lambda); the bulk path is
    * [[shingleStrings]] + explode + [[hash64]].
    * Spark array indexing in SQL exprs is 0-based; DuckDB's is 1-based —
    * both generators produce the same shingle strings.
    */
  def shingleHashes(toksCol: String): Column = expr(
    s"""array_distinct(CASE WHEN size($toksCol) < 3 THEN CAST(array() AS ARRAY<BIGINT>)
        ELSE transform(sequence(0, size($toksCol) - 3),
          j -> CAST(conv(substring(md5(concat_ws(' ', $toksCol[j], $toksCol[j+1], $toksCol[j+2])), 1, 15), 16, 10) AS BIGINT))
        END)""")
  def shingleHashesSql(toksExpr: String): String =
    s"""list_distinct(list_transform(range(0, greatest(len($toksExpr) - 2, 0)),
        j -> CAST('0x' || substr(md5(($toksExpr)[j+1] || ' ' || ($toksExpr)[j+2] || ' ' || ($toksExpr)[j+3]), 1, 15) AS BIGINT)))"""

  /** SimHash: per-bit majority vote over token hashes (weight 1), `bits`
    * wide. Near-identical documents land on near-identical fingerprints.
    */
  def simhash(toksCol: String, bits: Int = 16): Column = {
    val hs = s"transform($toksCol, t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"
    val terms = (0 until bits).map { j =>
      s"(CASE WHEN aggregate($hs, 0L, (acc, x) -> acc + CASE WHEN (x >> $j) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << j}L ELSE 0L END)"
    }
    expr(terms.mkString("(", " + ", ")"))
  }
  /** SimHash via explode + hash aggregation — identical math to
    * [[simhash]] but the token hash runs post-explode in codegen and the
    * per-bit majority votes are plain sum aggregations (the bulk path;
    * the array-lambda form measured 5 s vs <1 s at sf0.1).
    * Output: (idCol, simhash16). */
  def simhashAgg(docs: org.apache.spark.sql.DataFrame, textCol: String,
                 idCol: String, bits: Int = 16): org.apache.spark.sql.DataFrame = {
    val inv = docs
      .withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol), explode(col("__toks")).as("__t"))
      .select(col(idCol), hash64(col("__t")).as("h"))
    val sums = (0 until bits).map { j =>
      sum(when(expr(s"(h >> $j) & 1") === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val packed = (0 until bits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    inv.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(col(idCol), packed.as(s"simhash$bits"))
  }

  def simhashSql(toksExpr: String, bits: Int = 16): String = {
    val hs = s"list_transform($toksExpr, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT))"
    val terms = (0 until bits).map { j =>
      s"(CASE WHEN list_sum(list_transform($hs, x -> CASE WHEN (x >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END)"
    }
    // CAST to BIGINT: DuckDB folds the CASE-sum to INTEGER when it fits,
    // but the Spark side packs into LongType — widths must match the gate.
    terms.mkString("CAST((", " + ", ") AS BIGINT)")
  }

  /** BPE tokenizer-training merge loop — the iterated form of
    * `text_bpe_top_pairs` (which is one count step): per round, count
    * adjacent piece pairs over the corpus, adopt the most frequent pair
    * (ties: lexicographic) as a merge, rewrite every sequence greedily
    * left-to-right, repeat. Emits one row per round: the adopted merge,
    * its pre-merge count, and the re-tokenized corpus's piece total +
    * order-independent fingerprint (bit_xor of per-doc 60-bit hashes —
    * mergeable, no driver-side corpus assembly).
    *
    * Scale shape, per round: ONE pair-count shuffle (map-side combined)
    * reduced to a single driver row via TakeOrderedAndProject-style
    * limit(1); the rewrite is a narrow per-row HOF fold (no shuffle); the
    * stats are one partial-aggregable pass. The driver holds only the
    * current merge pair — the CC-rounds pattern. (Production BPE runs
    * thousands of rounds and batches non-conflicting merges per round;
    * the loop body is identical.)
    *
    * The greedy rewrite folds left-to-right over the sequence joined by a
    * \u001f separator (absent from the corpus by construction of the
    * piece regex inputs): if the accumulator's LAST piece equals `pa` and
    * the next piece equals `pb`, append `pb` directly (merging — and the
    * merged symbol, being pa||pb, can no longer left-match pa, which is
    * exactly BPE's non-overlapping skip); otherwise append with a
    * separator. Identical `list_reduce` fold in DuckDB.
    */
  /** The catch-all branch excludes U+001F: a corpus byte equal to the
    * internal join separator would otherwise become a piece and corrupt
    * the join/split rewrite (pieces [a, SEP, b] -> split yields empty
    * tokens) -- silently and identically on BOTH engines, so the gate
    * could never catch it. */
  val BpePieceRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \u001f]"
  private val BpeSep = "\u001f"

  /** Greedy non-overlapping single-merge rewrite of a piece-array column. */
  def bpeMergeOnce(pieces: Column, pa: String, pb: String): Column = {
    val merged = aggregate(
      slice(pieces, lit(2), size(pieces) - 1),
      element_at(pieces, 1),
      (acc, x) => when(x === lit(pb) &&
          (acc === lit(pa) || acc.endsWith(lit(BpeSep + pa))),
          concat(acc, x))
        .otherwise(concat(acc, lit(BpeSep), x)))
    when(size(pieces) < 2, pieces).otherwise(split(merged, BpeSep))
  }

  def bpeTrain(docs: DataFrame, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    val (out, last) = bpeTrainCore(docs, rounds)
    last.unpersist()
    import spark.implicits._
    out.toDF("merge_round", "pa", "pb", "cnt", "pieces_total", "corpus_fp")
  }

  /** Tokenizer APPLY — the per-document corpus after the `rounds`
    * trained merges (train-then-apply composition): piece count + a
    * per-doc fingerprint of the final piece sequence. The merge list is
    * re-derived by the same driver-iterated loop (each learned pair is a
    * literal in the rewrite plan, so the result recomputes without the
    * training cache); a production tokenizer would persist the merge
    * list once and stream the narrow per-row rewrite. */
  def bpeApply(docs: DataFrame, rounds: Int): DataFrame = {
    val (_, last) = bpeTrainCore(docs, rounds)
    val res = last.select(col("doc_id"),
      size(col("p")).cast("long").as("n_pieces"),
      hash64(concat_ws(BpeSep, col("p"))).as("doc_fp"))
    last.unpersist()
    res
  }

  private def bpeTrainCore(docs: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, Long, Long, Long)], DataFrame) = {
    var pieces = docs.select(col("doc_id"),
      regexp_extract_all(col("text"), lit(BpePieceRe), lit(0)).as("p"))
      .persist()
    val out = (1 to rounds).map { r =>
      val top = pieces.filter(size(col("p")) >= 2)
        .select(explode(expr(
          """zip_with(slice(p, 1, size(p) - 1), slice(p, 2, size(p) - 1),
             (a, b) -> named_struct('a', a, 'b', b))""")).as("u"))
        .groupBy(col("u.a").as("pa"), col("u.b").as("pb"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pa"), col("pb"))
        .limit(1).collect()
      // Fail loudly if the corpus ran out of adjacent pairs: the SQL
      // twin's cross join with an empty top-pair CTE would silently
      // empty the corpus instead — diverging, not erroring.
      require(top.nonEmpty,
        s"bpeTrain: no adjacent pair left at round $r — reduce rounds")
      val (pa, pb, cnt) =
        (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      val next = pieces
        .select(col("doc_id"), bpeMergeOnce(col("p"), pa, pb).as("p"))
        .persist()
      // The round-stats aggregate doubles as the materializing action
      // (computing it populates next's cache), so the round runs ONE
      // corpus pass instead of the old count()-then-stats two.
      val st = next
        .select(size(col("p")).cast("long").as("n"),
          hash64(concat_ws(BpeSep, col("p"))).as("h"))
        .agg(sum(col("n")).as("tot"), expr("bit_xor(h)").as("fp"))
        .collect()(0)
      pieces.unpersist()
      pieces = next
      (r, pa, pb, cnt, st.getLong(0), st.getLong(1))
    }
    (out, pieces)
  }

  def bpeTrainSql(table: String, rounds: Int): String = {
    val sb = new StringBuilder(bpeCtesSql(table, rounds))
    sb.append("\n")
    sb.append((1 to rounds).map(r =>
        s"SELECT $r AS merge_round, pa, pb, cnt, pieces_total, corpus_fp FROM t$r, st$r")
      .mkString(" UNION ALL "))
    sb.append(" ORDER BY merge_round")
    sb.toString
  }

  def bpeApplySql(table: String, rounds: Int): String =
    bpeCtesSql(table, rounds) + s"""
      SELECT doc_id, CAST(len(p) AS BIGINT) AS n_pieces,
             ${hash64Sql("array_to_string(p, chr(31))")} AS doc_fp
      FROM s$rounds ORDER BY doc_id"""

  /** Shared CTE chain s0..s{rounds}: s_r = the corpus after merge r. */
  private def bpeCtesSql(table: String, rounds: Int): String = {
    val sb = new StringBuilder(
      s"WITH s0 AS (SELECT doc_id, regexp_extract_all(text, '$BpePieceRe') AS p FROM $table)")
    for (r <- 1 to rounds) {
      val prev = s"s${r - 1}"
      sb.append(s""",
        t$r AS (SELECT pa, pb, CAST(cnt AS BIGINT) AS cnt FROM (
                  SELECT (u).a AS pa, (u).b AS pb, count(*) AS cnt
                  FROM (SELECT unnest(list_transform(range(1, len(p)),
                         i -> struct_pack(a := p[i], b := p[i + 1]))) AS u
                        FROM $prev WHERE len(p) >= 2)
                  GROUP BY 1, 2)
                ORDER BY cnt DESC, pa, pb LIMIT 1),
        s$r AS (SELECT doc_id,
                  CASE WHEN len(p) < 2 THEN p
                  ELSE string_split(list_reduce(p, (acc, x) ->
                    CASE WHEN x = t$r.pb AND (acc = t$r.pa
                           OR ends_with(acc, chr(31) || t$r.pa))
                      THEN acc || x ELSE acc || chr(31) || x END), chr(31))
                  END AS p
                FROM $prev, t$r),
        st$r AS (SELECT CAST(sum(len(p)) AS BIGINT) AS pieces_total,
                        bit_xor(${hash64Sql("array_to_string(p, chr(31))")})
                          AS corpus_fp
                 FROM s$r)""")
    }
    sb.toString
  }

  /** Bigram language-model fluency score — the statistical-LM quality
    * signal (CCNet/KenLM-style) re-expressed libm-free: each document is
    * scored by the ARITHMETIC mean of its bigrams' corpus conditional
    * probabilities P(w2|w1) = c(w1,w2)/c(w1·). True perplexity needs ln()
    * (whose last-ulp behavior differs between libm and DuckDB — not
    * oracle-exact), so the gate uses the mean-probability variant: same
    * monotone "how typical are this doc's transitions" signal, fully
    * order-free.
    *
    * Cross-engine exactness: each conditional probability quantizes to
    * integer micro-units via INTEGRAL division, (c2·10⁶) div c1, with the
    * product taken in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so no
    * count magnitude can wrap; the per-doc sum of those BIGINTs is exact
    * and order-free, and the final mean is one correctly-rounded double
    * division quantized by [[SimOps.quant4]]. Single-token docs emit
    * n_bigrams = 0 with a NULL score (both engines).
    *
    * Scale shape: the corpus is tokenized ONCE — the (doc_id, w1, w2)
    * stream is immediately pre-aggregated to (doc_id, w1, w2, n) with
    * map-side combine and LOCAL-CHECKPOINTED, so its two consumers (the
    * corpus bigram table and the per-doc probability join) both read the
    * materialized slim table instead of re-running the token-scale
    * explode per branch. (ReuseExchange cannot dedupe here: column
    * pruning gives each consumer a different aggregate output list, so
    * the branches never canonicalize equal — measured as the round-6 3×
    * regression.) The checkpoint blocks are ContextCleaner-reclaimed
    * when the result frame is dropped. The prefix count c(w1·) ≡
    * Σ_{w2} c(w1,w2) is a WINDOW over the (w1,w2)-grain bigram table —
    * partitions bounded by vocabulary fan-out, never corpus size — and
    * the probability join carries distinct-bigram-per-doc rows, not one
    * row per occurrence — hot-bigram skew there is AQE skew-split
    * territory, not a one-reducer prefix join. */
  def lmScore(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(expr(
        """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
           (a, b) -> struct(a AS w1, b AS w2))""")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      // Pre-state the not-null constraints the downstream joins would
      // infer (doc_id from the final left join's build side, w1/w2 from
      // the equi-joins): with them already present, BOTH consumers of
      // the pre-aggregation below canonicalize to the SAME subplan and
      // ReuseExchange dedupes the token-scale tokenize+explode to one
      // physical pass. Without this, InferFiltersFromConstraints pushes
      // a different filter set into each branch and the corpus is
      // tokenized once per consumer (the round-6 3× regression).
      .filter(col("doc_id").isNotNull && col("w1").isNotNull &&
        col("w2").isNotNull)
    // Distinct-bigram-per-doc grain, materialized once: the single
    // token-scale pass both consumers below share.
    val bgd = bg.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val bc = bgd.groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("c2"))
    // c(w1·) as a window over the (w1,w2)-grain table: each w1 partition
    // holds at most |vocab| rows (distinct successors), so no corpus-
    // scale hot key can form — and bc feeds it without a third branch.
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
    val prob = bc
      .withColumn("c1", sum(col("c2")).over(wAll))
      .select(col("w1"), col("w2"),
        expr("CAST((CAST(c2 AS DECIMAL(38,0)) * 1000000) div c1 AS BIGINT)")
          .as("p_micro"))
    val perDoc = bgd.join(prob, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("m"),
        sum(col("n") * col("p_micro")).as("sp"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("m"), lit(0L)).as("n_bigrams"),
        SimOps.quant4(col("sp").cast("double") /
          (col("m") * lit(1000000L)).cast("double")).as("lm_score"))
  }

  /** Corpus vocabulary drift — the text twin of [[SimOps.dimDrift]]: the
    * TOTAL-VARIATION distance between the term distributions of a
    * reference slice and a current slice, TV = ½ Σ_t |p_t − q_t|. This is
    * the ingestion observable that triggers re-training of frequency-
    * derived artifacts (BPE vocab, stopword lists, LM counts); TV is
    * chosen over KL precisely because it needs no ln() — the whole
    * statistic stays in exact integer arithmetic.
    *
    * Cross-engine exactness: with N_r/N_c the slice token totals, each
    * term contributes |c_t·N_c − d_t·N_r| over the common denominator
    * N_r·N_c — numerators summed as DECIMAL(38,0)/HUGEINT (exact at any
    * corpus size), ONE correctly-rounded double division at the end
    * ([[SimOps.quant4]]'d). The top-drifting term is an exact-integer
    * argmax, tie-broken to the lexicographically smallest term.
    *
    * Scale shape: one (term, slice-flag) hash-agg shuffle with map-side
    * combine (distinct-term-bounded), two broadcast-scalar totals, then
    * a term-level narrow pass + single-row agg. No token-scale joins. */
  def vocabDrift(docs: DataFrame, refPred: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val toks = docs
      .select(refPred.as("is_ref"), explode(tokens(col("text"))).as("term"))
    val counts = toks.groupBy(col("term"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("c"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("d"))
    val totals = counts
      .agg(sum(col("c")).as("nr"), sum(col("d")).as("nc"))
    val dev = counts.crossJoin(broadcast(totals))
      .withColumn("num",
        abs(col("c").cast(dec) * col("nc") - col("d").cast(dec) * col("nr")))
    dev
      .agg(max(col("nr")).as("ref_tokens"), max(col("nc")).as("cur_tokens"),
        count(lit(1)).as("n_terms"),
        sum(col("num")).as("__s"),
        // max num, then SMALLEST term: min over the (−num, term) struct.
        min_by(col("term"), struct((col("num") * lit(-1)).as("nn"),
          col("term"))).as("top_term"),
        max(col("num")).as("__m"))
      .select(col("ref_tokens"), col("cur_tokens"), col("n_terms"),
        // An EMPTY slice has no distribution to compare against: NULL
        // tv/top_dev on both engines (the NULLIF guard, like the
        // z-score's sd=0 case), never a divide-by-zero.
        SimOps.quant4(col("__s").cast("double") / (lit(2d) *
          nullif(col("ref_tokens").cast("double") *
            col("cur_tokens").cast("double"), lit(0d)))).as("tv"),
        col("top_term"),
        SimOps.quant4(col("__m").cast("double") /
          nullif(col("ref_tokens").cast("double") *
            col("cur_tokens").cast("double"), lit(0d))).as("top_dev"))
  }

  def vocabDriftSql(table: String, refPredSql: String): String =
    s"""WITH toks AS (
          SELECT ($refPredSql) AS is_ref, unnest(${tokensSql("text")}) AS term
          FROM $table),
        counts AS (
          SELECT term,
                 sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS c,
                 sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS d
          FROM toks GROUP BY term),
        totals AS (SELECT sum(c) AS nr, sum(d) AS nc FROM counts),
        dev AS (
          SELECT term, abs(CAST(c AS HUGEINT) * nc - CAST(d AS HUGEINT) * nr)
                   AS num, nr, nc
          FROM counts CROSS JOIN totals)
        SELECT CAST(max(nr) AS BIGINT) AS ref_tokens,
               CAST(max(nc) AS BIGINT) AS cur_tokens,
               CAST(count(*) AS BIGINT) AS n_terms,
               ${SimOps.quant4Sql("CAST(sum(num) AS DOUBLE) / (2.0 * " +
                 "NULLIF(CAST(max(nr) AS DOUBLE) * CAST(max(nc) AS DOUBLE), 0))")}
                 AS tv,
               min(term) FILTER (WHERE num = mx) AS top_term,
               ${SimOps.quant4Sql("CAST(max(num) AS DOUBLE) / " +
                 "NULLIF(CAST(max(nr) AS DOUBLE) * CAST(max(nc) AS DOUBLE), 0)")}
                 AS top_dev
        FROM dev CROSS JOIN (SELECT max(num) AS mx FROM dev) m"""

  def lmScoreSql(table: String): String =
    s"""WITH toks AS (SELECT doc_id, ${tokensSql("text")} AS t FROM $table),
        bg AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(t)),
                   j -> {'w1': t[j], 'w2': t[j + 1]})) AS b
          FROM toks),
        bg2 AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
        bc AS (SELECT w1, w2, count(*) AS c2 FROM bg2 GROUP BY w1, w2),
        pc AS (SELECT w1, count(*) AS c1 FROM bg2 GROUP BY w1),
        prob AS (
          SELECT w1, w2,
                 CAST((CAST(c2 AS HUGEINT) * 1000000) // c1 AS BIGINT)
                   AS p_micro
          FROM bc JOIN pc USING (w1)),
        perdoc AS (
          SELECT doc_id, count(*) AS m, sum(p_micro) AS sp
          FROM bg2 JOIN prob USING (w1, w2) GROUP BY doc_id)
        SELECT d.doc_id, CAST(COALESCE(m, 0) AS BIGINT) AS n_bigrams,
               ${SimOps.quant4Sql(
                 "CAST(sp AS DOUBLE) / CAST(m * 1000000 AS DOUBLE)")}
                 AS lm_score
        FROM $table d LEFT JOIN perdoc USING (doc_id) ORDER BY d.doc_id"""

  /** Trigram Stupid Backoff scoring (Brants et al., "Large Language
    * Models in Machine Translation", EMNLP 2007 — the score function
    * built FOR distributed count tables: no discounting mass to
    * normalize across shards, just counts and a fixed backoff factor):
    *
    *   S(w3 | w1 w2) = c(w1 w2 w3)/c(w1 w2)      if the trigram is seen
    *                 = 0.4 · c(w2 w3)/c(w2)      else if the bigram is
    *                 = 0.4² · c(w3)/N            else if the unigram is
    *                 = 0                          else (true OOV)
    *
    * Counts are trained on the `trainPred` slice only and every doc is
    * scored — out-of-slice n-grams actually exercise the backoff chain
    * (a self-trained corpus would hit the trigram level everywhere).
    * Fixed-point micro probabilities with floor division (all operands
    * nonnegative, so `div` ≡ `//`); the backoff factors are exact micro
    * constants 400000 and 160000, applied as `(k·p) div 1e6` — both
    * engines produce the identical BIGINT per trigram, and the only
    * double is the final [[SimOps.quant4]]'d mean. Per-doc backoff-level
    * tallies (`n_tri_hit`/`n_bi_back`/`n_uni_back`/`n_oov`) are the
    * audit columns: they say *why* a doc scored low (domain-shifted but
    * fluent → bigram backoffs; garbage → OOV), which is the actual
    * data-curation signal.
    *
    * Scale shape: the three count tables are n-gram-distinct-bounded
    * hash-aggs with map-side combine (this is exactly the layout Brants
    * shards across machines); scoring joins run at the
    * distinct-trigram-per-doc grain (never one row per occurrence), as
    * plain equi-joins — hot n-grams are AQE skew-split territory. The
    * trigram grain is computed once and localCheckpoint'd for its two
    * consumers (train counts + scoring), the [[lmScore]] ReuseExchange
    * lesson. */
  def stupidBackoff(docs: DataFrame, trainPred: Column): DataFrame = {
    val base = docs
      .select(col("doc_id"), trainPred.as("is_t"), tokens(col("text")).as("t"))
    val tgd = base
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("is_t"), explode(expr(
        """transform(sequence(1, size(t) - 2),
           i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2,
                       element_at(t, i + 2) AS w3))""")).as("g"))
      .select(col("doc_id"), col("is_t"),
        col("g.w1").as("w1"), col("g.w2").as("w2"), col("g.w3").as("w3"))
      .groupBy(col("doc_id"), col("is_t"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    // The unigram and bigram count tables are each consumed by several
    // downstream joins (uni by nTot/biP/uniP, bi by biP/triP) — left
    // unmaterialized on purpose: checkpointing them measured 3× slower
    // at gate scale (AQE coalesces the tiny aggregates to one partition
    // and the downstream joins then run single-task; the DedupOps
    // ophLshPairs note has the full measurement story).
    val uni = base.filter(col("is_t"))
      .select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val nTot = uni.agg(sum(col("c1")).as("nn"))
    val bi = base.filter(col("is_t"))
      .select(explode(expr(
        """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
           (a, b) -> struct(a AS wa, b AS wb))""")).as("b"))
      .select(col("b.wa").as("wa"), col("b.wb").as("wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("c2"))
    val biP = bi.join(uni.select(col("w").as("wa"), col("c1")), "wa")
      .select(col("wa"), col("wb"), expr(
        "CAST((CAST(c2 AS DECIMAL(38,0)) * 1000000) div c1 AS BIGINT)")
        .as("bi_p"))
    val triP = tgd.filter(col("is_t"))
      .groupBy(col("w1"), col("w2"), col("w3")).agg(sum(col("n")).as("c3"))
      .join(bi.select(col("wa").as("w1"), col("wb").as("w2"), col("c2")),
        Seq("w1", "w2"))
      .select(col("w1"), col("w2"), col("w3"), expr(
        "CAST((CAST(c3 AS DECIMAL(38,0)) * 1000000) div c2 AS BIGINT)")
        .as("tri_p"))
    val uniP = uni.crossJoin(broadcast(nTot))
      .select(col("w").as("w3"), expr(
        "CAST((CAST(c1 AS DECIMAL(38,0)) * 1000000) div nn AS BIGINT)")
        .as("uni_p"))
    val scored = tgd
      .select(col("doc_id"), col("w1"), col("w2"), col("w3"), col("n"))
      .join(triP, Seq("w1", "w2", "w3"), "left")
      .join(biP.select(col("wa").as("w2"), col("wb").as("w3"), col("bi_p")),
        Seq("w2", "w3"), "left")
      .join(uniP, Seq("w3"), "left")
      .withColumn("s_micro", coalesce(col("tri_p"),
        expr("(400000L * bi_p) div 1000000L"),
        expr("(160000L * uni_p) div 1000000L"), lit(0L)))
      .withColumn("lvl",
        when(col("tri_p").isNotNull, 3).when(col("bi_p").isNotNull, 2)
          .when(col("uni_p").isNotNull, 1).otherwise(0))
    val perDoc = scored.groupBy(col("doc_id")).agg(
      sum(col("n")).as("m"),
      sum(col("n") * col("s_micro")).as("sp"),
      sum(when(col("lvl") === 3, col("n")).otherwise(0L)).as("h3"),
      sum(when(col("lvl") === 2, col("n")).otherwise(0L)).as("h2"),
      sum(when(col("lvl") === 1, col("n")).otherwise(0L)).as("h1"),
      sum(when(col("lvl") === 0, col("n")).otherwise(0L)).as("h0"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("m"), lit(0L)).as("n_trigrams"),
        coalesce(col("h3"), lit(0L)).as("n_tri_hit"),
        coalesce(col("h2"), lit(0L)).as("n_bi_back"),
        coalesce(col("h1"), lit(0L)).as("n_uni_back"),
        coalesce(col("h0"), lit(0L)).as("n_oov"),
        SimOps.quant4(col("sp").cast("double") /
          (col("m") * lit(1000000L)).cast("double")).as("sb_score"))
  }

  /** Oracle twin of [[stupidBackoff]]: identical count tables, micro
    * floor divisions, backoff constants, and coalesce order in DuckDB. */
  def stupidBackoffSql(table: String, trainPredSql: String): String =
    s"""WITH base AS (SELECT doc_id, ($trainPredSql) AS is_t,
          ${tokensSql("text")} AS t FROM $table),
        tg AS (SELECT doc_id, is_t,
            unnest(list_transform(range(1, len(t) - 1),
              j -> {'w1': t[j], 'w2': t[j + 1], 'w3': t[j + 2]})) AS g
          FROM base WHERE len(t) >= 3),
        tgd AS (SELECT doc_id, is_t, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3,
            CAST(count(*) AS BIGINT) AS n
          FROM tg GROUP BY doc_id, is_t, g.w1, g.w2, g.w3),
        unic AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
          FROM (SELECT unnest(t) AS w FROM base WHERE is_t) GROUP BY w),
        ntot AS (SELECT CAST(sum(c1) AS BIGINT) AS nn FROM unic),
        bic AS (SELECT b.wa AS wa, b.wb AS wb, CAST(count(*) AS BIGINT) AS c2
          FROM (SELECT unnest(list_transform(range(1, len(t)),
                  j -> {'wa': t[j], 'wb': t[j + 1]})) AS b
                FROM base WHERE is_t)
          GROUP BY b.wa, b.wb),
        bip AS (SELECT wa, wb,
            CAST((CAST(c2 AS HUGEINT) * 1000000) // c1 AS BIGINT) AS bi_p
          FROM bic JOIN unic ON wa = w),
        trip AS (SELECT w1, w2, w3,
            CAST((CAST(c3 AS HUGEINT) * 1000000) // c2 AS BIGINT) AS tri_p
          FROM (SELECT w1, w2, w3, sum(n) AS c3 FROM tgd WHERE is_t
                GROUP BY w1, w2, w3) tric
          JOIN bic ON w1 = wa AND w2 = wb),
        unip AS (SELECT w, CAST((CAST(c1 AS HUGEINT) * 1000000) // nn
            AS BIGINT) AS uni_p
          FROM unic CROSS JOIN ntot),
        sc AS (SELECT doc_id, n,
            COALESCE(tri_p, (400000 * bi_p) // 1000000,
              (160000 * uni_p) // 1000000, 0) AS s,
            CASE WHEN tri_p IS NOT NULL THEN 3
                 WHEN bi_p IS NOT NULL THEN 2
                 WHEN uni_p IS NOT NULL THEN 1 ELSE 0 END AS lvl
          FROM tgd g
          LEFT JOIN trip USING (w1, w2, w3)
          LEFT JOIN bip ON g.w2 = bip.wa AND g.w3 = bip.wb
          LEFT JOIN unip ON g.w3 = unip.w),
        pd AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS m, sum(n * s) AS sp,
            CAST(sum(CASE WHEN lvl = 3 THEN n ELSE 0 END) AS BIGINT) AS h3,
            CAST(sum(CASE WHEN lvl = 2 THEN n ELSE 0 END) AS BIGINT) AS h2,
            CAST(sum(CASE WHEN lvl = 1 THEN n ELSE 0 END) AS BIGINT) AS h1,
            CAST(sum(CASE WHEN lvl = 0 THEN n ELSE 0 END) AS BIGINT) AS h0
          FROM sc GROUP BY doc_id)
        SELECT d.doc_id,
          COALESCE(m, 0) AS n_trigrams,
          COALESCE(h3, 0) AS n_tri_hit,
          COALESCE(h2, 0) AS n_bi_back,
          COALESCE(h1, 0) AS n_uni_back,
          COALESCE(h0, 0) AS n_oov,
          ${SimOps.quant4Sql(
            "CAST(sp AS DOUBLE) / CAST(m * 1000000 AS DOUBLE)")}
            AS sb_score
        FROM $table d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id"""

  /** Good–Turing count-of-counts panel (Good 1953; the Gale & Sampson
    * 1995 "simple GT" presentation): for every observed frequency
    * class r, the class size N_r, the adjusted count
    * r* = (r+1)·N_{r+1}/N_r, and the total probability mass GT
    * assigns to the class, mass(r) = (r+1)·N_{r+1}/N — one uniform
    * formula that at r = 0 IS the unseen-mass estimate N_1/N, the
    * number every smoothing scheme (Katz, absolute discounting, KN's
    * own discount fit) starts from. Raw GT (no N_r smoothing): where
    * N_{r+1} = 0 the adjusted count reports 0, the honest raw
    * estimate — the Gale–Sampson log-linear fit is the documented
    * production refinement. Fixed-point micro with floor division;
    * products through DECIMAL(38,0)/HUGEINT (r·N_r·1e6 wraps 2⁶³ on
    * heavy-tail corpora).
    *
    * Scale shape: one tokenize+explode into a vocab-bounded hash-agg,
    * then a count-of-counts hash-agg whose output is O(√tokens) rows
    * (distinct frequency classes) — the panel is a bounded artifact
    * at any corpus size. */
  def goodTuring(docs: DataFrame): DataFrame = {
    val c = docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val cc = c.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
      .localCheckpoint() // read by itself (shifted) and the r=0 union
    val tot = c.agg(sum(col("c")).as("nn"))
    val withZero = cc.unionByName(
      docs.sparkSession.range(1)
        .select(lit(0L).as("r"), lit(0L).as("n_r")))
    val nxt = cc.select((col("r") - 1L).as("r"), col("n_r").as("n_next"))
    withZero.join(nxt, Seq("r"), "left").crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"),
        coalesce(col("n_next"), lit(0L)).as("n_next"),
        when(col("r") >= 1L, expr(
          """CAST(CAST(r + 1 AS DECIMAL(38,0)) * coalesce(n_next, 0)
             * 1000000 div n_r AS BIGINT)"""))
          .otherwise(lit(0L)).as("r_star_micro"),
        expr("""CAST(CAST(r + 1 AS DECIMAL(38,0)) * coalesce(n_next, 0)
             * 1000000 div nn AS BIGINT)""").as("mass_micro"))
  }

  /** Oracle twin of [[goodTuring]]: identical count-of-counts, shifted
    * self-join, r = 0 row, and HUGEINT floor divisions. */
  def goodTuringSql(table: String): String =
    s"""WITH cw AS (SELECT w, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT unnest(${tokensSql("text")}) AS w FROM $table)
          GROUP BY w),
        cc AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r
          FROM cw GROUP BY c),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cw),
        cz AS (SELECT r, n_r FROM cc
               UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        nx AS (SELECT r - 1 AS r, n_r AS n_next FROM cc)
        SELECT cz.r, cz.n_r, COALESCE(nx.n_next, 0) AS n_next,
          CASE WHEN cz.r >= 1 THEN
            CAST(CAST(cz.r + 1 AS HUGEINT) * COALESCE(nx.n_next, 0)
              * 1000000 // cz.n_r AS BIGINT)
          ELSE 0 END AS r_star_micro,
          CAST(CAST(cz.r + 1 AS HUGEINT) * COALESCE(nx.n_next, 0)
            * 1000000 // nn AS BIGINT) AS mass_micro
        FROM cz LEFT JOIN nx ON cz.r = nx.r CROSS JOIN tot
        ORDER BY cz.r"""

  /** Interpolated Kneser–Ney bigram LM scoring (Kneser & Ney,
    * ICASSP 1995; the Chen & Goodman 1999 interpolated form — the
    * smoothing that WON their study and the standard against which
    * Stupid Backoff trades accuracy for shardability):
    *
    *   P(w2|w1) = max(c(w1w2) − d, 0)/c(w1·)
    *              + d·N1+(w1·)/c(w1·) · P_cont(w2)
    *   P_cont(w2) = N1+(·w2) / B
    *
    * with d = 0.75, N1+(w1·)/N1+(·w2) the distinct-continuation
    * counts, and B the distinct-bigram total — the continuation
    * probability is what lets "Francisco" score low as a novel
    * continuation even though it is frequent (the famous example).
    * An unseen CONTEXT backs off to P_cont(w2) outright; a w2 never
    * seen as a continuation is true OOV. Everything is fixed-point
    * micro with floor division (d = 750000 micro; products through
    * DECIMAL(38,0)/HUGEINT per the house overflow rule), so both
    * engines produce the identical BIGINT per bigram. Per-doc level
    * tallies (`n_kn_hit`/`n_cont_back`/`n_oov`) are the curation
    * audit columns, as in [[stupidBackoff]].
    *
    * Scale shape: count tables are distinct-bigram-bounded hash-aggs
    * with map-side combine; scoring joins run at the distinct
    * (doc, bigram) grain as plain equi-joins; the bigram grain is
    * computed once and localCheckpoint'd for its two consumers. */
  def knBigram(docs: DataFrame, trainPred: Column): DataFrame = {
    val d = 750000L
    val base = docs
      .select(col("doc_id"), trainPred.as("is_t"), tokens(col("text")).as("t"))
    val bgd = base
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("is_t"), explode(expr(
        """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
           (a, b) -> struct(a AS w1, b AS w2))""")).as("g"))
      .select(col("doc_id"), col("is_t"),
        col("g.w1").as("w1"), col("g.w2").as("w2"))
      .groupBy(col("doc_id"), col("is_t"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val bc = bgd.filter(col("is_t"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("c12"))
    val ctx = bc.groupBy(col("w1"))
      .agg(sum(col("c12")).as("ctxc"), count(lit(1)).as("nfollow"))
    val cont = bc.groupBy(col("w2")).agg(count(lit(1)).as("nprec"))
    val bTot = bc.agg(count(lit(1)).as("bb"))
    val contP = cont.crossJoin(broadcast(bTot))
      .select(col("w2"), expr(
        "CAST(CAST(nprec AS DECIMAL(38,0)) * 1000000 div bb AS BIGINT)")
        .as("pcont"))
    val scored = bgd
      .select(col("doc_id"), col("w1"), col("w2"), col("n"))
      .join(bc, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(contP, Seq("w2"), "left")
      .withColumn("p_micro", when(col("ctxc").isNotNull,
          coalesce(expr(
            s"CAST((CAST(c12 AS DECIMAL(38,0)) * 1000000 - $d) div ctxc" +
              " AS BIGINT)"), lit(0L)) +
          expr(s"(CAST($d * nfollow AS DECIMAL(38,0)) div ctxc)" +
            " * coalesce(pcont, 0L) div 1000000L").cast("long"))
        .otherwise(coalesce(col("pcont"), lit(0L))))
      .withColumn("lvl",
        when(col("c12").isNotNull, 2)
          .when(col("pcont").isNotNull, 1).otherwise(0))
    val perDoc = scored.groupBy(col("doc_id")).agg(
      sum(col("n")).as("m"),
      sum(col("n") * col("p_micro")).as("sp"),
      sum(when(col("lvl") === 2, col("n")).otherwise(0L)).as("h2"),
      sum(when(col("lvl") === 1, col("n")).otherwise(0L)).as("h1"),
      sum(when(col("lvl") === 0, col("n")).otherwise(0L)).as("h0"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("m"), lit(0L)).as("n_bigrams"),
        coalesce(col("h2"), lit(0L)).as("n_kn_hit"),
        coalesce(col("h1"), lit(0L)).as("n_cont_back"),
        coalesce(col("h0"), lit(0L)).as("n_oov"),
        coalesce(SimOps.quant4(col("sp").cast("double") /
          (col("m") * lit(1000000L)).cast("double")), lit(-1.0))
          .as("kn_score"))
  }

  /** Oracle twin of [[knBigram]]: identical count tables, micro floor
    * divisions, discount, interpolation, and level classification. */
  def knBigramSql(table: String, trainPredSql: String): String =
    s"""WITH base AS (SELECT doc_id, ($trainPredSql) AS is_t,
          ${tokensSql("text")} AS t FROM $table),
        bgd AS (SELECT doc_id, is_t, g.w1 AS w1, g.w2 AS w2,
            CAST(count(*) AS BIGINT) AS n
          FROM (SELECT doc_id, is_t,
              unnest(list_transform(range(1, len(t)),
                j -> {'w1': t[j], 'w2': t[j + 1]})) AS g
            FROM base WHERE len(t) >= 2)
          GROUP BY doc_id, is_t, g.w1, g.w2),
        bc AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c12
          FROM bgd WHERE is_t GROUP BY w1, w2),
        ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS ctxc,
            CAST(count(*) AS BIGINT) AS nfollow
          FROM bc GROUP BY w1),
        cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS nprec
          FROM bc GROUP BY w2),
        bt AS (SELECT CAST(count(*) AS BIGINT) AS bb FROM bc),
        cp AS (SELECT w2,
            CAST(CAST(nprec AS HUGEINT) * 1000000 // bb AS BIGINT)
              AS pcont
          FROM cont CROSS JOIN bt),
        sc AS (SELECT doc_id, n,
            CASE WHEN ctxc IS NOT NULL THEN
              COALESCE(CAST((CAST(c12 AS HUGEINT) * 1000000 - 750000)
                // ctxc AS BIGINT), 0)
              + CAST((CAST(750000 AS HUGEINT) * nfollow // ctxc)
                  * COALESCE(pcont, 0) // 1000000 AS BIGINT)
            ELSE COALESCE(pcont, 0) END AS p,
            CASE WHEN c12 IS NOT NULL THEN 2
                 WHEN pcont IS NOT NULL THEN 1 ELSE 0 END AS lvl
          FROM bgd g
          LEFT JOIN bc USING (w1, w2)
          LEFT JOIN ctx USING (w1)
          LEFT JOIN cp USING (w2)),
        pd AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS m, sum(n * p) AS sp,
            CAST(sum(CASE WHEN lvl = 2 THEN n ELSE 0 END) AS BIGINT) AS h2,
            CAST(sum(CASE WHEN lvl = 1 THEN n ELSE 0 END) AS BIGINT) AS h1,
            CAST(sum(CASE WHEN lvl = 0 THEN n ELSE 0 END) AS BIGINT) AS h0
          FROM sc GROUP BY doc_id)
        SELECT d.doc_id,
          COALESCE(m, 0) AS n_bigrams,
          COALESCE(h2, 0) AS n_kn_hit,
          COALESCE(h1, 0) AS n_cont_back,
          COALESCE(h0, 0) AS n_oov,
          COALESCE(${SimOps.quant4Sql(
            "CAST(sp AS DOUBLE) / CAST(m * 1000000 AS DOUBLE)")}, -1.0)
            AS kn_score
        FROM $table d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id"""

  /** Serving flag threshold for [[stupidBackoffServe]] and its live
    * twin: a quant4'd mean trigram score under 0.05 (or a doc too
    * short to form a trigram) marks the arriving doc for review — the
    * CCNet-style quality cut applied AT INGEST rather than in a batch
    * sweep. */
  val SbFlagThreshold = 0.05

  /** The SERVING view of [[stupidBackoff]] — score only the docs
    * OUTSIDE the train slice (the model is trained on a corpus
    * snapshot; the serve set is what arrives afterwards) and attach
    * the live keep/flag decision. `sb_score` is coalesced to the −1.0
    * sentinel for docs with no trigram (a NULL would sort differently
    * across engines — the engine-exactness NULL rule); such docs are
    * always flagged. This is the batch gate of the stateless
    * streaming twin `StatefulOps.streamingLmScore`, which broadcasts
    * the SAME count tables (the Brants serving shape) and must emit
    * identical rows (StreamingSpec parity). */
  def stupidBackoffServe(docs: DataFrame, trainPred: Column): DataFrame =
    stupidBackoff(docs, trainPred)
      .join(docs.select(col("doc_id"), trainPred.as("__t")), "doc_id")
      .filter(!col("__t"))
      .select(col("doc_id"), col("n_trigrams"), col("n_tri_hit"),
        col("n_bi_back"), col("n_uni_back"), col("n_oov"),
        coalesce(col("sb_score"), lit(-1.0)).as("sb_score"),
        (col("n_trigrams") === 0L ||
          coalesce(col("sb_score"), lit(-1.0)) < SbFlagThreshold)
          .as("flagged"))

  /** Oracle twin of [[stupidBackoffServe]]: the [[stupidBackoffSql]]
    * pipeline filtered to the NOT-train slice with the same sentinel
    * coalesce and flag predicate. */
  def stupidBackoffServeSql(table: String, trainPredSql: String): String =
    s"""WITH sb AS (${stupidBackoffSql(table, trainPredSql)})
        SELECT doc_id, n_trigrams, n_tri_hit, n_bi_back, n_uni_back,
          n_oov, COALESCE(sb_score, -1.0) AS sb_score,
          (n_trigrams = 0 OR COALESCE(sb_score, -1.0)
            < $SbFlagThreshold) AS flagged
        FROM sb JOIN $table d USING (doc_id)
        WHERE NOT ($trainPredSql) ORDER BY doc_id"""

  /** The SERVING view of [[knBigram]] — the Kneser–Ney mirror of
    * [[stupidBackoffServe]]: the model trains on the corpus snapshot
    * (`trainPred`), every doc OUTSIDE that slice is scored with the
    * live keep/flag decision attached. kn_score already carries the
    * −1.0 no-bigram sentinel (never NULL — the cross-engine NULL-order
    * rule); such docs are always flagged. This is the batch gate of
    * the stateless streaming twin `StatefulOps.streamingKnScore`,
    * which broadcasts the SAME count tables (bigram counts, context
    * totals + distinct continuations, continuation probabilities) and
    * must emit identical rows (StreamingSpec parity across micro-batch
    * splits). */
  def knServe(docs: DataFrame, trainPred: Column): DataFrame =
    knBigram(docs, trainPred)
      .join(docs.select(col("doc_id"), trainPred.as("__t")), "doc_id")
      .filter(!col("__t"))
      .select(col("doc_id"), col("n_bigrams"), col("n_kn_hit"),
        col("n_cont_back"), col("n_oov"), col("kn_score"),
        (col("n_bigrams") === 0L ||
          col("kn_score") < SbFlagThreshold).as("flagged"))

  /** Oracle twin of [[knServe]]: the [[knBigramSql]] pipeline filtered
    * to the NOT-train slice with the same flag predicate. */
  def knServeSql(table: String, trainPredSql: String): String =
    s"""WITH kn AS (${knBigramSql(table, trainPredSql)})
        SELECT doc_id, n_bigrams, n_kn_hit, n_cont_back, n_oov,
          kn_score,
          (n_bigrams = 0 OR kn_score < $SbFlagThreshold) AS flagged
        FROM kn JOIN $table d USING (doc_id)
        WHERE NOT ($trainPredSql) ORDER BY doc_id"""

  /** Phrase search over the positional inverted index — the retrieval
    * consumer `text_inverted_index` exists for: find every occurrence of
    * an exact 3-token phrase by intersecting posting lists at adjacent
    * positions, never re-scanning raw text. The query phrases are derived
    * from the corpus itself (top-`nPhrases` trigrams, count-desc then
    * lexicographic — deterministic on both engines), so the gate needs no
    * fixture and the derivation count independently cross-checks the
    * positional join (`n_hits` must equal the derivation's count — two
    * disjoint code paths agreeing, asserted in the spec).
    *
    * Scale shape: the positional index (doc, pos, term) is built once and
    * persisted (read three times); the tiny phrase table broadcasts into
    * the first-word probe, then each subsequent word is ONE hash equi-join
    * on (doc_id, pos+i, term) — slim long/string rows, work proportional
    * to the POSTING LIST of the rarest matched prefix, not the corpus.
    * This is exactly how a production engine answers phrase queries over
    * a distributed index (position intersection), and the plan contains
    * no cartesian and no regex over full text. */
  def phraseSearch(docs: DataFrame, textCol: String, idCol: String,
                   nPhrases: Int): DataFrame = {
    // Tokenize ONCE; both the positional index and the trigram
    // derivation read the cached token arrays.
    val toks = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .persist()
    val pos = toks.select(col("doc_id"),
      posexplode(col("__t")).as(Seq("pos", "term")))
    val top = toks
      .select(explode(expr(
        """CASE WHEN size(__t) < 3 THEN array()
            ELSE transform(sequence(1, size(__t) - 2),
              i -> concat_ws(' ', element_at(__t, i),
                                  element_at(__t, i + 1),
                                  element_at(__t, i + 2)))
            END""")).as("phrase"))
      .groupBy("phrase").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("phrase")).limit(nPhrases)
      .select(col("phrase"),
        split(col("phrase"), " ").getItem(0).as("w1"),
        split(col("phrase"), " ").getItem(1).as("w2"),
        split(col("phrase"), " ").getItem(2).as("w3"))
      .persist() // tiny; read four times (probe + two posting filters)
    val m1 = pos.join(broadcast(top), col("term") === col("w1"))
      .select(col("doc_id"), col("pos"), col("phrase"), col("w2"), col("w3"))
    // Posting-list pruning: broadcast-filter the index down to the
    // phrases' word-2/word-3 postings BEFORE the position joins — the
    // (doc, pos+i) shuffles then carry only matching-term postings, not
    // the whole index (this is what "work ∝ posting list" means).
    val p2 = pos.join(broadcast(top.select(col("w2")).distinct()),
        col("term") === col("w2"))
      .select(col("doc_id").as("d2"), col("pos").as("p2"),
        col("term").as("t2"))
    val m2 = m1.join(p2, col("doc_id") === col("d2") &&
        col("p2") === col("pos") + 1 && col("t2") === col("w2"))
      .select(col("doc_id"), col("pos"), col("phrase"), col("w3"))
    val p3 = pos.join(broadcast(top.select(col("w3")).distinct()),
        col("term") === col("w3"))
      .select(col("doc_id").as("d3"), col("pos").as("p3"),
        col("term").as("t3"))
    val m3 = m2.join(p3, col("doc_id") === col("d3") &&
        col("p3") === col("pos") + 2 && col("t3") === col("w3"))
    m3.groupBy("phrase")
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Oracle twin of [[phraseSearch]]. DuckDB zips parallel `unnest`s, so
    * (term, pos) comes from one projection; `range(1, len-1)` is already
    * empty below 3 tokens (no CASE needed — DuckDB range never descends,
    * unlike Spark `sequence`). */
  def phraseSearchSql(table: String, nPhrases: Int): String =
    s"""WITH tok AS (SELECT doc_id, ${tokensSql("text")} AS l FROM $table),
        pos AS (SELECT doc_id, unnest(l) AS term,
                       unnest(range(0, len(l))) AS pos FROM tok),
        tri AS (SELECT unnest(list_transform(range(1, len(l) - 1),
                  i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))
                  AS phrase FROM tok),
        top AS (SELECT phrase, string_split(phrase, ' ') AS w FROM (
                  SELECT phrase, count(*) AS cnt FROM tri GROUP BY phrase
                  ORDER BY cnt DESC, phrase LIMIT $nPhrases)),
        m1 AS (SELECT p.doc_id, p.pos, t.phrase, t.w
               FROM pos p JOIN top t ON p.term = t.w[1]),
        m2 AS (SELECT m.doc_id, m.pos, m.phrase, m.w
               FROM m1 m JOIN pos p2 ON p2.doc_id = m.doc_id
                AND p2.pos = m.pos + 1 AND p2.term = m.w[2]),
        m3 AS (SELECT m.doc_id, m.phrase
               FROM m2 m JOIN pos p3 ON p3.doc_id = m.doc_id
                AND p3.pos = m.pos + 2 AND p3.term = m.w[3])
        SELECT phrase, CAST(count(*) AS BIGINT) AS n_hits,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM m3 GROUP BY phrase ORDER BY phrase"""

  /** BM25 ranked retrieval — the scoring consumer of the inverted index
    * (Robertson–Spärck Jones, the default lexical ranker every search
    * stack ships): per query term, the top-`topK` documents by BM25 with
    * k1 = 1.2, b = 0.75.
    *
    * Entirely libm-free: ln() is the one BM25 ingredient whose last ulp
    * differs across runtimes, so this uses the RATIONAL idf N/df (the
    * tf·N/df family [[tfidfTopK]] already gates) and expresses the whole
    * score in integer micro-units with floor division — every compared
    * cell is BIGINT, hash-exact on any engine:
    *   avgdl_micro = T·10⁶ div N             (corpus totals)
    *   ratio_micro = dl·10¹² div avgdl_micro (dl/avgdl)
    *   denom_micro = tf·10⁶ + 12·(250000 + 3·ratio_micro div 4) div 10
    *   tfsat_micro = tf·22·10¹¹ div denom_micro   (≤ 2.2·10⁶)
    *   idf_micro   = N·10⁶ div df
    *   score_micro = tfsat·idf div 10⁶  (DECIMAL(38,0) product — no wrap
    *                 at any N/df; result cast back to BIGINT)
    * tf ≤ 4·10⁶ tokens/doc keeps tfsat's numerator in 64 bits — far above
    * any real document.
    *
    * The gate self-derives its query terms (vocabulary ranks
    * `skip+1 .. skip+nQueryTerms` by total tf, skipping the stopword
    * head) so no fixture rides along; a production run supplies the query
    * list and starts at the broadcast join. Scale shape: tf is ONE
    * (term, doc) hash-agg with map-side combine; dl is a narrow map
    * (no second pass); the 2-row corpus-totals aggregate and the
    * term list broadcast; scoring touches only the matched slice of tf;
    * the per-term top-k is a bounded window over that slice.
    */
  def bm25TopK(docs: DataFrame, nQueryTerms: Int, skip: Int,
               topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25Scored(docs, nQueryTerms, skip)
      .withColumn("rank", row_number().over(Window.partitionBy(col("term"))
        .orderBy(col("score_micro").desc, col("doc_id"))).cast("int"))
      .filter(col("rank") <= topK)
      .select(col("term"), col("rank"), col("doc_id"), col("tf"),
        col("dl"), col("score_micro"))
  }

  /** The scored (query-term, doc) slice shared by [[bm25TopK]] and
    * [[bm25QueryTopK]]: one (term, doc) hash-agg for tf, the bounded
    * vocabulary scan for the self-derived query terms, the 2-cell
    * corpus-totals broadcast, and the integer micro BM25 score. */
  private def bm25Scored(docs: DataFrame, nQueryTerms: Int,
                         skip: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("dl"),
      explode(tokens(col("text"))).as("term"))
    // localCheckpoint: tf feeds BOTH the query-term derivation (via
    // termStats) and the scored probe side; unmaterialized, Catalyst
    // re-embeds the whole tokenize→explode→hash-agg subtree in each
    // consumer, so every bm25 gate ran the corpus tokenize twice (plans
    // r14: two identical Scan+Generate+Exchange chains). tf is the
    // (term, doc) grain — far smaller than the token stream — so one
    // checkpoint write costs less than the saved pass. Repartition by
    // term first: the checkpoint freezes the AQE-coalesced layout, and
    // every downstream consumer (termStats agg, qterms join, the
    // per-term rank windows) is term-keyed, so the term layout serves
    // them without another exchange at any scale.
    val tf = toks.groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .repartition(col("term"))
      .localCheckpoint()
    val termStats = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
    // TakeOrderedAndProject caps the vocabulary scan at skip+n rows; the
    // row_number on those few rows replays the same order for the skip.
    val qterms = termStats
      .orderBy(col("total_tf").desc, col("term"))
      .limit(skip + nQueryTerms)
      .withColumn("qr", row_number().over(
        Window.orderBy(col("total_tf").desc, col("term"))))
      .filter(col("qr") > skip)
      .select(col("term"), col("df"))
    val globals = docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dl")).as("t_tokens"))
    tf.join(broadcast(qterms), "term")
      .crossJoin(broadcast(globals))
      .withColumn("avgdl_micro", expr("t_tokens * 1000000L div n_docs"))
      .withColumn("ratio_micro", expr("dl * 1000000000000L div avgdl_micro"))
      .withColumn("denom_micro", expr(
        "tf * 1000000L + (12L * (250000L + (3L * ratio_micro) div 4L)) div 10L"))
      .withColumn("tfsat_micro", expr(
        "(tf * 2200000L * 1000000L) div denom_micro"))
      .withColumn("idf_micro", expr("n_docs * 1000000L div df"))
      .withColumn("score_micro", expr(
        "CAST((CAST(tfsat_micro AS DECIMAL(38,0)) * idf_micro) div 1000000 AS BIGINT)"))
  }

  /** Multi-term BM25 QUERY evaluation with threshold-certified pruning —
    * the batch recast of WAND/Fagin's Threshold Algorithm: the full doc
    * score is Σ over matched query terms, but instead of aggregating
    * EVERY matching document to doc grain, score only the union of each
    * term's top-`candPerTerm` postings and certify the result with the
    * TA bound. Soundness: a doc outside every term's top-K′ list has
    * per-term score ≤ that term's K′-th best, so its total ≤
    * bound = Σ_t s_t(K′); if the K-th best candidate total STRICTLY
    * exceeds the bound (strict, so an outside doc cannot even tie into
    * the published top-k), the candidate top-k is the global top-k.
    * When the certificate fails — or fewer than `topK` candidates
    * exist — the operator falls back to the full doc-grain aggregation,
    * so the RESULT is exact either way; pruning is purely a cost choice.
    *
    * Scale shape: the per-term top-K′ is the bounded-heap
    * `row_number()<=k` shape (TopKPerKey rewrites it); candidates are
    * ≤ nQueryTerms·K′ doc ids — a broadcast-able list — so the exact
    * re-score touches only their postings; the certificate is two
    * scalar aggregates (≤ topK rows + nQueryTerms rows) on the driver,
    * the same bounded-artifact discipline as the k-means codebooks. At
    * 100 TB the avoided work is the doc-grain shuffle of every document
    * matching any query term (stopword-adjacent terms match most of the
    * corpus).
    */
  def bm25QueryTopK(docs: DataFrame, nQueryTerms: Int, skip: Int,
                    topK: Int, candPerTerm: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = bm25Scored(docs, nQueryTerms, skip)
      .select(col("term"), col("doc_id"), col("score_micro"))
      .persist()
    try {
      val ranked = scored.withColumn("tr", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("score_micro").desc, col("doc_id"))))
      val cand = ranked.filter(col("tr") <= candPerTerm)
        .select(col("doc_id")).distinct()
      val candTotals = scored.join(broadcast(cand), "doc_id")
        .groupBy(col("doc_id"))
        .agg(sum(col("score_micro")).as("total_micro"),
          count(lit(1)).as("n_terms"))
      val topCand = candTotals
        .orderBy(col("total_micro").desc, col("doc_id")).limit(topK)
        .collect()
      // TA bound: terms with fewer than K′ postings contribute 0 (all
      // their docs are already candidates; an outside doc scores 0 on
      // them).
      val bound = ranked.filter(col("tr") === candPerTerm)
        .agg(coalesce(sum(col("score_micro")), lit(0L))).first().getLong(0)
      val certified = topCand.length >= topK &&
        topCand.last.getLong(1) > bound
      val top =
        if (certified) {
          val spark = docs.sparkSession
          spark.createDataFrame(
            spark.sparkContext.parallelize(topCand.toIndexedSeq, 1),
            candTotals.schema)
        } else scored.groupBy(col("doc_id"))
          .agg(sum(col("score_micro")).as("total_micro"),
            count(lit(1)).as("n_terms"))
          .orderBy(col("total_micro").desc, col("doc_id")).limit(topK)
      // One task is correct here: `top` holds at most topK rows.
      top
        .withColumn("rank", row_number().over(
          Window.orderBy(col("total_micro").desc, col("doc_id"))).cast("int"))
        .select(col("rank"), col("doc_id"), col("total_micro"),
          col("n_terms"))
    } finally { scored.unpersist(false); () }
  }

  /** True iff [[bm25QueryTopK]]'s TA certificate holds for these knobs
    * on this corpus (the pruned path answered without the fallback).
    * Spec-surface only — the published result is exact either way. */
  def bm25QueryCertified(docs: DataFrame, nQueryTerms: Int, skip: Int,
                         topK: Int, candPerTerm: Int): Boolean = {
    import org.apache.spark.sql.expressions.Window
    val scored = bm25Scored(docs, nQueryTerms, skip)
      .select(col("term"), col("doc_id"), col("score_micro"))
    val ranked = scored.withColumn("tr", row_number().over(
      Window.partitionBy(col("term"))
        .orderBy(col("score_micro").desc, col("doc_id"))))
    val cand = ranked.filter(col("tr") <= candPerTerm)
      .select(col("doc_id")).distinct()
    val topCand = scored.join(broadcast(cand), "doc_id")
      .groupBy(col("doc_id"))
      .agg(sum(col("score_micro")).as("total_micro"))
      .orderBy(col("total_micro").desc, col("doc_id")).limit(topK)
      .collect()
    val bound = ranked.filter(col("tr") === candPerTerm)
      .agg(coalesce(sum(col("score_micro")), lit(0L))).first().getLong(0)
    topCand.length >= topK && topCand.last.getLong(1) > bound
  }

  /** Oracle twin of [[bm25QueryTopK]]: the brute full-corpus doc-grain
    * aggregation — equality proves the pruned path exact. */
  def bm25QueryTopKSql(table: String, nQueryTerms: Int, skip: Int,
                       topK: Int): String =
    s"""${bm25CoreSql(table, nQueryTerms, skip)},
        tot AS (SELECT doc_id, CAST(sum(score_micro) AS BIGINT) AS total_micro,
                       CAST(count(*) AS BIGINT) AS n_terms
                FROM s GROUP BY doc_id)
        SELECT rank, doc_id, total_micro, n_terms FROM (
          SELECT doc_id, total_micro, n_terms,
                 CAST(row_number() OVER (ORDER BY total_micro DESC, doc_id)
                   AS INT) AS rank
          FROM tot)
        WHERE rank <= $topK ORDER BY rank"""

  def bm25TopKSql(table: String, nQueryTerms: Int, skip: Int,
                  topK: Int): String =
    s"""${bm25CoreSql(table, nQueryTerms, skip)}
        SELECT term, rank, doc_id, tf, dl, score_micro FROM (
          SELECT term, doc_id, tf, dl, score_micro,
                 CAST(row_number() OVER (PARTITION BY term
                   ORDER BY score_micro DESC, doc_id) AS INT) AS rank
          FROM s)
        WHERE rank <= $topK ORDER BY term, rank"""

  /** The shared CTE chain of the BM25 oracles, ending at the scored
    * (query-term, doc) slice `s`. */
  private def bm25CoreSql(table: String, nQueryTerms: Int,
                          skip: Int): String =
    s"""WITH toks AS (
          SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS dl,
                 unnest(${tokensSql("text")}) AS term
          FROM $table),
        tf AS (SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
               FROM toks GROUP BY 1, 2, 3),
        ts AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
                      CAST(sum(tf) AS BIGINT) AS total_tf
               FROM tf GROUP BY 1),
        qt AS (SELECT term, df FROM (
                 SELECT term, df,
                        row_number() OVER (ORDER BY total_tf DESC, term) AS qr
                 FROM ts)
               WHERE qr > $skip AND qr <= ${skip + nQueryTerms}),
        g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(CAST(len(${tokensSql("text")}) AS BIGINT))
                       AS BIGINT) AS t_tokens
              FROM $table),
        s AS (
          SELECT t.term, t.doc_id, t.tf, t.dl,
                 CAST((CAST((t.tf * 2200000 * 1000000)
                        // (t.tf * 1000000
                           + (12 * (250000
                              + (3 * (t.dl * 1000000000000
                                      // (g.t_tokens * 1000000 // g.n_docs)))
                                // 4)) // 10) AS HUGEINT)
                       * (g.n_docs * 1000000 // q.df)) // 1000000 AS BIGINT)
                   AS score_micro
          FROM tf t JOIN qt q USING (term) CROSS JOIN g)"""

  /** Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken 2003, the
    * MOSS algorithm): over each document's sequence of k-gram hashes,
    * slide a window of `w` consecutive hashes and select the MINIMUM in
    * each window, rightmost position on ties. The guarantee the existing
    * min-hash fingerprint ([[shingleHashes]] min) cannot give: any shared
    * run of ≥ w+k−1 tokens between two documents is certain to contribute
    * at least one IDENTICAL selected (hash) to both fingerprints, while
    * only ~2/(w+1) of the k-grams are kept.
    *
    * Determinism without argmin/argmax tie rules: window winner = the
    * single BIGINT min of `h·2²⁰ + (2²⁰−1−pos)` — minimizing picks the
    * smallest hash and, among equal hashes, the LARGEST position, and the
    * encode is collision-free for any document under 2²⁰ k-grams (the
    * 40-bit hash keeps the product inside 63 bits). Docs with fewer than
    * k tokens have no k-grams and produce no row (documented contract).
    *
    * Scale shape: explode is ≤ w rows per k-gram (w = 4 here); the
    * (doc, window) winner and the per-doc roll-up are two hash-aggs on
    * doc-bounded grains — no joins, no windows, map-side combinable.
    */
  def winnowFingerprint(docs: DataFrame, w: Int): DataFrame =
    winnowSelected(docs, w).groupBy(col("doc_id"))
      .agg(max(col("m")).as("n_kgrams"),
        count(lit(1)).as("n_prints"),
        expr("bit_xor(h)").as("fp_xor"),
        min(col("h")).as("fp_min"))
      .select(col("doc_id"), col("n_kgrams"), col("n_prints"),
        col("fp_xor"), col("fp_min"))

  /** The selected winnowing set (doc_id, m, pos, h) shared by
    * [[winnowFingerprint]] and [[winnowPairs]]. */
  private def winnowSelected(docs: DataFrame, w: Int): DataFrame = {
    val P = 1L << 20
    val sh = docs
      .select(col("doc_id"), tokens(col("text")).as("__t"))
      .select(col("doc_id"),
        greatest(size(col("__t")) - 2, lit(0)).cast("long").as("m"),
        posexplode(shingleStrings("__t")).as(Seq("pos", "s")))
      .select(col("doc_id"), col("m"), col("pos").cast("long").as("pos"),
        conv(substring(md5(col("s")), 1, 10), 16, 10).cast("long").as("h"))
    sh
      .withColumn("j", explode(expr(
        s"sequence(greatest(pos - ${w - 1}, 0L), least(pos, greatest(m - $w, 0L)))")))
      .groupBy(col("doc_id"), col("m"), col("j"))
      .agg(min(expr(s"h * ${P}L + ${P - 1}L - pos")).as("key"))
      .select(col("doc_id"), col("m"), expr(s"key div ${P}L").as("h"),
        expr(s"${P - 1}L - key % ${P}L").as("pos"))
      .distinct()
  }

  /** Oracle twin of [[winnowFingerprint]]: identical shingle strings,
    * 40-bit hash, window explode, and min-key tie encode in DuckDB. */
  def winnowFingerprintSql(table: String, w: Int): String =
    s"""${winnowCoreSql(table, w)}
        SELECT doc_id, CAST(max(m) AS BIGINT) AS n_kgrams,
               CAST(count(*) AS BIGINT) AS n_prints,
               CAST(bit_xor(h) AS BIGINT) AS fp_xor,
               CAST(min(h) AS BIGINT) AS fp_min
        FROM sel GROUP BY doc_id ORDER BY doc_id"""

  /** Shared CTE chain of the winnowing oracles, ending at the selected
    * (doc_id, m, h, pos) set `sel`. */
  private def winnowCoreSql(table: String, w: Int): String = {
    val P = 1L << 20
    s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM $table),
        sh AS (SELECT doc_id,
                 CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS m,
                 CAST(unnest(range(0, greatest(len(toks) - 2, 0))) AS BIGINT) AS pos,
                 toks FROM t),
        h AS (SELECT doc_id, m, pos,
                CAST('0x' || substr(md5(toks[pos + 1] || ' ' ||
                  toks[pos + 2] || ' ' || toks[pos + 3]), 1, 10) AS BIGINT) AS h
              FROM sh),
        wj AS (SELECT doc_id, m, pos, h,
                 unnest(range(greatest(pos - ${w - 1}, 0),
                              least(pos, greatest(m - $w, 0)) + 1)) AS j
               FROM h),
        win AS (SELECT doc_id, m, j,
                  min(h * $P + ${P - 1} - pos) AS key
                FROM wj GROUP BY 1, 2, 3),
        sel AS (SELECT DISTINCT doc_id, m,
                  key // $P AS h, ${P - 1} - key % $P AS pos
                FROM win)"""
  }

  /** MOSS pair detection over the winnowing fingerprints: pairs of
    * documents sharing at least `minShared` selected hashes, with the
    * containment ratio shared/min(|A|,|B|) in permille. This is what
    * the selection guarantee buys: a shared ≥ w+k−1-token run IS
    * represented in both selected sets, so real overlapping docs
    * surface here while the ~2/(w+1) density keeps the index a
    * fraction of the k-gram inverted index. The sf0.01 corpus is
    * cleanly bimodal (coincidence pairs share ≤ 2–3 prints, planted
    * near-dups 6–37), so the threshold is a real separator.
    *
    * Scale shape: one hash-grain self-join on the (already ~5×
    * thinned) selected-print inverted index, then a pair-grain
    * hash-agg — the dedup_chunk/shingle family's shape; at crawl scale
    * the production knob is the same df cap the LSH index uses
    * ([[graft.catalyst.BoundedCollectSet]] discipline). */
  def winnowPairs(docs: DataFrame, w: Int, minShared: Int): DataFrame = {
    // The selected-print set feeds THREE consumers (per-doc counts and
    // both self-join sides), so the shingle→md5→window-explode→min-agg
    // pipeline re-executes 3× — left UNMATERIALIZED on purpose, round
    // 15's measurement: an h-keyed repartition+localCheckpoint won the
    // isolated profile (2.17 → 1.96 s warm) but measured consistently
    // SLOWER inside the full 307-query bench session (+0.4–1.4 s across
    // three runs) — the block-manager-pressure mechanism in OPTIMIZATION_r14.md.
    // At 100 TB the balance flips; a cluster deployment would take the
    // pairStats `graft.jaccard.checkpoint`-style flag here.
    val sel = winnowSelected(docs, w)
      .select(col("doc_id"), col("h")).distinct()
    val cnt = sel.groupBy(col("doc_id")).agg(count(lit(1)).as("nh"))
    val pr = sel.toDF("doc_a", "h")
      .join(sel.toDF("doc_b", "h"), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pr
      .join(cnt.toDF("doc_a", "n_a"), "doc_a")
      .join(cnt.toDF("doc_b", "n_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("n_a"), col("n_b"),
        expr("shared * 1000L div least(n_a, n_b)").as("overlap_permille"))
  }

  /** Oracle twin of [[winnowPairs]]. */
  def winnowPairsSql(table: String, w: Int, minShared: Int): String =
    s"""${winnowCoreSql(table, w)},
        seld AS (SELECT DISTINCT doc_id, h FROM sel),
        cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nh
                FROM seld GROUP BY doc_id),
        pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS shared
               FROM seld a JOIN seld b
                 ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
        SELECT doc_a, doc_b, shared, ca.nh AS n_a, cb.nh AS n_b,
               shared * 1000 // least(ca.nh, cb.nh) AS overlap_permille
        FROM pr JOIN cnt ca ON pr.doc_a = ca.doc_id
                JOIN cnt cb ON pr.doc_b = cb.doc_id
        WHERE shared >= $minShared
        ORDER BY doc_a, doc_b"""

  // ---------------- WordPiece (greedy longest-match-first) ----------------

  /** WordPiece vocab budget per position class (initial / continuation)
    * and the piece-length band: multi-char entries are the top
    * [[WpVocabTop]] most frequent word substrings of length 2..[[WpMaxLen]]
    * per class; single characters of the [a-z0-9] alphabet are
    * unconditionally in BOTH classes, so every in-alphabet word
    * segments (the real tokenizer's coverage guarantee). */
  val WpVocabTop = 24
  val WpMaxLen = 4
  /** Words longer than this are [UNK] wholesale — the published
    * WordPiece long-word rule (Devlin et al., BERT, NAACL 2019 use 100;
    * sized to the fold's step budget here: the greedy loop consumes at
    * least one char per step, so [[WpMaxWordLen]] steps always finish). */
  val WpMaxWordLen = 16
  /** Word-run extraction, multilingual-honest (round-11 verdict gap 3):
    * maximal ASCII-alphanumeric runs OR maximal non-ASCII runs. The
    * old `[a-z0-9]+`-over-lower(text) extraction silently DROPPED every
    * non-ASCII word, so a CJK/Cyrillic document reported n_words = 0 —
    * multilingual text now degrades to counted [UNK] tokens instead of
    * vanishing: a non-ASCII run is one word occurrence whose greedy
    * fold finds no vocab match (trained multi-char pieces may cover
    * it; the unconditional singles are ASCII-only) and lands on the
    * loud −1 → [UNK] path, fully reflected in n_words / n_unk /
    * doc_fp. Case mapping is applied ONLY to the ASCII branch (ASCII
    * lower() is engine-identical; full Unicode case mapping is NOT —
    * Java and utf8proc disagree on e.g. U+0130 — so non-ASCII runs
    * are matched verbatim, a documented limitation). The alternation
    * is disjoint and both engines' regex dialects read it identically
    * (`\\x` escapes; Java matches surrogate halves individually, RE2
    * whole runes — both sides of an astral char are non-ASCII, so run
    * SPANS agree). */
  private val WpWordRe = "[a-zA-Z0-9]+|[^\\x00-\\x7f]+"
  private val WpAlphabet: Seq[String] =
    (('a' to 'z') ++ ('0' to '9')).map(_.toString)

  /** (doc_id, wpos, w) word-occurrence stream — ASCII runs lowercased,
    * non-ASCII runs verbatim ([[WpWordRe]]), position preserved for
    * the order-sensitive doc fingerprint. Built with the functions
    * API (`lit` patterns), not `expr`, so the regex never passes
    * through the SQL parser's backslash unescaping. */
  private def wpWords(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(transform(
        regexp_extract_all(col("text"), lit(WpWordRe), lit(0)),
        w => when(w.rlike("^[a-zA-Z0-9]"), lower(w)).otherwise(w)))
        .as(Seq("wpos", "w")))

  /** The DuckDB side of [[wpWords]]: `alias` rows of words (w only) —
    * standard SQL literals don't unescape backslashes, so the raw
    * [[WpWordRe]] lands on RE2 unchanged. */
  private def wpWordsBareSql(table: String): String =
    s"""SELECT CASE WHEN regexp_matches(w0, '^[a-zA-Z0-9]')
                 THEN lower(w0) ELSE w0 END AS w
        FROM (SELECT unnest(regexp_extract_all(text, '$WpWordRe')) AS w0
              FROM $table)"""

  /** [[wpWordsBareSql]] with doc_id + wpos (the apply-side stream). */
  private def wpWordsPosSql(table: String): String =
    s"""SELECT doc_id, wpos,
          CASE WHEN regexp_matches(w0, '^[a-zA-Z0-9]')
            THEN lower(w0) ELSE w0 END AS w
        FROM (SELECT doc_id, generate_subscripts(ws, 1) - 1 AS wpos,
                unnest(ws) AS w0
              FROM (SELECT doc_id,
                  regexp_extract_all(text, '$WpWordRe') AS ws
                FROM $table))"""

  /** Trained multi-char vocab: (class, rnk, piece, freq) — per position
    * class, the top [[WpVocabTop]] substrings by corpus occurrence count
    * (freq DESC, piece ASC — a deterministic total order), continuation
    * pieces carrying the literal "##" marker (Schuster & Nakajima,
    * "Japanese and Korean voice search", ICASSP 2012; the BERT wordpiece
    * convention). One explode → hash-agg → two bounded rank windows:
    * the heavy stage is the substring hash-agg (map-side combined,
    * vocabulary-bounded output), never a corpus-wide window. */
  def wordPieceVocab(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = wpWords(docs).groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val subs = w
      .select(col("w"), col("cnt"),
        explode(expr("sequence(1, char_length(w))")).as("p"))
      .select(col("w"), col("cnt"), col("p"),
        explode(expr(s"sequence(2, $WpMaxLen)")).as("l"))
      .filter(expr("p + l - 1 <= char_length(w)"))
      .select(
        when(col("p") === 1, expr("substring(w, p, l)"))
          .otherwise(concat(lit("##"), expr("substring(w, p, l)")))
          .as("piece"),
        when(col("p") === 1, lit("init")).otherwise(lit("cont"))
          .as("class"),
        col("cnt"))
    subs.groupBy(col("class"), col("piece"))
      .agg(sum(col("cnt")).as("freq"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("class"))
        .orderBy(col("freq").desc, col("piece"))).cast("long"))
      .filter(col("rnk") <= WpVocabTop)
      .select(col("class"), col("rnk"), col("piece"), col("freq"))
  }

  /** Oracle twin of [[wordPieceVocab]] — identical substring explode,
    * counts, and (freq DESC, piece ASC) rank order. */
  def wordPieceVocabSql(table: String): String =
    s"""WITH w AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
          ${wpWordsBareSql(table)}) GROUP BY w),
        subs AS (
          SELECT CASE WHEN p = 1 THEN substr(w, p, l)
                 ELSE '##' || substr(w, p, l) END AS piece,
                 CASE WHEN p = 1 THEN 'init' ELSE 'cont' END AS class,
                 cnt
          FROM (SELECT w, cnt, unnest(range(1, length(w) + 1)) AS p FROM w),
               (SELECT unnest(range(2, $WpMaxLen + 1)) AS l)
          WHERE p + l - 1 <= length(w)),
        rk AS (SELECT class, piece, CAST(sum(cnt) AS BIGINT) AS freq,
                 CAST(row_number() OVER (PARTITION BY class
                   ORDER BY sum(cnt) DESC, piece) AS BIGINT) AS rnk
               FROM subs GROUP BY class, piece)
        SELECT class, rnk, piece, freq FROM rk WHERE rnk <= $WpVocabTop
        ORDER BY class, rnk"""

  /** The greedy longest-match-first fold shared by [[wordPiece]] and its
    * oracle: over a (w, vocab) row, `bounds` accumulates 1-based piece
    * start positions — each step matches the longest vocab piece
    * (length [[WpMaxLen]]..1, continuation-marked past position 1) at
    * the cursor and advances it; −1 records an unmatchable cursor (the
    * [UNK] signal). For ASCII words it is unreachable while the
    * alphabet singles are in vocab (a vocab change fails LOUDLY
    * instead of silently); for non-ASCII runs ([[WpWordRe]]) it is
    * the DESIGNED degrade — the word counts as one [UNK] token unless
    * the trained multi-char pieces happen to cover it exactly. */
  private def wpTry(l: Int): String = {
    val cond =
      if (l == 1) "" else s"element_at(acc, -1) + ${l - 1} <= char_length(w) AND "
    s"""WHEN ${cond}array_contains(vocab,
          CASE WHEN element_at(acc, -1) = 1
            THEN substring(w, element_at(acc, -1), $l)
            ELSE concat('##', substring(w, element_at(acc, -1), $l)) END)
        THEN array_append(acc, element_at(acc, -1) + $l)"""
  }

  /** Per-document WordPiece apply — (doc_id, n_words, n_pieces, n_unk,
    * doc_fp): greedy longest-match-first segmentation of every word
    * against the trained vocab ([[wordPieceVocab]] top pieces + the
    * unconditional alphabet singles), words longer than
    * [[WpMaxWordLen]] emitted as the single [UNK] token; doc_fp is the
    * order-sensitive fingerprint of the full token stream.
    *
    * Spark shape — no UDF, no driver collect anywhere: the vocab
    * aggregates to ONE array row ([[functions.collect_list]]) that
    * cross-joins (broadcast) onto the DISTINCT-word frame, and the
    * greedy loop is a codegen'd `aggregate` HOF whose state is the
    * piece-boundary array (≤ [[WpMaxWordLen]]+1 ints). Tokenization
    * thus costs O(distinct words × fold), never O(occurrences × fold);
    * occurrences only pay the word→tokens equi-join and the doc
    * hash-agg (sort_array over the per-doc (wpos, tokens) structs for
    * the order-sensitive fingerprint). At 100 TB the distinct-word
    * frame is Heaps-law-bounded and the vocab row is O(1). */
  def wordPiece(docs: DataFrame): DataFrame =
    wordPieceCore(docs, docs)

  /** Serving view of [[wordPiece]] — vocab FROZEN on the train slice,
    * the complement tokenized against it (the knServe composition): the
    * batch gate whose streaming twin maps arriving docs statelessly
    * under the broadcast vocab. */
  def wordPieceServe(docs: DataFrame, trainPred: Column): DataFrame =
    wordPieceCore(docs.filter(!trainPred), docs.filter(trainPred))

  /** The full [[wordPieceVocab]] + singles piece list as one sorted
    * array row — the broadcastable trained artifact ([[wordPieceCore]]
    * and the streaming twin's driver collect both read it). */
  def wpVocabRow(trainDocs: DataFrame): DataFrame = {
    val spark = trainDocs.sparkSession
    val singles = spark.range(1)
      .select(explode(array(
        WpAlphabet.flatMap(c => Seq(c, "##" + c)).map(lit): _*)).as("piece"))
    wordPieceVocab(trainDocs).select(col("piece"))
      .unionAll(singles)
      .agg(array_sort(collect_list(col("piece"))).as("vocab"))
  }

  /** The greedy fold + decode over a frame carrying (w, vocab): adds
    * (unk, n_pieces_w, tokstr), drops the scratch columns. */
  private def wpTokenize(withVocab: DataFrame): DataFrame =
    withVocab
      .withColumn("bounds", expr(s"""
        CASE WHEN char_length(w) > $WpMaxWordLen THEN array(-1)
        ELSE aggregate(sequence(1, $WpMaxWordLen), array(1),
          (acc, step) -> CASE
            WHEN element_at(acc, -1) < 0
              OR element_at(acc, -1) > char_length(w) THEN acc
            ${(WpMaxLen to 1 by -1).map(wpTry).mkString("\n            ")}
            ELSE array_append(acc, -1) END) END"""))
      .withColumn("unk", expr("array_contains(bounds, -1)"))
      .withColumn("n_pieces_w",
        expr("CASE WHEN unk THEN 1L" +
          " ELSE CAST(size(bounds) - 1 AS BIGINT) END"))
      .withColumn("tokstr",
        expr("""CASE WHEN unk THEN '[UNK]'
          ELSE array_join(transform(sequence(1, size(bounds) - 1),
            i -> concat(CASE WHEN element_at(bounds, i) = 1 THEN ''
                        ELSE '##' END,
                   substring(w, element_at(bounds, i),
                     element_at(bounds, i + 1) - element_at(bounds, i)))),
            ' ') END"""))
      .drop("bounds", "vocab")

  /** Doc-grain roll-up of per-occurrence (doc_id, wpos, unk,
    * n_pieces_w, tokstr) rows, left-joined back so empty docs report. */
  private def wpRollup(occ: DataFrame, docs: DataFrame): DataFrame = {
    val perDoc = occ
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces_w")).as("n_pieces"),
        sum(when(col("unk"), 1L).otherwise(0L)).as("n_unk"),
        hash64(array_join(
          transform(array_sort(collect_list(struct(col("wpos"),
            col("tokstr")))), x => x.getField("tokstr")),
          " ")).as("doc_fp"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("n_unk"), lit(0L)).as("n_unk"),
        coalesce(col("doc_fp"), hash64(lit(""))).as("doc_fp"))
  }

  private def wordPieceCore(docs: DataFrame,
                            trainDocs: DataFrame): DataFrame = {
    val vocabRow = wpVocabRow(trainDocs)
    val words = wpWords(docs)
    val folded = wpTokenize(
      words.select(col("w")).distinct().crossJoin(broadcast(vocabRow)))
    wpRollup(words.join(folded, Seq("w")), docs)
  }

  /** Viterbi cost base: segmentation cost = n_pieces·WpBig − Σ freq, a
    * single BIGINT whose minimization is the lexicographic (min pieces,
    * max total frequency) objective — valid while Σ freq < WpBig
    * (≤ [[WpMaxWordLen]] pieces × per-piece corpus counts ≪ 10¹²). */
  val WpBig = 1000000000000L
  private val WpInf = 1000000000000000L // > any real cost, Int64-safe to add
  /** Per-piece frequency clamp ENFORCING the [[WpBig]] decode
    * invariant instead of assuming it: a segmentation has at most
    * [[WpMaxWordLen]] pieces, so capping each scored freq at
    * WpBig/WpMaxWordLen − 1 guarantees Σ freq < WpBig for ANY corpus
    * (a piece with ≥ ~6·10¹⁰ occurrences would otherwise silently
    * corrupt the n_pieces/score decode in BOTH engines). Applied
    * identically in [[wpScoredVocab]] and its SQL twin; unreachable
    * at gate scale, so gate hashes are bit-unchanged. */
  val WpFreqCap = WpBig / WpMaxWordLen - 1

  /** Scored vocab for [[viterbiSegment]]: the trained multi-char top-24
    * per class ([[wordPieceVocab]]) plus ALL single-char pieces with
    * their REAL corpus counts (l=1 is never budget-capped — the coverage
    * guarantee; any char a word needs in a position class occurs there
    * in that very word, so segmentation can never strand). */
  private def wpScoredVocab(docs: DataFrame): DataFrame = {
    val w = wpWords(docs).groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val ones = w
      .select(col("w"), col("cnt"),
        explode(expr("sequence(1, char_length(w))")).as("p"))
      .select(
        when(col("p") === 1, expr("substring(w, p, 1)"))
          .otherwise(concat(lit("##"), expr("substring(w, p, 1)")))
          .as("piece"),
        col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("freq"))
    wordPieceVocab(docs).select(col("piece"), col("freq")).unionAll(ones)
      .select(col("piece"), least(col("freq"), lit(WpFreqCap)).as("freq"))
  }

  /** SQL twin of [[wpScoredVocab]] (selects piece, freq). */
  private def wpScoredVocabSql(table: String): String =
    s"""SELECT piece, least(freq, $WpFreqCap) AS freq FROM (
        SELECT piece, freq FROM (${wordPieceVocabSql(table)})
        UNION ALL
        SELECT piece, CAST(sum(cnt) AS BIGINT) AS freq FROM (
          SELECT CASE WHEN p = 1 THEN substr(w, p, 1)
                 ELSE '##' || substr(w, p, 1) END AS piece, cnt
          FROM (SELECT w, cnt, unnest(range(1, length(w) + 1)) AS p
                FROM (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
                  ${wpWordsBareSql(table)}) GROUP BY w)))
        GROUP BY piece)"""

  /** OPTIMAL dictionary segmentation by dynamic programming — the
    * Viterbi inference of the SentencePiece/unigram family (Kudo,
    * "Subword regularization", ACL 2018) under the integer objective
    * (min piece count, tie-break max total piece frequency), against
    * the SAME trained vocab as [[wordPiece]]'s greedy max-munch (plus
    * scored singles). Where greedy commits to the longest local match,
    * the DP provably minimizes — per word, n_pieces(viterbi) ≤
    * n_pieces(greedy), a spec-pinned invariant.
    *
    * The recurrence dp[j] = min over piece (i→j) of dp[i] + (WpBig −
    * freq) runs as ONE codegen'd `aggregate` HOF per distinct word:
    * state is the (WpMaxWordLen+1)-slot cost array, step p relaxes the
    * ≤ [[WpMaxLen]] targets reachable from position p (left-to-right is
    * the correct DP order — dp[p] is final before step p). Vocab and
    * frequency ride as TWO piece-ASC-aligned broadcast array columns
    * (`array_position` lookup, 0 = absent); no UDF, no driver collect.
    * Per-word output is tie-safe by construction: (n_pieces,
    * score_total) is the unique optimum even when multiple
    * segmentations attain it. Words over [[WpMaxWordLen]] chars emit
    * [UNK] (n=1, score 0), the [[wordPiece]] long-word rule.
    *
    * Scale: identical to [[wordPiece]] — O(distinct words × fold) on
    * the Heaps-law-bounded word frame, occurrences pay one equi-join
    * + the order-sensitive fingerprint hash-agg. */
  def viterbiSegment(docs: DataFrame): DataFrame = {
    val vocabRow = wpScoredVocab(docs)
      .agg(sort_array(collect_list(struct(col("piece"), col("freq"))))
        .as("pf"))
      .select(expr("transform(pf, x -> x.piece)").as("vocab"),
        expr("transform(pf, x -> x.freq)").as("freqs"))
    val words = wpWords(docs)
    def relax(l: Int): String =
      s"""WHEN j = p + $l AND j <= char_length(w) + 1 THEN
            CASE WHEN array_position(vocab,
                CASE WHEN p = 1 THEN substring(w, p, $l)
                  ELSE concat('##', substring(w, p, $l)) END) > 0
              THEN least(element_at(acc, j), element_at(acc, p)
                + ${WpBig}L
                - element_at(freqs, CAST(array_position(vocab,
                    CASE WHEN p = 1 THEN substring(w, p, $l)
                      ELSE concat('##', substring(w, p, $l)) END) AS INT)))
              ELSE element_at(acc, j) END"""
    val folded = words.select(col("w")).distinct()
      .crossJoin(broadcast(vocabRow))
      .withColumn("cost", expr(s"""
        CASE WHEN char_length(w) > $WpMaxWordLen THEN ${WpInf}L
        ELSE element_at(
          aggregate(sequence(1, $WpMaxWordLen),
            concat(array(0L), transform(sequence(1, $WpMaxWordLen),
              i -> ${WpInf}L)),
            (acc, p) -> transform(sequence(1, ${WpMaxWordLen + 1}),
              j -> CASE
                ${(1 to WpMaxLen).map(relax).mkString("\n                ")}
                ELSE element_at(acc, j) END)),
          char_length(w) + 1) END"""))
      .select(col("w"),
        (col("cost") >= WpInf).as("unk"),
        expr(s"CASE WHEN cost >= ${WpInf}L THEN 1L" +
          s" ELSE cost div ${WpBig}L + 1L END").as("n_pieces_w"),
        expr(s"CASE WHEN cost >= ${WpInf}L THEN 0L" +
          s" ELSE (cost div ${WpBig}L + 1L) * ${WpBig}L - cost END")
          .as("score_w"))
    val perDoc = words.join(folded, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces_w")).as("n_pieces"),
        sum(col("score_w")).as("score_total"),
        sum(when(col("unk"), 1L).otherwise(0L)).as("n_unk"),
        hash64(array_join(
          transform(array_sort(collect_list(struct(col("wpos"),
            concat(col("n_pieces_w"), lit("|"), col("score_w"))
              .as("ns")))), x => x.getField("ns")),
          " ")).as("doc_fp"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"),
        coalesce(col("score_total"), lit(0L)).as("score_total"),
        coalesce(col("n_unk"), lit(0L)).as("n_unk"),
        coalesce(col("doc_fp"), hash64(lit(""))).as("doc_fp"))
  }

  /** Oracle twin of [[viterbiSegment]]: vocab/freq LISTs aggregated with
    * `ORDER BY piece` (the same piece-ASC alignment), the DP replayed as
    * a seeded `list_reduce` with `list_position` lookups (NULL =
    * absent), identical cost decode and roll-up. */
  def viterbiSegmentSql(table: String): String = {
    // The fold's step index rides inside the seeded element (st[1]) —
    // DuckDB's list_reduce has no positional lambda argument and the
    // accumulator/element types must match, so each step is a LIST
    // filled with its own position.
    def relax(l: Int): String =
      s"""WHEN j = st[1] + $l AND j <= length(w) + 1 THEN
            CASE WHEN list_position(vocab,
                CASE WHEN st[1] = 1 THEN substr(w, CAST(st[1] AS INT), $l)
                  ELSE '##' || substr(w, CAST(st[1] AS INT), $l) END)
                IS NOT NULL
              THEN least(acc[CAST(j AS INT)], acc[CAST(st[1] AS INT)]
                + $WpBig
                - freqs[list_position(vocab,
                    CASE WHEN st[1] = 1 THEN substr(w, CAST(st[1] AS INT), $l)
                      ELSE '##' || substr(w, CAST(st[1] AS INT), $l) END)])
              ELSE acc[CAST(j AS INT)] END"""
    s"""WITH sv AS (${wpScoredVocabSql(table)}),
        vocab1 AS (SELECT list(piece ORDER BY piece) AS vocab,
                          list(freq ORDER BY piece) AS freqs FROM sv),
        words AS (${wpWordsPosSql(table)}),
        folded AS (SELECT w,
            CASE WHEN length(w) > $WpMaxWordLen THEN CAST($WpInf AS BIGINT)
            ELSE list_reduce(
              list_prepend(
                list_concat([CAST(0 AS BIGINT)],
                  list_transform(range(1, $WpMaxWordLen + 1),
                    i -> CAST($WpInf AS BIGINT))),
                list_transform(range(1, $WpMaxWordLen + 1),
                  p0 -> list_transform(range(1, ${WpMaxWordLen + 2}),
                    i -> CAST(p0 AS BIGINT)))),
              (acc, st) -> list_transform(range(1, ${WpMaxWordLen + 2}),
                j -> CASE
                  ${(1 to WpMaxLen).map(relax).mkString("\n                  ")}
                  ELSE acc[CAST(j AS INT)] END))[length(w) + 1] END AS cost
          FROM (SELECT DISTINCT w FROM words), vocab1),
        toks AS (SELECT w,
            cost >= $WpInf AS unk,
            CASE WHEN cost >= $WpInf THEN CAST(1 AS BIGINT)
              ELSE cost // $WpBig + 1 END AS n_pieces_w,
            CASE WHEN cost >= $WpInf THEN CAST(0 AS BIGINT)
              ELSE (cost // $WpBig + 1) * $WpBig - cost END AS score_w
          FROM folded),
        per_doc AS (SELECT doc_id,
            CAST(count(*) AS BIGINT) AS n_words,
            CAST(sum(n_pieces_w) AS BIGINT) AS n_pieces,
            CAST(sum(score_w) AS BIGINT) AS score_total,
            CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
            ${hash64Sql(
              "string_agg(n_pieces_w || '|' || score_w, ' ' ORDER BY wpos)")}
              AS doc_fp
          FROM words JOIN toks USING (w) GROUP BY doc_id)
        SELECT d.doc_id,
          COALESCE(n_words, 0) AS n_words,
          COALESCE(n_pieces, 0) AS n_pieces,
          COALESCE(score_total, 0) AS score_total,
          COALESCE(n_unk, 0) AS n_unk,
          COALESCE(doc_fp, ${hash64Sql("''")}) AS doc_fp
        FROM $table d LEFT JOIN per_doc USING (doc_id)
        ORDER BY d.doc_id"""
  }

  /** Oracle twin of [[wordPiece]]: the vocab CTE folds to one LIST cell
    * referenced inside the same greedy `list_reduce` (DuckDB's
    * no-initial-value fold seeded by prepending the `[1]` bounds
    * list), then the identical join/roll-up. */
  def wordPieceSql(table: String): String =
    wordPieceSqlCore(table, table)

  /** Oracle twin of [[wordPieceServe]]. */
  def wordPieceServeSql(table: String, trainPredSql: String): String =
    wordPieceSqlCore(
      s"(SELECT * FROM $table WHERE NOT ($trainPredSql))",
      s"(SELECT * FROM $table WHERE $trainPredSql)")

  private def wordPieceSqlCore(applyTbl: String, trainTbl: String): String = {
    def tryL(l: Int): String = {
      val cond =
        if (l == 1) "" else s"acc[-1] + ${l - 1} <= length(w) AND "
      s"""WHEN ${cond}list_contains(vocab,
            CASE WHEN acc[-1] = 1 THEN substr(w, acc[-1], $l)
              ELSE '##' || substr(w, acc[-1], $l) END)
          THEN list_append(acc, acc[-1] + $l)"""
    }
    val singles = WpAlphabet.flatMap(c => Seq(c, "##" + c))
      .map(p => s"'$p'").mkString(", ")
    s"""WITH vr AS (${wordPieceVocabSql(trainTbl)}),
        vocab1 AS (SELECT list_sort(list(piece)) AS vocab FROM (
          SELECT piece FROM vr
          UNION ALL SELECT unnest([$singles]) AS piece)),
        words AS (${wpWordsPosSql(applyTbl)}),
        folded AS (SELECT w,
            CASE WHEN length(w) > $WpMaxWordLen THEN [-1]
            ELSE list_reduce(
              list_prepend([1], list_transform(range(1, $WpMaxWordLen + 1),
                i -> [CAST(i AS INT)])),
              (acc, x) -> CASE
                WHEN acc[-1] < 0 OR acc[-1] > length(w) THEN acc
                ${(WpMaxLen to 1 by -1).map(tryL).mkString("\n                ")}
                ELSE list_append(acc, -1) END) END AS bounds
          FROM (SELECT DISTINCT w FROM words), vocab1),
        toks AS (SELECT w,
            list_contains(bounds, -1) AS unk,
            CASE WHEN list_contains(bounds, -1) THEN CAST(1 AS BIGINT)
              ELSE CAST(len(bounds) - 1 AS BIGINT) END AS n_pieces_w,
            CASE WHEN list_contains(bounds, -1) THEN '[UNK]'
              ELSE array_to_string(list_transform(range(1, len(bounds)),
                i -> (CASE WHEN bounds[i] = 1 THEN '' ELSE '##' END) ||
                  substr(w, bounds[i], bounds[i + 1] - bounds[i])), ' ')
              END AS tokstr
          FROM folded),
        per_doc AS (SELECT doc_id,
            CAST(count(*) AS BIGINT) AS n_words,
            CAST(sum(n_pieces_w) AS BIGINT) AS n_pieces,
            CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
            ${hash64Sql("string_agg(tokstr, ' ' ORDER BY wpos)")} AS doc_fp
          FROM words JOIN toks USING (w) GROUP BY doc_id)
        SELECT d.doc_id,
          COALESCE(n_words, 0) AS n_words,
          COALESCE(n_pieces, 0) AS n_pieces,
          COALESCE(n_unk, 0) AS n_unk,
          COALESCE(doc_fp, ${hash64Sql("''")}) AS doc_fp
        FROM $applyTbl d LEFT JOIN per_doc USING (doc_id)
        ORDER BY d.doc_id"""
  }

  // ---- script profile ---------------------------------------------------

  /** Codepoint-range classes for [[scriptProfile]]: (name, regex char
    * class). Ranges chosen so both regex dialects read them identically
    * (`\x{...}` codepoint escapes work in Java regex and RE2); classes
    * are DISJOINT and "other" is the remainder, so the counts always
    * sum to n_cp. */
  private val ScriptClasses: Seq[(String, String)] = Seq(
    ("ascii", "[\\x00-\\x7f]"),
    ("latin_ext", "[\\x{0080}-\\x{024f}]"),
    ("cyrillic", "[\\x{0400}-\\x{04ff}]"),
    ("cjk", "[\\x{4e00}-\\x{9fff}]"))

  /** Per-document SCRIPT histogram — the multilingual-observability
    * panel every corpus intake needs next to language-ID: codepoint
    * counts per script class (ASCII, extended Latin, Cyrillic, CJK,
    * other) plus the dominant class (max count; ties resolve in the
    * fixed class order, 'other' last). A pipeline that silently drops
    * or mangles a script (the round-11 tokenizer gap) shows up here as
    * a corpus-level distribution shift BEFORE any model does.
    *
    * Shape: each count is char_length(text) −
    * char_length(regexp_replace(text, class, '')) — codegen'd
    * per-row string ops, no explode, no shuffle beyond the scan;
    * patterns ride `lit` (never the SQL parser's backslash
    * unescaping), and the same raw pattern lands on DuckDB's RE2. */
  def scriptProfile(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      coalesce(col("text"), lit("")).as("t"))
      .withColumn("n_cp", length(col("t")).cast("long"))
    val counted = ScriptClasses.foldLeft(base) { case (df, (name, re)) =>
      df.withColumn(s"n_$name",
        (col("n_cp") - length(regexp_replace(col("t"), lit(re),
          lit(""))).cast("long")).as(s"n_$name"))
    }
    val known = ScriptClasses.map(c => col(s"n_${c._1}"))
      .reduce(_ + _)
    val names = ScriptClasses.map(_._1) :+ "other"
    val withOther = counted.withColumn("n_other", col("n_cp") - known)
    // dominant: first class (fixed order) attaining the max count
    val dom = names.tail.foldLeft(
        when(lit(true), lit(names.head))) { (acc, n) =>
      when(names.takeWhile(_ != n)
          .map(m => col(s"n_$n") > col(s"n_$m")).reduce(_ && _),
        lit(n)).otherwise(acc)
    }
    withOther.select(
      (Seq(col("doc_id"), col("n_cp")) ++
        names.map(n => col(s"n_$n")) :+
        dom.as("dominant")): _*)
  }

  /** Mojibake signature — UTF-8 read as Latin-1: a two-byte UTF-8
    * sequence (lead 0xC2/0xC3 for the Latin-1 supplement) mis-decoded
    * becomes the CHARACTER U+00C2/U+00C3 followed by a character in
    * U+0080–U+00BF, a pair essentially absent from clean text ("Ã©"
    * where "é" was meant). Counting these pairs is the standard intake
    * probe for the double-encoding defect that plagues web crawls. */
  val MojibakeRe = "[\\x{00c2}\\x{00c3}][\\x{0080}-\\x{00bf}]"

  /** Per-doc mojibake profile: pair count + flag. Codegen'd single-pass
    * regex count per row (no explode, no shuffle beyond the scan — the
    * scriptProfile shape); patterns ride `lit`, the raw regex lands on
    * RE2 unchanged. Detection only: the REPAIR transform
    * (re-encode Latin-1 → decode UTF-8) is Spark-expressible via
    * encode/decode but has no DuckDB twin (no Latin-1 codec there), so
    * it is deliberately not gated — the detector is the scale-relevant
    * pass (repair runs on the flagged sliver). */
  def mojibakeProfile(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(coalesce(col("text"), lit("")),
        lit(MojibakeRe), lit(0))).cast("long").as("n_mojibake"))
      .withColumn("flagged", col("n_mojibake") > 0)

  /** Oracle twin of [[mojibakeProfile]]. */
  def mojibakeProfileSql(table: String): String =
    s"""SELECT doc_id,
          CAST(len(regexp_extract_all(COALESCE(text, ''), '$MojibakeRe'))
            AS BIGINT) AS n_mojibake,
          len(regexp_extract_all(COALESCE(text, ''), '$MojibakeRe')) > 0
            AS flagged
        FROM $table ORDER BY doc_id"""

  /** HTML → text strip, the canonical crawl-intake transform, in the
    * standard order: (1) script/style/comment BLOCKS removed whole
    * (their payload may contain bare '<' that is not markup), (2) all
    * remaining tags removed, (3) a fixed entity set decoded with
    * `&amp;` LAST (so `&amp;lt;` decodes to the literal `&lt;`, never
    * double-decodes — and a decoded '<' can no longer be eaten as
    * markup because tags are already gone), (4) whitespace runs
    * collapsed and trimmed. Output is slim metrics + the cleaned-text
    * fingerprint: raw/clean lengths, the removed-tag count, and
    * hash64(clean). Every step is a codegen'd regexp_replace/replace
    * chain per row — no explode, no shuffle beyond the scan; the (?is)
    * flags and non-greedy repeats read identically in Java regex and
    * RE2. */
  /** The block-removal stage of [[htmlStrip]] (script/style/comment
    * gone whole), shared so the tag count and the clean text derive
    * from the same intermediate. */
  private def htmlBlocksCol(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(coalesce(text, lit("")),
          lit("(?is)<script[^>]*>.*?</script>"), lit(" ")),
        lit("(?is)<style[^>]*>.*?</style>"), lit(" ")),
      lit("(?s)<!--.*?-->"), lit(" "))

  /** Cleaned text as a COLUMN (the [[htmlStrip]] chain after block
    * removal) — exposed so pipeline gates can feed the stripped text
    * into downstream intake ops. Entity decode is ONE single pass
    * ([[graft.catalyst.HtmlEntityDecode]]): the named set plus decimal
    * and hex numeric references (round-12 verdict #2), with the
    * no-double-decode property by construction — the scan never
    * re-reads produced text, so `&amp;amp;` still comes out as the
    * literal `&amp;` and `&#38;lt;` as the literal `&lt;`. */
  private def htmlCleanCol(blocks: Column): Column = {
    val noTags = regexp_replace(blocks, lit("<[^>]*>"), lit(" "))
    val decoded = call_function("html_entity_decode", noTags)
    trim(regexp_replace(decoded, lit("[ \\t\\n\\r]+"), lit(" ")))
  }

  /** (doc_id, text=stripped) — the composable form of [[htmlStrip]]. */
  def htmlCleanText(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      htmlCleanCol(htmlBlocksCol(col("text"))).as("text"))
  }

  def htmlStrip(docs: DataFrame): DataFrame = {
    val blocks = htmlBlocksCol(col("text"))
    val clean = htmlCleanCol(blocks)
    docs.select(col("doc_id"),
      length(coalesce(col("text"), lit(""))).cast("long").as("n_raw"),
      size(regexp_extract_all(blocks, lit("<[^>]*>"), lit(0)))
        .cast("long").as("n_tags"),
      length(clean).cast("long").as("n_clean"),
      hash64(clean).as("clean_fp"))
  }

  /** SQL twin of [[htmlBlocksCol]]. */
  private def htmlBlocksSql(e: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace(
         COALESCE($e, ''),
         '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
         '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
         '(?s)<!--.*?-->', ' ', 'g')"""

  /** SQL twin of [[graft.catalyst.HtmlEntityDecode]]: split on the
    * same reference grammar, decode each match, reassemble — the
    * single-pass semantics expressed as (n+1 parts, n matches) →
    * parts[1] ‖ dec(m₁) ‖ parts[2] ‖ …. Named set by CASE; numeric by
    * digit fold (hex via the strpos-alphabet trick — DuckDB has no
    * hex-string cast); invalid code points (0, surrogates, >10FFFF)
    * → U+FFFD before chr(), which would otherwise error. The
    * one-element list_transform binds the computed code point to a
    * lambda variable so the validity CASE doesn't recompute it. */
  private def htmlEntityDecodeSql(e: String): String = {
    val re = graft.catalyst.HtmlEntityDecode.EntityRe
    val cp =
      """CASE WHEN substr(m, 3, 1) IN ('x', 'X')
           THEN list_reduce(list_transform(
                  string_split(lower(substr(m, 4, length(m) - 4)), ''),
                  c -> strpos('0123456789abcdef', c) - 1),
                (a, b) -> a * 16 + b)
           ELSE CAST(substr(m, 3, length(m) - 3) AS BIGINT) END"""
    val numeric =
      s"""list_transform([$cp], cp ->
            CASE WHEN cp = 0 OR cp > 1114111
                      OR cp BETWEEN 55296 AND 57343
                 THEN chr(65533) ELSE chr(CAST(cp AS INTEGER)) END)[1]"""
    val dec =
      s"""CASE m WHEN '&lt;' THEN '<' WHEN '&gt;' THEN '>'
            WHEN '&quot;' THEN '"' WHEN '&nbsp;' THEN chr(160)
            WHEN '&amp;' THEN '&' ELSE $numeric END"""
    // COALESCE: DuckDB 1.0's array_to_string([], '') is NULL, which
    // would null out every no-reference row through the '||'.
    s"""(list_transform([$e], s ->
          regexp_split_to_array(s, '$re')[1] ||
          COALESCE(array_to_string(list_transform(
            regexp_extract_all(s, '$re'),
            (m, i) -> ($dec) || regexp_split_to_array(s, '$re')[i + 1]),
            ''), ''))[1])"""
  }

  /** SQL twin of [[htmlCleanCol]] (over a blocks expression). */
  private def htmlCleanSqlExpr(blocks: String): String = {
    val noTags = s"regexp_replace($blocks, '<[^>]*>', ' ', 'g')"
    val decoded = htmlEntityDecodeSql(noTags)
    s"trim(regexp_replace($decoded, '[ \\t\\n\\r]+', ' ', 'g'))"
  }

  /** SQL twin of [[htmlCleanText]] (selects doc_id, text). */
  def htmlCleanTextSql(table: String): String =
    s"""SELECT doc_id, ${htmlCleanSqlExpr(htmlBlocksSql("text"))} AS text
        FROM $table"""

  /** Oracle twin of [[htmlStrip]] — identical block/tag/entity/space
    * order (entity decode folded with `&amp;` last). */
  def htmlStripSql(table: String): String = {
    val blocks = htmlBlocksSql("text")
    val clean = htmlCleanSqlExpr(blocks)
    s"""SELECT doc_id,
          CAST(length(COALESCE(text, '')) AS BIGINT) AS n_raw,
          CAST(len(regexp_extract_all($blocks, '<[^>]*>')) AS BIGINT)
            AS n_tags,
          CAST(length($clean) AS BIGINT) AS n_clean,
          ${hash64Sql(clean)} AS clean_fp
        FROM $table ORDER BY doc_id"""
  }

  /** URL pattern for [[urlProfile]] — scheme + a run of
    * non-whitespace/non-markup chars (single-quote also terminates: a
    * quoted URL ends at the quote — documented, engine-identical).
    * Group 1 captures the host for the distinct-domain count. */
  val UrlRe = "https?://([^/ \\t\\n\\r<>\"']+)[^ \\t\\n\\r<>\"']*"

  /** Per-doc URL/link-density profile — the spam/boilerplate signal
    * every crawl quality classifier carries (link-farm pages are
    * mostly URLs by volume): URL count, DISTINCT host count, and
    * link-density permille = URL chars ÷ total chars. Single
    * codegen'd pass per row (counts via regexp_extract_all sizes,
    * URL chars via the length-of-removal trick — no explode, no
    * HOF in the hot path). */
  def urlProfile(docs: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    docs.select(col("doc_id"),
      length(t).cast("long").as("n_cp"),
      size(regexp_extract_all(t, lit(UrlRe), lit(0))).cast("long")
        .as("n_urls"),
      size(array_distinct(regexp_extract_all(t, lit(UrlRe), lit(1))))
        .cast("long").as("n_domains"),
      (length(t).cast("long") -
        length(regexp_replace(t, lit(UrlRe), lit(""))).cast("long"))
        .as("url_chars"))
      // exact integer floor division (Column `/` would be double)
      .withColumn("link_permille",
        expr("CASE WHEN n_cp = 0 THEN 0L" +
          " ELSE (url_chars * 1000L) div n_cp END"))
      .drop("url_chars")
  }

  /** Oracle twin of [[urlProfile]] (the regex's single quote doubles
    * for the SQL literal). */
  def urlProfileSql(table: String): String = {
    val re = UrlRe.replace("'", "''")
    s"""SELECT doc_id,
          CAST(length(COALESCE(text, '')) AS BIGINT) AS n_cp,
          CAST(len(regexp_extract_all(COALESCE(text, ''), '$re'))
            AS BIGINT) AS n_urls,
          CAST(len(list_distinct(regexp_extract_all(
            COALESCE(text, ''), '$re', 1))) AS BIGINT) AS n_domains,
          CASE WHEN length(COALESCE(text, '')) = 0 THEN 0
            ELSE CAST((length(COALESCE(text, '')) -
              length(regexp_replace(COALESCE(text, ''), '$re', '',
                'g'))) AS BIGINT) * 1000
              // CAST(length(COALESCE(text, '')) AS BIGINT) END
            AS link_permille
        FROM $table ORDER BY doc_id"""
  }

  /** Documented static multi-label public-suffix subset for
    * [[urlDomains]]' registrable-domain rule (round-12 verdict #3;
    * widened round 14 per the r13 verdict from 22 to the ~150
    * high-traffic two-label entries below). The full Public Suffix
    * List is a maintained external artifact; a crawl frontier needs
    * the RULE (one label under the public suffix), and this subset
    * covers the registration patterns of the major ccTLDs. The rule:
    * host ends with a listed suffix → last THREE labels are the
    * registrable domain; otherwise last two; bare suffixes/single
    * labels/IPv4 literals are their own domain. The BOUNDARY is
    * executable, not prose: suffixes outside the subset (e.g.
    * Botswana's `co.bw`, deliberately left out) fall back to last-2
    * and group at the wrong grain — pinned by spec and by planted
    * `co.bw` fixture rows in the three URL gates, so a drop-in of
    * the full PSL snapshot flips exactly those rows. Three-label
    * PSL entries (e.g. Japanese prefecture domains) stay out of
    * scope with the same fallback. */
  val MultiLabelSuffixes: Seq[String] = Seq(
    // UK / Ireland
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "ltd.uk", "plc.uk",
    "net.uk", "sch.uk",
    // Japan (ad/ed/gr/lg are PSL entries too; prefecture 3-label
    // entries are out of scope)
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp",
    "gr.jp", "lg.jp",
    // Australia / New Zealand
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "geek.nz",
    // India / South Asia
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in", "ac.in",
    "com.pk", "net.pk", "org.pk", "edu.pk", "gov.pk",
    "com.bd", "net.bd", "org.bd", "edu.bd", "gov.bd",
    "com.lk", "org.lk", "edu.lk", "gov.lk", "com.np", "org.np",
    // Brazil / Latin America
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar",
    "com.co", "net.co", "org.co", "edu.co", "gov.co", "nom.co",
    "com.pe", "net.pe", "org.pe", "edu.pe", "gob.pe",
    "com.ve", "net.ve", "org.ve", "gob.ve",
    "com.uy", "net.uy", "org.uy", "edu.uy", "gub.uy",
    "com.ec", "net.ec", "org.ec", "edu.ec", "gob.ec",
    "com.py", "net.py", "org.py", "edu.py", "gov.py",
    "com.bo", "net.bo", "org.bo", "edu.bo", "gob.bo", "gob.cl",
    "com.gt", "com.sv", "com.hn", "com.ni", "com.pa", "com.do",
    // China / Taiwan / Hong Kong / Korea
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "co.kr", "ne.kr", "or.kr", "re.kr", "go.kr", "pe.kr", "ac.kr",
    // Turkey / Middle East / Israel
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "gen.tr", "web.tr",
    "co.il", "net.il", "org.il", "ac.il", "gov.il", "muni.il",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa",
    "co.ae", "net.ae", "org.ae", "ac.ae", "gov.ae",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg",
    // Southeast Asia
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg",
    "com.my", "net.my", "org.my", "edu.my", "gov.my",
    "co.id", "net.id", "or.id", "ac.id", "web.id", "go.id",
    "co.th", "net.th", "or.th", "ac.th", "go.th", "in.th",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn",
    // Eastern Europe / Ukraine / Poland / Russia (PSL private slices
    // excluded; these are the ICANN-section entries)
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl",
    "com.ru", "net.ru", "org.ru",
    // Africa
    "co.za", "net.za", "org.za", "gov.za", "web.za", "ac.za",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng",
    "co.tz", "or.tz", "ac.tz", "go.tz",
    "com.gh", "org.gh", "edu.gh", "gov.gh")

  /** last 3 labels (any), for the listed-suffix branch */
  private val Last3Re = "([^.]+\\.[^.]+\\.[^.]+)$"
  /** plain last-2-labels extraction — doubles as the candidate public
    * suffix for the set membership test */
  private val RegDom2Re = "([^.]+\\.[^.]+)$"
  private val HostIpRe = "^[0-9.]+$"

  /** URL canonicalization + registrable-domain roll-up — the crawl
    * frontier / URL-dedup key (round-12 verdict #3). Canonical form
    * (pinned, engine-identical): lowercase scheme and host, fragment
    * stripped, the scheme's DEFAULT port stripped (http:80 / https:443
    * — a non-default port is identity-bearing and stays), path case
    * preserved. Registrable domain: IPv4 literal → itself; host ending
    * in a [[MultiLabelSuffixes]] entry → last three labels; else last
    * two (regex-derived — no array ops, so the whole canonicalize
    * stage is codegen'd per-row work with zero shuffle). Roll-up per
    * domain: total URL occurrences, distinct canonical URLs, distinct
    * hosts, distinct docs, lexicographic first canonical. The three
    * exact distincts ride Spark's expand plan (one expand ×4, keyed
    * exchanges on slim (domain, dim) rows); at the 100 TB grain the
    * rows entering the agg are already slim URL strings — linear in
    * URL occurrences, never in corpus text. */
  /** (canonical URL, bare host) column pair for one extracted URL —
    * the shared canonicalization core of [[urlDomains]] and
    * [[robotsFilter]]. */
  private def urlCanonHost(urlCol: Column): (Column, Column) = {
    val p = urlCanonParts(urlCol)
    (p._1, p._2)
  }

  /** The full canonical decomposition behind [[urlCanonHost]] —
    * (canonical URL, bare host, scheme, host-with-non-default-port) —
    * the ONE place the fragment-strip / scheme-extract / host-extract /
    * default-port-strip sequence lives (review r14: the link graph and
    * redirect composer each hand-rolled a copy before this). */
  private[graft] def urlCanonParts(urlCol: Column)
      : (Column, Column, Column, Column) = {
    val noFrag = regexp_replace(urlCol, lit("#.*$"), lit(""))
    val scheme = lower(regexp_extract(noFrag, "^(https?)://", 1))
    val hostPort = lower(regexp_extract(noFrag, "^https?://([^/?#]+)", 1))
    val rest = regexp_replace(noFrag, lit("^https?://[^/?#]+"), lit(""))
    val hostNd = when(scheme === "http",
        regexp_replace(hostPort, lit(":80$"), lit("")))
      .otherwise(regexp_replace(hostPort, lit(":443$"), lit("")))
    (concat(scheme, lit("://"), hostNd, rest),
      regexp_replace(hostNd, lit(":[0-9]+$"), lit("")),
      scheme, hostNd)
  }

  /** Canonical form of a URL column — the [[urlDomains]] rules
    * (fragment strip, lowercase scheme/host, default-port strip) as a
    * public helper for composers (redirect surfacing, link graph). */
  def canonicalUrl(url: Column): Column = urlCanonHost(url)._1

  /** (scheme, host-with-non-default-port) of a URL column — the
    * [[resolveHref]] resolution base, from the same shared
    * decomposition as [[canonicalUrl]] (one source of truth). */
  def urlSchemeHost(url: Column): (Column, Column) = {
    val p = urlCanonParts(url)
    (p._3, p._4)
  }

  /** Registrable domain of a bare host — the [[urlDomains]] rule as a
    * reusable Column (IPv4 → itself; listed 2-label suffix → last 3
    * labels; else last 2; bare/single stays). */
  def registrableDomain(host: Column): Column = {
    // Set-membership form (round 14): extract the last-2 labels once
    // and test them against the suffix SET — Catalyst compiles a
    // 150-literal isin to an O(1) InSet hash probe, where the old
    // 150-way regex ALTERNATION cost O(|list|·|host|) per row on the
    // hot canonicalize path (four gates, every URL). Semantics are
    // unchanged: listed last-2 suffix AND a third label present →
    // last 3; otherwise last 2; bare suffixes/single labels/IPv4
    // stay themselves (spec-pinned).
    val dom3 = regexp_extract(host, Last3Re, 1)
    val dom2 = regexp_extract(host, RegDom2Re, 1)
    when(host.rlike(HostIpRe), host)
      .when(dom3 =!= "" && dom2.isin(MultiLabelSuffixes: _*), dom3)
      .when(dom2 =!= "", dom2)
      .otherwise(host)
  }

  /** SQL twin of [[registrableDomain]] over a host expression. */
  def registrableDomainSql(host: String): String = {
    val inList = MultiLabelSuffixes.map(x => s"'$x'").mkString(", ")
    s"""CASE WHEN regexp_matches($host, '$HostIpRe') THEN $host
          WHEN regexp_extract($host, '$Last3Re', 1) <> ''
               AND regexp_extract($host, '$RegDom2Re', 1)
                 IN ($inList)
            THEN regexp_extract($host, '$Last3Re', 1)
          WHEN regexp_extract($host, '$RegDom2Re', 1) <> ''
            THEN regexp_extract($host, '$RegDom2Re', 1)
          ELSE $host END"""
  }

  def urlDomains(docs: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val urls = docs.select(col("doc_id"),
      explode(regexp_extract_all(t, lit(UrlRe), lit(0))).as("url"))
    val (canon, host) = urlCanonHost(col("url"))
    val domain = registrableDomain(host)
    urls.select(col("doc_id"), canon.as("url_canon"), host.as("host"),
        domain.as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("url_canon")).as("n_unique_urls"),
        countDistinct(col("host")).as("n_hosts"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("url_canon")).as("first_url"))
  }

  /** Oracle twin of [[urlDomains]] — same extraction regex, canonical
    * steps, and registrable-domain regexes, staged through CTEs. */
  /** Shared CTE chain u → c for the URL SQL twins: extraction +
    * canonicalization ending in c(doc_id, url_canon, host). */
  private def urlCanonCtes(table: String): String = {
    val re = UrlRe.replace("'", "''")
    s"""u AS (SELECT doc_id,
            unnest(regexp_extract_all(COALESCE(text, ''), '$re')) AS url
          FROM $table),
        nf AS (SELECT doc_id,
            regexp_replace(url, '#.*$$', '') AS url FROM u),
        p AS (SELECT doc_id,
            lower(regexp_extract(url, '^(https?)://', 1)) AS scheme,
            lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS hp,
            regexp_replace(url, '^https?://[^/?#]+', '') AS rest
          FROM nf),
        h AS (SELECT doc_id, scheme, rest,
            CASE WHEN scheme = 'http'
                 THEN regexp_replace(hp, ':80$$', '')
                 ELSE regexp_replace(hp, ':443$$', '') END AS hostnd
          FROM p),
        c AS (SELECT doc_id,
            scheme || '://' || hostnd || rest AS url_canon,
            regexp_replace(hostnd, ':[0-9]+$$', '') AS host
          FROM h)"""
  }

  def urlDomainsSql(table: String): String = {
    s"""WITH ${urlCanonCtes(table)},
        d AS (SELECT doc_id, url_canon, host,
            ${registrableDomainSql("host")} AS domain
          FROM c)
        SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
          CAST(count(DISTINCT url_canon) AS BIGINT) AS n_unique_urls,
          CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          min(url_canon) AS first_url
        FROM d GROUP BY domain ORDER BY domain"""
  }

  /** robots.txt crawl-permission filter — the decision every frontier
    * applies before fetching (RFC 9309 §2.2.2 longest match, §2.2.3
    * wildcards): URLs extracted and canonicalized ([[urlCanonHost]]),
    * deduplicated per (doc, canonical URL), then matched against
    * per-HOST rules (pattern, allow). The most specific matching
    * pattern wins — most octets of the PATTERN, per the RFC's
    * octet-count rule (wildcard octets count as themselves); an exact
    * length tie goes to ALLOW (the RFC's least-restrictive tie rule);
    * no matching rule → allowed (the implicit allow-all). Patterns
    * match against path+query: a literal pattern is a path prefix
    * (codegen'd startsWith — the common case stays cheap); a pattern
    * carrying `*` (any char sequence) or a trailing `$` (end-of-URL
    * anchor) is TRANSLATED once per rule row into anchored-regex TEXT
    * — regex metachars escaped, `*`→`.*`, trailing `$`→end anchor —
    * the §2.2.3 grammar that real robots files use heavily (e.g. a
    * `Disallow:` of star-then-`?sessionid=`); a prefix-only frontier
    * would over-fetch those. Honesty note on the match cost: the
    * translation happens on the tiny side, but `regexp_like` with a
    * per-row pattern column recompiles the Pattern per evaluated
    * CANDIDATE (url × rule-of-host) — Spark's RLike codegen has no
    * non-foldable-pattern cache — so each URL pays a few µs per
    * wildcard rule on its host. Rules-per-host is robots.txt-grain
    * small, so the tax is a bounded constant per URL, not a scale
    * term; a frontier hot enough to care pre-partitions by host and
    * compiles each host's rules once per partition. Shape at 100 TB:
    * rules are tiny per host, so the match is a host-equi join Spark
    * broadcasts when the rule table fits, then one window over
    * (doc, url) candidate groups whose size is bounded by
    * rules-per-host — linear in extracted URLs, never in corpus
    * text. */
  def robotsFilter(docs: DataFrame, rules: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val urls = docs.select(col("doc_id"),
      explode(regexp_extract_all(t, lit(UrlRe), lit(0))).as("url"))
    val (canonC, hostC) = urlCanonHost(col("url"))
    // RFC 9309 matches against path + query. Empty path
    // (scheme://host) is the root "/"; a query WITHOUT a path
    // (scheme://host?q=1) matches as "/?q=1" — the [/?] class keeps
    // the query when no slash precedes it (a /-only regex silently
    // dropped it).
    val u = urls.select(col("doc_id"), canonC.as("url_canon"),
        hostC.as("host")).distinct()
      .withColumn("path", {
        val p = regexp_extract(col("url_canon"),
          "^https?://[^/?#]+([/?].*)$", 1)
        when(p === "", lit("/"))
          .when(p.startsWith("?"), concat(lit("/"), p))
          .otherwise(p)
      })
    // §2.2.3 wildcard compile, on the tiny rule side: escape regex
    // metachars (all but `*`, which stays the wildcard), `*` → `.*`,
    // a trailing `$` (now escaped to `\$`) back to the end anchor,
    // `^` prepended — regexp_like is a find(), so the `^` makes it
    // exactly the RFC's match-a-prefix-of-the-path semantics.
    val esc = regexp_replace(col("pattern"),
      "([.^$+?()\\[\\]{}|\\\\])", "\\\\$1")
    val wild = regexp_replace(esc, "\\*", ".*")
    val anchored = regexp_replace(wild, "\\\\\\$$", "\\$")
    val r = rules.withColumn("__wild",
        col("pattern").contains("*") || col("pattern").endsWith("$"))
      .withColumn("__re", concat(lit("^"), anchored))
    val hits = u.join(r, Seq("host"))
      .filter(when(col("__wild"), regexp_like(col("path"), col("__re")))
        .otherwise(col("path").startsWith(col("pattern"))))
    val w = Window.partitionBy(col("doc_id"), col("url_canon"))
      .orderBy(length(col("pattern")).desc, col("allow").desc,
        col("pattern"))
    val best = hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("url_canon"),
        col("pattern").as("rule"), col("allow"))
    u.join(best, Seq("doc_id", "url_canon"), "left")
      .select(col("doc_id"), col("url_canon"), col("host"),
        coalesce(col("rule"), lit("")).as("rule"),
        coalesce(col("allow"), lit(true)).as("allowed"))
  }

  /** Crawl-frontier roll-up — the composition a fetch scheduler
    * actually consumes: [[robotsFilter]] decisions grouped per
    * registrable domain into (fetchable, blocked, distinct hosts,
    * first allowed URL). The frontier at 100 TB is exactly this
    * table, partitioned by domain for politeness scheduling; the agg
    * adds one slim-row shuffle over the robots output. */
  def crawlFrontier(docs: DataFrame, rules: DataFrame): DataFrame =
    robotsFilter(docs, rules)
      .groupBy(registrableDomain(col("host")).as("domain"))
      .agg(sum(when(col("allowed"), 1L).otherwise(0L)).as("n_fetchable"),
        sum(when(col("allowed"), 0L).otherwise(1L)).as("n_blocked"),
        countDistinct(col("host")).as("n_hosts"),
        min(when(col("allowed"), col("url_canon"))).as("first_fetch"))

  /** `href` attribute values in an HTML string — double- OR
    * single-quoted, case-insensitive attribute name. A value
    * containing the other quote char terminates at it (documented,
    * engine-identical — the same single-regex scope discipline as
    * [[UrlRe]]). */
  val HrefRe = "(?i)href\\s*=\\s*[\"']([^\"'>]*)[\"']"

  /** RFC 3986 §5-lite reference resolution for crawl links, shared by
    * [[htmlLinkGraph]] and the redirect surface: absolute http(s)
    * targets pass through; protocol-relative `//host/...` takes the
    * source scheme; root-relative `/path` resolves against the
    * source's canonical scheme://host. Everything else — relative
    * paths, fragments, mailto/javascript/data schemes — resolves to
    * NULL (dropped): a frontier only enqueues fetchable absolute
    * URLs, and full relative-path resolution (dot-segment merge
    * against the base path) is documented out of scope. */
  def resolveHref(target: Column, srcScheme: Column,
                  srcHost: Column): Column =
    // scheme match is case-INSENSITIVE (RFC 3986 §3.1; real pages
    // carry HTTP:// links) and the absolute branch lowercases the
    // scheme prefix so the downstream canonicalization — whose own
    // extraction regexes are lowercase-anchored — always sees it
    when(target.rlike("(?i)^https?://"),
        concat(lower(regexp_extract(target, "(?i)^(https?)://", 1)),
          lit("://"),
          regexp_replace(target, lit("(?i)^https?://"), lit(""))))
      .when(target.startsWith("//"),
        concat(srcScheme, lit(":"), target))
      .when(target.startsWith("/"),
        concat(srcScheme, lit("://"), srcHost, target))
      .otherwise(lit(null))

  /** `<url>…</url>` blocks of a sitemaps.org urlset document. */
  val SitemapUrlBlockRe = "(?is)<url>(.*?)</url>"

  /** Sitemap (sitemaps.org protocol) URL extraction — the crawl
    * frontier's THIRD input beside page links and redirects: sites
    * publish their fetchable URL inventory (with optional lastmod
    * freshness hints) as urlset XML, and a crawler that skips it
    * cold-starts every site from its homepage. Per doc: `<url>`
    * blocks extract, each block's `<loc>` (whitespace-trimmed per
    * the spec's examples) canonicalizes under the [[urlDomains]]
    * rules, `<lastmod>` is surfaced ('' when absent), and the
    * roll-up per registrable domain gives the scheduler its
    * site-inventory row: URL count, distinct canonical count,
    * freshest lastmod, first URL. `<sitemapindex>` files contain no
    * `<url>` blocks and legally contribute zero rows (the recursion
    * to child sitemaps is the fetch loop's job, not the parser's).
    * Full XML parsing is deliberately out of scope: the sitemap
    * grammar in the wild is machine-generated and regular — the
    * regex pair IS the format; a CDATA/entity-escaped loc is rare
    * and documented out. Shape: two nested codegen extractions, one
    * explode at URL grain, one slim-row shuffle for the domain agg. */
  def sitemapUrls(docs: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val blocks = docs.select(col("doc_id"),
      explode(regexp_extract_all(t, lit(SitemapUrlBlockRe), lit(1)))
        .as("block"))
    val loc = regexp_extract(col("block"),
      "(?is)<loc>\\s*(.*?)\\s*</loc>", 1)
    val lastmod = regexp_extract(col("block"),
      "(?is)<lastmod>\\s*(.*?)\\s*</lastmod>", 1)
    val (canon, host) = urlCanonHost(loc)
    blocks.filter(loc =!= "")
      .select(col("doc_id"), canon.as("url_canon"),
        registrableDomain(host).as("domain"), lastmod.as("lastmod"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("url_canon")).as("n_unique_urls"),
        max(col("lastmod")).as("latest_lastmod"),
        min(col("url_canon")).as("first_url"))
  }

  /** Anchor-text corpus builder — the classic IR/link-text signal
    * (anchor words describing the TARGET page; search rankers and
    * link-text training corpora are built from exactly this table):
    * `<a …href=…>inner</a>` pairs extract per page, the inner text
    * is tag-stripped / entity-light / lowercased / whitespace-split,
    * the href resolves ([[resolveHref]]) and canonicalizes, and the
    * roll-up is (target registrable domain, term) → mention count +
    * distinct source pages. Nested `<a>` elements are out of scope
    * (the non-greedy pair regex stops at the first `</a>` — real
    * crawl HTML virtually never nests anchors because HTML forbids
    * it). Shape: one codegen extraction per page, explode at anchor
    * grain, split-explode at term grain, ONE shuffle of slim
    * (domain, term) rows with map-side combine. */
  val AnchorRe =
    "(?is)<a\\s[^>]*?href\\s*=\\s*[\"']([^\"'>]*)[\"'][^>]*>(.*?)</a>"

  def anchorText(pages: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val (_, _, sScheme, sHostNd) = urlCanonParts(col("page_url"))
    val anchors = pages
      .select(col("doc_id"), sScheme.as("__s"), sHostNd.as("__h"),
        explode(arrays_zip(
          regexp_extract_all(t, lit(AnchorRe), lit(1)),
          regexp_extract_all(t, lit(AnchorRe), lit(2)))).as("a"))
      .filter(col("__s") =!= "")
      .select(col("doc_id"),
        resolveHref(col("a.0"), col("__s"), col("__h")).as("resolved"),
        col("a.1").as("inner"))
      .filter(col("resolved").isNotNull)
    val cleanInner = trim(regexp_replace(regexp_replace(
      lower(col("inner")), "<[^>]*>", " "), "[ \\t\\n\\r]+", " "))
    val (_, host) = urlCanonHost(col("resolved"))
    anchors.select(col("doc_id"),
        registrableDomain(host).as("dst_domain"),
        explode(split(cleanInner, " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("dst_domain"), col("term"))
      .agg(count(lit(1)).as("n_mentions"),
        countDistinct(col("doc_id")).as("n_pages"))
  }

  /** Domain-grain link graph from crawled HTML — the edge table that
    * SEEDS the whole graph stack (pagerank/HITS at domain grain run
    * over exactly this roll-up in a production crawl; the engine's
    * `graph_*` gates consume such edges): per page, `href` targets
    * are extracted ([[HrefRe]]), resolved ([[resolveHref]] — absolute,
    * protocol-relative, and root-relative forms; the rest drop),
    * canonicalized (fragment strip, lowercase scheme/host, default
    * port strip — the [[urlDomains]] rules), and rolled up to
    * (source registrable domain → target registrable domain) with
    * link, page, and distinct-target counts. Input: one row per page
    * (`doc_id`, `page_url`, `text` = the HTML). Shape at 100 TB: one
    * codegen'd extract-resolve-canonicalize projection per page, one
    * explode at link grain, ONE shuffle for the domain-pair agg with
    * map-side combine — rows entering the shuffle are slim domain
    * pairs, never page bytes. Self-edges (intra-domain navigation)
    * are kept: their ratio is the classic template/boilerplate
    * signal, and pagerank treats them per its own damping. */
  def htmlLinkGraph(pages: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    // source decomposition through the ONE shared canonicalizer
    // (urlCanonParts); pages whose page_url is not an http(s) URL
    // (scheme extraction empty) DROP here — resolving against an
    // empty base would otherwise emit ':///nav'-shaped edges that all
    // aggregate under an empty-string domain and pollute the seed
    // table (review r14)
    val (_, sBare, sScheme, sHostNd) = urlCanonParts(col("page_url"))
    val links = pages
      .select(col("doc_id"), sBare.as("__b"), sScheme.as("__s"),
        sHostNd.as("__h"),
        explode(regexp_extract_all(t, lit(HrefRe), lit(1))).as("target"))
      .filter(col("__s") =!= "")
      .select(col("doc_id"), col("__b"),
        resolveHref(col("target"), col("__s"), col("__h")).as("resolved"))
      .filter(col("resolved").isNotNull)
    val (canon, host) = urlCanonHost(col("resolved"))
    links.select(col("doc_id"),
        registrableDomain(col("__b")).as("src_domain"),
        canon.as("url_canon"), registrableDomain(host).as("dst_domain"))
      .groupBy(col("src_domain"), col("dst_domain"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("doc_id")).as("n_pages"),
        countDistinct(col("url_canon")).as("n_targets"))
  }

  /** Oracle twin of [[crawlFrontier]] over the robots twin. */
  def crawlFrontierSql(table: String, rulesValues: String): String =
    s"""WITH r AS (${robotsFilterSql(table, rulesValues)})
        SELECT ${registrableDomainSql("host")} AS domain,
          CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
            AS n_fetchable,
          CAST(sum(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT)
            AS n_blocked,
          CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
          min(CASE WHEN allowed THEN url_canon END) AS first_fetch
        FROM r GROUP BY 1 ORDER BY domain"""

  /** Oracle twin of [[robotsFilter]]; `rulesValues` is a SQL VALUES
    * body `('host','/prefix',bool), ...`. The `rw` CTE mirrors the
    * Spark side's §2.2.3 wildcard compile char for char (escape
    * metachars, `*`→`.*`, trailing `\$`→end anchor, `^` prefix). */
  def robotsFilterSql(table: String, rulesValues: String): String =
    robotsFilterSqlFrom(table,
      s"(SELECT * FROM (VALUES $rulesValues) v(host, pattern, allow))")

  /** [[robotsFilterSql]] with the rule table supplied as an arbitrary
    * subquery producing (host, pattern, allow) — the composition form:
    * feed it [[robotsParseSql]] and the oracle runs the parse→filter
    * chain end to end, exactly like `robotsFilter(docs,
    * robotsParse(robotsDocs))` on the Spark side. */
  def robotsFilterSqlFrom(table: String, rulesSql: String): String =
    s"""WITH ${urlCanonCtes(table)},
        r AS (SELECT * FROM $rulesSql),
        rw AS (SELECT host, pattern, allow,
            (pattern LIKE '%*%' OR pattern LIKE '%$$') AS is_wild,
            '^' || regexp_replace(
              replace(regexp_replace(pattern,
                '([.^$$+?()\\[\\]{}|\\\\])', '\\\\\\1', 'g'), '*', '.*'),
              '\\\\\\$$$$', '$$') AS re
          FROM r),
        uq AS (SELECT DISTINCT doc_id, url_canon, host FROM c),
        up AS (SELECT doc_id, url_canon, host,
            CASE WHEN regexp_extract(url_canon,
                '^https?://[^/?#]+([/?].*)$$', 1) = '' THEN '/'
              WHEN starts_with(regexp_extract(url_canon,
                '^https?://[^/?#]+([/?].*)$$', 1), '?')
                THEN '/' || regexp_extract(url_canon,
                  '^https?://[^/?#]+([/?].*)$$', 1)
              ELSE regexp_extract(url_canon,
                '^https?://[^/?#]+([/?].*)$$', 1) END AS path
          FROM uq),
        hits AS (SELECT doc_id, url_canon, pattern, allow,
            row_number() OVER (PARTITION BY doc_id, url_canon
              ORDER BY length(pattern) DESC, allow DESC, pattern)
              AS rn
          FROM up JOIN rw USING (host)
          WHERE CASE WHEN is_wild THEN regexp_matches(path, re)
            ELSE starts_with(path, pattern) END)
        SELECT up.doc_id, up.url_canon, up.host,
          COALESCE(h.pattern, '') AS rule,
          COALESCE(h.allow, true) AS allowed
        FROM up LEFT JOIN (SELECT * FROM hits WHERE rn = 1) h
          ON up.doc_id = h.doc_id AND up.url_canon = h.url_canon
        ORDER BY up.doc_id, up.url_canon"""

  /** `<link …>` elements of an HTML head (self-closing or not). */
  val LinkTagRe = "(?is)<link\\s[^>]*>"

  /** `rel="canonical"` attribute test, case-insensitive in both the
    * attribute name and the token value (HTML rel tokens are ASCII
    * case-insensitive), either quote style. A multi-token rel list
    * containing canonical is out of scope (documented — real pages
    * emit the bare token). */
  val RelCanonicalRe = "(?i)rel\\s*=\\s*[\"']\\s*canonical\\s*[\"']"

  /** Canonical-link clusters — the `<link rel="canonical">` dedup
    * signal every crawl pipeline applies before content dedup: sites
    * self-declare which URL is the authoritative copy of a page
    * (print views, tracking-parameter variants, mirrors all point at
    * one target), and grouping pages by their declared target yields
    * dedup clusters for free, BEFORE any content hashing. Per page:
    * `<link>` tags extract, the FIRST tag in document order carrying
    * `rel=canonical` (either attribute order, either quote style)
    * yields its `href`, which resolves ([[resolveHref]] — absolute /
    * protocol-relative / root-relative; the rest unresolvable) and
    * canonicalizes under the [[urlDomains]] rules; a page with no
    * canonical link, or an unresolvable href, is its own canonical
    * (the self branch — exactly how indexers treat a missing
    * declaration). Roll-up per canonical target: pointing pages,
    * self-declarations, and non-self duplicates (the dedup yield).
    * Shape at 100 TB: the whole extract-resolve-canonicalize chain is
    * ONE codegen'd projection per page (array filter + `get`, no
    * explode, no join back), then one slim-row shuffle at canonical-
    * URL grain with map-side combine. Pages whose own `page_url` is
    * not http(s) drop (same rule as [[htmlLinkGraph]]). */
  def canonicalClusters(pages: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val (pageCanon, pBare, sScheme, sHostNd) =
      urlCanonParts(col("page_url"))
    val canonTags = filter(
      regexp_extract_all(t, lit(LinkTagRe), lit(0)),
      tag => tag.rlike(RelCanonicalRe))
    // get() (not element_at/apply) — NULL on the empty array instead
    // of an ANSI index error
    val href = regexp_extract(get(canonTags, lit(0)), HrefRe, 1)
    val base = pages
      .select(col("doc_id"), pageCanon.as("__page"), pBare.as("__phost"),
        sScheme.as("__s"),
        resolveHref(href, sScheme, sHostNd).as("__resolved"))
      .filter(col("__s") =!= "")
    val (tCanon, tHost) = urlCanonHost(col("__resolved"))
    val target = coalesce(tCanon, col("__page"))
    val tDomain = registrableDomain(coalesce(tHost, col("__phost")))
    base
      .select(col("doc_id"), target.as("canonical_url"),
        tDomain.as("domain"),
        (target === col("__page")).as("__self"))
      .groupBy(col("canonical_url"), col("domain"))
      .agg(count(lit(1)).as("n_pages"),
        sum(when(col("__self"), 1L).otherwise(0L)).as("n_self"),
        sum(when(col("__self"), 0L).otherwise(1L)).as("n_dupes"))
  }

  /** `rel="alternate"` attribute test (same grammar scope as
    * [[RelCanonicalRe]]). */
  val RelAlternateRe = "(?i)rel\\s*=\\s*[\"']\\s*alternate\\s*[\"']"

  /** `hreflang` attribute value of a link tag. */
  val HreflangAttrRe = "(?i)hreflang\\s*=\\s*[\"']([^\"'>]*)[\"']"

  /** Hreflang parallel-page pairs — the multilingual parallel-corpus
    * mining signal: sites declare their language variants via `<link
    * rel="alternate" hreflang="…" href="…">`, and every page carrying
    * the declaration set yields (language a, language b, URL a, URL b)
    * PARALLEL DOCUMENT pairs — the alignment seed multilingual
    * training corpora (and MT mining pipelines) are built from. Per
    * page: alternate+hreflang link tags extract (attribute order,
    * case, and quote style free), each yields (lowercased language
    * tag, href resolved via [[resolveHref]] and canonicalized);
    * `x-default` rows drop (a fallback pointer, not a language);
    * unresolvable hrefs and empty language tags drop; the page's own
    * alternate SET then crosses with itself, keeping `lang_a <
    * lang_b` (each unordered language pair once; same-language
    * duplicates are spec anomalies and drop). Roll-up per language
    * pair: pair count, distinct declaring pages, distinct URL pairs,
    * first pair sample. Shape at 100 TB: the extract → parse →
    * resolve → per-page self-cross is ONE codegen'd projection over
    * nested array HOFs (bounded by a page's language count, no
    * explode until pair grain, no join), then one slim-row shuffle at
    * language-pair grain with map-side combine. */
  def hreflangPairs(pages: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val (_, _, sScheme, sHostNd) = urlCanonParts(col("page_url"))
    val altTags = filter(regexp_extract_all(t, lit(LinkTagRe), lit(0)),
      tag => tag.rlike(RelAlternateRe) && tag.rlike(HreflangAttrRe))
    val alts = filter(
      transform(altTags, tag => struct(
        lower(regexp_extract(tag, HreflangAttrRe, 1)).as("lang"),
        urlCanonHost(resolveHref(regexp_extract(tag, HrefRe, 1),
          sScheme, sHostNd))._1.as("url"))),
      a => a.getField("url").isNotNull &&
        a.getField("lang") =!= "" && a.getField("lang") =!= "x-default")
    val pairs = filter(
      flatten(transform(alts, a => transform(alts, b => struct(
        a.getField("lang").as("lang_a"), a.getField("url").as("url_a"),
        b.getField("lang").as("lang_b"),
        b.getField("url").as("url_b"))))),
      p => p.getField("lang_a") < p.getField("lang_b"))
    pages
      .select(col("doc_id"), sScheme.as("__s"), explode(pairs).as("p"))
      .filter(col("__s") =!= "")
      .select(col("doc_id"), col("p.lang_a"), col("p.url_a"),
        col("p.lang_b"), col("p.url_b"))
      .groupBy(col("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_id")).as("n_pages"),
        countDistinct(concat(col("url_a"), lit("|"), col("url_b")))
          .as("n_unique_pairs"),
        min(concat(col("url_a"), lit(" "), col("url_b")))
          .as("first_pair"))
  }

  /** `Sitemap:` lines of a robots.txt body (RFC 9309 §2.3 / the
    * sitemaps.org robots extension): key is case-insensitive,
    * leading whitespace legal, value runs to end of line. */
  val RobotsSitemapRe = "(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*([^ \\t\\r\\n]+)"

  /** Sitemap discovery from robots.txt — how a crawler FINDS the
    * sitemap inventory ([[sitemapUrls]] parses it afterwards): every
    * robots.txt may carry `Sitemap: <absolute-url>` lines (the
    * sitemaps.org extension; key case-insensitive, multiple lines
    * legal, position independent of user-agent groups). Per doc
    * (one robots.txt body): sitemap lines extract, values
    * canonicalize under the [[urlDomains]] rules (non-http(s) values
    * drop — the spec requires absolute URLs), duplicates collapse
    * per doc, and the roll-up per registrable domain of the SITEMAP
    * URL is the discovery table a fetch scheduler seeds from:
    * distinct sitemap count, declaring robots files, first URL.
    * Shape: one codegen multiline extraction, one explode at line
    * grain, one slim-row shuffle. */
  def robotsSitemaps(docs: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val lines = docs.select(col("doc_id"),
      explode(regexp_extract_all(t, lit(RobotsSitemapRe), lit(1)))
        .as("sm"))
    val (canon, host) = urlCanonHost(col("sm"))
    lines
      .filter(col("sm").rlike("(?i)^https?://"))
      .select(col("doc_id"), canon.as("url_canon"),
        registrableDomain(host).as("domain"))
      .distinct()
      .groupBy(col("domain"))
      .agg(countDistinct(col("url_canon")).as("n_sitemaps"),
        countDistinct(col("doc_id")).as("n_robots_files"),
        min(col("url_canon")).as("first_sitemap"))
  }

  /** Oracle twin of [[robotsSitemaps]]. */
  def robotsSitemapsSql(table: String): String = {
    val re = RobotsSitemapRe.replace("'", "''")
    s"""WITH l AS (SELECT doc_id,
            unnest(regexp_extract_all(COALESCE(text, ''), '$re', 1))
              AS sm
          FROM $table),
        f AS (SELECT doc_id, sm FROM l
          WHERE regexp_matches(sm, '(?i)^https?://')),
        nf AS (SELECT doc_id,
            regexp_replace(sm, '#.*$$', '') AS url FROM f),
        p AS (SELECT doc_id,
            lower(regexp_extract(url, '^(https?)://', 1)) AS scheme,
            lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS hp,
            regexp_replace(url, '^https?://[^/?#]+', '') AS rest
          FROM nf),
        h AS (SELECT doc_id, scheme, rest,
            CASE WHEN scheme = 'http'
                 THEN regexp_replace(hp, ':80$$', '')
                 ELSE regexp_replace(hp, ':443$$', '') END AS hostnd
          FROM p),
        c AS (SELECT DISTINCT doc_id,
            scheme || '://' || hostnd || rest AS url_canon,
            regexp_replace(hostnd, ':[0-9]+$$', '') AS host
          FROM h),
        d AS (SELECT doc_id, url_canon,
            ${registrableDomainSql("host")} AS domain
          FROM c)
        SELECT domain,
          CAST(count(DISTINCT url_canon) AS BIGINT) AS n_sitemaps,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_robots_files,
          min(url_canon) AS first_sitemap
        FROM d GROUP BY domain ORDER BY domain"""
  }

  /** robots.txt group parser (RFC 9309 §2.1–§2.2) — the producer of
    * the (host, pattern, allow) rule table [[robotsFilter]] consumes;
    * until now that table was hand-supplied, this closes the chain
    * from raw fetched robots.txt bytes. Input: one row per robots
    * file (`doc_id`, `host`, `text` = the body). Grammar: lines are
    * `key: value` with optional leading whitespace and
    * case-insensitive keys; `#` starts a comment anywhere on the
    * line; blank/alien lines are ignored. One or more consecutive
    * `User-agent` lines START a group whose rules are the following
    * `Allow`/`Disallow` lines; rules BEFORE any user-agent line
    * belong to no group and drop (§2.1); an EMPTY Disallow/Allow
    * value is the spec's explicit allow-all idiom and emits no rule.
    * Group selection for the crawler's product token (§2.2.1,
    * case-insensitive exact token match — substring/most-specific
    * product matching documented out of scope): if ANY group in the
    * file names the token exactly, all such groups apply (multiple
    * groups for the same agent MERGE per the RFC); otherwise all `*`
    * groups apply; a group matches via any of its stacked agent
    * lines. Output: (host, pattern, allow) distinct — feed it
    * straight to [[robotsFilter]]. CRLF files parse identically (the
    * trailing \r strips with the value whitespace — a pattern or
    * agent ending in \r would otherwise match nothing). Non-group
    * records BETWEEN stacked user-agent lines (e.g. a `Sitemap:`
    * line) do not break the stack — the reference parsers' common
    * interpretation; only rules end a ua run.
    *
    * Shape at 100 TB: line posexplode, then every group/selection
    * decision is a WINDOW over (doc, line-order) — running group id
    * by cumulative sum over the ua-run boundary flag, group-agent
    * membership via max-over-(doc, gid), file-level exact-match via
    * max-over-doc — so the whole parse is ONE shuffle by doc with no
    * self-joins; robots files are KB-grain so per-doc windows are
    * trivially bounded. */
  def robotsParse(docs: DataFrame, agent: String = "graftbot")
      : DataFrame = {
    val a = agent.toLowerCase(java.util.Locale.ROOT)
    val t = coalesce(col("text"), lit(""))
    val lines = docs.select(col("doc_id"), col("host"),
      posexplode(split(t, "\n")).as(Seq("pos", "raw")))
    // CRLF robots files are the common case in the wild: the split is
    // on \n, so every line may carry a trailing \r — it must strip
    // with the whitespace (a pattern or agent token ending in \r
    // would silently match nothing)
    val noComment = regexp_replace(col("raw"), "#.*$", "")
    val key = lower(regexp_extract(noComment,
      "^[ \\t]*([A-Za-z-]+)[ \\t]*:", 1))
    val value = regexp_replace(regexp_replace(
      regexp_extract(noComment, "^[ \\t]*[A-Za-z-]+[ \\t]*:(.*)$", 1),
      "^[ \\t]+", ""), "[ \\t\\r]+$", "")
    val typed = lines
      .select(col("doc_id"), col("host"), col("pos"),
        key.as("key"), value.as("value"))
      .filter(col("key").isin("user-agent", "allow", "disallow"))
      .withColumn("is_ua", col("key") === "user-agent")
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wholeDoc = Window.partitionBy(col("doc_id"))
    // a ua line opens a NEW group iff the previous kept line was not
    // a ua line (stacked ua lines share the group); cumulative sum of
    // the boundary flag is the group id — 0 = before any group
    val grouped = typed
      .withColumn("__newg",
        when(col("is_ua") &&
          !coalesce(lag(col("is_ua"), 1).over(byPos), lit(false)), 1L)
          .otherwise(0L))
      .withColumn("gid", sum(col("__newg")).over(byPos))
    val byGroup = Window.partitionBy(col("doc_id"), col("gid"))
    val selected = grouped
      .withColumn("__gexact",
        max(when(col("is_ua") && lower(col("value")) === a, 1L)
          .otherwise(0L)).over(byGroup))
      .withColumn("__gstar",
        max(when(col("is_ua") && col("value") === "*", 1L)
          .otherwise(0L)).over(byGroup))
      .withColumn("__dexact", max(col("__gexact")).over(wholeDoc))
      .filter(!col("is_ua") && col("gid") > 0 && col("value") =!= "" &&
        (col("__gexact") === 1L ||
          (col("__dexact") === 0L && col("__gstar") === 1L)))
    selected
      .select(col("host"), col("value").as("pattern"),
        (col("key") === "allow").as("allow"))
      .distinct()
  }

  /** Oracle twin of [[robotsParse]] — the same line scan, window
    * group ids, and selection logic in SQL. */
  def robotsParseSql(table: String, agent: String = "graftbot")
      : String = {
    val a = agent.toLowerCase(java.util.Locale.ROOT)
    s"""WITH l AS (SELECT doc_id, host, p.pos AS pos,
            regexp_replace(p.line, '#.*$$', '') AS line
          FROM (SELECT doc_id, host,
              generate_subscripts(
                string_split(COALESCE(text, ''), chr(10)), 1) AS pos,
              unnest(string_split(COALESCE(text, ''), chr(10))) AS line
            FROM $table) p),
        kv AS (SELECT doc_id, host, pos,
            lower(regexp_extract(line,
              '^[ \\t]*([A-Za-z-]+)[ \\t]*:', 1)) AS key,
            regexp_replace(regexp_replace(
              regexp_extract(line,
                '^[ \\t]*[A-Za-z-]+[ \\t]*:(.*)$$', 1),
              '^[ \\t]+', ''), '[ \\t\\r]+$$', '') AS value
          FROM l
          WHERE lower(regexp_extract(line,
              '^[ \\t]*([A-Za-z-]+)[ \\t]*:', 1))
            IN ('user-agent', 'allow', 'disallow')),
        g AS (SELECT *, (key = 'user-agent') AS is_ua,
            CASE WHEN key = 'user-agent' AND NOT COALESCE(
                lag(key = 'user-agent') OVER (PARTITION BY doc_id
                  ORDER BY pos), false)
              THEN 1 ELSE 0 END AS newg
          FROM kv),
        gg AS (SELECT *, sum(newg) OVER (PARTITION BY doc_id
            ORDER BY pos ROWS UNBOUNDED PRECEDING) AS gid
          FROM g),
        sel AS (SELECT *,
            max(CASE WHEN is_ua AND lower(value) = '$a' THEN 1
              ELSE 0 END) OVER (PARTITION BY doc_id, gid) AS gexact,
            max(CASE WHEN is_ua AND value = '*' THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id, gid) AS gstar
          FROM gg),
        sel2 AS (SELECT *,
            max(gexact) OVER (PARTITION BY doc_id) AS dexact
          FROM sel)
        SELECT DISTINCT host, value AS pattern,
          (key = 'allow') AS allow
        FROM sel2
        WHERE NOT is_ua AND gid > 0 AND value <> ''
          AND (gexact = 1 OR (dexact = 0 AND gstar = 1))
        ORDER BY host, pattern, allow"""
  }

  /** `<meta …>` elements of an HTML head (self-closing or not). */
  val MetaTagRe = "(?is)<meta\\s[^>]*>"

  /** Page-level robots-meta index policy — the in-page counterpart of
    * robots.txt ([[robotsFilter]] gates FETCHING; `<meta
    * name="robots">` gates INDEXING/FOLLOWING after the fetch): per
    * page, robots meta tags extract (attribute order and case free,
    * either quote style; non-robots metas ignored), their `content`
    * token lists parse under the standard grammar — `noindex`,
    * `nofollow`, `none` (= both), comma/space separated, ASCII
    * case-insensitive — and MULTIPLE robots metas combine most-
    * restrictive (union), exactly as crawlers do. A page with no
    * robots meta is indexable and followable (the implicit default).
    * Roll-up per registrable domain of the PAGE: page counts by
    * policy — the table a corpus builder joins to drop noindex pages
    * and a link-graph builder joins to drop nofollow sources.
    * Shape at 100 TB: one codegen'd array-filter + token-test
    * projection per page (no explode), one slim-row domain agg. */
  def metaRobots(pages: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val (_, pHost, sScheme, _) = urlCanonParts(col("page_url"))
    val robotsContents = transform(
      filter(regexp_extract_all(t, lit(MetaTagRe), lit(0)),
        tag => tag.rlike("(?i)name\\s*=\\s*[\"']\\s*robots\\s*[\"']")),
      tag => lower(regexp_extract(tag,
        "(?i)content\\s*=\\s*[\"']([^\"'>]*)[\"']", 1)))
    // union of all robots metas on the page: token membership over the
    // comma-joined lists (most-restrictive combine)
    val joined = concat_ws(",", robotsContents)
    val noindex = joined.rlike("(^|[,\\s])(noindex|none)([,\\s]|$)")
    val nofollow = joined.rlike("(^|[,\\s])(nofollow|none)([,\\s]|$)")
    pages
      .select(registrableDomain(pHost).as("domain"), sScheme.as("__s"),
        noindex.as("__ni"), nofollow.as("__nf"))
      .filter(col("__s") =!= "")
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_pages"),
        sum(when(col("__ni"), 1L).otherwise(0L)).as("n_noindex"),
        sum(when(col("__nf"), 1L).otherwise(0L)).as("n_nofollow"),
        sum(when(!col("__ni"), 1L).otherwise(0L)).as("n_indexable"))
  }

  /** Politeness fetch schedule — the frontier consumer that turns a
    * URL inventory into per-domain fetch slots: crawlers rate-limit
    * per registrable domain (one connection, `delay_ms` between
    * fetches — the Crawl-delay convention), so a domain's URLs
    * serialize while domains proceed in parallel. URLs extract and
    * canonicalize ([[urlDomains]] rules), deduplicate, join the
    * per-domain delay table (tiny — broadcast; unlisted domains take
    * the 1000 ms default), slot k-th URL (url_canon order) at
    * `(k-1)·delay`, and roll up the scheduler's planning row per
    * domain: URL count, delay, makespan (the last slot — the
    * domain's wall-clock cost, exactly the number a crawl planner
    * balances shards by), and the median-slot URL (the window
    * witness: a slotting slip moves it). Shape at 100 TB: one
    * broadcast join, ONE shuffle by domain serving both the window
    * and the roll-up (Spark reuses the partitioning), slim URL rows
    * throughout. Skew honesty: a single giant domain serializes in
    * ONE partition's window — real frontiers cap per-domain batch
    * size per cycle, which is a LIMIT over this same window. */
  def crawlSchedule(docs: DataFrame, delays: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val urls = docs.select(
      explode(regexp_extract_all(t, lit(UrlRe), lit(0))).as("url"))
    val (canon, host) = urlCanonHost(col("url"))
    val u = urls
      .select(canon.as("url_canon"), registrableDomain(host).as("domain"))
      .distinct()
      .join(broadcast(delays), Seq("domain"), "left")
      .withColumn("delay_ms", coalesce(col("delay_ms"), lit(1000L)))
    val byDom = Window.partitionBy(col("domain"))
    val slotted = u
      .withColumn("rn", row_number().over(byDom.orderBy(col("url_canon"))))
      .withColumn("n", count(lit(1)).over(byDom))
    slotted.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        max(col("delay_ms")).as("delay_ms"),
        ((max(col("rn")) - 1L) * max(col("delay_ms"))).as("makespan_ms"),
        min(when(col("rn") === expr("(n + 1L) div 2"), col("url_canon")))
          .as("median_url"))
  }

  /** Oracle twin of [[crawlSchedule]]; `delaysValues` is a SQL VALUES
    * body `('domain', ms), ...`. */
  def crawlScheduleSql(table: String, delaysValues: String): String =
    s"""WITH ${urlCanonCtes(table)},
        d AS (SELECT DISTINCT url_canon,
            ${registrableDomainSql("host")} AS domain
          FROM c),
        dl(domain, delay_ms) AS (VALUES $delaysValues),
        j AS (SELECT d.url_canon, d.domain,
            COALESCE(dl.delay_ms, 1000) AS delay_ms
          FROM d LEFT JOIN dl USING (domain)),
        r AS (SELECT *,
            row_number() OVER (PARTITION BY domain
              ORDER BY url_canon) AS rn,
            count(*) OVER (PARTITION BY domain) AS n
          FROM j)
        SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
          CAST(max(delay_ms) AS BIGINT) AS delay_ms,
          CAST((max(rn) - 1) * max(delay_ms) AS BIGINT) AS makespan_ms,
          min(CASE WHEN rn = (n + 1) // 2 THEN url_canon END)
            AS median_url
        FROM r GROUP BY domain ORDER BY domain"""

  /** Crawler-trap detection — the frontier's self-defense: infinite
    * URL spaces (calendars, session ids, faceted filters) generate
    * unbounded DISTINCT URLs over a bounded set of path TEMPLATES,
    * and a frontier that cannot see the explosion crawls one domain
    * forever. Template = the URL's path (query EXCLUDED — query-
    * parameter traps explode distinct URLs under one path template,
    * which is precisely the signal) with every digit run folded to
    * `N`; per (domain, template) the distinct canonical URL count;
    * per domain the planning row: template count, the largest
    * template's URL count, how many templates exceed `minUrls`
    * (traps), and the first trap template (`''` when none — the
    * healthy-domain branch). Thresholding at template grain, not URL
    * grain, is what keeps large-but-healthy sites (many templates,
    * few URLs each) unflagged. Shape at 100 TB: codegen'd
    * extract-canonicalize-template projection, two slim-row aggs
    * (template grain then domain grain) — linear in extracted URLs. */
  def crawlTraps(docs: DataFrame, minUrls: Int = 8): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val urls = docs.select(
      explode(regexp_extract_all(t, lit(UrlRe), lit(0))).as("url"))
    val (canon, host) = urlCanonHost(col("url"))
    val path = regexp_extract(col("url_canon"),
      "^https?://[^/?#]+([^?#]*)", 1)
    val template = regexp_replace(
      when(path === "", lit("/")).otherwise(path), "[0-9]+", "N")
    val perTemplate = urls
      .select(canon.as("url_canon"), registrableDomain(host).as("domain"))
      .distinct()
      .select(col("domain"), template.as("template"), col("url_canon"))
      .groupBy(col("domain"), col("template"))
      .agg(count(lit(1)).as("n_urls"))
    perTemplate.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_templates"),
        max(col("n_urls")).as("max_urls_per_template"),
        sum(when(col("n_urls") >= minUrls, 1L).otherwise(0L))
          .as("n_trap_templates"),
        coalesce(min(when(col("n_urls") >= minUrls, col("template"))),
          lit("")).as("trap_template"))
  }

  /** Oracle twin of [[crawlTraps]]. */
  def crawlTrapsSql(table: String, minUrls: Int = 8): String =
    s"""WITH ${urlCanonCtes(table)},
        d AS (SELECT DISTINCT url_canon,
            ${registrableDomainSql("host")} AS domain
          FROM c),
        tp AS (SELECT domain,
            regexp_replace(
              CASE WHEN regexp_extract(url_canon,
                  '^https?://[^/?#]+([^?#]*)', 1) = '' THEN '/'
                ELSE regexp_extract(url_canon,
                  '^https?://[^/?#]+([^?#]*)', 1) END,
              '[0-9]+', 'N', 'g') AS template,
            url_canon
          FROM d),
        g AS (SELECT domain, template, count(*) AS n_urls
          FROM tp GROUP BY 1, 2)
        SELECT domain, CAST(count(*) AS BIGINT) AS n_templates,
          CAST(max(n_urls) AS BIGINT) AS max_urls_per_template,
          CAST(sum(CASE WHEN n_urls >= $minUrls THEN 1 ELSE 0 END)
            AS BIGINT) AS n_trap_templates,
          COALESCE(min(CASE WHEN n_urls >= $minUrls THEN template END),
            '') AS trap_template
        FROM g GROUP BY domain ORDER BY domain"""

  /** Oracle twin of [[scriptProfile]] — identical disjoint classes,
    * remainder, and tie order. */
  def scriptProfileSql(table: String): String = {
    val counts = ScriptClasses.map { case (name, re) =>
      s"length(t) - length(regexp_replace(t, '$re', '', 'g')) AS n_$name"
    }.mkString(",\n          ")
    val names = ScriptClasses.map(_._1) :+ "other"
    val known = ScriptClasses.map(c => s"n_${c._1}").mkString(" + ")
    // same fold as the Spark side: later classes win only when STRICTLY
    // greater than every earlier class
    val dom = names.tail.foldLeft(s"'${names.head}'") { (acc, n) =>
      val cond = names.takeWhile(_ != n)
        .map(m => s"n_$n > n_$m").mkString(" AND ")
      s"CASE WHEN $cond THEN '$n' ELSE $acc END"
    }
    s"""WITH b AS (SELECT doc_id, COALESCE(text, '') AS t FROM $table),
        c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_cp,
          $counts
          FROM b),
        o AS (SELECT doc_id, n_cp,
          ${ScriptClasses.map(c => s"CAST(n_${c._1} AS BIGINT) AS n_${c._1}")
            .mkString(", ")},
          CAST(n_cp - ($known) AS BIGINT) AS n_other
          FROM c)
        SELECT doc_id, n_cp,
          ${names.map(n => s"n_$n").mkString(", ")},
          $dom AS dominant
        FROM o ORDER BY doc_id"""
  }
}
