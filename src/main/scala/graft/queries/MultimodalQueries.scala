package graft.queries

import org.apache.spark.sql.functions._

import graft.{Artifacts, QueryDef, Tables}
import graft.multimodal.MultimodalOps

/** Multimodal-column queries. No binary table ships in the testdata, so
  * `documents.text` (pure-ASCII synthetic text) cast to binary stands in
  * for media blobs — the point is the Spark-side plumbing: binary columns,
  * metadata structs, frame explode shape. The decode stubs are
  * deterministic arithmetic (clearly marked in MultimodalOps), which also
  * makes them SQL-expressible for the oracle.
  *
  * The `mm_wav_decode` / `mm_bmp_decode` gates are different: those run
  * REAL codecs ([[graft.multimodal.MediaCodecs]]) over container blobs
  * SYNTHESIZED from per-doc formulas — the oracle recomputes the
  * expected metadata analytically from the same formulas, so the
  * byte-level parse (chunk walk, LE fields, row padding, sample fold) is
  * verified end to end: a parser bug cannot reproduce the formula.
  */
object MultimodalQueries {

  val FrameBytes = 64
  val EveryK = 2

  /** (doc_id, phash) via the REAL byte pipeline — shared by
    * `mm_image_phash` and `mm_phash_pairs`. */
  private def phashFrame(s: org.apache.spark.sql.SparkSession,
                         d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, nc) =>
        val w = (8 * (1 + id % 3)).toInt
        val h = (8 * (1 + nc % 3)).toInt
        val seed = ((id * 31 + nc * 17) % 97).toInt
        // Half the corpus stores rows TOP-DOWN (negative biHeight) —
        // the other real-world layout; the phash is position-sensitive
        // so a row-order bug breaks the dup grouping downstream.
        val bytes = graft.multimodal.MediaCodecs.buildBmpGradient(w, h,
          (x, y) => {
            val v = ((x * 8 / w) * 37 + (y * 8 / h) * 101 + seed * 29) % 256
            (v, v, v)
          }, topDown = id % 2 == 0)
        val small = graft.multimodal.MediaCodecs
          .resizeBmpNearest(bytes, 8, 8).get
        val px = graft.multimodal.MediaCodecs.bmpGrayR(small).get
        val sum = px.map(_.toLong).sum
        var ph = 0L
        var i = 0
        while (i < 64) {
          if (64L * px(i) > sum) ph |= (1L << i)
          i += 1
        }
        (id, ph)
      }.toDF("doc_id", "phash")
  }

  /** Oracle CTE chain producing ph(doc_id, phash) analytically from the
    * same pattern formula — shared by both phash oracles. */
  private val PhashCtes: String =
    """p0 AS (SELECT doc_id,
       (doc_id * 31 + n_chars * 17) % 97 AS seed FROM documents),
      g AS (SELECT doc_id, cy, cx,
       (cx * 37 + cy * 101 + seed * 29) % 256 AS v
       FROM p0
       CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS cy)
       CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS cx)),
      s AS (SELECT doc_id, sum(v) AS sv FROM g GROUP BY doc_id),
      phu AS (SELECT g.doc_id,
       sum(CASE WHEN 64 * v > sv
         THEN (CAST(1 AS HUGEINT) << (cy * 8 + cx))
         ELSE CAST(0 AS HUGEINT) END) AS u
       FROM g JOIN s ON g.doc_id = s.doc_id GROUP BY g.doc_id),
      ph AS (SELECT doc_id,
       CAST(CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT)
         THEN u - CAST(18446744073709551616 AS HUGEINT) ELSE u END
         AS BIGINT) AS phash
       FROM phu)"""

  /** The `mm_warc_records` fixture blob (the oracle mirrors these
    * formulas in SQL). */
  private def warcFixtureBlob(id: Long, nc: Long): Array[Byte] = {
    val n = ((nc % 4) + 2).toInt
    val recs = (0 until n).map { i =>
      val tpe =
        if (i == 0) "warcinfo"
        else if (i % 2 == 1) "response" else "request"
      val uri = if (i == 0) "" else s"https://ex${id % 5}.org/p/$id/$i"
      val len = ((id + i * 7) % 50 + 10).toInt
      (tpe, uri, Array.tabulate(len)(k => ((id + k) % 251).toByte))
    }
    // Records alternate spec revisions (WARC/1.0 / WARC/1.1 interleave
    // legally; both version lines are 8 octets so the offset oracle is
    // untouched) — the 1.1-acceptance path is exercised at gate scale.
    graft.sources.WarcCodec.buildWarc(recs, gzipPerRecord = id % 2 == 1,
      version = i => if ((id + i) % 3 == 0) "WARC/1.1" else "WARC/1.0")
  }

  /** RFC 9112 §7.1 chunked framing ENCODER for the `pipeline_warc_http`
    * fixture: the body split into `sz`-byte chunks (hex size line, data,
    * CRLF each), the `0` last chunk, optionally a chunk extension on the
    * first size line and a trailer field — grammar surface the decode
    * must hop without leaking a byte into the de-chunked body. */
  def chunkEncode(s: String, sz: Int, ext: Boolean,
                  trailer: Boolean): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    var first = true
    while (i < s.length) {
      val n = math.min(sz, s.length - i)
      sb.append(java.lang.Integer.toHexString(n))
      if (ext && first) sb.append(";x=1")
      first = false
      sb.append("\r\n").append(s, i, i + n).append("\r\n")
      i += n
    }
    sb.append("0\r\n")
    if (trailer) sb.append("X-Trailer: t\r\n")
    sb.append("\r\n").toString
  }

  val defs: Seq[QueryDef] = Seq(

    // REAL WAV decode: per doc, build a PCM-16 WAV whose rate/channels/
    // length/amplitude derive from (doc_id, n_chars) — alternating ±A
    // samples make sum-of-squares exactly n·A² — then parse the BYTES
    // with the real RIFF chunk-walking decoder. Synthesis and decode are
    // both narrow maps; blobs never shuffle.
    QueryDef("mm_wav_decode",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val amp = (id % 1000 + 1).toInt
            val n = (2 * ((nc % 300) + 2)).toInt
            val samples = Array.tabulate(n)(i =>
              (if (i % 2 == 0) amp else -amp).toShort)
            (id, graft.multimodal.MediaCodecs.buildWav(
              (8000 + (id % 3) * 4000).toInt, (1 + id % 2).toInt, samples))
          }.toDF("doc_id", "bytes")
        MultimodalOps.decodeWav(blobs, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"),
            col("sampleRate").as("sample_rate"), col("channels"),
            col("nSamples").as("n_samples"),
            col("sumSquares").as("sum_squares"))
      },
      Some("""SELECT doc_id,
             | CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             | CAST(1 + doc_id % 2 AS INT) AS channels,
             | CAST(2 * ((n_chars % 300) + 2) AS BIGINT) AS n_samples,
             | CAST(2 * ((n_chars % 300) + 2)
             |   * (doc_id % 1000 + 1) * (doc_id % 1000 + 1) AS BIGINT)
             |   AS sum_squares
             | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // REAL stereo de-interleave (round-11): per doc a TWO-channel PCM
    // WAV whose channels carry deliberately DIFFERENT signals — L an
    // alternating ±ampL square (n−1 crossings), R a constant +ampR
    // (zero crossings) — folded per channel through the RIFF frame
    // layout (positions c, c+2, c+4…). The interleaved mono fold
    // would fabricate crossings at every L/R boundary and merge the
    // two energies; the per-channel rows are analytic, so any
    // de-interleave off-by-one turns the gate red.
    QueryDef("mm_wav_stereo",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val n = ((nc % 100) + 2).toInt
            val al = (id % 500 + 1).toInt
            val ar = (nc % 300 + 1).toInt
            val samples = Array.tabulate(2 * n)(i =>
              (if (i % 2 == 0) { if ((i / 2) % 2 == 0) al else -al }
               else ar).toShort)
            (id, graft.multimodal.MediaCodecs.buildWav(
              (8000 + (id % 3) * 4000).toInt, 2, samples))
          }.toDF("doc_id", "bytes")
        MultimodalOps.decodeWavChannels(blobs, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"), col("channel"),
            col("nSamples").as("n_samples"),
            col("sumSquares").as("sum_squares"), col("peak"),
            col("zeroCrossings").as("zero_crossings"))
      },
      Some("""WITH p AS (SELECT doc_id, (n_chars % 100) + 2 AS n,
             |  doc_id % 500 + 1 AS al, n_chars % 300 + 1 AS ar
             |  FROM documents)
             | SELECT doc_id, CAST(0 AS INT) AS channel,
             |  CAST(n AS BIGINT) AS n_samples,
             |  CAST(n * al * al AS BIGINT) AS sum_squares,
             |  CAST(al AS INT) AS peak,
             |  CAST(n - 1 AS BIGINT) AS zero_crossings
             | FROM p
             | UNION ALL
             | SELECT doc_id, CAST(1 AS INT) AS channel,
             |  CAST(n AS BIGINT) AS n_samples,
             |  CAST(n * ar * ar AS BIGINT) AS sum_squares,
             |  CAST(ar AS INT) AS peak, CAST(0 AS BIGINT) AS zero_crossings
             | FROM p ORDER BY doc_id, channel""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id", "channel")),

    // REAL FLAC decode (RFC 9639): per doc a stereo stream — L an
    // alternating ±al square, R a constant ar — ENCODED to FLAC
    // (fixed-predictor + Rice residuals, CONSTANT detection, 64-sample
    // frames incl. a short last frame) with the stereo decorrelation
    // mode CYCLING by doc_id over all four channel assignments
    // (independent / left-side / right-side / mid-side, the side
    // channel at 17-bit depth), then DECODED by the real bit-level
    // parser (sync walk, CRC-8/16 verification, Rice un-zigzag,
    // predictor reconstruction, decorrelation inverse). FLAC is
    // lossless, so the per-channel features are assignment-invariant
    // and analytic — any Rice/predictor/decorrelation bug lands on
    // exactly the doc_ids of one assignment class and turns the gate
    // red. Narrow maps end to end; blobs never shuffle.
    QueryDef("mm_flac_decode",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val n = ((nc % 130) + 8).toInt
            val al = (id % 500 + 1).toInt
            val ar = (nc % 300 + 1).toInt
            val samples = Array.tabulate(2 * n)(i =>
              (if (i % 2 == 0) { if ((i / 2) % 2 == 0) al else -al }
               else ar).toShort)
            val mode = (id % 4) match {
              case 0 => graft.multimodal.FlacCodec.ChIndep
              case 1 => graft.multimodal.FlacCodec.ChLeftSide
              case 2 => graft.multimodal.FlacCodec.ChRightSide
              case _ => graft.multimodal.FlacCodec.ChMidSide
            }
            (id, graft.multimodal.FlacCodec.buildFlac(
              (8000 + (id % 3) * 4000).toInt, 2, samples,
              blockSize = 64, assignment = mode))
          }.toDF("doc_id", "bytes")
        MultimodalOps.decodeFlacChannels(blobs, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"),
            col("sampleRate").as("sample_rate"), col("channels"),
            col("channel"), col("nSamples").as("n_samples"),
            col("sumSquares").as("sum_squares"), col("peak"),
            col("zeroCrossings").as("zero_crossings"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |  CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             |  (n_chars % 130) + 8 AS n,
             |  doc_id % 500 + 1 AS al, n_chars % 300 + 1 AS ar
             |  FROM documents)
             | SELECT doc_id, sample_rate, CAST(2 AS INT) AS channels,
             |  CAST(0 AS INT) AS channel,
             |  CAST(n AS BIGINT) AS n_samples,
             |  CAST(n * al * al AS BIGINT) AS sum_squares,
             |  CAST(al AS INT) AS peak,
             |  CAST(n - 1 AS BIGINT) AS zero_crossings
             | FROM p
             | UNION ALL
             | SELECT doc_id, sample_rate, CAST(2 AS INT) AS channels,
             |  CAST(1 AS INT) AS channel,
             |  CAST(n AS BIGINT) AS n_samples,
             |  CAST(n * ar * ar AS BIGINT) AS sum_squares,
             |  CAST(ar AS INT) AS peak, CAST(0 AS BIGINT) AS zero_crossings
             | FROM p ORDER BY doc_id, channel""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id", "channel")),

    // REAL FLAC → WAV transcode: the SAME synthesized streams as
    // mm_flac_decode (all four decorrelation modes cycling), decoded,
    // re-interleaved, re-encoded as PCM WAV, and the RESULT re-parsed
    // by the independent RIFF walker — the two audio byte layouts meet
    // end to end, and the analytic oracle (totals over the interleaved
    // stream) certifies the full decode→encode→decode chain. The
    // bytes→bytes transform contract of decimateWav/trimWav.
    QueryDef("mm_flac_transcode",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val n = ((nc % 130) + 8).toInt
            val al = (id % 500 + 1).toInt
            val ar = (nc % 300 + 1).toInt
            val samples = Array.tabulate(2 * n)(i =>
              (if (i % 2 == 0) { if ((i / 2) % 2 == 0) al else -al }
               else ar).toShort)
            val mode = (id % 4) match {
              case 0 => graft.multimodal.FlacCodec.ChIndep
              case 1 => graft.multimodal.FlacCodec.ChLeftSide
              case 2 => graft.multimodal.FlacCodec.ChRightSide
              case _ => graft.multimodal.FlacCodec.ChMidSide
            }
            (id, graft.multimodal.FlacCodec.buildFlac(
              (8000 + (id % 3) * 4000).toInt, 2, samples,
              blockSize = 64, assignment = mode))
          }.toDF("doc_id", "bytes")
        MultimodalOps.transcodeFlacToWav(blobs, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"),
            col("sampleRate").as("sample_rate"), col("channels"),
            col("nSamples").as("n_samples"),
            col("sumSquares").as("sum_squares"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |  CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             |  (n_chars % 130) + 8 AS n,
             |  doc_id % 500 + 1 AS al, n_chars % 300 + 1 AS ar
             |  FROM documents)
             | SELECT doc_id, sample_rate, CAST(2 AS INT) AS channels,
             |  CAST(2 * n AS BIGINT) AS n_samples,
             |  CAST(n * al * al + n * ar * ar AS BIGINT) AS sum_squares
             | FROM p ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // REAL BMP decode: per doc, build a solid-color 24-bit BMP sized by
    // (doc_id, n_chars) — width deliberately not a multiple of 4 so the
    // parser's row-padding arithmetic is load-bearing — and parse the
    // bytes back; per-channel sums are exactly w·h·channel.
    QueryDef("mm_bmp_decode",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val w = (id % 21 + 4).toInt
            val h = (nc % 17 + 3).toInt
            (id, graft.multimodal.MediaCodecs.buildBmp(w, h,
              (id % 256).toInt, (nc % 256).toInt, ((id + nc) % 256).toInt))
          }.toDF("doc_id", "bytes")
        MultimodalOps.decodeBmp(blobs, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"), col("width"), col("height"),
            col("bpp"), col("sumR").as("sum_r"), col("sumG").as("sum_g"),
            col("sumB").as("sum_b"))
      },
      Some("""WITH p AS (SELECT doc_id, doc_id % 21 + 4 AS w,
             |  n_chars % 17 + 3 AS h, doc_id % 256 AS r, n_chars % 256 AS g,
             |  (doc_id + n_chars) % 256 AS b FROM documents)
             | SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             |  CAST(24 AS INT) AS bpp,
             |  CAST(w * h * r AS BIGINT) AS sum_r,
             |  CAST(w * h * g AS BIGINT) AS sum_g,
             |  CAST(w * h * b AS BIGINT) AS sum_b
             | FROM p ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // REAL anti-aliased resize: per doc, a per-channel gradient BMP
    // box-downsampled 4× (every source pixel folds into its block's
    // exact integer mean — NN would drop 15/16 of the signal), then the
    // RESULT is re-parsed and channel-summed. Oracle reproduces the
    // two-level arithmetic analytically: per-block sums // 16, summed.
    QueryDef("mm_bmp_resize_box",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val w = (8 * (1 + id % 3)).toInt
            val h = (8 * (1 + nc % 2)).toInt
            // Half top-down: block membership is position-sensitive.
            (id, graft.multimodal.MediaCodecs.buildBmpGradient(w, h,
              (x, y) => (
                ((x * 7 + y * 13 + id) % 256).toInt,
                ((x * 11 + y * 3 + nc) % 256).toInt,
                ((x * 5 + y * 17 + id + nc) % 256).toInt),
              topDown = id % 2 == 0))
          }.toDF("doc_id", "bytes")
        val small = MultimodalOps.resizeBmpBoxOp(blobs, "doc_id", "bytes", 4)
        MultimodalOps.decodeBmp(small, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"), col("width"), col("height"),
            col("sumR").as("sum_r"), col("sumG").as("sum_g"),
            col("sumB").as("sum_b"))
      },
      Some("""WITH p AS (SELECT doc_id, n_chars,
             |   8 * (1 + doc_id % 3) AS w, 8 * (1 + n_chars % 2) AS h
             |  FROM documents),
             | gx AS (SELECT doc_id, n_chars, w, h, unnest(range(0, w)) AS x FROM p),
             | pix AS (SELECT doc_id, n_chars, w, h, x, unnest(range(0, h)) AS y FROM gx),
             | blk AS (SELECT doc_id, w, h, x // 4 AS bx, y // 4 AS by,
             |   sum((x * 7 + y * 13 + doc_id) % 256) AS sr,
             |   sum((x * 11 + y * 3 + n_chars) % 256) AS sg,
             |   sum((x * 5 + y * 17 + doc_id + n_chars) % 256) AS sb
             |  FROM pix GROUP BY doc_id, w, h, bx, by)
             | SELECT doc_id, CAST(max(w) // 4 AS INT) AS width,
             |  CAST(max(h) // 4 AS INT) AS height,
             |  CAST(sum(sr // 16) AS BIGINT) AS sum_r,
             |  CAST(sum(sg // 16) AS BIGINT) AS sum_g,
             |  CAST(sum(sb // 16) AS BIGINT) AS sum_b
             | FROM blk GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // REAL silence trim over REAL PCM bytes: per doc, p leading and q
    // trailing zero samples around an alternating ±amp body — trimmed at
    // threshold 0, re-encoded, re-parsed. Every doc_id % 50 == 0 blob is
    // ALL-silent and must trim to an empty (still valid) container with
    // the whole length counted as leading silence — the edge the oracle
    // pins via CASE. Analytic outcome: lead = p, tail = q, n_after = n,
    // sum_squares_after = n · amp².
    QueryDef("mm_wav_silence_trim",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val p = (id % 7).toInt
            val q = (nc % 5).toInt
            val n = ((nc % 100) + 1).toInt
            val amp = if (id % 50 == 0) 0 else (id % 1000 + 1).toInt
            val samples = Array.fill(p)(0.toShort) ++
              Array.tabulate(n)(i => (if (i % 2 == 0) amp else -amp).toShort) ++
              Array.fill(q)(0.toShort)
            (id, graft.multimodal.MediaCodecs.buildWav(8000, 1, samples))
          }.toDF("doc_id", "bytes")
        MultimodalOps.trimWav(blobs, "doc_id", "bytes", threshold = 0).toDF()
          .select(col("docId").as("doc_id"), col("nBefore").as("n_before"),
            col("leadTrimmed").as("lead_trimmed"),
            col("tailTrimmed").as("tail_trimmed"),
            col("nAfter").as("n_after"),
            col("sumSquaresAfter").as("sum_squares_after"))
      },
      Some("""WITH p AS (SELECT doc_id, doc_id % 7 AS p, n_chars % 5 AS q,
             |  (n_chars % 100) + 1 AS n,
             |  CASE WHEN doc_id % 50 = 0 THEN 0
             |       ELSE doc_id % 1000 + 1 END AS amp FROM documents)
             | SELECT doc_id,
             |  CAST(p + n + q AS BIGINT) AS n_before,
             |  CAST(CASE WHEN amp = 0 THEN p + n + q ELSE p END AS INT)
             |    AS lead_trimmed,
             |  CAST(CASE WHEN amp = 0 THEN 0 ELSE q END AS INT)
             |    AS tail_trimmed,
             |  CAST(CASE WHEN amp = 0 THEN 0 ELSE n END AS BIGINT) AS n_after,
             |  CAST(CASE WHEN amp = 0 THEN 0 ELSE n * amp * amp END AS BIGINT)
             |    AS sum_squares_after
             | FROM p ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // REAL COMPRESSED-format decode: per doc, an 8-bit truecolor PNG
    // (deflated scanlines, filter type cycling None/Sub/Up/Average/Paeth
    // per row) built from a per-channel gradient formula, then parsed
    // back through the CRC-verified chunk walk + Inflater + five-filter
    // reconstruction. A decoder that skips unfiltering, misreads a CRC,
    // or mis-sizes the inflate buffer cannot reproduce the analytic
    // channel sums the oracle computes from the same formulas.
    QueryDef("mm_png_decode",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val w = (id % 19 + 5).toInt
            val h = (nc % 13 + 3).toInt
            // Half the corpus is Adam7-INTERLACED (round-11, the
            // crawl case parsePng previously rejected): seven reduced
            // images, per-pass filter state — same analytic sums.
            (id, graft.multimodal.MediaCodecs.buildPng(w, h,
              (x, y) => (
                ((x * 7 + y * 13 + id) % 256).toInt,
                ((x * 11 + y * 3 + nc) % 256).toInt,
                ((x * 5 + y * 17 + id + nc) % 256).toInt),
              interlaced = id % 2 == 0))
          }.toDF("doc_id", "bytes")
        MultimodalOps.decodePng(blobs, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"), col("width"), col("height"),
            col("bitDepth").as("bit_depth"),
            col("colorType").as("color_type"),
            col("sumR").as("sum_r"), col("sumG").as("sum_g"),
            col("sumB").as("sum_b"))
      },
      Some("""WITH p AS (SELECT doc_id, n_chars, doc_id % 19 + 5 AS w,
             |  n_chars % 13 + 3 AS h FROM documents),
             | gx AS (SELECT doc_id, n_chars, w, h, unnest(range(0, w)) AS x FROM p),
             | pix AS (SELECT doc_id, n_chars, w, h, x, unnest(range(0, h)) AS y FROM gx)
             | SELECT doc_id, CAST(max(w) AS INT) AS width,
             |  CAST(max(h) AS INT) AS height,
             |  CAST(8 AS INT) AS bit_depth, CAST(2 AS INT) AS color_type,
             |  CAST(sum((x * 7 + y * 13 + doc_id) % 256) AS BIGINT) AS sum_r,
             |  CAST(sum((x * 11 + y * 3 + n_chars) % 256) AS BIGINT) AS sum_g,
             |  CAST(sum((x * 5 + y * 17 + doc_id + n_chars) % 256) AS BIGINT) AS sum_b
             | FROM pix GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // Second REAL compressed-image codec, different compression FAMILY:
    // GIF87a over a REAL variable-width LZW coder (9→12-bit codes
    // LSB-first, CLEAR reset at 4096 entries, KwKwK special case) —
    // dictionary coding where PNG is zlib/Huffman. Palette index i maps
    // to (i, 2i mod 256, 255−i), so the three channel sums are three
    // DIFFERENT analytic functions of the synthesized index stream: a
    // decoder that skips the palette lookup, transposes channels, or
    // mis-syncs the LZW width cannot match. The oracle replays the
    // per-pixel index arithmetic over the same grid.
    QueryDef("mm_gif_decode",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val w = (id % 23 + 6).toInt
            val h = (nc % 17 + 4).toInt
            (id, graft.multimodal.MediaCodecs.buildGif(w, h,
              (x, y) => ((x * 31 + y * 17 + id) % 256).toInt))
          }.toDF("doc_id", "bytes")
        MultimodalOps.decodeGif(blobs, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"), col("width"), col("height"),
            col("paletteSize").as("palette_size"),
            col("nPixels").as("n_pixels"), col("sumIdx").as("sum_idx"),
            col("sumR").as("sum_r"), col("sumG").as("sum_g"),
            col("sumB").as("sum_b"))
      },
      Some("""WITH p AS (SELECT doc_id, n_chars, doc_id % 23 + 6 AS w,
             |  n_chars % 17 + 4 AS h FROM documents),
             | gx AS (SELECT doc_id, n_chars, w, h, unnest(range(0, w)) AS x FROM p),
             | pix AS (SELECT doc_id, w, h,
             |  (x * 31 + y * 17 + doc_id) % 256 AS idx
             |  FROM (SELECT doc_id, n_chars, w, h, x,
             |    unnest(range(0, h)) AS y FROM gx))
             | SELECT doc_id, CAST(max(w) AS INT) AS width,
             |  CAST(max(h) AS INT) AS height,
             |  CAST(256 AS INT) AS palette_size,
             |  CAST(count(*) AS BIGINT) AS n_pixels,
             |  CAST(sum(idx) AS BIGINT) AS sum_idx,
             |  CAST(sum(idx) AS BIGINT) AS sum_r,
             |  CAST(sum((2 * idx) % 256) AS BIGINT) AS sum_g,
             |  CAST(sum(255 - idx) AS BIGINT) AS sum_b
             | FROM pix GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // REAL multi-resolution audio analysis: the integer-exact Haar
    // band "spectrogram" (a DFT needs irrational twiddles; the Haar
    // basis needs only ±1 — exact BIGINT end-to-end) over REAL decoded
    // WAV samples. Synthesis: a period-2^p square wave of amplitude A
    // concentrates ALL energy in detail band p — E_p = n·2^p·A², every
    // other band and the residual exactly 0 — so one closed-form CASE
    // is the full oracle, and any level mixing, pairing error, or
    // off-by-one in the pyramid shows as a nonzero forbidden band.
    QueryDef("mm_audio_haar",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val p = (id % 3 + 1).toInt
            val amp = (id % 800 + 100).toInt
            val n = 1 << ((nc % 3) + 5).toInt
            val samples = Array.tabulate(n)(i =>
              (if (((i >> (p - 1)) & 1) == 0) amp else -amp).toShort)
            (id, graft.multimodal.MediaCodecs.buildWav(8000, 1, samples))
          }.toDF("doc_id", "bytes")
        MultimodalOps.wavHaarBands(blobs, "doc_id", "bytes", maxLevels = 5)
          .toDF()
          .select(col("docId").as("doc_id"), col("level"), col("energy"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |  CAST(doc_id % 3 + 1 AS INT) AS pp,
             |  CAST(doc_id % 800 + 100 AS BIGINT) AS amp,
             |  CAST(1 << CAST(n_chars % 3 + 5 AS INT) AS BIGINT) AS n
             |  FROM documents),
             | lv AS (SELECT doc_id, pp, amp, n,
             |  CAST(unnest(range(0, 6)) AS INT) AS level FROM p)
             | SELECT doc_id, level,
             |  CAST(CASE WHEN level = pp THEN n * (1 << pp) * amp * amp
             |       ELSE 0 END AS BIGINT) AS energy
             | FROM lv ORDER BY doc_id, level""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id", "level")),

    // REAL audio feature extraction over REAL decoded samples (not the
    // md5 fake): peak amplitude and zero-crossing count folded in the
    // same sample pass as the decode. The ±A alternating synthesis has
    // peak = A and exactly n−1 crossings — both analytically pinned.
    QueryDef("mm_wav_features",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val amp = (id % 1000 + 1).toInt
            val n = (2 * ((nc % 300) + 2)).toInt
            val samples = Array.tabulate(n)(i =>
              (if (i % 2 == 0) amp else -amp).toShort)
            (id, graft.multimodal.MediaCodecs.buildWav(
              (8000 + (id % 3) * 4000).toInt, 1, samples))
          }.toDF("doc_id", "bytes")
          .as[(Long, Array[Byte])]
          .mapPartitions(_.flatMap { case (id, b) =>
            graft.multimodal.MediaCodecs.parseWav(b).map(m =>
              (id, m.nSamples, m.peak, m.zeroCrossings))
          })
        blobs.toDF("doc_id", "n_samples", "peak", "zero_crossings")
      },
      Some("""SELECT doc_id,
             | CAST(2 * ((n_chars % 300) + 2) AS BIGINT) AS n_samples,
             | CAST(doc_id % 1000 + 1 AS INT) AS peak,
             | CAST(2 * ((n_chars % 300) + 2) - 1 AS BIGINT) AS zero_crossings
             | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // REAL WAV decimation: mono alternating ±A signal decimated by 2
    // keeps exactly the +A half (indices 0, 2, 4, …), so the decoded
    // sum-of-squares halves to (n/2)·A² and the rate halves — both
    // analytically pinned by the oracle. Parse → keep every 2nd sample
    // → re-encode → re-parse, all real byte work, narrow maps.
    QueryDef("mm_wav_decimate",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val amp = (id % 1000 + 1).toInt
            val n = (2 * ((nc % 300) + 2)).toInt
            val samples = Array.tabulate(n)(i =>
              (if (i % 2 == 0) amp else -amp).toShort)
            (id, graft.multimodal.MediaCodecs.buildWav(
              (8000 + (id % 3) * 4000).toInt, 1, samples))
          }.toDF("doc_id", "bytes")
          .as[(Long, Array[Byte])]
          .mapPartitions(_.flatMap { case (id, b) =>
            graft.multimodal.MediaCodecs.decimateWav(b, 2).map(id -> _)
          }).toDF("doc_id", "bytes")
        MultimodalOps.decodeWav(blobs, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"),
            col("sampleRate").as("sample_rate"),
            col("nSamples").as("n_samples"),
            col("sumSquares").as("sum_squares"))
      },
      Some("""SELECT doc_id,
             | CAST((8000 + (doc_id % 3) * 4000) // 2 AS INT) AS sample_rate,
             | CAST((n_chars % 300) + 2 AS BIGINT) AS n_samples,
             | CAST(((n_chars % 300) + 2)
             |   * (doc_id % 1000 + 1) * (doc_id % 1000 + 1) AS BIGINT)
             |   AS sum_squares
             | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // REAL BMP resize: per doc, build a GRADIENT 24-bit BMP (pixel
    // (x, y) channel values are explicit formulas of x, y, doc_id,
    // n_chars), nearest-neighbor resample the BYTES to 9x6 (real
    // coordinate mapping + bottom-up row flip + padded re-encode), then
    // decode the result. The oracle evaluates the same double sum over
    // the 9x6 target grid analytically — any off-by-one in the resample
    // (row flip, padding, div rounding) shifts a sum and goes red.
    // REAL perceptual image hashing (aHash) + cross-scale dedup: each
    // doc synthesizes a w×h BMP (w, h ∈ {8,16,24}) that UPSCALES a
    // canonical 8×8 pattern keyed by (doc_id·31 + n_chars·17) % 97;
    // the REAL pipeline — gradient encode → byte-level nearest-neighbor
    // resize to 8×8 → real pixel read — recovers the canonical grid
    // EXACTLY (x2·w div 8 then ·8 div w round-trips when 8 | w), so
    // docs sharing a pattern class collide on the hash REGARDLESS of
    // resolution: scale-invariant near-dup detection, which byte-hash
    // dedup can never do. aHash stays integer (bit = 64·p > Σp, no
    // mean division); the oracle never sees bytes — it recomputes the
    // hash analytically from the same pattern formula, so any codec,
    // flip, padding, or resize-index bug breaks the gate.
    QueryDef("mm_image_phash",
      (s, d) => {
        val hashed = phashFrame(s, d)
        val groups = hashed.groupBy(col("phash"))
          .agg(count(lit(1)).as("__n"))
        hashed.join(groups, "phash")
          .select(col("doc_id"), col("phash"),
            (col("__n") - 1L).as("n_scale_dups"))
      },
      Some(s"""WITH $PhashCtes,
             | grp AS (SELECT phash, count(*) AS n FROM ph GROUP BY phash)
             | SELECT doc_id, ph.phash, CAST(n - 1 AS BIGINT) AS n_scale_dups
             | FROM ph JOIN grp ON ph.phash = grp.phash
             | ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // Banded Hamming search over the perceptual hashes — simhash's
    // pigeonhole applied to images: two 64-bit aHashes within Hamming
    // distance 3 must agree on >= 1 of 4 16-bit bands, so candidates
    // come from a (band_idx, band_value) equi-join over the DISTINCT-
    // hash table (never doc-grain: a viral image shared by 10^6 docs is
    // ONE row here), then the exact bit_count(xor) verifies. Identical
    // hashes are excluded (that's mm_image_phash's grouping); this
    // finds the near-but-not-identical pairs — small pattern edits that
    // survive rescaling. Doc counts re-attach per hash so downstream
    // attribution never re-pairs.
    QueryDef("mm_phash_pairs",
      (s, d) => {
        val hashed = phashFrame(s, d)
        val dist = hashed.groupBy(col("phash"))
          .agg(count(lit(1)).as("n_docs"))
        val bands = dist.select(col("phash"),
          explode(expr(
            "transform(sequence(0, 3), b -> struct(b AS b, " +
              "shiftright(phash, b * 16) & 65535 AS v))")).as("bd"))
          .select(col("phash"), col("bd.b").as("__b"), col("bd.v").as("__v"))
        val cand = bands.as("x").join(bands.as("y"),
            col("x.__b") === col("y.__b") && col("x.__v") === col("y.__v") &&
              col("x.phash") < col("y.phash"))
          .select(col("x.phash").as("phash_a"), col("y.phash").as("phash_b"))
          .distinct()
        cand
          .withColumn("hamming", expr("bit_count(phash_a ^ phash_b)"))
          .filter(col("hamming").between(1, 3))
          .join(dist.withColumnRenamed("phash", "phash_a")
            .withColumnRenamed("n_docs", "docs_a"), "phash_a")
          .join(dist.withColumnRenamed("phash", "phash_b")
            .withColumnRenamed("n_docs", "docs_b"), "phash_b")
          .select(col("phash_a"), col("phash_b"), col("hamming"),
            col("docs_a"), col("docs_b"))
      },
      Some(s"""WITH $PhashCtes,
             | dist AS (SELECT phash, CAST(count(*) AS BIGINT) AS n_docs
             |   FROM ph GROUP BY phash),
             | bands AS (SELECT phash, b, (phash >> (b * 16)) & 65535 AS v
             |   FROM dist CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
             | cand AS (SELECT DISTINCT x.phash AS phash_a, y.phash AS phash_b
             |   FROM bands x JOIN bands y
             |     ON x.b = y.b AND x.v = y.v AND x.phash < y.phash),
             | hp AS (SELECT phash_a, phash_b,
             |   CAST(bit_count(xor(phash_a, phash_b)) AS INTEGER) AS hamming
             |  FROM cand)
             | SELECT phash_a, phash_b, hamming, da.n_docs AS docs_a,
             |   db.n_docs AS docs_b
             | FROM hp JOIN dist da ON hp.phash_a = da.phash
             |   JOIN dist db ON hp.phash_b = db.phash
             | WHERE hamming BETWEEN 1 AND 3
             | ORDER BY phash_a, phash_b""".stripMargin.replace("\n", "")),
      presentOrder = Seq("phash_a", "phash_b")),

    QueryDef("mm_bmp_resize",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val w = (id % 21 + 4).toInt
            val h = (nc % 17 + 3).toInt
            // Half top-down: nearest-neighbor picks are position-
            // sensitive, so the source row-order flip is load-bearing.
            (id, graft.multimodal.MediaCodecs.buildBmpGradient(w, h,
              (x, y) => (((x * 7 + y * 13 + id) % 256).toInt,
                ((x * 3 + y * 5 + nc) % 256).toInt,
                ((x + y + id + nc) % 256).toInt), topDown = id % 2 == 0))
          }.toDF("doc_id", "bytes")
        val resized = MultimodalOps.resizeBmp(blobs, "doc_id", "bytes", 9, 6)
        MultimodalOps.decodeBmp(resized, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"), col("width"), col("height"),
            col("sumR").as("sum_r"), col("sumG").as("sum_g"),
            col("sumB").as("sum_b"))
      },
      Some("""WITH p AS (SELECT doc_id, n_chars, doc_id % 21 + 4 AS w,
             |  n_chars % 17 + 3 AS h FROM documents),
             | g AS (SELECT doc_id, n_chars,
             |  (xx.x2 * w) // 9 AS sx, (yy.y2 * h) // 6 AS sy
             |  FROM p, unnest(generate_series(0, 8)) AS xx(x2),
             |       unnest(generate_series(0, 5)) AS yy(y2))
             | SELECT doc_id, CAST(9 AS INT) AS width, CAST(6 AS INT) AS height,
             |  CAST(sum((sx * 7 + sy * 13 + doc_id) % 256) AS BIGINT) AS sum_r,
             |  CAST(sum((sx * 3 + sy * 5 + n_chars) % 256) AS BIGINT) AS sum_g,
             |  CAST(sum((sx + sy + doc_id + n_chars) % 256) AS BIGINT) AS sum_b
             | FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // REAL baseline-JPEG decode (ITU T.81 sequential DCT: marker walk,
    // canonical Huffman entropy decode, dequant, exact separable IDCT):
    // per doc, a grayscale gradient is ENCODED by the JDK's independent
    // ImageIO codec and decoded by graft's own decoder; decode_ok pins
    // the T.83-style accuracy contract (max per-sample deviation vs the
    // ImageIO reference decode <= 1) plus geometry agreement, and the
    // oracle recomputes the dimensions analytically and pins TRUE — a
    // Huffman/IDCT/MCU-geometry bug flips the boolean red. Lossy pixel
    // values themselves are codec-defined, so the pinned-audit pattern
    // (the sim_recall_audit rule) is the honest gate here. Narrow map,
    // blobs never shuffle.
    QueryDef("mm_jpeg_decode",
      (s, d) => {
        import s.implicits._
        // Fixture ENCODE (the JDK ImageIO writer run per doc) is a
        // `fixture` artifact like the WARC/MP3 gates' (r13 verdict #4):
        // with `graft.fixture.dir` set the synthesized bytes materialize
        // once per corpus in the untimed prebuild and the bench line
        // measures the DECODE walk + the ImageIO deviation audit — the
        // parse-path cost the 100 TB story cares about (real crawl JPEGs
        // arrive as corpus bytes). Verify leaves the conf unset: builder
        // inline, same bytes, oracle unchanged. At every fixture site the
        // number in the key is the synthesis formula's version: bump it
        // when the builder changes, so a pinned store never serves old
        // bytes.
        val blobs = Artifacts.cached(s, "fixture", "fixture_jpeg_decode",
            Seq(1), Tables.documents(s, d).inputFiles) {
          Tables.documents(s, d)
            .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
            .map { case (id, nc) =>
              val w = (id % 16 + 8).toInt
              val h = (nc % 12 + 8).toInt
              // Half the corpus is PROGRESSIVE (SOF2, the JDK encoder's
              // 6-scan spectral-selection + successive-approximation
              // script) — the crawl-majority case the round-10 decoder
              // handles; decode_ok pins the same ±1 ImageIO bound on
              // both paths.
              val bytes0 = graft.multimodal.MediaCodecs.buildJpegGray(w, h,
                (x, y) => ((x * 5 + y * 9 + id) % 256).toInt,
                progressive = id % 4 < 2)
              // A third of the corpus carries T.81-legal 0xFF fill
              // bytes before the first segment and before EOI (ADVICE
              // r10): decode must treat them as padding, same ±1 bound.
              val bytes =
                if (id % 3 == 0)
                  graft.multimodal.MediaCodecs.withJpegFillBytes(bytes0)
                else bytes0
              (id, bytes)
            }.toDF("doc_id", "bytes")
        }
        blobs.select(col("doc_id"), col("bytes")).as[(Long, Array[Byte])]
          .map { case (id, bytes) =>
            val m = graft.multimodal.MediaCodecs.jpegRgb(bytes)
            val dev = graft.multimodal.MediaCodecs.jpegMaxDevVsImageIO(bytes)
            (id, m.map(_._1).getOrElse(-1), m.map(_._2).getOrElse(-1),
              m.map(_._3).getOrElse(-1), dev.exists(_ <= 1))
          }.toDF("doc_id", "width", "height", "n_comp", "decode_ok")
      },
      Some("""SELECT doc_id, CAST(doc_id % 16 + 8 AS INT) AS width,
             | CAST(n_chars % 12 + 8 AS INT) AS height,
             | CAST(1 AS INT) AS n_comp, TRUE AS decode_ok
             | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // REAL metadata decode over REAL container bytes: per doc, one of
    // SIX real containers (BMP / PNG / GIF / WAV / JPEG / MP4 by
    // doc_id % 6) is synthesized with header fields derived from
    // (doc_id, n_chars), then decodeMeta sniffs the magic and parses
    // ONLY the header structures (PNG IHDR CRC-verified, GIF logical
    // screen descriptor + frame-count walk, BMP info header, WAV fmt
    // chunk, JPEG SOFn marker walk incl. the progressive flag —
    // half the JPEGs (by (id/6)%2, which varies within the id%6==4
    // class) get their SOF0 rewritten to SOF2, the web-crawl case
    // jpegRgb rightly refuses to decode but the catalog must still
    // report — and the ISO-BMFF ftyp/moov/trak/stbl box walk:
    // mvhd duration·1000/timescale floored to ms, tkhd 16.16
    // geometry, stsz frame count, stsd codec fourcc, mdat skipped by
    // size. Payload never visited; the O(header) catalog pass 100 TB
    // of media needs). The oracle recomputes every field analytically
    // from the same formulas, so a dispatch or header-offset bug
    // cannot match. Malformed-header rejection pinned by
    // MultimodalSpec.
    QueryDef("mm_decode_meta",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val bytes = (id % 6).toInt match {
              case 0 => graft.multimodal.MediaCodecs.buildBmp(
                (id % 21 + 4).toInt, (nc % 17 + 3).toInt, 1, 2, 3)
              case 1 => graft.multimodal.MediaCodecs.buildPng(
                (id % 13 + 4).toInt, (nc % 11 + 3).toInt,
                (x, y) => ((x + y) % 256, 0, 0))
              case 2 => graft.multimodal.MediaCodecs.buildGif(
                (id % 9 + 4).toInt, (nc % 7 + 3).toInt,
                (x, y) => (x + y) % 256)
              case 3 => graft.multimodal.MediaCodecs.buildWav(
                (8000 + (id % 3) * 4000).toInt, (1 + id % 2).toInt,
                Array.fill((nc % 50 + 2).toInt)(100.toShort))
              case 4 =>
                // (id / 6) % 2, NOT id % 2: the residue class id%6==4
                // is all-even, so id%2 was constant-true and the
                // baseline arm never flowed through the gate. The
                // progressive arm is REAL SOF2 bytes (round 10), not a
                // rewritten header.
                graft.multimodal.MediaCodecs.buildJpegGray(
                  (id % 16 + 8).toInt, (nc % 12 + 8).toInt,
                  (x, y) => ((x * 5 + y * 9 + id) % 256).toInt,
                  progressive = (id / 6) % 2 == 0)
              case _ => graft.multimodal.MediaCodecs.buildMp4(
                (id % 31 + 16).toInt, (nc % 23 + 16).toInt,
                timescale = 600, duration = (nc % 900 + 100).toInt,
                nFrames = (id % 40 + 1).toInt,
                codec = Seq("avc1", "mp4v", "hev1")((id % 3).toInt))
            }
            (id, bytes)
          }.toDF("doc_id", "bytes")
        MultimodalOps.decodeMeta(blobs, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"), col("kind"),
            col("width"), col("height"), col("channels"),
            col("sampleRate").as("sample_rate"),
            col("nFrames").as("n_frames"), col("progressive"),
            col("durationMs").as("duration_ms"), col("codec"))
      },
      Some("""SELECT doc_id,
             | CASE WHEN doc_id % 6 = 3 THEN 'audio'
             |   WHEN doc_id % 6 = 5 THEN 'video' ELSE 'image' END AS kind,
             | CAST(CASE doc_id % 6 WHEN 0 THEN doc_id % 21 + 4
             |   WHEN 1 THEN doc_id % 13 + 4 WHEN 2 THEN doc_id % 9 + 4
             |   WHEN 4 THEN doc_id % 16 + 8 WHEN 5 THEN doc_id % 31 + 16
             |   END AS INT) AS width,
             | CAST(CASE doc_id % 6 WHEN 0 THEN n_chars % 17 + 3
             |   WHEN 1 THEN n_chars % 11 + 3 WHEN 2 THEN n_chars % 7 + 3
             |   WHEN 4 THEN n_chars % 12 + 8 WHEN 5 THEN n_chars % 23 + 16
             |   END AS INT) AS height,
             | CAST(CASE WHEN doc_id % 6 = 3 THEN 1 + doc_id % 2
             |   WHEN doc_id % 6 = 4 THEN 1
             |   WHEN doc_id % 6 = 5 THEN NULL
             |   ELSE 3 END AS INT) AS channels,
             | CAST(CASE WHEN doc_id % 6 = 3 THEN 8000 + (doc_id % 3) * 4000
             |   END AS INT) AS sample_rate,
             | CAST(CASE WHEN doc_id % 6 = 2 THEN 1
             |   WHEN doc_id % 6 = 5 THEN doc_id % 40 + 1
             |   END AS INT) AS n_frames,
             | CASE WHEN doc_id % 6 = 4 THEN (doc_id // 6) % 2 = 0 END
             |   AS progressive,
             | CAST(CASE WHEN doc_id % 6 = 5
             |   THEN ((n_chars % 900 + 100) * 1000) // 600
             |   END AS INT) AS duration_ms,
             | CASE WHEN doc_id % 6 = 5 THEN
             |   (['avc1', 'mp4v', 'hev1'])[CAST(doc_id % 3 AS INT) + 1]
             |   END AS codec
             | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // WARC record walk (sources/WarcCodec) — the crawl corpus' NATIVE
    // container, the true first mile before any HTML ever strips:
    // version line (1.0 and 1.1 records interleaved in one segment —
    // both revisions are legal and 8 octets, so offsets never move),
    // named headers, Content-Length payload hops, CRLF framing, with
    // gzip-member streams (the shipping layout) inflated by the
    // strict hand-walked RFC 1952 member reader (CRC32 + ISIZE
    // verified per member — the JDK reader silently truncates on a
    // corrupt later member) and walked identically.
    // Offsets are reported in DECOMPRESSED space, so one closed-form
    // oracle gates plain and gzip variants alike (odd doc_ids gzip) —
    // the offset column is a running sum of exact per-record header +
    // payload + framing lengths, so a single hop or header-length
    // error desynchronizes every later record of the doc.
    QueryDef("mm_warc_records",
      (s, d) => {
        import s.implicits._
        val blobs = Artifacts.cached(s, "fixture", "fixture_warc_records",
            Seq(2), Tables.documents(s, d).inputFiles) {
          Tables.documents(s, d)
            .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
            .map { case (id, nc) => (id, warcFixtureBlob(id, nc)) }
            .toDF("doc_id", "bytes")
        }
        MultimodalOps.warcRecords(blobs, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"), col("recIdx").as("rec_idx"),
            col("recType").as("rec_type"),
            col("targetUri").as("target_uri"),
            col("contentLength").as("content_length"),
            col("recOffset").as("rec_offset"), col("compressed"))
      },
      Some("""WITH d AS (SELECT doc_id, (n_chars % 4) + 2 AS n
             |  FROM documents),
             | r AS (SELECT doc_id, unnest(range(n)) AS i FROM d),
             | f AS (SELECT doc_id, CAST(i AS INT) AS rec_idx,
             |  CASE WHEN i = 0 THEN 'warcinfo'
             |    WHEN i % 2 = 1 THEN 'response' ELSE 'request' END
             |    AS rec_type,
             |  CASE WHEN i = 0 THEN '' ELSE 'https://ex' || (doc_id % 5)
             |    || '.org/p/' || doc_id || '/' || i END AS target_uri,
             |  ((doc_id + i * 7) % 50) + 10 AS content_length,
             |  doc_id % 2 = 1 AS compressed FROM r),
             | g AS (SELECT *,
             |  10 + length('WARC-Type: ' || rec_type) + 2
             |  + CASE WHEN target_uri = '' THEN 0
             |      ELSE length('WARC-Target-URI: ' || target_uri) + 2 END
             |  + 33
             |  + length('Content-Length: ' || content_length) + 2
             |  + 2 + content_length + 4 AS rec_len FROM f)
             | SELECT doc_id, rec_idx, rec_type, target_uri,
             |  CAST(content_length AS BIGINT) AS content_length,
             |  CAST(COALESCE(sum(rec_len) OVER (PARTITION BY doc_id
             |    ORDER BY rec_idx ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND 1 PRECEDING), 0) AS BIGINT) AS rec_offset,
             |  compressed
             | FROM g ORDER BY doc_id, rec_idx""".stripMargin
        .replace("\n", "")),
      presentOrder = Seq("doc_id", "rec_idx")),

    // Charset sniff — the decode decision ahead of the WET text
    // extraction: BOM dispatch, pure-ASCII, and a REAL RFC 3629 UTF-8
    // validity scan (overlongs, surrogates, >U+10FFFF, truncation all
    // reject to the quarantine class). Five fixture classes by id%5 —
    // ASCII, valid UTF-8 (k two-byte sequences, k formula-varying),
    // UTF-8 with BOM, UTF-16LE BOM, and a broken continuation byte;
    // the oracle recomputes class, byte count, and sequence count
    // from the generation formula while the Spark side runs the
    // validity machine over the actual bytes.
    QueryDef("mm_charset_sniff",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val k = (nc % 9 + 1).toInt
            val utf8 = ("xxx" + "é" * k).getBytes("UTF-8")
            val bytes = (id % 5) match {
              case 0 => s"Doc $id plain text".getBytes("US-ASCII")
              case 1 => utf8
              case 2 => Array[Byte](0xEF.toByte, 0xBB.toByte,
                0xBF.toByte) ++ utf8
              case 3 => Array[Byte](0xFF.toByte, 0xFE.toByte,
                'h', 0, 'i', 0)
              case _ => "bad".getBytes("US-ASCII") ++
                Array[Byte](0xC3.toByte, 'x'.toByte)
            }
            (id, bytes)
          }.toDF("doc_id", "bytes")
        MultimodalOps.charsetSniff(blobs, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"), col("charset"),
            col("nBytes").as("n_bytes"), col("nSeq").as("n_seq"))
      },
      Some("""SELECT doc_id,
             | CASE doc_id % 5 WHEN 0 THEN 'ascii' WHEN 1 THEN 'utf8'
             |   WHEN 2 THEN 'utf8-bom' WHEN 3 THEN 'utf16le-bom'
             |   ELSE 'unknown-8bit' END AS charset,
             | CAST(CASE doc_id % 5
             |   WHEN 0 THEN length('Doc ' || doc_id || ' plain text')
             |   WHEN 1 THEN 3 + 2 * ((n_chars % 9) + 1)
             |   WHEN 2 THEN 6 + 2 * ((n_chars % 9) + 1)
             |   WHEN 3 THEN 6 ELSE 5 END AS BIGINT) AS n_bytes,
             | CAST(CASE WHEN doc_id % 5 IN (1, 2)
             |   THEN (n_chars % 9) + 1 ELSE 0 END AS BIGINT) AS n_seq
             | FROM documents ORDER BY doc_id""".stripMargin
        .replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // WARC → WET composition — the Common-Crawl derivation run end to
    // end as one gate: container walk (gzip or plain) → response
    // payload extraction → the full HTML strip with single-pass
    // entity decode, all over REAL bytes the Spark side parses while
    // the oracle rebuilds the payload string from the generation
    // formula and strips it in SQL. Each doc's WARC carries a
    // warcinfo record (binary fill), ONE response record whose
    // payload IS an HTML page (tags + comment + numeric/named entity
    // references), and a request record (fill); odd doc_ids gzip.
    // Any error anywhere in the chain — a hop that misaligns the
    // payload slice, a charset slip, an entity decoded twice —
    // lands in the cleaned-text fingerprint.
    QueryDef("pipeline_warc_to_wet",
      (s, d) => {
        import s.implicits._
        val blobs = Artifacts.cached(s, "fixture", "fixture_warc_wet",
            Seq(1), Tables.documents(s, d).inputFiles) {
          Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val html = ("<html><head><style>a{x:1<2}</style></head>" +
              s"<body><!-- skip --><p>Rec $id n${nc % 7} it&#8217;s " +
              "&amp;amp; fine</p></body></html>").getBytes("US-ASCII")
            val recs = Seq(
              ("warcinfo", "",
                Array.tabulate(12)(k => ((id + k) % 251).toByte)),
              ("response", s"https://ex${id % 5}.org/p/$id", html),
              ("request", s"https://ex${id % 5}.org/p/$id",
                Array.tabulate(9)(k => ((id * 3 + k) % 251).toByte)))
            (id, graft.sources.WarcCodec.buildWarc(recs,
              gzipPerRecord = id % 2 == 1))
          }.toDF("doc_id", "bytes")
        }
        val wet = MultimodalOps.warcHtmlText(blobs, "doc_id", "bytes")
          .toDF()
        val stripped = graft.ops.TextOps.htmlStrip(
          wet.select(col("docId").as("doc_id"), col("text")))
        wet.select(col("docId").as("doc_id"),
            col("targetUri").as("target_uri"))
          .join(stripped, Seq("doc_id"))
          .select(col("doc_id"), col("target_uri"), col("n_raw"),
            col("n_tags"), col("n_clean"), col("clean_fp"))
      },
      Some {
        val html = "'<html><head><style>a{x:1<2}</style></head>" +
          "<body><!-- skip --><p>Rec ' || doc_id || ' n' || " +
          "(n_chars % 7) || ' it&#8217;s &amp;amp; fine</p>" +
          "</body></html>'"
        s"""WITH w AS (SELECT doc_id, $html AS text FROM documents),
            m AS (${graft.ops.TextOps.htmlStripSql("w")})
            SELECT doc_id,
              'https://ex' || (doc_id % 5) || '.org/p/' || doc_id
                AS target_uri,
              n_raw, n_tags, n_clean, clean_fp
            FROM m ORDER BY doc_id""".replace("\n", " ")
      },
      presentOrder = Seq("doc_id")),

    // WARC + HTTP envelope — how crawl WARCs really store pages: the
    // response record wraps the full HTTP message, so the true chain
    // is container walk → status/header parse → (keep 200s) → strip.
    // Gated end to end: per-doc WARCs (gzip on odd ids) whose response
    // payload is an HTTP/1.1 message with a formula status (404 on
    // id%4==1), a Content-Type that alternates, and an HTML body that
    // on EVEN ids ships with `Transfer-Encoding: chunked` framing
    // intact (the Common Crawl pre-2019 capture layout): formula-sized
    // chunks, a chunk extension on id%7==0, a trailer field on
    // id%5==0. The parse must de-chunk (RFC 9112 §7.1) so the hex
    // size lines and trailing CRLFs never reach the strip — the
    // oracle recomputes status, content type, BODY length (the
    // de-chunked length == the raw html length, which is exactly the
    // proof framing never leaked), the chunked flag, and the stripped
    // fingerprint from the generation formula; strip metrics surface
    // ONLY for 200s (NULL otherwise — the keep-branch a crawl
    // applies).
    QueryDef("pipeline_warc_http",
      (s, d) => {
        import s.implicits._
        val blobs = Artifacts.cached(s, "fixture", "fixture_warc_http",
            Seq(2), Tables.documents(s, d).inputFiles) {
          Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val html = "<html><body><p>Page " + id +
              " v" + (nc % 5) + " it&#8217;s fine</p></body></html>"
            val code = if (id % 4 == 1) 404 else 200
            val ct = if (id % 3 == 0) "text/html"
              else "text/html; charset=UTF-8"
            val body =
              if (id % 2 == 0) chunkEncode(html, (id % 7 + 3).toInt,
                ext = id % 7 == 0, trailer = id % 5 == 0)
              else html
            val teHdr =
              if (id % 2 == 0) "Transfer-Encoding: chunked\r\n" else ""
            val msg = (s"HTTP/1.1 $code OK\r\nServer: g\r\n$teHdr" +
              s"Content-Type: $ct\r\n\r\n" + body).getBytes("US-ASCII")
            (id, graft.sources.WarcCodec.buildWarc(Seq(
              ("warcinfo", "", Array.tabulate(8)(k => ((id + k) % 251).toByte)),
              ("response", s"https://ex${id % 5}.org/p/$id", msg)),
              gzipPerRecord = id % 2 == 1))
          }.toDF("doc_id", "bytes")
        }
        val http = MultimodalOps.warcHttpResponses(blobs, "doc_id",
          "bytes").toDF()
        val stripped = graft.ops.TextOps.htmlStrip(
          http.select(col("docId").as("doc_id"), col("body").as("text")))
        http.select(col("docId").as("doc_id"), col("status"),
            col("contentType").as("content_type"),
            length(col("body")).cast("long").as("body_len"),
            col("chunked"))
          .join(stripped, Seq("doc_id"))
          .select(col("doc_id"), col("status"), col("content_type"),
            col("body_len"), col("chunked"),
            when(col("status") === 200, col("n_clean")).as("n_clean"),
            when(col("status") === 200, col("clean_fp")).as("clean_fp"))
      },
      Some {
        val html = "'<html><body><p>Page ' || doc_id || ' v' || " +
          "(n_chars % 5) || ' it&#8217;s fine</p></body></html>'"
        s"""WITH w AS (SELECT doc_id, $html AS text FROM documents),
            m AS (${graft.ops.TextOps.htmlStripSql("w")})
            SELECT doc_id,
              CAST(CASE WHEN doc_id % 4 = 1 THEN 404 ELSE 200 END
                AS INT) AS status,
              CASE WHEN doc_id % 3 = 0 THEN 'text/html'
                ELSE 'text/html; charset=UTF-8' END AS content_type,
              CAST(n_raw AS BIGINT) AS body_len,
              doc_id % 2 = 0 AS chunked,
              CASE WHEN doc_id % 4 = 1 THEN NULL ELSE n_clean END
                AS n_clean,
              CASE WHEN doc_id % 4 = 1 THEN NULL ELSE clean_fp END
                AS clean_fp
            FROM m ORDER BY doc_id""".replace("\n", " ")
      },
      presentOrder = Seq("doc_id")),

    // HTTP redirect surfacing — the frontier's OTHER input besides
    // robots: 3xx captures carry the next fetch in their Location
    // header, and a crawl that drops them loses every moved page.
    // Chain: WARC walk → HTTP envelope (Location surfaced like
    // Content-Type) → keep 3xx → resolve the target (absolute pass
    // through incl. canonical rules on a mixed-case :443 fragment
    // form; root-relative resolves against the capture's own host) →
    // canonicalize both ends. 200s must NOT appear (the keep-filter
    // branch). Oracle recomputes the whole redirect edge table from
    // the generation formulas.
    QueryDef("pipeline_http_redirects",
      (s, d) => {
        import s.implicits._
        val blobs = Artifacts.cached(s, "fixture", "fixture_http_redirects",
            Seq(1), Tables.documents(s, d).inputFiles) {
          Tables.documents(s, d)
            .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
            .map { case (id, _) =>
              val msg = (id % 3) match {
                case 0 => "HTTP/1.1 301 Moved\r\nLocation: " +
                  s"https://Move.Ex${id % 4}.org:443/new/$id#f\r\n\r\ngone"
                case 1 => s"HTTP/1.1 302 Found\r\nLocation: /alt/${id % 5}" +
                  "\r\n\r\nx"
                case _ => "HTTP/1.1 200 OK\r\n\r\nok"
              }
              (id, graft.sources.WarcCodec.buildWarc(Seq(
                ("response", s"https://ex${id % 5}.org/p/$id",
                  msg.getBytes("US-ASCII"))),
                gzipPerRecord = id % 2 == 1))
            }.toDF("doc_id", "bytes")
        }
        val http = MultimodalOps.warcHttpResponses(blobs, "doc_id",
          "bytes").toDF()
        val (scheme, host) =
          graft.ops.TextOps.urlSchemeHost(col("targetUri"))
        http.filter(col("status").between(300, 399))
          .select(col("docId").as("doc_id"),
            graft.ops.TextOps.canonicalUrl(col("targetUri"))
              .as("src_url"),
            col("status"),
            graft.ops.TextOps.canonicalUrl(graft.ops.TextOps
              .resolveHref(col("location"), scheme, host))
              .as("redirect_to"))
      },
      Some("""SELECT doc_id,
             | 'https://ex' || (doc_id % 5) || '.org/p/' || doc_id
             |   AS src_url,
             | CAST(CASE WHEN doc_id % 3 = 0 THEN 301 ELSE 302 END
             |   AS INT) AS status,
             | CASE WHEN doc_id % 3 = 0
             |   THEN 'https://move.ex' || (doc_id % 4) || '.org/new/'
             |     || doc_id
             |   ELSE 'https://ex' || (doc_id % 5) || '.org/alt/'
             |     || (doc_id % 5) END AS redirect_to
             | FROM documents WHERE doc_id % 3 <> 2
             | ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // Revisit-policy table — what a recrawl scheduler conditions on:
    // RFC 9110 validators (ETag / Last-Modified) surfaced from the
    // HTTP envelope decide between a cheap conditional refetch
    // (If-None-Match / If-Modified-Since) and a full unconditional
    // one. Three fixture classes: ETag only, Last-Modified only,
    // neither; the policy column is the branch a scheduler takes.
    // Oracle recomputes headers and policy from the formulas.
    QueryDef("pipeline_http_revisit",
      (s, d) => {
        import s.implicits._
        val blobs = Artifacts.cached(s, "fixture", "fixture_http_revisit",
            Seq(1), Tables.documents(s, d).inputFiles) {
          Tables.documents(s, d)
            .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
            .map { case (id, _) =>
              val validators = (id % 3) match {
                case 0 => "ETag: \"v" + (id % 7) + "\"\r\n"
                case 1 => "Last-Modified: Mon, 0" + (id % 9 + 1) +
                  " Jan 2026 00:00:00 GMT\r\n"
                case _ => ""
              }
              val msg = ("HTTP/1.1 200 OK\r\n" + validators +
                "Content-Type: text/html\r\n\r\nbody " + id)
                .getBytes("US-ASCII")
              (id, graft.sources.WarcCodec.buildWarc(Seq(
                ("response", s"https://ex${id % 5}.org/p/$id", msg)),
                gzipPerRecord = id % 2 == 1))
            }.toDF("doc_id", "bytes")
        }
        val http = MultimodalOps.warcHttpResponses(blobs, "doc_id",
          "bytes").toDF()
        http.select(col("docId").as("doc_id"),
          graft.ops.TextOps.canonicalUrl(col("targetUri")).as("url"),
          col("etag"), col("lastModified").as("last_modified"),
          when(col("etag") =!= "", "conditional-etag")
            .when(col("lastModified") =!= "", "conditional-modified")
            .otherwise("unconditional").as("policy"))
      },
      Some("""SELECT doc_id,
             | 'https://ex' || (doc_id % 5) || '.org/p/' || doc_id
             |   AS url,
             | CASE WHEN doc_id % 3 = 0
             |   THEN '"v' || (doc_id % 7) || '"' ELSE '' END AS etag,
             | CASE WHEN doc_id % 3 = 1
             |   THEN 'Mon, 0' || ((doc_id % 9) + 1)
             |     || ' Jan 2026 00:00:00 GMT' ELSE '' END
             |   AS last_modified,
             | CASE WHEN doc_id % 3 = 0 THEN 'conditional-etag'
             |   WHEN doc_id % 3 = 1 THEN 'conditional-modified'
             |   ELSE 'unconditional' END AS policy
             | FROM documents ORDER BY doc_id""".stripMargin
        .replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // Payload-digest dedup — crawl-native EXACT dedup before any byte
    // decodes (the WARC-Payload-Digest / revisit-record pattern):
    // per-record Horner digests over the payload bytes, clustered on
    // (digest, length). The fixture plants COLLIDING payloads by
    // construction — response payloads depend only on (id%4, id%3)
    // and request payloads on (id%5, id%2), so thousands of docs
    // collapse to ≤22 clusters — while the oracle recomputes each
    // class digest with the same fold over the generation formula in
    // SQL (list_reduce) and aggregates identically: a mis-hopped
    // payload slice, a masked-byte slip, or a lost record changes a
    // digest or a count. Gzip on odd ids proves compression is
    // digest-invariant.
    QueryDef("dedup_warc_digest",
      (s, d) => {
        import s.implicits._
        val blobs = Artifacts.cached(s, "fixture", "fixture_warc_digest",
            Seq(1), Tables.documents(s, d).inputFiles) {
          Tables.documents(s, d)
            .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
            .map { case (id, _) =>
              val len0 = ((id % 3) + 8).toInt
              val len1 = ((id % 2) + 5).toInt
              (id, graft.sources.WarcCodec.buildWarc(Seq(
                ("response", s"https://ex${id % 5}.org/p/$id",
                  Array.tabulate(len0)(k =>
                    (((id % 4) * 7 + k) % 251).toByte)),
                ("request", s"https://ex${id % 5}.org/p/$id",
                  Array.tabulate(len1)(k =>
                    (((id % 5) * 11 + k) % 251).toByte))),
                gzipPerRecord = id % 2 == 1))
            }.toDF("doc_id", "bytes")
        }
        MultimodalOps.warcPayloadDigests(blobs, "doc_id", "bytes")
          .toDF()
          .select(col("digest"),
            col("contentLength").as("content_length"),
            col("recType"), col("docId"))
          .groupBy("digest", "content_length")
          .agg(min(col("recType")).as("rec_type"),
            count(lit(1)).as("n_records"),
            countDistinct(col("docId")).as("n_docs"))
      },
      Some("""WITH r AS (
             |  SELECT doc_id, 'response' AS rec_type,
             |   CAST((doc_id % 3) + 8 AS BIGINT) AS content_length,
             |   (doc_id % 4) * 7 AS c
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, 'request',
             |   CAST((doc_id % 2) + 5 AS BIGINT), (doc_id % 5) * 11
             |  FROM documents),
             | dg AS (SELECT doc_id, rec_type, content_length,
             |   list_reduce(list_transform(
             |     generate_series(0, CAST(content_length AS INT) - 1),
             |     k -> (c + k) % 251),
             |    (a, b) -> (a * 31 + b) % 1000000007) AS digest
             |  FROM r)
             | SELECT digest, content_length,
             |  min(rec_type) AS rec_type,
             |  CAST(count(*) AS BIGINT) AS n_records,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
             | FROM dg GROUP BY 1, 2
             | ORDER BY digest, content_length""".stripMargin
        .replace("\n", "")),
      presentOrder = Seq("digest", "content_length")),

    // MP3 frame walk (Mp3Codec) — lossy audio's exact-gateable surface
    // (the decode itself is float IMDCT, refused with a dated note in
    // COVERAGE.md): ID3v2 syncsafe skip, per-frame header validation,
    // exact frame-length hops across all three MPEG versions, VBR
    // detection, Xing tag at the version/mode-dependent side-info
    // offset, ID3v1 trailer. The fixture sweeps version x rate x
    // mono/stereo x CBR/VBR x ID3/Xing/TAG presence; the oracle
    // recomputes every field — including total BYTE length through
    // the per-frame length formula with alternating bitrate and
    // padding — from the generation arithmetic, so a single hop or
    // table error desynchronizes the walk and breaks the gate.
    QueryDef("mm_mp3_meta",
      (s, d) => {
        import s.implicits._
        val blobs = Artifacts.cached(s, "fixture", "fixture_mp3_meta",
            Seq(1), Tables.documents(s, d).inputFiles) {
          Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val ver = (id % 3) match { case 0 => 3; case 1 => 2; case _ => 0 }
            val vbrDoc = id % 2 == 0
            val lo = if (id % 3 == 0) 9 else 8   // 128 / 64 kbps
            val hi = if (id % 3 == 0) 11 else 12 // 192 / 128 kbps
            val n = ((nc % 9) + 2).toInt
            (id, graft.multimodal.Mp3Codec.buildMp3(ver, 3,
              srIdx = (id % 3).toInt, mono = id % 2 == 1, nFrames = n,
              kbpsIdx = i => if (vbrDoc && i % 2 == 1) hi else lo,
              pad = i => ((i + id) % 2).toInt,
              withId3 = id % 4 == 0, withXing = id % 5 == 0,
              withTag = id % 6 == 0))
          }.toDF("doc_id", "bytes")
        }
        MultimodalOps.mp3Meta(blobs, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"), col("version"),
            col("layer"), col("channels"),
            col("sampleRate").as("sample_rate"),
            col("nFrames").as("n_frames"),
            col("durationMs").as("duration_ms"),
            col("avgKbps").as("avg_kbps"), col("vbr"),
            col("hasId3").as("has_id3"), col("hasXing").as("has_xing"),
            col("nBytes").as("n_bytes"))
      },
      Some("""WITH p AS (SELECT doc_id, (n_chars % 9) + 2 AS n,
             |  doc_id % 3 AS v, doc_id % 2 = 0 AS vbr_doc,
             |  CASE WHEN doc_id % 3 = 0 THEN 128 ELSE 64 END AS lo,
             |  CASE WHEN doc_id % 3 = 0 THEN 192 ELSE 128 END AS hi,
             |  CASE WHEN doc_id % 3 = 0 THEN 44100
             |    WHEN doc_id % 3 = 1 THEN 24000 ELSE 8000 END AS sr,
             |  CASE WHEN doc_id % 3 = 0 THEN 1152 ELSE 576 END AS spf,
             |  CASE WHEN doc_id % 3 = 0 THEN 144000 ELSE 72000 END AS c
             | FROM documents),
             | q AS (SELECT doc_id, n, v, vbr_doc, lo, hi, sr, spf, c,
             |  CASE WHEN vbr_doc THEN (n + 1) // 2 ELSE n END AS n_lo,
             |  CASE WHEN vbr_doc THEN n // 2 ELSE 0 END AS n_hi,
             |  CASE WHEN doc_id % 2 = 0 THEN n // 2
             |    ELSE (n + 1) // 2 END AS sum_pad
             | FROM p)
             | SELECT doc_id,
             |  CASE WHEN v = 0 THEN '1' WHEN v = 1 THEN '2'
             |    ELSE '2.5' END AS version,
             |  CAST(3 AS INT) AS layer,
             |  CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS INT)
             |    AS channels,
             |  CAST(sr AS INT) AS sample_rate,
             |  CAST(n AS BIGINT) AS n_frames,
             |  CAST(n * spf * 1000 // sr AS BIGINT) AS duration_ms,
             |  CAST((n_lo * lo + n_hi * hi) // n AS BIGINT) AS avg_kbps,
             |  vbr_doc AS vbr,
             |  doc_id % 4 = 0 AS has_id3,
             |  doc_id % 5 = 0 AS has_xing,
             |  CAST(CASE WHEN doc_id % 4 = 0 THEN 74 ELSE 0 END
             |    + n_lo * (c * lo // sr) + n_hi * (c * hi // sr)
             |    + sum_pad
             |    + CASE WHEN doc_id % 6 = 0 THEN 128 ELSE 0 END
             |    AS BIGINT) AS n_bytes
             | FROM q ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // FLAC through the header-only catalog sniff (the seventh
    // container): rate/channels/duration unpacked straight from the
    // STREAMINFO byte layout, frames never visited — compressed audio
    // now costs O(header) in the intake catalog pass exactly like
    // WAV/MP4. Oracle recomputes every field from the synthesis
    // formulas incl. the floored duration arithmetic.
    QueryDef("mm_flac_meta",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val ch = (1 + id % 2).toInt
            val n = ((nc % 200) + 4).toInt
            val samples = Array.tabulate(ch * n)(i =>
              (if (i % 2 == 0) 50 else -50).toShort)
            (id, graft.multimodal.FlacCodec.buildFlac(
              (8000 + (id % 3) * 4000).toInt, ch, samples,
              blockSize = 128))
          }.toDF("doc_id", "bytes")
        MultimodalOps.decodeMeta(blobs, "doc_id", "bytes").toDF()
          .select(col("docId").as("doc_id"), col("kind"),
            col("channels"), col("sampleRate").as("sample_rate"),
            col("durationMs").as("duration_ms"), col("codec"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |  CAST(8000 + (doc_id % 3) * 4000 AS INT) AS rate,
             |  CAST(1 + doc_id % 2 AS INT) AS ch,
             |  (n_chars % 200) + 4 AS n FROM documents)
             | SELECT doc_id, 'audio' AS kind, ch AS channels,
             |  rate AS sample_rate,
             |  CAST((n * 1000) // rate AS INT) AS duration_ms,
             |  'flac' AS codec
             | FROM p ORDER BY doc_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id")),

    // Frame-sampling stub: blob → every-k-th fixed-size frame slice,
    // exploded one row per sampled frame (the per-frame fan-out shape a
    // video pipeline needs before feature extraction).
    // ViT patch grid over REAL bytes: images synthesized from a per-doc
    // gradient formula, cut into the 8×8 patch lattice by
    // MediaCodecs.bmpPatchSums (edge patches smaller — the 4..24-pixel
    // dims force them), per-patch R sums read through the bottom-up
    // flip and row padding. The oracle BRUTE-FORCES the pixel grid in
    // SQL from the same formula (doc × range(w) × range(h)) and
    // aggregates per patch — so any codec/flip/padding/lattice bug
    // breaks the gate; the Spark side never sees the formula, only the
    // bytes. Shape: narrow flatMap, one slim row per patch.
    QueryDef("mm_image_patches",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val w = (id % 21 + 4).toInt
            val h = (nc % 17 + 3).toInt
            // Half top-down (negative biHeight): patch sums are
            // position-sensitive, so the row-order arithmetic is
            // load-bearing in both layouts.
            (id, graft.multimodal.MediaCodecs.buildBmpGradient(w, h,
              (x, y) => {
                val v = ((x * 7 + y * 13 + id) % 256).toInt
                (v, v, v)
              }, topDown = id % 2 == 0))
          }.toDF("doc_id", "bytes")
        MultimodalOps.bmpPatches(blobs, "doc_id", "bytes", p = 8).toDF()
          .select(col("docId").as("doc_id"), col("px"), col("py"),
            col("pw"), col("ph"), col("sumR").as("sum_r"))
      },
      Some("""WITH p AS (SELECT doc_id, doc_id % 21 + 4 AS w,
             |  n_chars % 17 + 3 AS h FROM documents),
             | gx AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM p),
             | pix AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y
             |  FROM gx),
             | v AS (SELECT doc_id, w, h, x // 8 AS px, y // 8 AS py,
             |  (x * 7 + y * 13 + doc_id) % 256 AS v FROM pix)
             | SELECT doc_id, CAST(px AS INT) AS px, CAST(py AS INT) AS py,
             |  CAST(least(8, w - px * 8) AS INT) AS pw,
             |  CAST(least(8, h - py * 8) AS INT) AS ph,
             |  CAST(sum(v) AS BIGINT) AS sum_r
             | FROM v GROUP BY doc_id, px, py, w, h
             | ORDER BY doc_id, py, px""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id", "py", "px")),

    // REAL frame sampling over a REAL multi-frame container: animated
    // GIFs (2..6 frames, frame pixels (x*31+y*17+t*7+id)%256)
    // synthesized through the real LZW encoder, EVERY frame decoded
    // back through the real decoder, every 2nd frame sampled with its
    // exact index sum. The oracle replays the per-pixel arithmetic for
    // the sampled frames only — a decoder that mis-walks descriptors,
    // reuses frame 0, or samples the wrong stride cannot match.
    // mm_frame_sample below stays as the byte-slicing plumbing twin for
    // containers without a codec here (MP4, the one declared stub).
    QueryDef("mm_gif_frames",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val w = (id % 13 + 4).toInt
            val h = (nc % 11 + 3).toInt
            val nf = (nc % 5 + 2).toInt
            (id, graft.multimodal.MediaCodecs.buildGifAnimated(w, h, nf,
              (t, x, y) => ((x * 31 + y * 17 + t * 7 + id) % 256).toInt))
          }.toDF("doc_id", "bytes")
        MultimodalOps.gifFrameSample(blobs, "doc_id", "bytes", everyK = 2)
          .toDF()
          .select(col("docId").as("doc_id"),
            col("sampleIdx").as("sample_idx"),
            col("frameIdx").as("frame_idx"), col("width"), col("height"),
            col("nPixels").as("n_pixels"), col("sumIdx").as("sum_idx"))
      },
      Some("""WITH p AS (SELECT doc_id, doc_id % 13 + 4 AS w,
             |  n_chars % 11 + 3 AS h, n_chars % 5 + 2 AS nf FROM documents),
             | fr AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS fi FROM p),
             | ts AS (SELECT doc_id, w, h, fi,
             |   row_number() OVER (PARTITION BY doc_id ORDER BY fi) - 1 AS si
             |  FROM fr WHERE fi % 2 = 0),
             | gx AS (SELECT doc_id, w, h, fi, si, unnest(range(0, w)) AS x
             |  FROM ts),
             | pix AS (SELECT doc_id, w, h, fi, si,
             |  (x * 31 + y * 17 + fi * 7 + doc_id) % 256 AS idx
             |  FROM (SELECT doc_id, w, h, fi, si, x,
             |    unnest(range(0, h)) AS y FROM gx))
             | SELECT doc_id, CAST(si AS INT) AS sample_idx,
             |  CAST(fi AS INT) AS frame_idx, CAST(max(w) AS INT) AS width,
             |  CAST(max(h) AS INT) AS height,
             |  CAST(count(*) AS BIGINT) AS n_pixels,
             |  CAST(sum(idx) AS BIGINT) AS sum_idx
             | FROM pix GROUP BY doc_id, fi, si
             | ORDER BY doc_id, sample_idx""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id", "sample_idx")),

    QueryDef("mm_frame_sample",
      (s, d) => MultimodalOps.frameSampleStub(
          Tables.documents(s, d).withColumn("bytes", col("text").cast("binary")),
          "doc_id", "bytes", frameBytes = FrameBytes, everyK = EveryK)
        .select(col("doc_id"), col("sample_idx"), col("frame_idx"),
          length(col("frame_bytes")).as("frame_len")),
      Some(s"""WITH m AS (SELECT doc_id, text,
              |  greatest(1, len(text) // $FrameBytes) AS nf FROM documents),
              | s AS (SELECT doc_id, text, unnest(range(0, (nf - 1) // $EveryK + 1)) AS raw FROM m)
              | SELECT doc_id, CAST(raw AS INT) AS sample_idx,
              |  CAST(raw * $EveryK AS INT) AS frame_idx,
              |  CAST(len(substr(text, CAST(raw * $EveryK * $FrameBytes + 1 AS INT), $FrameBytes)) AS INT) AS frame_len
              | FROM s ORDER BY doc_id, sample_idx""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id", "sample_idx")),

    // Audio windowing — the PCM sibling of mm_frame_sample: bytes read
    // as 16-bit/8 kHz samples, cut into 1-second windows, one row per
    // window with its sample offset and length. Pure integer arithmetic
    // over blob lengths (ceil spelled (a+b-1) div b), narrow explode,
    // blobs never shuffled.
    QueryDef("mm_audio_windows",
      (s, d) => Tables.documents(s, d)
        .withColumn("bytes", col("text").cast("binary"))
        .withColumn("n_samples", (length(col("bytes")).cast("long") / 2).cast("long"))
        .withColumn("n_windows", expr("greatest(1L, (n_samples + 7999) div 8000)"))
        .withColumn("win", explode(expr("sequence(0L, n_windows - 1)")))
        .select(col("doc_id"), col("win").cast("int").as("win"),
          (col("win") * 8000).cast("long").as("start_sample"),
          least(lit(8000L), col("n_samples") - col("win") * 8000)
            .as("win_samples")),
      Some("""WITH m AS (SELECT doc_id,
             |  CAST(len(text) // 2 AS BIGINT) AS n_samples FROM documents),
             | w AS (SELECT doc_id, n_samples,
             |  unnest(range(0, greatest(1, (n_samples + 7999) // 8000))) AS win
             |  FROM m)
             | SELECT doc_id, CAST(win AS INT) AS win,
             |  CAST(win * 8000 AS BIGINT) AS start_sample,
             |  CAST(least(8000, n_samples - win * 8000) AS BIGINT) AS win_samples
             | FROM w ORDER BY doc_id, win""".stripMargin.replace("\n", "")),
      presentOrder = Seq("doc_id", "win")),

    // REAL feature extraction via partition-batched mapPartitions:
    // per-doc gradient BMPs decoded by the real parser (bottom-up flip
    // + row padding), the R-channel pixel sequence split into 8
    // contiguous row-major blocks, each feature the block's
    // floor-divided integer mean. The oracle brute-forces the pixel
    // grid from the same formula (doc × range(w) × range(h)) and
    // reproduces block assignment (idx·8 // n) and the floor means —
    // the Spark side never sees the formula, only the bytes, so any
    // decode/flip/padding/blocking bug breaks the gate. n_bytes is the
    // REAL container size (54 + padded-row stride · h), checking the
    // builder's size arithmetic too. A one-pixel flip moving its
    // block's feature is pinned by MultimodalSpec.
    QueryDef("mm_embed_features",
      (s, d) => {
        import s.implicits._
        val blobs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
          .map { case (id, nc) =>
            val w = (id % 21 + 4).toInt
            val h = (nc % 17 + 3).toInt
            (id, graft.multimodal.MediaCodecs.buildBmpGradient(w, h,
              (x, y) => {
                val v = ((x * 7 + y * 13 + id) % 256).toInt
                (v, v, v)
              }))
          }.toDF("doc_id", "bytes")
        MultimodalOps.extractFeatures(blobs, "doc_id", "bytes")
          .toDF()
          .select(Seq(col("mediaId").as("media_id"),
            col("nBytes").as("n_bytes")) ++
            (0 until 8).map(i => element_at(col("feature"), i + 1).as(s"f$i")): _*)
      },
      Some {
        val fs = (0 until 8).map(i =>
          s"CAST(max(CASE WHEN blk = $i THEN f END) AS BIGINT) AS f$i")
          .mkString(", ")
        s"""WITH p AS (SELECT doc_id, doc_id % 21 + 4 AS w,
            n_chars % 17 + 3 AS h FROM documents),
           gx AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM p),
           pix AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM gx),
           v AS (SELECT doc_id, ((y * w + x) * 8) // (w * h) AS blk,
             (x * 7 + y * 13 + doc_id) % 256 AS v FROM pix),
           b AS (SELECT doc_id, blk, sum(v) // count(*) AS f
             FROM v GROUP BY doc_id, blk),
           nb AS (SELECT doc_id,
             CAST(54 + ((3 * w + 3) // 4) * 4 * h AS INT) AS n_bytes FROM p)
           SELECT b.doc_id AS media_id, nb.n_bytes, $fs
           FROM b JOIN nb ON b.doc_id = nb.doc_id
           GROUP BY b.doc_id, nb.n_bytes ORDER BY media_id"""
      },
      presentOrder = Seq("media_id"))
  )
}
