package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.catalyst.MinHashSketchAgg
import graft.model.GlucoseRange
import graft.ops.{AsofOps, EgvOps, SkewOps}

/** Property tests (SURVEY.md §5.2.3): boundary algebra, lookup totality,
  * sketch algebra, salt-invariance — seeded deterministic generators
  * (scalacheck's scalatest bridge isn't in the offline dep set; the
  * properties matter, not the harness).
  */
class PropertySpec extends SparkSpec {

  private val rnd = new Random(42)

  test("property: pq_encode equals the composed-builtin tree on random vectors") {
    import spark.implicits._
    import graft.ops.SimOps
    for ((m, k, dim) <- Seq((2, 3, 8), (4, 6, 16), (8, 5, 16))) {
      val d = dim / m
      val raw = (0L until 40L).map { i =>
        (i, Array.tabulate(dim)(_ => (rnd.nextInt(2001) - 1000) / 250.0f))
      }
      val vecs = raw.toDF("vec_id", "embedding")
      // Half the codebook rows are exact corpus vectors (zero-distance
      // subspaces, tie-heavy), half random; one row duplicated so the
      // smallest-ki tie-break is exercised on every run.
      val cent: Array[Array[Double]] = (0 until k).map { ki =>
        if (ki < k / 2) raw(ki)._2.map(_.toDouble)
        else if (ki == k / 2 && k > 1) raw(0)._2.map(_.toDouble)
        else Array.tabulate(dim)(_ => (rnd.nextInt(2001) - 1000) / 250.0)
      }.toArray
      def treeDist(mi: Int, ki: Int) =
        SimOps.pqSubDist(col("embedding"), cent, mi, ki, d)
      val treeCodes = array((0 until m).map { mi =>
        array_min(array((0 until k).map(ki =>
          struct(treeDist(mi, ki).as("d"), lit(ki).as("k"))): _*)).getField("k")
      }: _*)
      val treeLut = array((0 until m).map { mi =>
        array((0 until k).map(ki =>
          floor(treeDist(mi, ki) * 1e6 + 0.5).cast("long")): _*)
      }: _*)
      def enc(mode: String) = call_function("pq_encode", col("embedding"),
        typedLit(cent.map(_.toSeq).toSeq), lit(m), lit(mode))
      val rows = vecs.select(col("vec_id"),
          treeCodes.as("tc"), enc("codes").as("nc"),
          treeLut.as("tl"), enc("lut").as("nl"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Int](1) === r.getSeq[Int](2),
          s"codes m=$m k=$k @${r.get(0)}")
        assert(r.getSeq[Seq[Long]](3) === r.getSeq[Seq[Long]](4),
          s"lut m=$m k=$k @${r.get(0)}")
      }
    }
  }

  test("wordPiece: greedy max-munch splits zzzzab into zzzz + ##ab, the " +
    "long-word rule emits [UNK], empty docs report zero, vocab ranks are " +
    "the hand order") {
    import spark.implicits._
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "zzzzab zzzzab cd"),
      (2L, "abcdefghijklmnopq cd"), // 17-char word -> [UNK]
      (3L, "")).toDF("doc_id", "text")
    // vocab (all candidates fit the top-24 budget here): init pieces of
    // freq 2 are cd < zz < zzz < zzzz (piece ASC breaks the tie), so
    // rank 1 init is "cd"; "##ab" (freq 2 from zzzzab) is in cont.
    val vocab = TextOps.wordPieceVocab(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(vocab.forall(_._2 <= TextOps.WpVocabTop))
    assert(vocab.filter(_._1 == "init").sortBy(_._2).take(4).map(_._3)
      .toSeq === Seq("cd", "zz", "zzz", "zzzz"))
    assert(vocab.exists(v => v._1 == "cont" && v._3 == "##ab" && v._4 == 2L))
    // apply: zzzzab -> greedy l=4 "zzzz" then "##ab" (2 pieces);
    // cd -> 1 piece; the 17-char word -> [UNK] (1 piece, n_unk 1).
    val out = TextOps.wordPiece(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((3L, 5L, 0L))) // 2+2+1 pieces, no UNK
    assert(out(2L) === ((2L, 2L, 1L))) // [UNK] + cd
    assert(out(3L) === ((0L, 0L, 0L)))
    // fingerprints: same token stream <=> same fp; doc 2 differs
    val fps = TextOps.wordPiece(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(fps(1L) !== fps(2L))
  }

  test("viterbiSegment: hand-exact DP on the wordPiece fixture, [UNK] " +
    "long-word rule, and the minimality invariant n_viterbi <= n_greedy " +
    "on a real corpus") {
    import spark.implicits._
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "zzzzab zzzzab cd"),
      (2L, "abcdefghijklmnopq cd"),
      (3L, "")).toDF("doc_id", "text")
    // zzzzab: no 5+/6-char vocab piece exists, so the optimum is 2
    // pieces; the max-frequency tie-break picks zzzz(2) + ##ab(2) =
    // score 4 (zzza+... alternatives carry lower totals). cd: 1 piece,
    // score 2. Doc 1 = 2 words * (2,4) + (1,2): n_pieces 5, score 10.
    // Doc 2: 17-char word -> [UNK] (1, 0) + cd (1, 2).
    val out = TextOps.viterbiSegment(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) === ((3L, 5L, 10L, 0L)))
    assert(out(2L) === ((2L, 2L, 2L, 1L)))
    assert(out(3L) === ((0L, 0L, 0L, 0L)))
    // minimality vs greedy on a richer corpus: the DP can never use
    // MORE pieces than max-munch (same vocab, same [UNK] rule)
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "pack my box with five dozen liquor jugs"),
      (12L, "sphinx of black quartz judge my vow 12345"),
      (13L, "the the the quick quick brown")).toDF("doc_id", "text")
    val g = TextOps.wordPiece(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val v = TextOps.viterbiSegment(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(v.keySet === g.keySet)
    v.foreach { case (id, n) => assert(n <= g(id),
      s"doc $id: viterbi $n > greedy ${g(id)}") }
  }

  test("bpeApply reconciles with bpeTrain: piece totals and XOR fingerprint") {
    import spark.implicits._
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran"),
      (3L, "a dog sat, a dog ran!"),
      (4L, "cats cats cats")).toDF("doc_id", "text")
    val last = TextOps.bpeTrain(docs, rounds = 2)
      .orderBy(col("merge_round").desc).collect()(0)
    val applied = TextOps.bpeApply(docs, rounds = 2)
    val agg = applied.agg(sum(col("n_pieces")),
      expr("bit_xor(doc_fp)")).collect()(0)
    // The train summary's pieces_total and corpus_fp are exactly the sum
    // and XOR of the apply output — the two ops describe one corpus.
    assert(agg.getLong(0) === last.getAs[Long]("pieces_total"))
    assert(agg.getLong(1) === last.getAs[Long]("corpus_fp"))
    assert(applied.count() === 4)
  }

  test("lmScore: hand-computed conditional probabilities, single-token doc NULL") {
    import spark.implicits._
    import graft.ops.TextOps
    // Corpus bigrams: (a,b)x2, (b,a)x1, (a,c)x1 -> P(b|a)=2/3, P(a|b)=1,
    // P(c|a)=1/3. Micro-quantized integral division: 666666, 1000000,
    // 333333. Doc 1 mean = 1999999/3e6 -> quant4 0.6667; doc 2 = 0.6667.
    val docs = Seq((1L, "a b a c"), (2L, "a b"), (3L, "x"))
      .toDF("doc_id", "text")
    val out = TextOps.lmScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)))).toMap
    assert(out(1L) === ((3L, Some(0.6667))))
    assert(out(2L) === ((1L, Some(0.6667))))
    assert(out(3L) === ((0L, None))) // no bigrams: NULL score, not 0
  }

  test("stupidBackoff: hand-computed scores at every backoff level") {
    import spark.implicits._
    import graft.ops.TextOps
    // Train slice = doc 1 "a b c a b c": uni a2 b2 c2 N=6; bigrams
    // (a,b)2 (b,c)2 (c,a)1; trigrams (a,b,c)2 (b,c,a)1 (c,a,b)1.
    val docs = Seq(
      (1L, "en", "a b c a b c"), // self: tri hits 1e6, 5e5, 1e6 -> 0.875
      (2L, "de", "a b c d"),     // (a,b,c)=1e6 tri; (b,c,d) OOV -> 0.5
      (3L, "de", "x b c"),       // bi backoff: 0.4*c(b,c)/c(b)=400000
      (4L, "de", "z z a"),       // uni double-backoff: 0.16*2/6=53333
      (5L, "de", "q q d"),       // true OOV: 0
      (6L, "de", "z"))           // <3 tokens: no trigrams, NULL score
      .toDF("doc_id", "lang", "text")
    val out = TextOps.stupidBackoff(docs, col("lang") === "en").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)), Option(r.get(6)))).toMap
    assert(out(1L) === (((4L, 4L, 0L, 0L, 0L), Some(0.875))))
    assert(out(2L) === (((2L, 1L, 0L, 0L, 1L), Some(0.5))))
    assert(out(3L) === (((1L, 0L, 1L, 0L, 0L), Some(0.4))))
    assert(out(4L) === (((1L, 0L, 0L, 1L, 0L), Some(0.0533))))
    assert(out(5L) === (((1L, 0L, 0L, 0L, 1L), Some(0.0))))
    assert(out(6L) === (((0L, 0L, 0L, 0L, 0L), None)))
  }

  test("goodTuring: hand-computed count-of-counts panel — r = 0 row is " +
      "the unseen mass N1/N, masses sum to ~1e6, top class adjusts to 0") {
    import spark.implicits._
    import graft.ops.TextOps
    // "a a a b b c": counts a3 b2 c1 -> N1 = N2 = N3 = 1, N = 6.
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val out = TextOps.goodTuring(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out === Map(
      0L -> ((0L, 1L, 0L, 166666L)),       // unseen mass = N1/N = 1/6
      1L -> ((1L, 1L, 2000000L, 333333L)), // r* = 2*1/1 = 2.0
      2L -> ((1L, 1L, 3000000L, 500000L)), // r* = 3*1/1 = 3.0
      3L -> ((1L, 0L, 0L, 0L))))           // no N4: raw GT reports 0
    assert(out.values.map(_._4).sum === 999999L) // Σ mass ≈ 1 (floors)
  }

  test("knBigram: hand-computed interpolated Kneser-Ney at every level — " +
      "discounted hit, unseen-context continuation backoff, true OOV") {
    import spark.implicits._
    import graft.ops.TextOps
    // Train (en): bigrams (a,b):2 (a,c):1 (x,b):1 -> B=3.
    // ctx: a (ctxc 3, nfollow 2), x (1, 1).
    // cont: b nprec 2 -> pcont 666666; c nprec 1 -> pcont 333333.
    val docs = Seq(
      (1L, "en", "a b"), (2L, "en", "a b"), (3L, "en", "a c"),
      (4L, "en", "x b"),
      // (a,b) hit: (2e6-750000) div 3 = 416666; lambda(a) = 500000;
      // + 500000*666666 div 1e6 = 333333 -> 749999 -> 0.75
      (10L, "de", "a b"),
      // unseen bigram, known context x: 0 + 750000*333333 div 1e6
      //   = 249999 -> 0.25, continuation-level
      (11L, "de", "x c"),
      // unseen context b, 'a' never a continuation -> 0.0, OOV
      (12L, "de", "b a"),
      // unseen context y -> pure P_cont(b) = 666666 -> 0.6667
      (13L, "de", "y b"),
      // < 2 tokens: no bigram, sentinel score
      (14L, "de", "z"))
      .toDF("doc_id", "lang", "text")
    val out = TextOps.knBigram(docs, col("lang") === "en").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    assert(out(10L) === ((1L, 1L, 0L, 0L, 0.75)))
    assert(out(11L) === ((1L, 0L, 1L, 0L, 0.25)))
    assert(out(12L) === ((1L, 0L, 0L, 1L, 0.0)))
    assert(out(13L) === ((1L, 0L, 1L, 0L, 0.6667)))
    assert(out(14L) === ((0L, 0L, 0L, 0L, -1.0)))
    assert(out(1L) === ((1L, 1L, 0L, 0L, 0.75))) // train doc scored too
  }

  test("rrf fusion: micro contributions recompute exactly, ranking is " +
      "strictly ordered, both-arm docs outrank single-arm peers") {
    val out = graft.Catalog.queries("text_rrf_fusion")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty && out.length <= 10)
    def contrib(r: Option[Long]) = r.map(x => 1000000L / (60L + x)).getOrElse(0L)
    out.foreach { r =>
      val lex = if (r.isNullAt(2)) None else Some(r.getLong(2))
      val vec = if (r.isNullAt(3)) None else Some(r.getLong(3))
      assert(lex.isDefined || vec.isDefined) // full-outer: no orphan rows
      assert(r.getLong(4) === contrib(lex) + contrib(vec),
        s"rrf mismatch at rank ${r.getLong(0)}")
    }
    val scores = out.sortBy(_.getLong(0)).map(_.getLong(4))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("textrank keywords: centrality outranks raw frequency on a " +
      "hub-word fixture") {
    import spark.implicits._
    // 'hub' co-occurs with four distinct words; 'freq' repeats but only
    // ever next to 'pad' (one unique neighbor). TextRank must rank hub
    // above freq even though freq has more occurrences.
    val docs = Seq(
      (1L, "hub alpha hub beta"),
      (2L, "hub gamma hub delta"),
      (3L, "freq pad freq pad freq pad freq pad freq pad"))
      .toDF("doc_id", "text")
    val bg = docs.select(explode(expr(
        """zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
           slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
           (a, b) -> struct(a AS w1, b AS w2))""")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
    val edges = bg.select(col("w1").as("src"), col("w2").as("dst"))
      .union(bg.select(col("w2").as("src"), col("w1").as("dst"))).distinct()
    val nodes = edges.select(col("src").as("node_id")).distinct()
    val pr = graft.ops.GraphOps.pageRank(nodes, edges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr("hub") > pr("freq"),
      s"hub ${pr("hub")} should outrank freq ${pr("freq")}")
    assert(pr.keySet === Set("hub", "alpha", "beta", "gamma", "delta",
      "freq", "pad"))
  }

  test("vocabDrift: hand-computed TV distance with a top-term tie") {
    import spark.implicits._
    import graft.ops.TextOps
    // ref = "a a b" (N=3), cur = "a b b b" (N=4).
    // TV = (|2*4-1*3| + |1*4-3*3|) / (2*12) = (5+5)/24 = 5/12 -> 0.4167.
    // Both terms deviate by 5/12 — the tie must resolve to min(term).
    val docs = Seq((0L, "a a b"), (9L, "a b b b")).toDF("doc_id", "text")
    val r = TextOps.vocabDrift(docs, col("doc_id") % 10 < 8).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 4L, 2L)))
    assert(r.getDouble(3) === 0.4167)
    assert(r.getString(4) === "a") // tie-break: smallest term
    assert(r.getDouble(5) === 0.4167)
    // An empty slice yields NULL drift (no distribution to compare), not
    // a divide-by-zero.
    val e = TextOps.vocabDrift(docs, lit(true)).collect()(0)
    assert(e.isNullAt(3) && e.isNullAt(5))
  }

  test("quality classifier: decision is margin sign and both classes occur") {
    val out = graft.Catalog
      .queries("text_quality_classifier")(spark, "/root/testdata/sf0.001")
      .select(col("margin_micro"), col("keep")).collect()
    assert(out.forall(r => r.getBoolean(1) === (r.getLong(0) >= 0L)))
    val keeps = out.count(_.getBoolean(1))
    assert(keeps > 0 && keeps < out.length) // boundary splits the corpus
  }

  test("property: bpeMergeOnce equals the naive greedy non-overlapping merge") {
    import spark.implicits._
    import graft.ops.TextOps
    def naive(p: Seq[String], pa: String, pb: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < p.length) {
        if (i + 1 < p.length && p(i) == pa && p(i + 1) == pb) {
          out += (pa + pb); i += 2
        } else { out += p(i); i += 1 }
      }
      out.toSeq
    }
    val vocab = Seq("a", "b", "ab", "c", ".")
    val cases = Seq(
      Seq("a", "b", "a", "b"),        // adjacent merges
      Seq("a", "a", "a"),             // overlap: greedy takes the first
      Seq("a", "a", "b"),             // merge at the end
      Seq("ab", "b", "a", "b", "a"),  // merged-looking piece as plain input
      Seq("a"), Seq.empty[String]     // degenerate lengths
    ) ++ Seq.fill(40)(Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length))))
    for ((pa, pb) <- Seq(("a", "b"), ("a", "a"), ("ab", "a"), ("b", "."))) {
      val df = cases.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "p")
      val got = df.select(col("id"), TextOps.bpeMergeOnce(col("p"), pa, pb).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      cases.zipWithIndex.foreach { case (p, i) =>
        assert(got(i.toLong) === naive(p, pa, pb), s"pair=($pa,$pb) seq=$p")
      }
    }
  }

  test("property: asofJoin equals the naive latest-at-or-before lookup") {
    import spark.implicits._
    val keys = Seq("a", "b", "c")
    val left = Seq.fill(200)((keys(rnd.nextInt(3)), rnd.nextInt(1000)))
      .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
    val right = Seq.fill(60)((keys(rnd.nextInt(3)), rnd.nextInt(1000)))
      .distinct // unique (key, time) so "the" match is well-defined
      .map { case (k, rt) => (k, rt, s"$k@$rt") }
    val out = AsofOps.asofJoin(
      left.toDF("k", "t", "row_id"), right.toDF("k", "rt", "state"),
      Seq("k"), "t", "rt", Seq("state"))
      .select("row_id", "asof_state").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size === left.size)
    for ((k, t, id) <- left) {
      val expect = right.filter(r => r._1 == k && r._2 <= t)
        .sortBy(_._2).lastOption.map(_._3).orNull
      assert(out(id) === expect, s"key=$k t=$t")
    }
  }

  test("property: asofJoinForward equals the naive earliest-at-or-after lookup") {
    import spark.implicits._
    val keys = Seq("a", "b", "c")
    val left = Seq.fill(200)((keys(rnd.nextInt(3)), rnd.nextInt(1000)))
      .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
    val right = Seq.fill(60)((keys(rnd.nextInt(3)), rnd.nextInt(1000)))
      .distinct
      .map { case (k, rt) => (k, rt, s"$k@$rt") }
    val out = AsofOps.asofJoinForward(
      left.toDF("k", "t", "row_id"), right.toDF("k", "rt", "state"),
      Seq("k"), "t", "rt", Seq("state"))
      .select("row_id", "asof_state").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size === left.size)
    for ((k, t, id) <- left) {
      val expect = right.filter(r => r._1 == k && r._2 >= t)
        .sortBy(_._2).headOption.map(_._3).orNull
      assert(out(id) === expect, s"key=$k t=$t")
    }
  }

  test("property: categorize(v) is in-range iff lower <= v <= upper") {
    import spark.implicits._
    val cases = Seq.fill(40) {
      val (a, b) = (rnd.nextInt(200), rnd.nextInt(200))
      (rnd.nextInt(400), math.min(a, b), math.max(a, b))
    }
    for (((v, lo, hi), i) <- cases.zipWithIndex) {
      val got = EgvOps.categorizeSimple(Seq(v).toDF("value"), lower = lo, upper = hi)
        .select("in_range").collect().head.getString(0)
      assert(got === (if (lo <= v && v <= hi) "true" else "false"),
        s"case $i: v=$v range=[$lo,$hi]")
    }
  }

  test("property: first-match lookup is total on non-overlapping full-cover ranges") {
    import spark.implicits._
    for (_ <- 1 to 15) {
      val cuts = Seq(rnd.nextInt(86398) + 1, rnd.nextInt(86398) + 1).sorted.distinct
      val bounds = (0 +: cuts) :+ 86400
      val ranges = bounds.sliding(2).zipWithIndex.collect {
        case (Seq(s, e), i) if s < e => GlucoseRange(i + 1, s, e - 1, 70, 180)
      }.toSeq
      val tod = rnd.nextInt(86400)
      val ts = java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(
        2020, 1, 1, tod / 3600, tod / 60 % 60, tod % 60))
      val n = EgvOps.lookupFirstMatch(Seq((100, ts)).toDF("value", "ts"), ranges).count()
      assert(n === 1, s"tod=$tod must match exactly one of $ranges")
    }
  }

  test("property: minhash sketch merge is commutative, associative, idempotent") {
    val agg = new MinHashSketchAgg(16)
    for (_ <- 1 to 25) {
      val xs = List.fill(rnd.nextInt(50))(rnd.nextLong().abs + 1)
      val ys = List.fill(rnd.nextInt(50))(rnd.nextLong().abs + 1)
      val zs = List.fill(rnd.nextInt(50))(rnd.nextLong().abs + 1)
      def sk(h: List[Long]) = h.foldLeft(agg.zero)(agg.reduce)
      def cp(x: Array[Long]) = x.clone()
      val (a, b, c) = (sk(xs), sk(ys), sk(zs))
      assert(agg.merge(cp(a), cp(b)).toSeq === agg.merge(cp(b), cp(a)).toSeq)
      assert(agg.merge(agg.merge(cp(a), cp(b)), cp(c)).toSeq ===
        agg.merge(cp(a), agg.merge(cp(b), cp(c))).toSeq)
      assert(agg.merge(cp(a), cp(a)).toSeq === a.toSeq)
      assert(agg.merge(cp(a), agg.zero).toSeq === a.toSeq)
      // order invariance of reduce
      assert(sk(xs.reverse).toSeq === a.toSeq)
      if (xs.nonEmpty) assert(MinHashSketchAgg.estimateJaccard(a, sk(xs.reverse)) === 1.0)
    }
  }

  test("property: SpaceSaving sketch is exact below capacity, any split/merge") {
    val agg = new graft.catalyst.TopKSketchAgg(32)
    for (_ <- 1 to 25) {
      // <= 32 distinct terms: the exactness regime, any merge tree.
      val terms = List.fill(200)(s"t${rnd.nextInt(30)}")
      val exact = terms.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val (l, r) = terms.splitAt(rnd.nextInt(terms.size + 1))
      def sk(ts: List[String]) = ts.foldLeft(agg.zero)(agg.reduce)
      val merged = agg.merge(sk(l), sk(r))
      assert(agg.finish(merged).toMap === exact)
      // deterministic presentation: (count desc, term asc)
      val fin = agg.finish(sk(terms))
      assert(fin === fin.sortBy { case (t, c) => (-c, t) })
    }
  }

  test("SpaceSaving sketch above capacity: heavy hitter survives, count overestimates") {
    val agg = new graft.catalyst.TopKSketchAgg(4)
    // 'hot' appears 50x among 10 distinct terms with capacity 4: the
    // guaranteed-present regime (50 > N/capacity), counts overestimate by
    // at most the evicted minimum.
    val stream = rnd.shuffle(
      List.fill(50)("hot") ++ (1 to 20).map(i => s"cold$i"))
    val fin = agg.finish(stream.foldLeft(agg.zero)(agg.reduce)).toMap
    assert(fin.contains("hot"))
    assert(fin("hot") >= 50L && fin("hot") <= 70L) // true + at most N-50 error
    assert(fin.size === 4) // buffer never exceeds capacity
  }

  test("PII redaction order: email scrubbed before the IP pattern can see its domain") {
    import spark.implicits._
    val df = Seq(
      (0L, "mail me at a.b@host12.co or 10.0.0.1 then call +1-555-1234"),
      (1L, "no pii here at all")
    ).toDF("doc_id", "t")
      .withColumn("r",
        regexp_replace(
          regexp_replace(
            regexp_replace(col("t"), graft.ops.TextOps.EmailRe, "<EMAIL>"),
            graft.ops.TextOps.PhoneRe, "<PHONE>"),
          graft.ops.TextOps.Ipv4Re, "<IP>"))
      .orderBy("doc_id").collect()
    assert(df(0).getString(2) ===
      "mail me at <EMAIL> or <IP> then call <PHONE>")
    assert(df(1).getString(2) === "no pii here at all") // zero-match path
  }

  test("gopher rules: first failing rule names the reason, all-pass keeps") {
    val out = Catalog.queries("text_gopher_rules")(spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val keep = r.getBoolean(5)
      val reason = if (r.isNullAt(6)) None else Some(r.getString(6))
      assert(keep === reason.isEmpty, s"keep/fail_reason disagree: $r")
      // reason, when present, must be the FIRST failing rule in order.
      val nWords = r.getInt(1)
      if (nWords < 30) assert(reason.contains("word_count"), s"$r")
    }
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)),
      "thresholds should produce both keeps and rejects on the corpus")
  }

  test("property: salted aggregation equals plain aggregation on random data") {
    import spark.implicits._
    for (_ <- 1 to 5) {
      val rows = List.fill(rnd.nextInt(200) + 1)(
        (Seq("a", "b", "hot")(rnd.nextInt(3)), rnd.nextInt(201) - 100))
      val df = rows.toDF("k", "v")
      val plain = df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val salted = SkewOps.saltedAgg(df, Seq("k"), 4, Seq(
          ("n", count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c)),
          ("s", sum(col("v")), (c: org.apache.spark.sql.Column) => sum(c))))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(salted === plain)
    }
  }

  test("property: BM25 hand-computed scores, tf saturation, length penalty") {
    import spark.implicits._
    import graft.ops.TextOps
    // 4 docs, one interesting term 'x'. dl: 4/4/8/4, total T=20, N=4,
    // avgdl_micro = 5_000_000. Vocabulary by total tf: 'pad' dominates,
    // so skip=1, n=1 selects exactly 'x' (df=3).
    val docs = Seq(
      (0L, "x pad pad pad"),              // tf=1, dl=4
      (1L, "x x pad pad"),                // tf=2, dl=4
      (2L, "x x pad pad pad pad pad pad") // tf=2, dl=8 — longer, penalized
    ).toDF("doc_id", "text")
      .union(Seq((3L, "pad pad pad pad")).toDF("doc_id", "text"))
    val rows = TextOps.bm25TopK(docs, nQueryTerms = 1, skip = 1, topK = 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.forall(_._1 == "x") && rows.length === 3)
    // Replay the exact integer pipeline: T=20,N=4 → avgdl=5e6;
    // ratio = dl*1e12 div 5e6; inner = 250000 + 3*ratio div 4;
    // k1x = 12*inner div 10; denom = tf*1e6 + k1x;
    // tfsat = tf*22e11 div denom; idf = 4e6 div 3;
    // score = tfsat*idf div 1e6.
    def score(tf: Long, dl: Long): Long = {
      val ratio = dl * 1000000000000L / 5000000L
      val inner = 250000L + 3L * ratio / 4L
      val k1x = 12L * inner / 10L
      val denom = tf * 1000000L + k1x
      val tfsat = tf * 2200000L * 1000000L / denom
      val idf = 4000000L / 3L
      tfsat * idf / 1000000L
    }
    val byDoc = rows.map(t => t._3 -> t._6).toMap
    assert(byDoc(0L) === score(1, 4))
    assert(byDoc(1L) === score(2, 4))
    assert(byDoc(2L) === score(2, 8))
    // Monotone in tf at fixed dl; longer doc penalized at equal tf;
    // saturation: doubling tf less than doubles the score.
    assert(byDoc(1L) > byDoc(0L) && byDoc(1L) > byDoc(2L))
    assert(byDoc(1L) < 2L * byDoc(0L))
    // Ranks follow (score desc, doc_id): the extra occurrence in doc 2
    // outweighs its length penalty at these dl values.
    assert(rows.sortBy(_._2).map(_._3).toSeq === Seq(1L, 2L, 0L))
  }
}
