package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.ops.TextOps

/** Index-construction surface over `documents`: the search-index and
  * tokenizer-training artifacts a corpus pipeline materializes beside
  * the training data itself.
  */
object IndexQueries {

  /** Mixed-script fixture suffix for the multiscript gates: accented
    * Latin, uppercase + lowercase Cyrillic, CJK, a script-boundary
    * word, and an accented French word — one deterministic constant
    * appended to every document in BOTH engines. (Defined BEFORE
    * `defs`: the oracle SQL strings interpolate it eagerly at object
    * init.) */
  val MultiScript = "Étude naïve КОСМОС наука 漢字文化 漢字abc café"

  /** Deterministic mojibake fixture: "café élève" after a UTF-8 →
    * Latin-1 mis-decode — three C2/C3+continuation pairs. Written as
    * unicode escapes so the defect is explicit, not invisible in
    * source. (Also BEFORE `defs`: the oracle SQL interpolates it
    * eagerly at object init.) */
  val MojibakeFix =
    "caf\u00c3\u00a9 \u00c3\u00a9l\u00c3\u00a8ve"

  /** HTML wrapper for the strip gate: a style block and a script block
    * whose payloads contain bare '<' (block removal must eat them
    * whole), a comment holding a tag, real tags with attributes, and a
    * trailer exercising the entity set incl. the `&amp;amp;`
    * no-double-decode pin. No single quotes (the SQL literal embeds
    * verbatim); both constants sit BEFORE `defs` (eager-oracle
    * init-order rule). */
  val HtmlPre = "<html><head><style>p {c:1<2}</style>" +
    "<script type=\"a\">if (1 < 2) x();</script></head>" +
    "<body><!-- boiler <b> --><h1>T</h1><p class=\"t\">"
  // The entity tail drives the whole reference grammar cross-engine:
  // named set, decimal + hex numeric (&#8217; / &#x2019; / &#X42;
  // incl. a supplementary plane &#x1F600;), the invalid-code-point →
  // U+FFFD rule (0, surrogate, > 10FFFF in both spellings), malformed
  // forms passing through literally (8 digits, empty, bad hex digit),
  // and the single-pass no-double-decode cases (&amp;amp; → literal
  // &amp;, &#38;lt; → literal &lt;, &amp;#60; → literal &#60;).
  val HtmlPost = " it&#39;s &amp;amp; &lt;kept&gt;&nbsp;. " +
    "n&#8217;r &#x2019; &#X42; &#x1F600; &#0; &#55296; &#1114112; " +
    "&#x110000; &#99999999; &#; &#xG; &amp;#60; &#38;lt; end.</p></body></html>"

  /** Planted-URL fixture shared by `text_url_domains` and
    * `pipeline_robots_filter` (Spark column + SQL table forms built
    * from the same shapes): 3 of 4 docs get a mixed-case co.uk host
    * at the http default port with a fragment, the same .org host at
    * the https default AND a non-default port, an IPv4 literal, one
    * URL twice in different raw spellings, and a host under `co.bw` —
    * a REAL public suffix deliberately outside the static PSL subset,
    * so the documented fallback-to-last-2 boundary is executable:
    * corp0/corp1 group at the wrong `co.bw` grain, and a full-PSL
    * drop-in flips exactly those rows; the rest get nothing. */
  private def urlFixtureCol =
    concat(col("text"),
      when(col("doc_id") % 4 === 3, lit(""))
        .otherwise(concat(
          lit(" http://WWW.Shop"), col("doc_id") % 3,
          lit(".CO.UK:80/p/"), col("doc_id"), lit("#frag"),
          lit(" https://News.Site"), col("doc_id") % 5,
          lit(".org:443/a?q=1"),
          lit(" http://news.site"), col("doc_id") % 5,
          lit(".org:8080/b"),
          lit(" https://10.0.0."), col("doc_id") % 7, lit("/raw"),
          lit(" https://SHARED.Example.com:443/home"),
          lit(" https://shared.example.com/home#x"),
          lit(" http://Sub.Corp"), col("doc_id") % 2,
          lit(".CO.BW/f")))).as("text")

  private val UrlFixtureTable =
    "(SELECT doc_id, text || CASE WHEN doc_id % 4 = 3 THEN ''" +
      " ELSE ' http://WWW.Shop' || (doc_id % 3) ||" +
      " '.CO.UK:80/p/' || doc_id || '#frag' ||" +
      " ' https://News.Site' || (doc_id % 5) || '.org:443/a?q=1' ||" +
      " ' http://news.site' || (doc_id % 5) || '.org:8080/b' ||" +
      " ' https://10.0.0.' || (doc_id % 7) || '/raw' ||" +
      " ' https://SHARED.Example.com:443/home' ||" +
      " ' https://shared.example.com/home#x' ||" +
      " ' http://Sub.Corp' || (doc_id % 2) || '.CO.BW/f' END AS text" +
      " FROM documents)"

  /** One rule constant drives BOTH engines of `pipeline_robots_filter`
    * (host, path pattern, allow). Literal prefixes AND the RFC 9309
    * §2.2.3 wildcard grammar: `*` (any char sequence), trailing `$`
    * (end-of-URL anchor), with a regex metachar (`?`) that the
    * translation must escape. */
  val RobotsRules: Seq[(String, String, Boolean)] = Seq(
    ("www.shop0.co.uk", "/p/", false),
    ("www.shop0.co.uk", "/p/1", true), // longest match re-allows /p/1*
    ("www.shop1.co.uk", "/", false), // block-all
    ("news.site0.org", "/a", false), // matches path+query "/a?q=1"
    ("news.site1.org", "/b", false), // hits only the :8080 canonical
    ("news.site2.org", "/a", false), // exact-length tie with the next:
    ("news.site2.org", "/a", true), //   ALLOW wins (least restrictive)
    ("shared.example.com", "/home", false),
    ("10.0.0.1", "/", false),
    // §2.2.3 wildcards (the /*?sessionid= class a prefix-only
    // frontier over-fetches): `*` + escaped `?` blocks the query
    // URL on site3; the `$` anchor on site4 blocks exactly /b while
    // NOT reaching /a?q=1 (no end match — the negative branch);
    // shop2 combines both: /p/ disallowed, /p/*1$ (longer by the
    // RFC octet count, wildcards counting as themselves) re-allows
    // ids ending in 1.
    ("news.site3.org", "/*?q=", false),
    ("news.site4.org", "/a$", false),
    ("news.site4.org", "/b$", false),
    ("www.shop2.co.uk", "/p/", false),
    ("www.shop2.co.uk", "/p/*1$", true))

  /** The `pipeline_link_graph` / `graph_domain_rank` shared fixture:
    * per page (3 of 4 docs) an absolute href (mixed-case host, :443,
    * fragment), a single-quoted root-relative self link, an
    * uppercase-HREF protocol-relative target, and three unresolvable
    * forms; the fourth doc has no links. */
  private def linkGraphPages(s: org.apache.spark.sql.SparkSession,
                             d: String)
      : org.apache.spark.sql.DataFrame = {
    val pageUrl = concat(lit("https://www.ex"), col("doc_id") % 5,
      lit(".co.uk/p/"), col("doc_id"))
    val html = when(col("doc_id") % 4 === 3,
        concat(lit("<html><body>no links "), col("doc_id"),
          lit("</body></html>")))
      .otherwise(concat(
        lit("<html><body><a href=\"https://News.Site"),
        col("doc_id") % 3, lit(".org:443/a/"), col("doc_id"),
        lit("#x\">n</a> <a href='/local/"), col("doc_id") % 4,
        lit("'>l</a> <a HREF=\"//cdn.assets"), col("doc_id") % 2,
        lit(".com/l.css\">c</a> <a href=\"rel/path\">r</a>" +
          " <a href=\"#top\">t</a>" +
          " <a href=\"mailto:a@b.c\">m</a></body></html>")))
    Tables.documents(s, d)
      .select(col("doc_id"), pageUrl.as("page_url"), html.as("text"))
  }

  /** The fixture's resolved edge list rebuilt from the generation
    * formulas — the `e` body shared by the link-graph oracle and the
    * domain-rank oracle's edge/node derivations. */
  private val LinkEdgesSql: String =
    """SELECT doc_id,
      |   'ex' || (doc_id % 5) || '.co.uk' AS src_domain,
      |   'site' || (doc_id % 3) || '.org' AS dst_domain,
      |   'https://news.site' || (doc_id % 3) || '.org/a/'
      |     || doc_id AS target
      |  FROM (SELECT doc_id FROM documents WHERE doc_id % 4 <> 3)
      |  UNION ALL
      |  SELECT doc_id, 'ex' || (doc_id % 5) || '.co.uk',
      |   'ex' || (doc_id % 5) || '.co.uk',
      |   'https://www.ex' || (doc_id % 5) || '.co.uk/local/'
      |     || (doc_id % 4)
      |  FROM (SELECT doc_id FROM documents WHERE doc_id % 4 <> 3)
      |  UNION ALL
      |  SELECT doc_id, 'ex' || (doc_id % 5) || '.co.uk',
      |   'assets' || (doc_id % 2) || '.com',
      |   'https://cdn.assets' || (doc_id % 2) || '.com/l.css'
      |  FROM (SELECT doc_id FROM documents WHERE doc_id % 4 <> 3)"""
      .stripMargin.replace("\n", "")

  val defs: Seq[QueryDef] = Seq(

    // Inverted-index build: per-term document frequency, total term
    // frequency, and the head of the (doc-id-sorted) posting list. Shape:
    // explode → (term, doc) tf with map-side combine, then ONE shuffle by
    // term that serves both the window (posting rank) and the roll-up —
    // Spark reuses the hashpartitioning, so no second exchange. The
    // posting HEAD is bounded (5 ids) in the gate; a full index build
    // writes the complete list the same way, and hot terms are exactly
    // the stopword class a production index caps or elides (see
    // DedupOps.MaxShingleFreq for the capped pattern).
    QueryDef("text_inverted_index",
      (s, d) => {
        val tf = Tables.documents(s, d)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
          .groupBy(col("term"), col("doc_id"))
          .agg(count(lit(1)).as("tf"))
        val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
        tf.withColumn("rn", row_number().over(w))
          .groupBy(col("term"))
          .agg(count(lit(1)).as("df"),
            sum(col("tf")).as("total_tf"),
            concat_ws(",",
              expr("transform(sort_array(collect_list(CASE WHEN rn <= 5 THEN doc_id END)), x -> CAST(x AS STRING))"))
              .as("postings_head"))
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |  FROM documents),
             | tf AS (SELECT term, doc_id, count(*) AS tf FROM t GROUP BY 1, 2),
             | r AS (SELECT term, doc_id, tf, row_number() OVER (PARTITION BY term
             |  ORDER BY doc_id) AS rn FROM tf)
             | SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
             |  coalesce(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             |    FILTER (rn <= 5), '') AS postings_head
             | FROM r GROUP BY term ORDER BY term""".stripMargin.replace("\n", "")),
      presentOrder = Seq("term")),

    // Phrase search over the positional index — the retrieval consumer of
    // the inverted index: top-2 corpus trigrams (self-derived, no fixture)
    // located by posting-list position intersection (broadcast phrase dim
    // + two (doc, pos+i, term) hash equi-joins), never a rescan of text.
    // The derivation count cross-checks n_hits through a disjoint path.
    QueryDef("text_phrase_search",
      (s, d) => TextOps.phraseSearch(Tables.documents(s, d), "text",
        "doc_id", nPhrases = 2),
      Some(TextOps.phraseSearchSql("documents", nPhrases = 2)),
      presentOrder = Seq("phrase")),

    // BM25 ranked retrieval — the scoring consumer of the inverted index
    // (k1 = 1.2, b = 0.75), libm-free: rational idf N/df and the whole
    // score in integer micro-units with floor division, so every compared
    // cell is BIGINT. Query terms self-derived (vocabulary ranks 11..15
    // by total tf — past the stopword head); production supplies the
    // query list and starts at the broadcast join.
    QueryDef("text_bm25_topk",
      (s, d) => TextOps.bm25TopK(Tables.documents(s, d),
        nQueryTerms = 5, skip = 10, topK = 10),
      Some(TextOps.bm25TopKSql("documents",
        nQueryTerms = 5, skip = 10, topK = 10)),
      presentOrder = Seq("term", "rank")),

    // Reciprocal Rank Fusion (Cormack et al. SIGIR'09) — the standard
    // hybrid-retrieval combiner: a lexical BM25 ranking and an
    // embedding-cosine ranking over the SAME id space fuse by
    // rrf(d) = Σ_arm 1/(60 + rank_arm(d)), here in exact micro floor
    // division so the fused ranking is integer-deterministic. Docs
    // ranked by only one arm still score (the full-outer join) — the
    // property that makes RRF robust to arm-score incomparability.
    // Both arms are existing gated operators; fusion adds one
    // broadcast-sized full-outer join + a 40-row window.
    QueryDef("text_rrf_fusion",
      (s, d) => {
        val lex = TextOps.bm25TopK(Tables.documents(s, d),
            nQueryTerms = 1, skip = 10, topK = 20)
          .select(col("doc_id"), col("rank").cast("long").as("lex_rank"))
        val vec = graft.ops.SimOps.topKBruteForce(Tables.embeddings(s, d),
            col("vec_id") === 0, 20)
          .select(col("neighbor_id").as("doc_id"),
            col("rank").cast("long").as("vec_rank"))
        // One task is correct for the rank: two top-20 lists join to <= 40 rows.
        lex.join(vec, Seq("doc_id"), "full_outer")
          .withColumn("rrf_micro",
            coalesce(expr("1000000L div (60L + lex_rank)"), lit(0L)) +
            coalesce(expr("1000000L div (60L + vec_rank)"), lit(0L)))
          .withColumn("rank", row_number().over(
            Window.orderBy(col("rrf_micro").desc, col("doc_id")))
            .cast("long"))
          .filter(col("rank") <= 10)
          .select(col("rank"), col("doc_id"), col("lex_rank"),
            col("vec_rank"), col("rrf_micro"))
      },
      Some(s"""WITH lex AS (SELECT doc_id, CAST(rank AS BIGINT) AS lex_rank
             |  FROM (${TextOps.bm25TopKSql("documents",
                  nQueryTerms = 1, skip = 10, topK = 20)})),
             | vec AS (SELECT neighbor_id AS doc_id,
             |   CAST(rank AS BIGINT) AS vec_rank
             |  FROM (${graft.ops.SimOps.topKBruteForceSql("embeddings",
                  "vec_id = 0", 20)})),
             | f AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             |   lex_rank, vec_rank,
             |   CAST(COALESCE(1000000 // (60 + lex_rank), 0)
             |     + COALESCE(1000000 // (60 + vec_rank), 0) AS BIGINT)
             |     AS rrf_micro
             |  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
             | SELECT * FROM (SELECT CAST(row_number() OVER (
             |     ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank,
             |   doc_id, lex_rank, vec_rank, rrf_micro FROM f)
             | WHERE rank <= 10 ORDER BY rank""".stripMargin
        .replace("\n", "")),
      presentOrder = Seq("rank")),

    // Multi-term BM25 QUERY top-k with threshold-certified pruning —
    // the batch Fagin/WAND: only the union of per-term top-25 postings
    // is aggregated to doc grain, and the TA bound (Σ of each term's
    // 25th-best score) certifies the candidate top-k as the GLOBAL
    // top-k (strict inequality, so an outside doc cannot even tie in);
    // certificate failure falls back to the full aggregation, so the
    // result is exact either way. The oracle is the brute full-corpus
    // doc-grain sum — equality IS the exactness proof of the pruned
    // path.
    QueryDef("text_bm25_query",
      (s, d) => TextOps.bm25QueryTopK(Tables.documents(s, d),
        nQueryTerms = 5, skip = 10, topK = 10, candPerTerm = 25),
      Some(TextOps.bm25QueryTopKSql("documents",
        nQueryTerms = 5, skip = 10, topK = 10)),
      presentOrder = Seq("rank")),

    // BPE pair counting — the distributed step of tokenizer training:
    // count adjacent sub-word piece pairs over the corpus, emit the
    // top-10 merge candidates. (Full BPE training iterates this count →
    // merge-top-pair loop with a driver-held vocab, re-broadcasting the
    // merge table each round; each round IS this query.) Adjacent pairs
    // come from zip_with over two slices — no index generation, no UDF —
    // then explode → hash-agg → TakeOrderedAndProject.
    QueryDef("text_bpe_top_pairs",
      (s, d) => {
        val piece = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
        Tables.documents(s, d)
          .withColumn("__p", regexp_extract_all(col("text"), lit(piece), lit(0)))
          .withColumn("pair", explode(expr(
            """CASE WHEN size(__p) < 2 THEN array()
               ELSE zip_with(slice(__p, 1, size(__p) - 1),
                             slice(__p, 2, size(__p) - 1),
                             (a, b) -> concat(a, '~', b)) END""")))
          .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(10)
      },
      Some("""WITH p AS (SELECT regexp_extract_all(text,
             |   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') AS p FROM documents),
             | pairs AS (SELECT unnest(list_transform(range(1, len(p)),
             |   i -> p[i] || '~' || p[i+1])) AS pair FROM p),
             | c AS (SELECT pair, count(*) AS cnt FROM pairs GROUP BY pair)
             | SELECT pair, cnt FROM c
             | ORDER BY cnt DESC, pair LIMIT 10""".stripMargin.replace("\n", "")),
      presentOrder = Seq("pair")),

    // The actual tokenizer-training artifact: 3 driver-iterated merge
    // rounds (count → adopt top pair → greedy rewrite → recount), gated
    // on the adopted merges AND the re-tokenized corpus (piece total +
    // order-independent fingerprint). The oracle replays the identical
    // loop as chained CTEs with a list_reduce fold.
    QueryDef("text_bpe_merges",
      (s, d) => graft.ops.TextOps.bpeTrain(Tables.documents(s, d), rounds = 3),
      Some(graft.ops.TextOps.bpeTrainSql("documents", rounds = 3)),
      presentOrder = Seq("merge_round")),

    // Tokenizer APPLY: the per-document corpus after the trained merges
    // (piece count + per-doc fingerprint) — the train-then-apply
    // composition a tokenizer deployment actually runs.
    QueryDef("text_bpe_apply",
      (s, d) => graft.ops.TextOps.bpeApply(Tables.documents(s, d), rounds = 3),
      Some(graft.ops.TextOps.bpeApplySql("documents", rounds = 3)),
      presentOrder = Seq("doc_id")),

    // WordPiece vocab training (Schuster–Nakajima / BERT convention):
    // per position class (word-initial vs ##-continuation), the top-24
    // corpus substrings of length 2..4 by occurrence count — the
    // trained artifact the apply gate consumes. One substring explode →
    // hash-agg (map-side combined, vocabulary-bounded) → two bounded
    // rank windows; (freq DESC, piece ASC) is a deterministic total
    // order, so the table is engine-exact.
    QueryDef("text_wordpiece_vocab",
      (s, d) => graft.ops.TextOps.wordPieceVocab(Tables.documents(s, d)),
      Some(graft.ops.TextOps.wordPieceVocabSql("documents")),
      presentOrder = Seq("class", "rnk")),

    // WordPiece APPLY — greedy longest-match-first (max-munch)
    // segmentation of every word against the trained vocab + the
    // unconditional [a-z0-9] singles, >16-char words → [UNK] (the
    // published long-word rule): the BERT-family tokenizer surface
    // complementing BPE's merge-list tokenizer. The greedy loop is a
    // codegen'd HOF fold over a boundary array on the DISTINCT-word
    // frame (Heaps-law-bounded) with the vocab as ONE broadcast array
    // row — no UDF, no driver collect; occurrences pay only an
    // equi-join and the order-sensitive fingerprint hash-agg.
    QueryDef("text_wordpiece",
      (s, d) => graft.ops.TextOps.wordPiece(Tables.documents(s, d)),
      Some(graft.ops.TextOps.wordPieceSql("documents")),
      presentOrder = Seq("doc_id")),

    // OPTIMAL segmentation by dynamic programming — the Viterbi
    // inference of the SentencePiece/unigram family under the integer
    // objective (min pieces, tie-break max total piece frequency),
    // same trained vocab as the greedy gate plus scored singles:
    // per word, n_pieces here <= the greedy max-munch count (the
    // spec-pinned minimality invariant). The DP is one codegen'd HOF
    // fold per DISTINCT word over a 17-slot cost array; vocab+freqs
    // ride as two piece-ASC-aligned broadcast arrays. Tie-safe output:
    // (n_pieces, score_total) is unique even when several segmentations
    // attain the optimum.
    QueryDef("text_viterbi_segment",
      (s, d) => graft.ops.TextOps.viterbiSegment(Tables.documents(s, d)),
      Some(graft.ops.TextOps.viterbiSegmentSql("documents")),
      presentOrder = Seq("doc_id")),

    // Multilingual degrade drive for the WordPiece family (round-11
    // verdict gap 3): every document gets a mixed-script suffix —
    // accented Latin ("naïve" splits at the accent into na / [UNK] /
    // ve), uppercase Cyrillic (NO case mapping outside ASCII, so
    // КОСМОС never equals космос), CJK runs, and a script-boundary
    // word (漢字abc splits into a CJK run + an ASCII word). The old
    // extraction dropped every non-ASCII run silently (n_words
    // reported multilingual docs as near-empty); this gate pins the
    // honest behavior cross-engine: non-ASCII runs are COUNTED words
    // that tokenize to [UNK] unless the trained multi-char pieces
    // cover them, all visible in n_words / n_unk / doc_fp.
    QueryDef("text_wordpiece_multiscript",
      (s, d) => graft.ops.TextOps.wordPiece(
        Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(" " + MultiScript)).as("text"))),
      Some(graft.ops.TextOps.wordPieceSql(
        s"(SELECT doc_id, text || ' $MultiScript' AS text" +
          " FROM documents)")),
      presentOrder = Seq("doc_id")),

    // The same drive through the Viterbi DP, which degrades DIFFERENTLY
    // by design: its scored vocab carries ALL single chars WITH real
    // corpus counts (not just the ASCII alphabet), so a CJK run
    // segments into per-character pieces — the SentencePiece-style
    // character fallback — where the greedy gate emits one [UNK].
    // Both behaviors are pinned cross-engine; the per-word
    // n_viterbi <= n_greedy invariant is claimed for ASCII words only
    // (an [UNK] counts 1 piece, a char-fallback run counts its
    // length).
    QueryDef("text_viterbi_multiscript",
      (s, d) => graft.ops.TextOps.viterbiSegment(
        Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(" " + MultiScript)).as("text"))),
      Some(graft.ops.TextOps.viterbiSegmentSql(
        s"(SELECT doc_id, text || ' $MultiScript' AS text" +
          " FROM documents)")),
      presentOrder = Seq("doc_id")),

    // And through BPE, whose piece alphabet was ALREADY multilingual-
    // honest (BpePieceRe gives every non-alnum char its own single-
    // char piece — the GPT-2-style byte/char fallback): a CJK or
    // Cyrillic run enters as per-char pieces that the learned merges
    // may or may not fuse. Pinned cross-engine so the three tokenizer
    // families' distinct degrade modes ([UNK] / char-fallback /
    // char-pieces) are all gated on the same fixture.
    QueryDef("text_bpe_multiscript",
      (s, d) => graft.ops.TextOps.bpeApply(
        Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(" " + MultiScript)).as("text")),
        rounds = 3),
      Some(graft.ops.TextOps.bpeApplySql(
        s"(SELECT doc_id, text || ' $MultiScript' AS text" +
          " FROM documents)", rounds = 3)),
      presentOrder = Seq("doc_id")),

    // Per-doc SCRIPT histogram — the multilingual-observability panel
    // beside language-ID: codepoint counts per script class (ASCII /
    // extended Latin / Cyrillic / CJK / other) + the dominant class.
    // Run over the mixed-script frame so the distribution is
    // nontrivial; pure codegen'd per-row string ops (regexp_replace +
    // length), no explode, no shuffle beyond the scan — the shape that
    // profiles 100 TB in one pass. A pipeline that silently drops or
    // mangles a script (the round-11 tokenizer gap) shows here as a
    // corpus-level shift BEFORE any model does.
    QueryDef("text_script_profile",
      (s, d) => graft.ops.TextOps.scriptProfile(
        Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(" " + MultiScript)).as("text"))),
      Some(graft.ops.TextOps.scriptProfileSql(
        s"(SELECT doc_id, text || ' $MultiScript' AS text" +
          " FROM documents)")),
      presentOrder = Seq("doc_id")),

    // Mojibake (double-encoding) detector — the web-crawl intake probe
    // for UTF-8 read as Latin-1: every third doc gets a synthesized
    // mojibake suffix ("cafÃ© Ã©lÃ¨ve", three C2/C3+continuation
    // pairs), the rest carry the CORRECTLY-encoded multiscript suffix
    // (é, café — zero pairs), so the gate pins both that defects are
    // caught and that clean accents are NOT false-flagged. Single
    // codegen'd regex-count pass per row.
    QueryDef("text_mojibake",
      (s, d) => graft.ops.TextOps.mojibakeProfile(
        Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0, lit(" " + MojibakeFix))
              .otherwise(lit(" " + MultiScript))).as("text"))),
      Some(graft.ops.TextOps.mojibakeProfileSql(
        s"(SELECT doc_id, text || CASE WHEN doc_id % 3 = 0" +
          s" THEN ' $MojibakeFix' ELSE ' $MultiScript' END AS text" +
          " FROM documents)")),
      presentOrder = Seq("doc_id")),

    // HTML -> text strip — the FIRST transform of every crawl intake:
    // script/style/comment blocks removed whole (their payload holds
    // bare '<' that is not markup), remaining tags stripped, character
    // references decoded in ONE single pass (named set + decimal/hex
    // numeric with the U+FFFD invalid rule — HtmlEntityDecode; the
    // single pass IS the no-double-decode order: "&amp;amp;" comes out
    // as the literal "&amp;"), whitespace collapsed. Gated over
    // per-doc documents wrapped in a real HTML shell whose tail
    // exercises the full reference grammar (see HtmlPost); the oracle
    // replays the identical semantics via split/decode/reassemble, so
    // any ordering, greediness, or code-point bug in either engine
    // breaks the cleaned-text fingerprint.
    QueryDef("text_html_strip",
      (s, d) => graft.ops.TextOps.htmlStrip(
        Tables.documents(s, d).select(col("doc_id"),
          concat(lit(HtmlPre), coalesce(col("text"), lit("")),
            lit(HtmlPost)).as("text"))),
      Some(graft.ops.TextOps.htmlStripSql(
        s"(SELECT doc_id, '$HtmlPre' || COALESCE(text, '')" +
          s" || '$HtmlPost' AS text FROM documents)")),
      presentOrder = Seq("doc_id")),

    // URL / link-density profile — the spam and boilerplate signal
    // every crawl quality classifier carries (link farms are mostly
    // URLs by volume): URL count, DISTINCT host count, link-density
    // permille, one codegen'd pass per row. Two formula-varying URLs
    // planted on two thirds of the docs (hosts always distinct), the
    // remaining third none — both branches and the zero case gated.
    QueryDef("text_url_profile",
      (s, d) => graft.ops.TextOps.urlProfile(
        Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 2, lit(""))
              .otherwise(concat(lit(" see https://ex"),
                col("doc_id") % 5, lit(".org/a/"), col("doc_id"),
                lit(" and http://www.site"), col("n_chars") % 3,
                lit(".com/x")))).as("text"))),
      Some(graft.ops.TextOps.urlProfileSql(
        "(SELECT doc_id, text || CASE WHEN doc_id % 3 = 2 THEN ''" +
          " ELSE ' see https://ex' || (doc_id % 5) || '.org/a/'" +
          " || doc_id || ' and http://www.site' || (n_chars % 3)" +
          " || '.com/x' END AS text FROM documents)")),
      presentOrder = Seq("doc_id")),

    // URL canonicalization + registrable-domain roll-up — the crawl
    // frontier / URL-dedup key (round-12 verdict #3). The fixture
    // plants, on 3 of every 4 docs: a mixed-case co.uk host with the
    // http default port AND a fragment (all three canonical rules at
    // once), the same .org host once at the https default port and
    // once at a NON-default port (same host, different canonicals —
    // :8080 must survive), an IPv4 literal (its own domain), and one
    // URL twice in different raw spellings (case + :443 + fragment)
    // that must collapse to ONE canonical. The remaining quarter
    // plants nothing, so extraction zeros are exercised too.
    QueryDef("text_url_domains",
      (s, d) => graft.ops.TextOps.urlDomains(
        Tables.documents(s, d).select(col("doc_id"), urlFixtureCol)),
      Some(graft.ops.TextOps.urlDomainsSql(UrlFixtureTable)),
      presentOrder = Seq("domain")),

    // robots.txt longest-match filter (RFC 9309 §2.2.2 precedence +
    // §2.2.3 wildcards) over the same planted-URL corpus — the
    // frontier's fetch/skip decision. The rule set (ONE constant
    // driving both engines) exercises: longest-match allow override
    // under a shorter disallow (/p/ blocked, /p/1 re-allowed —
    // doc_ids starting with digit 1 split from the rest), a
    // block-all root rule, a rule matching path+query, a rule
    // hitting only the non-default-port canonical, an exact-length
    // tie resolved to ALLOW, an IPv4 host rule, unlisted hosts
    // falling through to the implicit allow-all with an empty rule,
    // and the wildcard grammar: `/*?q=` (a `*` plus a regex
    // metachar the translation must escape), `$` end anchors in
    // both the matching and NON-matching direction, and a combined
    // `/p/*1$` allow overriding a shorter literal disallow by the
    // RFC octet count.
    QueryDef("pipeline_robots_filter",
      (s, d) => {
        import s.implicits._
        graft.ops.TextOps.robotsFilter(
          Tables.documents(s, d).select(col("doc_id"), urlFixtureCol),
          RobotsRules.toDF("host", "pattern", "allow"))
      },
      Some(graft.ops.TextOps.robotsFilterSql(UrlFixtureTable,
        RobotsRules.map { case (h, p, a) => s"('$h', '$p', $a)" }
          .mkString(", "))),
      presentOrder = Seq("doc_id", "url_canon")),

    // Frontier roll-up — the composition a fetch scheduler consumes:
    // robots decisions grouped per registrable domain into
    // fetchable/blocked counts, distinct hosts, and the first allowed
    // URL (NULL for fully-blocked domains — shop1.co.uk's block-all
    // rule makes that branch non-vacuous on this fixture).
    QueryDef("pipeline_crawl_frontier",
      (s, d) => {
        import s.implicits._
        graft.ops.TextOps.crawlFrontier(
          Tables.documents(s, d).select(col("doc_id"), urlFixtureCol),
          RobotsRules.toDF("host", "pattern", "allow"))
      },
      Some(graft.ops.TextOps.crawlFrontierSql(UrlFixtureTable,
        RobotsRules.map { case (h, p, a) => s"('$h', '$p', $a)" }
          .mkString(", "))),
      presentOrder = Seq("domain")),

    // Domain-grain link graph from HTML — the edge table that seeds
    // pagerank/HITS in a real crawl (the graph stack's gates consume
    // exactly this roll-up shape). Fixture per page (3 of 4 docs; the
    // fourth has no links — the zero case): an absolute href with a
    // mixed-case host, an explicit :443, and a fragment (all three
    // canonical rules on the TARGET), a single-quoted root-relative
    // href resolving against the page's own host (self-edge — the
    // template-navigation signal), an uppercase-HREF protocol-relative
    // target taking the source scheme, and three UNRESOLVABLE forms
    // (relative path, bare fragment, mailto) that must drop. The
    // oracle rebuilds the edge list from the generation formulas and
    // aggregates identically — a resolution slip, a canonical miss,
    // or an over-extracted href lands in the counts.
    QueryDef("pipeline_link_graph",
      (s, d) => graft.ops.TextOps.htmlLinkGraph(linkGraphPages(s, d)),
      Some(s"""WITH e AS ($LinkEdgesSql)
              | SELECT src_domain, dst_domain,
              |  CAST(count(*) AS BIGINT) AS n_links,
              |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages,
              |  CAST(count(DISTINCT target) AS BIGINT) AS n_targets
              | FROM e GROUP BY 1, 2
              | ORDER BY src_domain, dst_domain""".stripMargin
        .replace("\n", "")),
      presentOrder = Seq("src_domain", "dst_domain")),

    // Domain PageRank over the crawled link graph — the loop CLOSED:
    // crawl bytes → href extraction/resolution → domain edges →
    // damped PageRank, the reputation score a frontier uses to
    // prioritize fetches and a curation pass uses to weight sources.
    // Reuses GraphOps.pageRank (exact-integer micro-unit damping, one
    // shuffle per round) on the link-graph fixture's distinct domain
    // pairs — node ids here are STRINGS, which the operator is
    // agnostic to (same join/agg plan as the k-NN gates). Oracle:
    // the same unrolled-CTE replay over the formula edge list.
    QueryDef("graph_domain_rank",
      (s, d) => {
        // localCheckpoint: the regex href-extraction pipeline feeds the
        // edge table AND the node derivation inside every unrolled
        // pageRank round — unmaterialized it re-executed ~8× (eo build
        // 2×, nodes 2× per round × 3 rounds; the 1042-line r14 plan).
        // The resolved link graph is a tiny (page, src, dst) frame;
        // checkpointing it runs the extraction exactly once.
        val lg = graft.ops.TextOps.htmlLinkGraph(linkGraphPages(s, d))
          .localCheckpoint()
        val edges = lg.select(col("src_domain").as("src"),
          col("dst_domain").as("dst"))
        val nodes = edges.select(col("src").as("node_id"))
          .union(edges.select(col("dst"))).distinct()
        graft.ops.GraphOps.pageRank(nodes, edges)
      },
      Some {
        val edgeSql = s"SELECT DISTINCT src_domain AS src," +
          s" dst_domain AS dst FROM ($LinkEdgesSql)"
        graft.ops.GraphOps.pageRankSql(
          s"SELECT DISTINCT node_id FROM (SELECT src AS node_id" +
            s" FROM ($edgeSql) UNION ALL SELECT dst FROM ($edgeSql))",
          edgeSql)
      },
      presentOrder = Seq("node_id")),

    // Sitemap inventory (sitemaps.org) — the frontier's third input
    // beside page links and redirects: per-site URL inventories with
    // lastmod freshness hints. Fixture per doc (3 of 4): a urlset
    // with two <url> blocks — one loc whitespace-padded, mixed-case
    // host, explicit :443 (trim + both canonical rules), with a
    // formula lastmod; one plain loc with a fragment and NO lastmod
    // (the ''-absent branch). The fourth doc is a sitemapindex —
    // legally zero <url> blocks, zero rows. Oracle rebuilds the
    // inventory from the formulas.
    QueryDef("text_sitemap",
      (s, d) => {
        val xml = when(col("doc_id") % 4 === 3,
            concat(lit("<?xml version=\"1.0\"?><sitemapindex><sitemap>" +
              "<loc>https://idx"), col("doc_id"),
              lit(".org/s.xml</loc></sitemap></sitemapindex>")))
          .otherwise(concat(
            lit("<?xml version=\"1.0\"?><urlset><url><loc> " +
              "https://www.Shop"), col("doc_id") % 3,
            lit(".CO.UK:443/p/"), col("doc_id"),
            lit(" </loc><lastmod>2026-0"), col("doc_id") % 9 + 1,
            lit("-01</lastmod></url><url><loc>https://News.Site"),
            col("doc_id") % 5, lit(".org/a/"), col("doc_id"),
            lit("#frag</loc></url></urlset>")))
        graft.ops.TextOps.sitemapUrls(Tables.documents(s, d)
          .select(col("doc_id"), xml.as("text")))
      },
      Some("""WITH d AS (SELECT doc_id FROM documents
             |   WHERE doc_id % 4 <> 3),
             | u AS (
             |  SELECT doc_id,
             |   'https://www.shop' || (doc_id % 3) || '.co.uk/p/'
             |     || doc_id AS url_canon,
             |   'shop' || (doc_id % 3) || '.co.uk' AS domain,
             |   '2026-0' || ((doc_id % 9) + 1) || '-01' AS lastmod
             |  FROM d
             |  UNION ALL
             |  SELECT doc_id,
             |   'https://news.site' || (doc_id % 5) || '.org/a/'
             |     || doc_id,
             |   'site' || (doc_id % 5) || '.org', ''
             |  FROM d)
             | SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
             |  CAST(count(DISTINCT url_canon) AS BIGINT)
             |    AS n_unique_urls,
             |  max(lastmod) AS latest_lastmod,
             |  min(url_canon) AS first_url
             | FROM u GROUP BY domain ORDER BY domain""".stripMargin
        .replace("\n", "")),
      presentOrder = Seq("domain")),

    // Anchor-text corpus — the classic link-text signal (terms in
    // <a> elements describe the TARGET page; rankers and link-text
    // corpora train on exactly this roll-up). Fixture per page (3 of
    // 4): an external anchor whose inner text carries a NESTED tag
    // the strip must eat and a formula-varying term, a single-quoted
    // root-relative self anchor, and a fragment anchor that must
    // drop. Oracle rebuilds (dst_domain, term) mentions from the
    // formulas — an extraction slip, a missed tag strip, or a
    // resolution miss changes a count.
    QueryDef("text_anchor_text",
      (s, d) => {
        val pageUrl = concat(lit("https://www.src"), col("doc_id") % 4,
          lit(".co.uk/p/"), col("doc_id"))
        val html = when(col("doc_id") % 4 === 3, lit("<p>no anchors</p>"))
          .otherwise(concat(
            lit("<p><a href=\"https://Target.T"), col("doc_id") % 3,
            lit(".org/x\">Best <b>Deal</b> "), col("doc_id") % 5,
            lit("</a> noise <a href='/self'>Home  Page</a>" +
              " <a href=\"#f\">skip</a></p>")))
        graft.ops.TextOps.anchorText(Tables.documents(s, d)
          .select(col("doc_id"), pageUrl.as("page_url"),
            html.as("text")))
      },
      Some("""WITH d AS (SELECT doc_id FROM documents
             |   WHERE doc_id % 4 <> 3),
             | a AS (
             |  SELECT doc_id, 't' || (doc_id % 3) || '.org' AS dst,
             |   'best' AS term FROM d
             |  UNION ALL
             |  SELECT doc_id, 't' || (doc_id % 3) || '.org', 'deal'
             |  FROM d
             |  UNION ALL
             |  SELECT doc_id, 't' || (doc_id % 3) || '.org',
             |   CAST(doc_id % 5 AS VARCHAR) FROM d
             |  UNION ALL
             |  SELECT doc_id, 'src' || (doc_id % 4) || '.co.uk',
             |   'home' FROM d
             |  UNION ALL
             |  SELECT doc_id, 'src' || (doc_id % 4) || '.co.uk',
             |   'page' FROM d)
             | SELECT dst AS dst_domain, term,
             |  CAST(count(*) AS BIGINT) AS n_mentions,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages
             | FROM a GROUP BY 1, 2
             | ORDER BY dst_domain, term""".stripMargin
        .replace("\n", "")),
      presentOrder = Seq("dst_domain", "term"))
  )
}
