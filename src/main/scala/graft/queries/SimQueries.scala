package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.ops.{GraphOps, SimOps}

/** Similarity-search surface over `embeddings` (north star):
  * brute-force cosine top-k (exact baseline) and random-hyperplane
  * LSH-bucketed approximate top-k (the 100 TB scale path).
  */
object SimQueries {

  val K = 10
  val Dim = 64
  /** Queries = the first 10 vectors; predicate kept SQL-expressible. */
  val QueryPredSql = "vec_id < 10"
  /** 8 independent LSH tables × 4 planes (16 buckets each): measured
    * recall@10 = 0.67 (sf0.01) / 0.70 (sf0.1) on the synthetic
    * near-uniform corpus — a single 6-plane table measured 0.06 because
    * one ~n/64 bucket cannot even fill k. Floor gated by
    * `sim_recall_audit`. */
  val LshTabs = SimOps.lshTables(tables = 8, planes = 4, dim = 64)
  /** IVF coarse quantizer: 32 cells, 10 probed per query (~31% of the
    * corpus scanned). Cells are k-means-TRAINED (4 exact-integer Lloyd
    * rounds on NORMALIZED vectors, hash-seeded init) rather than a raw
    * vector sample: trained cells track the data distribution, so the
    * same nprobe budget scans better-matched candidates. Training reads
    * at most 256·c hash-ordered vectors (`SimOps.IvfTrainCap` — the
    * FAISS sample rule), so train cost is corpus-size-free. The
    * IvfSweep drive (SURVEY.md) showed FINER cells at a fixed scan fraction are
    * the recall lever (25% scan: 16/4 = 0.56 vs 32/8 = 0.69 at sf0.01)
    * while extra train rounds are flat; 32/10 measured recall@10
    * 0.71 / 0.73 / 0.69 at sf0.001/0.01/0.1 (old 16/4: 0.65/0.56/0.58). */
  val Cells = 32
  val NProbe = 10
  val IvfTrainRounds = 4
  /** PQ-ADC search index: 16 subspaces × 32 centroids on the normalized
    * corpus, 100-deep ADC shortlist exactly re-ranked (measured recall@10
    * = 0.95 at sf0.01). Distinct knobs from the storage-quantization gate
    * `sim_quantize_pq` (8×16 on raw vectors): search wants finer codes. */
  val PqM = 16
  val PqK = 32
  val PqShortlist = 100
  /** k-NN graph degree: enough for cluster linkage, small enough that
    * the graph stays O(n·KnnK) rows. */
  val KnnK = 5
  /** NSW beam search (`sim_topk_graph`): navigates a DENSER k-NN graph
    * than the analytics stack's KnnK=5 — degree is the recall lever
    * (measured at sf0.1: 0.53 on degree-5 vs 0.84 on degree-10 at the
    * same beam budget, matching the NSW/HNSW guidance of degree ≈
    * 2·ef/…); 16 shared hash-ordered entry points, beam 16, 5 expansion
    * rounds; the query's own node stays in the walk (dropped only from
    * the final ranking) so its neighborhood is always expandable.
    * Visited set ≈ entries + rounds·beam·degree per query —
    * corpus-size-free. Measured recall@10: 1.00 / 1.00 / 0.94 at
    * sf0.001/0.01/0.1; floor gated in `sim_recall_audit`. */
  val GraphDegree = 10
  val GraphBeam = 16
  val GraphRounds = 5
  val GraphEntries = 16
  // HNSW: 2 descent rounds over the hash-level layers replace 2 of
  // NSW's base rounds (5 -> 3) and 4 entry points replace 16 — the
  // hierarchical entry point does the navigation work. The LAST
  // descent runs at 2x the descent beam (round-11): measured recall
  // 0.98 / 0.98 / 0.94 at sf0.001/0.01/0.1 (was 0.97/0.99/0.88),
  // now matching NSW's full-budget walk, so the floor sits at 0.8.
  val HnswBaseRounds = 3
  val HnswEntries = 4
  val HnswLayerDeg = 6
  val HnswFloor = 0.8
  /** Hard-negative band: cosine in [0.25, 0.45) — above the unrelated
    * floor (top-5 cosines on this corpus span 0.22–0.49), below the
    * 0.45 near-dup cutoff (`DedupQueries.CosineThreshold`) so true
    * duplicates never become training negatives. 3 negatives/anchor. */
  val HnLo = 0.25
  val HnHi = 0.45
  val HnN = 3
  /** k-means: 8 clusters, 2 Lloyd rounds — enough to move every centroid
    * off its seed vector while keeping the unrolled oracle CTE chain
    * readable. */
  val KmK = 8
  val KmRounds = 2
  /** Recall floors: comfortably below measured (0.67 lsh / 0.69+ ivf /
    * 0.95 pq) so corpus jitter passes, high enough that a cratered index
    * fails. The ivf/ivfpq floors rose 0.35/0.30 → 0.45/0.40 when the
    * trained coarse quantizer landed, then 0.45 → 0.6 with the finer
    * 32-cell quantizer. */
  val LshFloor = 0.5
  val IvfFloor = 0.6
  val PqFloor = 0.7
  /** Comfortably below the measured 0.94 sf0.1 worst case, far above
    * a cratered navigation (degree-5 without the self-node-in-walk fix
    * measured 0.53). */
  val GraphFloor = 0.7
  /** IVF-PQ: RESIDUAL encoding (round 9 — PQ codes quantize
    * ne − cc(cell), the FAISS IndexIVFPQ recipe) plus a 200-deep ADC
    * shortlist push recall to the IVF cell-pruning ceiling: measured
    * 0.71/0.73/0.68 across SFs vs ivf's 0.71/0.73/0.69 — the PQ
    * ordering now costs ≈ nothing; the floor rose 0.55 → 0.65. */
  val IvfPqFloor = 0.65
  /** IVF-PQ's own ADC shortlist: deeper than the flat-PQ arm's 100
    * because candidates arrive pre-pruned to nprobe cells — the extra
    * exact re-ranks are cheap and buy the last recall points at the
    * larger SFs. */
  val IvfPqShortlist = 200

  val defs: Seq[QueryDef] = Seq(

    QueryDef("sim_topk_brute",
      (s, d) => {
        SimOps.bruteTopKCached(Tables.embeddings(s, d), col("vec_id") < 10,
          K, predTag = "vec_id<10")
      },
      Some(SimOps.topKBruteForceSql("embeddings", QueryPredSql, K)),
      presentOrder = Seq("query_id", "rank")),

    // MIPS — top-k by INNER PRODUCT (the recommender/retrieval scoring
    // where un-normalized magnitude matters), via the Bachrach et al.
    // norm-augmentation reduction: one extra component makes every
    // database vector the same length, so cosine order ≡ inner-product
    // order and MIPS rides every cosine-ANN path (LSH/IVF/PQ) with NO
    // new index. Spark ranks by inner product and AUDITS the reduction
    // per query (augmented-cosine top-k set ≡ ip top-k set, double
    // precision); the oracle re-ranks by raw inner product and pins the
    // audit TRUE.
    QueryDef("sim_topk_mips",
      (s, d) => {
        SimOps.topKMips(Tables.embeddings(s, d), col("vec_id") < 10, K)
      },
      Some(SimOps.topKMipsSql("embeddings", QueryPredSql, K)),
      presentOrder = Seq("query_id", "rank")),

    QueryDef("sim_topk_lsh",
      (s, d) => {
        SimOps.topKLshMulti(Tables.embeddings(s, d), col("vec_id") < 10, K, LshTabs)
      },
      Some(SimOps.topKLshMultiSql("embeddings", QueryPredSql, K, LshTabs)),
      presentOrder = Seq("query_id", "rank")),

    QueryDef("sim_topk_ivf",
      (s, d) => {
        SimOps.topKIvf(Tables.embeddings(s, d), col("vec_id") < 10, K,
          c = Cells, nprobe = NProbe, trainRounds = IvfTrainRounds,
          dim = Dim)
      },
      Some(SimOps.topKIvfSql("embeddings", QueryPredSql, K,
        c = Cells, nprobe = NProbe, trainRounds = IvfTrainRounds,
        dim = Dim)),
      presentOrder = Seq("query_id", "rank")),

    QueryDef("sim_quantize",
      (s, d) => SimOps.quantizeInt8(Tables.embeddings(s, d)),
      Some(SimOps.quantizeInt8Sql("embeddings")),
      presentOrder = Seq("vec_id")),

    // Product quantization: 8 subspaces × 16 centroids over the 64-dim
    // embeddings — codebook assignment (one code per subspace) plus the
    // reconstruction-error audit in order-free integer micro-units.
    QueryDef("sim_quantize_pq",
      (s, d) => {
        SimOps.quantizePq(Tables.embeddings(s, d), m = 8, k = 16, dim = 64)
      },
      Some(SimOps.quantizePqSql("embeddings", m = 8, k = 16, dim = 64)),
      presentOrder = Seq("vec_id")),

    // Recall@k quality gate: hash-exact matched/total/recall per method,
    // plus the floor boolean the oracle pins to TRUE — a plane/centroid/
    // knob change that craters approximate-index recall goes red here
    // even though the per-method results themselves stay deterministic.
    QueryDef("sim_recall_audit",
      (s, d) => {
        SimOps.recallAudit(Tables.embeddings(s, d), col("vec_id") < 10, K,
          LshTabs, Cells, NProbe, PqM, PqK, Dim, PqShortlist,
          LshFloor, IvfFloor, PqFloor, IvfPqFloor,
          ivfTrainRounds = IvfTrainRounds,
          graphParams = Some((GraphDegree, GraphBeam, GraphRounds,
            GraphEntries, GraphFloor)),
          ivfpqShortlist = IvfPqShortlist,
          hnswParams = Some((GraphDegree, GraphBeam, HnswBaseRounds,
            HnswEntries, HnswLayerDeg, HnswFloor)),
          bruteTag = "vec_id<10")
      },
      Some(SimOps.recallAuditSql("embeddings", QueryPredSql, K,
        LshTabs, Cells, NProbe, PqM, PqK, Dim, PqShortlist,
        ivfTrainRounds = IvfTrainRounds,
        graphParams =
          Some((GraphDegree, GraphBeam, GraphRounds, GraphEntries)),
        ivfpqShortlist = IvfPqShortlist,
        hnswParams = Some((GraphDegree, GraphBeam, HnswBaseRounds,
          HnswEntries, HnswLayerDeg)))),
      presentOrder = Seq("method")),

    // NSW-style graph ANN: beam search over the corpus k-NN graph — the
    // missing member of the modern ANN family beside LSH/IVF/PQ. Fixed
    // entry points (hash-ordered, the IVF-init rule), 4 beam-expansion
    // rounds through the symmetrized adjacency, exact cosine scoring of
    // candidates only; the oracle replays every round as MATERIALIZED
    // CTEs (the kCore pattern). Cost is rounds·beam·degree·|queries|
    // slim rows — never corpus².
    QueryDef("sim_topk_graph",
      (s, d) => {
        SimOps.topKGraphBeam(Tables.embeddings(s, d), col("vec_id") < 10,
          K, SimOps.knnEdgesCached(Tables.embeddings(s, d), GraphDegree,
            LshTabs),
          GraphBeam, GraphRounds, GraphEntries)
      },
      Some(SimOps.topKGraphBeamSql("embeddings", QueryPredSql, K,
        GraphDegree, LshTabs, GraphBeam, GraphRounds, GraphEntries)),
      presentOrder = Seq("query_id", "rank")),

    // HNSW: hierarchical layers over the NSW base walk (Malkov &
    // Yashunin TPAMI'18) — geometric hash levels (P(lvl >= l) = 4^-l),
    // each upper layer its OWN k-NN graph over its level subset (the
    // batch reshape of sequential inserts; total build <= 1.33x the
    // base), hash entries at the top layer, one narrow descent round
    // per layer, then the base beam search with 3 rounds instead of
    // NSW's 5 — the hierarchical entry point lands the walk near the
    // query, so base hops shrink while the audit floor holds at 0.7.
    // Oracle unrolls the full descent+base schedule as MATERIALIZED
    // CTEs.
    QueryDef("sim_topk_hnsw",
      (s, d) => {
        SimOps.topKHnsw(Tables.embeddings(s, d), col("vec_id") < 10,
          K, SimOps.knnEdgesCached(Tables.embeddings(s, d), GraphDegree,
            LshTabs),
          GraphBeam, HnswBaseRounds, HnswEntries, HnswLayerDeg, LshTabs)
      },
      Some(SimOps.topKHnswSql("embeddings", QueryPredSql, K,
        GraphDegree, LshTabs, GraphBeam, HnswBaseRounds, HnswEntries,
        HnswLayerDeg)),
      presentOrder = Seq("query_id", "rank")),

    // PQ-ADC quantized search: codes-only asymmetric-distance scan (the
    // 32-byte-per-vector memory story) -> 100-deep shortlist -> exact
    // cosine re-rank, same output contract as the other top-k methods.
    QueryDef("sim_topk_pq",
      (s, d) => {
        SimOps.topKPqAdc(Tables.embeddings(s, d), col("vec_id") < 10, K,
          PqM, PqK, Dim, PqShortlist)
      },
      Some(SimOps.topKPqAdcSql("embeddings", QueryPredSql, K,
        PqM, PqK, Dim, PqShortlist)),
      presentOrder = Seq("query_id", "rank")),

    // SQ8 quantized-scan search: the corpus scanned as signed-byte codes +
    // one scale per vector (4× less I/O than floats, far better fidelity
    // than PQ's 16 bytes), integer-exact approximate-dot shortlist, exact
    // cosine re-rank — FAISS's SQ8 flat index re-expressed relationally.
    QueryDef("sim_topk_int8",
      (s, d) => {
        SimOps.topKInt8(Tables.embeddings(s, d), col("vec_id") < 10, K,
          PqShortlist)
      },
      Some(SimOps.topKInt8Sql("embeddings", QueryPredSql, K, PqShortlist)),
      presentOrder = Seq("query_id", "rank")),

    // Incremental IVF-PQ index maintenance: centroids + codebook frozen
    // from the already-indexed 80%, only the arriving 20% batch is
    // assigned and encoded — append-only continuous ingestion, cost
    // scales with the batch (the vector twin of dedup_incremental).
    QueryDef("sim_index_incremental",
      (s, d) => SimOps.indexIncremental(Tables.embeddings(s, d),
        col("vec_id") % 10 < 8, Cells, m = 8, k = 16, dim = Dim),
      Some(SimOps.indexIncrementalSql("embeddings", "vec_id % 10 < 8",
        Cells, m = 8, k = 16, dim = Dim)),
      presentOrder = Seq("vec_id")),

    // Embedding drift monitor: dimStats over the indexed 80% vs the
    // arriving 20%, joined per dimension — the observable that triggers
    // re-training of sim_index_incremental's frozen centroids/codebook.
    QueryDef("sim_dim_drift",
      (s, d) => SimOps.dimDrift(Tables.embeddings(s, d),
        col("vec_id") % 10 < 8),
      Some(SimOps.dimDriftSql("embeddings", "vec_id % 10 < 8", Dim)),
      presentOrder = Seq("dim")),

    // Per-dimension corpus stats (whitening / normalization prep):
    // exact integer-micro-unit sums so float summation order can never
    // diverge across engines or runs; one slim-row hash-agg shuffle.
    QueryDef("sim_dim_stats",
      (s, d) => SimOps.dimStats(Tables.embeddings(s, d)),
      Some(SimOps.dimStatsSql("embeddings", Dim)),
      presentOrder = Seq("dim")),

    // Corpus-wide k-NN graph: every vector is a query (the artifact
    // semantic-clustering consumes). Same multi-table LSH machinery with
    // an all-true predicate — the candidate step degrades to a bucket
    // SELF-join (still an equi-join shuffled by (tbl, bucket), never a
    // broadcast of the query side or an n² loop), so the build cost
    // scales with bucket occupancy, not corpus².
    QueryDef("sim_knn_graph",
      (s, d) => {
        SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK, LshTabs)
      },
      Some(SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs)),
      presentOrder = Seq("query_id", "rank")),

    // Link prediction over the k-NN graph — common-neighbor count and
    // neighborhood Jaccard per co-citing pair (the classic
    // Liben-Nowell/Kleinberg scores; in a corpus pipeline these rank
    // "related document" candidates beyond direct near-dup edges). The
    // pair generator is the in-degree-bounded dst self-join: shared
    // neighbors with in-degree > 64 are dropped BEFORE pairing (a hub
    // co-neighbor carries no signal and would cost indeg² — the
    // MaxShingleFreq discipline on graphs); each surviving dst
    // contributes indeg² <= 64² pairs, so the join is hot-node-proof.
    // All scores are integer rank arithmetic (count + permille), exact
    // on both engines over the identical LSH edge set.
    QueryDef("graph_link_predict",
      (s, d) => {
        val e = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK, LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        val indeg = e.groupBy(col("dst")).agg(count(lit(1)).as("__in"))
        val eb = e.join(indeg, "dst").filter(col("__in") <= 64)
          .select(col("src"), col("dst"))
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
        eb.as("x").join(eb.as("y"),
            col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
          .groupBy(col("x.src").as("a"), col("y.src").as("b"))
          .agg(count(lit(1)).as("common_neighbors"))
          .filter(col("common_neighbors") >= 2)
          .join(deg.withColumnRenamed("src", "a")
            .withColumnRenamed("__deg", "__da"), "a")
          .join(deg.withColumnRenamed("src", "b")
            .withColumnRenamed("__deg", "__db"), "b")
          .select(col("a"), col("b"), col("common_neighbors"),
            expr("common_neighbors * 1000 div (__da + __db - common_neighbors)")
              .as("jaccard_permille"))
      },
      Some(s"""WITH er AS (${SimOps.topKLshMultiSql("embeddings", "TRUE",
                 KnnK, LshTabs)}),
             | e AS (SELECT query_id AS src, neighbor_id AS dst FROM er),
             | indeg AS (SELECT dst, count(*) AS ind FROM e GROUP BY dst),
             | eb AS (SELECT src, e.dst FROM e JOIN indeg ON e.dst = indeg.dst
             |   WHERE ind <= 64),
             | deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
             | cn AS (SELECT x.src AS a, y.src AS b,
             |   CAST(count(*) AS BIGINT) AS common_neighbors
             |  FROM eb x JOIN eb y ON x.dst = y.dst AND x.src < y.src
             |  GROUP BY 1, 2 HAVING count(*) >= 2)
             | SELECT a, b, common_neighbors,
             |  common_neighbors * 1000
             |    // (da.deg + db.deg - common_neighbors) AS jaccard_permille
             | FROM cn JOIN deg da ON cn.a = da.src
             |   JOIN deg db ON cn.b = db.src
             | ORDER BY a, b""".stripMargin.replace("\n", "")),
      presentOrder = Seq("a", "b")),

    // IVF-PQ composite: coarse cells bound WHICH vectors are scanned
    // (nprobe/c of the corpus), PQ codes bound WHAT is read per
    // candidate (m bytes, not dim floats) — the billion-scale ANN shape.
    // Hard-negative mining (contrastive-training prep): per anchor, the
    // top-3 candidates in the [0.25, 0.45) cosine band — confusable but
    // NOT near-duplicate (>= 0.45 is the dedup cutoff; mining those as
    // negatives would poison the loss). Same LSH bucket equi-join as the
    // k-NN graph; band tested on the engine-exact quantized cosine.
    QueryDef("sim_hard_negatives",
      (s, d) => {
        SimOps.hardNegatives(Tables.embeddings(s, d), lit(true),
          HnLo, HnHi, HnN, LshTabs)
      },
      Some(SimOps.hardNegativesSql("embeddings", "TRUE", HnLo, HnHi, HnN,
        LshTabs)),
      presentOrder = Seq("query_id", "rank")),

    // Damped PageRank over the k-NN graph (3 exact-integer rounds):
    // centrality over semantic neighborhoods — the coverage-weighting
    // signal for curation. Scores are BIGINT micro-units end-to-end
    // (floor-division damping), so the gate is hash-exact with zero
    // float columns; the oracle replays the rounds as chained CTEs.
    QueryDef("graph_pagerank",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        val nodes = Tables.embeddings(s, d).select(col("vec_id").as("node_id"))
        GraphOps.pageRank(nodes, edges)
      },
      Some(GraphOps.pageRankSql(
        "SELECT vec_id AS node_id FROM embeddings",
        "SELECT query_id AS src, neighbor_id AS dst FROM (" +
          SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")")),
      presentOrder = Seq("node_id")),

    // Synchronous Louvain move phase (Blondel et al. 2008) over the
    // k-NN graph, 2 rounds: the modularity-objective community
    // detector between graph_label_prop (no objective) and
    // graph_modularity (scores a labeling). Exact-integer gain argmax
    // (DECIMAL products, ties score-desc/community-asc); relative
    // gain_milli is nonnegative by construction. Oracle unrolls the
    // identical rounds.
    QueryDef("graph_louvain",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        val nodes = Tables.embeddings(s, d).select(col("vec_id").as("node_id"))
        GraphOps.louvainRounds(nodes, edges)
      },
      Some(GraphOps.louvainRoundsSql(
        "SELECT vec_id AS node_id FROM embeddings",
        "SELECT query_id AS src, neighbor_id AS dst FROM (" +
          SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")")),
      presentOrder = Seq("node_id")),

    // MMR diversified re-ranking (Carbonell & Goldstein SIGIR'98) —
    // the post-retrieval stage that stops near-duplicate results from
    // crowding the top-k: greedy argmax of
    // 0.5*rel - 0.5*max-sim-to-picked over the brute top-20 for query
    // vec 0, 5 picks. Ties (score desc, vec_id); rounds replay as
    // unrolled CTEs in the oracle. Everything after candidate
    // generation is O(20^2) on broadcast frames.
    QueryDef("sim_mmr_rerank",
      (s, d) => {
        SimOps.mmrRerank(Tables.embeddings(s, d), queryId = 0L)
      },
      Some(SimOps.mmrRerankSql("embeddings", queryId = 0L)),
      presentOrder = Seq("pick_order")),

    // Personalized PageRank over the k-NN graph (topic-sensitive /
    // random-walk-with-restart): teleport mass lands only on the seed
    // set (every 37th vector — the "human-audited core"), so scores
    // rank the corpus by walk-proximity to trusted neighborhoods
    // (TrustRank-style curation). Same exact-integer damping and
    // unrolled-CTE oracle as graph_pagerank.
    QueryDef("graph_ppr",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        val nodes = Tables.embeddings(s, d).select(col("vec_id").as("node_id"))
        GraphOps.personalizedPageRank(nodes, edges,
          col("node_id") % 37 === 0)
      },
      Some(GraphOps.personalizedPageRankSql(
        "SELECT vec_id AS node_id, vec_id % 37 = 0 AS is_seed FROM embeddings",
        "SELECT query_id AS src, neighbor_id AS dst FROM (" +
          SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")")),
      presentOrder = Seq("node_id")),

    // Semi-supervised label propagation over the k-NN graph: every
    // 25th vector is a human-audited seed; 3 majority rounds spread the
    // labels (tie → smallest). Unreached nodes stay NULL. Fixed rounds
    // mirrored by the unrolled oracle.
    QueryDef("graph_label_prop",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        val nodes = Tables.embeddings(s, d).select(col("vec_id").as("node_id"))
        GraphOps.labelPropagate(nodes, edges,
          col("node_id") % 25 === 0, rounds = 3)
      },
      Some(GraphOps.labelPropagateSql(
        "SELECT vec_id AS node_id FROM embeddings",
        "SELECT query_id AS src, neighbor_id AS dst FROM (" +
          SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")",
        "node_id % 25 = 0", rounds = 3)),
      presentOrder = Seq("node_id")),

    // k-core decomposition over the k-NN graph (k=4, 8 peel rounds —
    // convergence within the bound proven by spec): the density signal
    // separating deep template cliques from loosely-linked content.
    // Iterative peeling, NOT a one-shot degree filter (the cascade
    // fixture in DedupSimSpec shows the difference); oracle unrolls the
    // identical rounds as chained CTEs.
    QueryDef("graph_kcore",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        val nodes = Tables.embeddings(s, d).select(col("vec_id").as("node_id"))
        GraphOps.kCore(nodes, edges, k = 4, rounds = 8)
      },
      Some(GraphOps.kCoreSql(
        "SELECT vec_id AS node_id FROM embeddings",
        "SELECT query_id AS src, neighbor_id AS dst FROM (" +
          SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")",
        k = 4, rounds = 8)),
      presentOrder = Seq("node_id")),

    // Double-sweep diameter lower bound over the k-NN graph (the iFUB
    // opening move): BFS from a hash seed to its farthest node u, BFS
    // from u — ecc(u) lower-bounds the diameter, empirically tight on
    // real graphs; one-row health panel (how stretched is the corpus
    // graph, how much is unreachable from its periphery). Two
    // checkpointed BFS runs, two bounded argmax collects; oracle is
    // two chained recursive CTEs with the same tie order.
    QueryDef("graph_diameter",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        val nodes = Tables.embeddings(s, d)
          .select(col("vec_id").as("node_id"))
        GraphOps.diameterDoubleSweep(nodes, edges, maxDepth = 8,
          cacheTag = "knn", cacheDepth = 12)
      },
      Some(GraphOps.diameterDoubleSweepSql(
        "SELECT vec_id AS node_id FROM embeddings",
        "SELECT query_id AS src, neighbor_id AS dst FROM (" +
          SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")",
        maxDepth = 8)),
      presentOrder = Seq("start_id")),

    // EXACT diameter via iFUB (Crescenzi et al. TCS'13) — the
    // published completion of graph_diameter's double sweep: BFS to
    // the a-b antipode pair, root at the path MIDPOINT (small
    // eccentricity → small top levels), then fold max-eccentricity
    // over the top fringe levels until lb >= 2(i-1) certifies the
    // bound. Round-11 shape: one multi-source BFS PER LEVEL,
    // descending, early-exiting between levels (the paper's
    // sequential exit at BSP granularity), seeds pre-pruned by the
    // Takes-Kosters eu-sandwich from the four base sweeps, and a
    // total seed budget that makes a Θ(n)-seed BFS impossible by
    // construction (past it: the honest resolved=false sentinel).
    // Both engines fold the identical per-level maxima, so resolution
    // and the exact value are hash-exact. resolved=false would emit
    // the -1 sentinel; the spec pins resolved=true on the gate corpus.
    QueryDef("graph_diameter_exact",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        val nodes = Tables.embeddings(s, d)
          .select(col("vec_id").as("node_id"))
        GraphOps.diameterIfub(nodes, edges, maxDepth = 12,
          fringeLevels = 3, cacheTag = "knn")
      },
      Some(GraphOps.diameterIfubSql(
        "SELECT vec_id AS node_id FROM embeddings",
        "SELECT query_id AS src, neighbor_id AS dst FROM (" +
          SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")",
        maxDepth = 12, fringeLevels = 3)),
      presentOrder = Seq("start_id")),

    // Exact diameter via BoundingDiameters (Takes & Kosters CIKM'11):
    // ONE single-source BFS per round (O(rounds·m) total, no Θ(n)-seed
    // fringe), per-node eccentricity sandwiches tightened each round,
    // interchanging max-εU / min-εL pivot selection, candidate-set
    // pruning; terminates when ub <= lb OR the candidate set empties
    // (then every unprocessed node is bounded under lb — lb IS the
    // exact diameter). Gated over the DOCUMENT HIERARCHY graph
    // (doc_id → doc_id div 8, an 8-ary taxonomy — real folder trees
    // are wide, and diameter 2·log₈ n keeps the BSP BFS round count
    // small): the algorithm's home turf per the paper —
    // the min-εL pick lands a center in round 3 and 2·ecc(center)
    // meets the peripheral lb, ~4 BFS for an exact answer where the
    // k-NN expander needs a dominating set (TK's published hard case,
    // same as iFUB's — graph_diameter_exact documents that regime).
    // Both engines run the fixed 6-round schedule and fold to the
    // first resolved round.
    QueryDef("graph_diameter_tk",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val nodes = docs.select(col("doc_id").as("node_id"))
        val edges = docs.filter(col("doc_id") >= 1)
          .select(col("doc_id").as("src"),
            expr("doc_id div 8").as("dst"))
        GraphOps.diameterBounds(nodes, edges, maxDepth = 30,
          maxRounds = 6, cacheTag = "doctree")
      },
      Some(GraphOps.diameterBoundsSql(
        "SELECT doc_id AS node_id FROM documents",
        "SELECT doc_id AS src, doc_id // 8 AS dst FROM documents" +
          " WHERE doc_id >= 1",
        maxDepth = 30, maxRounds = 6)),
      presentOrder = Seq("start_id")),

    // Depth-cap honesty drive for the exact-diameter pair (ADVICE
    // r10): over the document CHAIN graph (doc_id → doc_id−1, a path
    // whose diameter n−1 dwarfs any sane BFS cap) a capped run must
    // NEVER certify — both engines truncate their BFS identically,
    // detect the live frontier at the cap (a node first reached at
    // dist=cap with an unreached neighbor), and emit the
    // resolved=false / diam_exact=−1 / diam_ub=−1 sentinel with
    // depth_capped=true; diam_lb stays a genuine lower bound
    // (observed BFS distances are true distances). Cheap by
    // construction: every BFS touches ≤ 2·cap+1 chain nodes, and the
    // cap is the SMALLEST that still leaves the a/b/midpoint picks
    // nondegenerate — the gate's cost is pure flat BSP rounds.
    QueryDef("graph_diameter_capped",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val nodes = docs.select(col("doc_id").as("node_id"))
        val edges = docs.filter(col("doc_id") >= 1)
          .select(col("doc_id").as("src"),
            (col("doc_id") - 1).as("dst"))
        GraphOps.diameterIfub(nodes, edges, maxDepth = 4,
          fringeLevels = 1, cacheTag = "docchain")
      },
      Some(GraphOps.diameterIfubSql(
        "SELECT doc_id AS node_id FROM documents",
        "SELECT doc_id AS src, doc_id - 1 AS dst FROM documents" +
          " WHERE doc_id >= 1",
        maxDepth = 4, fringeLevels = 1)),
      presentOrder = Seq("start_id")),

    // Same drive for BoundingDiameters: round 1's BFS hits the cap →
    // immediate stop, n_bfs=1, dl = the observed (true) distances'
    // max, sentinel everywhere else.
    QueryDef("graph_diameter_tk_capped",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val nodes = docs.select(col("doc_id").as("node_id"))
        val edges = docs.filter(col("doc_id") >= 1)
          .select(col("doc_id").as("src"),
            (col("doc_id") - 1).as("dst"))
        GraphOps.diameterBounds(nodes, edges, maxDepth = 4,
          maxRounds = 2, cacheTag = "docchain")
      },
      Some(GraphOps.diameterBoundsSql(
        "SELECT doc_id AS node_id FROM documents",
        "SELECT doc_id AS src, doc_id - 1 AS dst FROM documents" +
          " WHERE doc_id >= 1",
        maxDepth = 4, maxRounds = 2)),
      presentOrder = Seq("start_id")),

    // Sampled harmonic centrality over the k-NN graph: H(v) =
    // Σ_seeds 1e6 div d(seed, v) from 8 hash-chosen BFS sources — the
    // centrality that is well-defined on disconnected graphs
    // (unreachable pairs contribute 0, no ∞ patch), i.e. exactly a
    // corpus k-NN graph with isolated template islands. Exact integer
    // layer distances, so the sampled statistic is engine-portable
    // bit-for-bit; per-seed frontier rounds ride the bfsLayers
    // checkpoint discipline; oracle is a bounded recursive CTE over
    // (seed, node, dist).
    QueryDef("graph_harmonic",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        val nodes = Tables.embeddings(s, d)
          .select(col("vec_id").as("node_id"))
        GraphOps.harmonicCentrality(nodes, edges, k = 8, maxDepth = 6)
      },
      Some(GraphOps.harmonicCentralitySql(
        "SELECT vec_id AS node_id FROM embeddings",
        "SELECT query_id AS src, neighbor_id AS dst FROM (" +
          SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")",
        k = 8, maxDepth = 6)),
      presentOrder = Seq("node_id")),

    // k-truss decomposition over the k-NN graph (k=4: every surviving
    // edge closes >= 2 triangles; 6 peel rounds, convergence within
    // the bound spec-proven): the EDGE-grain cohesion signal — a
    // strictly stronger filter than k-core (truss edges lie in a
    // 3-core, not vice versa), keeping template cliques and dropping
    // the bridge edges a degree filter keeps. Peel cascades are real
    // (the diamond fixture dies in two rounds, not one); oracle
    // unrolls the identical rounds as MATERIALIZED CTEs.
    QueryDef("graph_ktruss",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        GraphOps.kTruss(edges, k = 4, rounds = 6)
      },
      Some(GraphOps.kTrussSql(
        "SELECT query_id AS src, neighbor_id AS dst FROM (" +
          SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")",
        k = 4, rounds = 6)),
      presentOrder = Seq("u", "v")),

    // Triangle count + local clustering coefficient over the k-NN graph
    // (degree-ordered orientation, so the wedge join is O(m^1.5) worst-
    // case instead of hub-degree² — the "last reducer" fix): which
    // documents sit inside tight semantic cliques (template/boilerplate
    // families) vs. bridge hubs. All-integer output; lcc in exact
    // micro-units via floor division.
    QueryDef("graph_triangles",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        GraphOps.triangleStats(edges)
      },
      Some(GraphOps.triangleStatsSql(
        "SELECT query_id AS src, neighbor_id AS dst FROM (" +
          SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")")),
      presentOrder = Seq("node_id")),

    // Directed-modularity panel of the label-prop communities: the
    // quality number for the transduction pass — per community, exact
    // integer node/edge masses and the micro-unit modularity
    // contribution q_c = e_c·10⁶ div m − out_c·in_c·10⁶ div m². A
    // propagation change that fragments or merges communities moves
    // this panel, so the gate pins clustering QUALITY, not just label
    // assignment. Oracle replays the identical label-prop rounds, then
    // the identical masses and floor divisions.
    QueryDef("graph_modularity",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        val nodes = Tables.embeddings(s, d).select(col("vec_id").as("node_id"))
        val labels = GraphOps.labelPropagate(nodes, edges,
          col("node_id") % 25 === 0, rounds = 3)
        GraphOps.modularity(labels, edges)
      },
      Some(GraphOps.modularitySql(
        GraphOps.labelPropagateSql(
          "SELECT vec_id AS node_id FROM embeddings",
          "SELECT query_id AS src, neighbor_id AS dst FROM (" +
            SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")",
          "node_id % 25 = 0", rounds = 3),
        "SELECT query_id AS src, neighbor_id AS dst FROM (" +
          SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")")),
      presentOrder = Seq("label")),

    // Per-dimension quantile transform — the rank-based feature
    // normalization (sklearn QuantileTransformer's discrete core) that
    // makes heavy-tailed embedding dims comparable before indexing:
    // each value maps to its dim's decile (0..9) via the 9 interior
    // percentile_disc boundaries (actual data values both engines —
    // zero interpolation; bucket = count of boundaries <= v, an exact
    // float compare on identical stored floats). Shape: one 64-group
    // sort-agg for the boundary table (k·9 tiny rows, broadcast back),
    // then a narrow bucket map — at corpus scale the boundary agg is
    // the only wide stage and would come from a quantile sketch
    // (sketch_quantile_shards) instead of the exact sort.
    QueryDef("sim_quantile_transform",
      (s, d) => {
        val v = Tables.embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        def pd(p: Double, n: String) =
          expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY v)").as(n)
        val bounds = v.groupBy(col("dim")).agg(
          pd(0.1, "b1"), pd(0.2, "b2"), pd(0.3, "b3"), pd(0.4, "b4"),
          pd(0.5, "b5"), pd(0.6, "b6"), pd(0.7, "b7"), pd(0.8, "b8"),
          pd(0.9, "b9"))
        // The boundary table is dim-count × 9 values regardless of corpus
        // size — categorically broadcastable; without the hint AQE's
        // size-based pick at tiny SF broadcasts the exploded corpus side,
        // the exact inversion of the 100 TB shape.
        v.join(broadcast(bounds), "dim")
          .select(col("vec_id"), col("dim").cast("int").as("dim"),
            size(filter(
              array(col("b1"), col("b2"), col("b3"), col("b4"), col("b5"),
                col("b6"), col("b7"), col("b8"), col("b9")),
              b => b <= col("v"))).cast("int").as("decile"))
      },
      Some("""WITH x AS (SELECT vec_id,
             |   generate_subscripts(embedding, 1) - 1 AS dim,
             |   unnest(embedding) AS v FROM embeddings),
             | b AS (SELECT dim,
             |   quantile_disc(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
             |     AS bs
             |  FROM x GROUP BY dim)
             | SELECT vec_id, CAST(x.dim AS INT) AS dim,
             |  CAST(len(list_filter(bs, e -> e <= v)) AS INT) AS decile
             | FROM x JOIN b ON x.dim = b.dim
             | ORDER BY vec_id, dim""".stripMargin.replace("\n", "")),
      presentOrder = Seq("vec_id", "dim")),

    // BFS distance layers from a curated seed set over the k-NN graph —
    // graph-distance-from-core as a curation feature (trust radius from
    // vetted documents): seeds = layer 0, four frontier rounds, nodes
    // never reached report −1. Pregel frontier shape (persisted slim
    // node-id layers, one equi-join shuffle per round, anti-join against
    // cached visited); the oracle is a depth-bounded recursive CTE whose
    // min(dist) equals the first-reached layer.
    QueryDef("graph_bfs_layers",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        val nodes = Tables.embeddings(s, d).select(col("vec_id").as("node_id"))
        GraphOps.bfsLayers(nodes, edges, col("node_id") < 3, maxDepth = 4)
      },
      Some(GraphOps.bfsLayersSql(
        "SELECT vec_id AS node_id FROM embeddings",
        "SELECT query_id AS src, neighbor_id AS dst FROM (" +
          SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")",
        "node_id < 3", maxDepth = 4)),
      presentOrder = Seq("node_id")),

    // Pivot-sampled betweenness centrality (Brandes forward σ-BFS +
    // level-descending dependency accumulation, 16 hash-chosen pivots —
    // the sweet spot PLANS.md's BcScale drive measured: 4× the pivots of the round-11
    // gate for ~1.1× the wall time, since per-round BSP overhead
    // dominates until k·frontier saturates the executor, and the
    // Brandes–Pich estimator's variance drops with k):
    // the brokerage score — documents ON the shortest paths between
    // semantic regions (bridge/boilerplate detectors), complementing
    // pagerank/harmonic's proximity scores. Exact integer micro-units
    // end to end (per-term DECIMAL(38,0) product, floor division), so
    // the sampled statistic hash-matches the oracle's unrolled
    // forward/backward CTE replay bit-for-bit.
    QueryDef("graph_betweenness",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        val nodes = Tables.embeddings(s, d).select(col("vec_id").as("node_id"))
        GraphOps.betweennessCentrality(nodes, edges, k = 16, maxDepth = 6)
      },
      Some(GraphOps.betweennessCentralitySql(
        "SELECT vec_id AS node_id FROM embeddings",
        "SELECT query_id AS src, neighbor_id AS dst FROM (" +
          SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")",
        k = 16, maxDepth = 6)),
      presentOrder = Seq("node_id")),

    // Hop-bounded weighted SSSP (synchronous Bellman–Ford, 6 rounds)
    // from the curated seed set over the k-NN graph with SEMANTIC edge
    // cost w = (1 − cosine)·10⁶: the weighted refinement of
    // graph_bfs_layers' trust radius — a near-duplicate neighbor is
    // nearly free, a tenuous one expensive. The weight derives from the
    // stored quant4 cosine by one double rounding both engines compute
    // identically; every relaxation is then exact BIGINT min-folding.
    QueryDef("graph_sssp",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
            expr("CAST(floor((1.0d - cosine) * 1000000.0d + 0.5d)" +
              " AS BIGINT)").as("w_micro"))
        val nodes = Tables.embeddings(s, d).select(col("vec_id").as("node_id"))
        GraphOps.sssp(nodes, edges, col("node_id") < 3, rounds = 6)
      },
      Some(GraphOps.ssspSql(
        "SELECT vec_id AS node_id FROM embeddings",
        "SELECT query_id AS src, neighbor_id AS dst, " +
          "CAST(floor((1.0 - cosine) * 1000000.0 + 0.5) AS BIGINT)" +
          " AS w_micro FROM (" +
          SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) + ")",
        "node_id < 3", rounds = 6)),
      presentOrder = Seq("node_id")),

    // Leave-one-out k-NN label probe — the standard embedding-quality
    // evaluation (does the geometry recover the ground-truth classes?)
    // every training pipeline runs before trusting a new encoder: each
    // vector is classified by the MAJORITY label of its k nearest
    // neighbors (self excluded by the index itself; ties -> lowest
    // label), scored against its own label, reported per class as
    // exact counts + floor-divided permille accuracy. Reuses the
    // cached k-NN edge table (one hash join against the slim label
    // frame, a bounded per-query vote window, one class-grain agg) —
    // the probe costs one pass over the edge list, never the corpus².
    QueryDef("sim_label_probe",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val lbl = emb.select(col("vec_id"), col("label"))
        val votes = SimOps.knnEdgesCached(emb, KnnK, LshTabs)
          .select(col("query_id"), col("neighbor_id"))
          .join(lbl.select(col("vec_id").as("neighbor_id"),
            col("label").as("nlabel")), Seq("neighbor_id"))
          .groupBy(col("query_id"), col("nlabel"))
          .agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("n").desc, col("nlabel"))
        val pred = votes.withColumn("r", row_number().over(w))
          .filter(col("r") === 1)
          .select(col("query_id").as("vec_id"),
            col("nlabel").as("pred_label"))
        lbl.join(pred, Seq("vec_id"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("pred_label") === col("label"), 1L)
              .otherwise(0L)).as("n_correct"))
          .withColumn("acc_permille",
            expr("(n_correct * 1000) div n_vecs"))
      },
      Some(s"""WITH er AS (${SimOps.topKLshMultiSql("embeddings", "TRUE",
                 KnnK, LshTabs)}),
             | lbl AS (SELECT vec_id, label FROM embeddings),
             | v AS (SELECT e.query_id, l.label AS nlabel,
             |   CAST(count(*) AS BIGINT) AS n
             |  FROM er e JOIN lbl l ON e.neighbor_id = l.vec_id
             |  GROUP BY 1, 2),
             | p AS (SELECT query_id, nlabel FROM (
             |   SELECT query_id, nlabel, row_number() OVER (
             |     PARTITION BY query_id ORDER BY n DESC, nlabel) AS r
             |   FROM v) WHERE r = 1),
             | j AS (SELECT l.label,
             |   CASE WHEN p.nlabel = l.label THEN 1 ELSE 0 END AS c
             |  FROM lbl l JOIN p ON l.vec_id = p.query_id)
             | SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             |  CAST(sum(c) AS BIGINT) AS n_correct,
             |  (CAST(sum(c) AS BIGINT) * 1000) // CAST(count(*) AS BIGINT)
             |    AS acc_permille
             | FROM j GROUP BY label ORDER BY label""".stripMargin
        .replace("\n", "")),
      presentOrder = Seq("label")),

    // Hubness profile — the OTHER standard embedding-quality probe
    // beside the label probe (Radovanović et al., "Hubs in space",
    // JMLR 2010): in high dimensions some points become near-neighbor
    // HUBS (huge k-NN in-degree) while many become anti-hubs (never
    // anyone's neighbor), and a skewed in-degree distribution predicts
    // degraded retrieval/clustering before any downstream model shows
    // it. Exact-integer histogram over the cached k-NN edge table:
    // in-degree per node (0 included via the left join), then one
    // count per in-degree value — two hash-aggs on slim rows, k-bounded
    // edge list, never corpus².
    QueryDef("sim_hubness",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val indeg = SimOps.knnEdgesCached(emb, KnnK, LshTabs)
          .groupBy(col("neighbor_id").as("node_id"))
          .agg(count(lit(1)).as("in_degree"))
        emb.select(col("vec_id").as("node_id"))
          .join(indeg, Seq("node_id"), "left")
          .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
          .groupBy(col("in_degree"))
          .agg(count(lit(1)).as("n_nodes"))
      },
      Some(s"""WITH er AS (${SimOps.topKLshMultiSql("embeddings", "TRUE",
                 KnnK, LshTabs)}),
             | ind AS (SELECT neighbor_id AS node_id,
             |   CAST(count(*) AS BIGINT) AS in_degree
             |  FROM er GROUP BY neighbor_id),
             | a AS (SELECT COALESCE(ind.in_degree, 0) AS in_degree
             |  FROM (SELECT vec_id AS node_id FROM embeddings) n
             |  LEFT JOIN ind USING (node_id))
             | SELECT in_degree, CAST(count(*) AS BIGINT) AS n_nodes
             | FROM a GROUP BY in_degree ORDER BY in_degree""".stripMargin
        .replace("\n", "")),
      presentOrder = Seq("in_degree")),

    // Connected components over the k-NN graph as a FIRST-CLASS graph
    // operator (the same engine `dedup_clusters` runs on the dup-pair
    // graph — label propagation with pointer jumping, O(log diameter)
    // rounds, driver union-find fast path under the clamp, distributed
    // fallback above it): component = min node id, isolated nodes own
    // themselves. The semantic-island map every corpus graph analysis
    // starts from.
    QueryDef("graph_cc",
      (s, d) => {
        val pairs = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("doc_a"), col("neighbor_id").as("doc_b"))
        val nodes = Tables.embeddings(s, d).select(col("vec_id").as("node_id"))
        val cc = graft.ops.DedupOps.connectedComponents(pairs)
          .withColumnRenamed("doc_id", "node_id")
        nodes.join(cc, Seq("node_id"), "left")
          .select(col("node_id"),
            coalesce(col("cluster"), col("node_id")).as("component"))
      },
      Some(s"""WITH cc AS (${graft.ops.DedupOps.connectedComponentsSql(
          "SELECT query_id AS doc_a, neighbor_id AS doc_b FROM (" +
            SimOps.topKLshMultiSql("embeddings", "TRUE", KnnK, LshTabs) +
            ")")})
        SELECT n.node_id, COALESCE(cc.cluster, n.node_id) AS component
        FROM (SELECT vec_id AS node_id FROM embeddings) n
        LEFT JOIN cc ON n.node_id = cc.doc_id
        ORDER BY n.node_id"""),
      presentOrder = Seq("node_id")),

    // Deterministic negative sampling over the k-NN graph — the
    // contrastive-training complement of sim_hard_negatives (those mine
    // CONFUSABLE candidates from bucket collisions; these draw
    // uniform-pseudorandom NON-edges for the easy-negative pool a link-
    // prediction or embedding loss also needs): per query node, the 5
    // hash-ordered candidates that are provably not out-neighbors
    // (anti-join against the edge table). The hash order is the
    // engine-shared md5-60bit key, so "random" is reproducible and
    // oracle-checkable. Candidate generation is queries × corpus — linear
    // in the corpus per query and bounded by the small query set here;
    // at crawl scale the pool is pre-sampled by a hash-threshold scan
    // (hkey < cutoff) before the anti-join, same order, same contract.
    QueryDef("graph_negative_samples",
      (s, d) => {
        val edges = SimOps.knnEdgesCached(Tables.embeddings(s, d), KnnK,
            LshTabs)
          .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
        val nodes = Tables.embeddings(s, d).select(col("vec_id").as("node_id"))
        val qs = nodes.filter(col("node_id") < 10).select(col("node_id").as("q"))
        val cand = qs.crossJoin(nodes)
          .filter(col("node_id") =!= col("q"))
          .withColumn("hkey", graft.ops.TextOps.hash64(
            concat_ws("|", col("q"), col("node_id"))))
        val nonNbr = cand.join(edges,
          cand("q") === edges("src") && cand("node_id") === edges("dst"),
          "left_anti")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("q")).orderBy(col("hkey"), col("node_id"))
        nonNbr.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("q").as("query_id"), col("rank"),
            col("node_id").as("negative_id"))
      },
      Some(s"""WITH er AS (${SimOps.topKLshMultiSql("embeddings", "TRUE",
                 KnnK, LshTabs)}),
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
             |  FROM nn)
             | SELECT q AS query_id, rank, node_id AS negative_id
             | FROM r WHERE rank <= 5
             | ORDER BY query_id, rank""".stripMargin.replace("\n", "")),
      presentOrder = Seq("query_id", "rank")),

    // Trained semantic clustering: Lloyd's k-means in exact integer
    // micro-unit space (hash-ordered init, floored-mean update, 2 driver-
    // iterated rounds) — the cluster-then-sample curation primitive and
    // the trained replacement for IVF's sampled coarse quantizer. Gate
    // emits k summary rows (size, centroid checksums, inertia), all
    // engine-exact; the oracle replays the identical rounds as CTEs.
    QueryDef("sim_kmeans",
      (s, d) => {
        SimOps.kmeans(Tables.embeddings(s, d), k = KmK,
          rounds = KmRounds, dim = Dim)
      },
      Some(SimOps.kmeansSql("embeddings", k = KmK, rounds = KmRounds,
        dim = Dim)),
      presentOrder = Seq("cluster")),

    // Farthest-point traversal (Gonzalez k-center greedy): the
    // diversity-first selection pass — 6 picks covering the embedding
    // space's extremes, exact-integer micro squared-L2, ties by lowest
    // id. Oracle unrolls the identical greedy as chained CTEs.
    QueryDef("sim_coreset_farthest",
      (s, d) => SimOps.coresetFarthest(Tables.embeddings(s, d), k = 6),
      Some(SimOps.coresetFarthestSql("embeddings", k = 6, dim = Dim)),
      presentOrder = Seq("rank")),

    // Dominant principal component by power iteration: ONE distributed
    // Gram pass (posexplode² → d² hash-agg cells, map-side combined),
    // then 4 integer-renormalized rounds on the collected d×d matrix
    // (bounded driver artifact, k-means-centroid discipline). Milli
    // quantization keeps G·x in 63 bits; renormalization divides the
    // ABSOLUTE value and reapplies the sign so truncating Spark and
    // flooring DuckDB agree. Oracle unrolls the identical rounds.
    QueryDef("sim_pca_power",
      (s, d) => SimOps.pcaPower(Tables.embeddings(s, d), Dim, rounds = 4),
      Some(SimOps.pcaPowerSql("embeddings", Dim, rounds = 4)),
      presentOrder = Seq("dim")),

    // Johnson–Lindenstrauss projection distortion audit: embeddings
    // projected through a fixed ±1 Rademacher matrix (Achlioptas) to 16
    // dims; per audit pair the projected-vs-original squared-L2 ratio in
    // permille (E = 1000 for an undistorted pair). The projection is a
    // narrow map (sign matrix is ONE literal); only the audit's pair
    // join touches a bounded slice. Exact integers end to end.
    QueryDef("sim_random_projection",
      (s, d) => SimOps.jlProjectionAudit(Tables.embeddings(s, d),
        col("vec_id") < 24, p = 16, dim = Dim),
      Some(SimOps.jlProjectionAuditSql("embeddings", "vec_id < 24",
        p = 16, dim = Dim)),
      presentOrder = Seq("vec_a", "vec_b")),

    QueryDef("sim_topk_ivfpq",
      (s, d) => SimOps.topKIvfPq(Tables.embeddings(s, d),
        col("vec_id") < 10, K, Cells, NProbe, PqM, PqK, Dim,
        IvfPqShortlist, trainRounds = IvfTrainRounds),
      Some(SimOps.topKIvfPqSql("embeddings", QueryPredSql, K,
        Cells, NProbe, PqM, PqK, Dim, IvfPqShortlist,
        trainRounds = IvfTrainRounds)),
      presentOrder = Seq("query_id", "rank"))
  )
}
