package graft.ops

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge tables — the family
  * `DedupOps.connectedComponents` opened (driver-iterated rounds, one
  * shuffle per round), extended to NUMERIC fixpoints. First member:
  * damped PageRank, the canonical importance score over the corpus
  * k-NN graph (which documents sit in dense semantic neighborhoods —
  * a data-curation signal for coverage-weighted sampling).
  *
  * All arithmetic is exact-integer micro-units (the `sample_temperature`
  * / `sim_dim_stats` discipline): scores are BIGINT, per-edge
  * contributions are floor divisions, and the damping factor is a
  * rational (85/100) applied as multiply-then-floor-divide. Floating
  * point never appears, so partial-aggregation order, engine, partition
  * count, and retries can never move a single bit of the output.
  */
object GraphOps {

  /** Initial per-node mass, micro-units (10¹²). Headroom bound: any
    * node's inbound sum is < total corpus mass = N·S0, and the damping
    * step multiplies by 85 before dividing — so Long stays overflow-free
    * while N·S0 < Long.Max/85 ≈ 1.1e17, i.e. N up to ~10⁵ at this S0.
    * A larger deployment scales S0 down with N (the scores are relative;
    * only the ratio to S0 carries meaning). */
  val PrS0 = 1000000000000L
  /** Damping factor 0.85 as an exact rational. */
  val PrDampNum = 85L
  val PrDampDen = 100L
  /** Teleport base: S0·(1−d), exact at these constants. */
  val PrBase: Long = PrS0 * (PrDampDen - PrDampNum) / PrDampDen
  /** Gated iteration count (driver-iterated, like the CC rounds). */
  val PrIters = 3

  /** Damped PageRank, `iters` synchronous rounds. `nodes` = (node_id),
    * `edges` = directed (src, dst); dangling nodes (no out-edges)
    * contribute nothing — their mass leaks, identically on both engines
    * (documented contract, standard in practice for fixed-iteration
    * scoring).
    *
    * Scale shape: ONE shuffle per round — edges pre-joined once with
    * out-degrees and persisted (the expensive upstream edge build, e.g.
    * the LSH k-NN pipeline, thus runs exactly once); each round is
    * edges⋈scores (equi-join on src, slim (dst, contrib) rows out) →
    * hash-agg by dst with map-side combine → left-join back to nodes.
    * Rounds are O(iters), lineage stays shallow (no growing plan: each
    * round's frame references only the previous round and the cached
    * edge table). */
  def pageRank(nodes: DataFrame, edges: DataFrame,
               iters: Int = PrIters): DataFrame = {
    val outd = edges.groupBy("src").agg(count(lit(1)).as("od"))
    val eo = edges.select("src", "dst").join(outd, "src").persist()
    val nn = nodes.select(col("node_id"))
    var r = nn.select(col("node_id"), lit(PrS0).as("pr"))
    for (_ <- 1 to iters) {
      val inbound = eo.join(r, eo("src") === r("node_id"))
        .select(col("dst"), expr("pr div od").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("m"))
      r = nn
        .join(inbound, col("node_id") === inbound("dst"), "left")
        .select(col("node_id"),
          (lit(PrBase) + expr(
            s"($PrDampNum * coalesce(m, CAST(0 AS BIGINT))) div $PrDampDen"))
            .as("pr"))
    }
    r.select(col("node_id"), col("pr").as("pagerank"))
  }

  /** Scale of the local-clustering-coefficient fixed-point output
    * (10⁶ micro-units, floor division — integer-exact on both engines). */
  val LccScale = 1000000L

  /** k-core decomposition by iterative peeling with a FIXED round
    * count: each round drops every node whose degree in the CURRENT
    * subgraph is < k, then restricts the edges to survivors — the
    * density observable curation uses to separate tight template/
    * boilerplate families (deep cores) from loosely-connected genuine
    * content. A single degree filter is NOT the k-core (removing a
    * node lowers its neighbors' degrees, which can cascade — the
    * pendant-chain fixture in DedupSimSpec pins exactly that); the
    * fixed `rounds` bound keeps both engines on the identical unrolled
    * computation, and the gate-corpus spec proves the peel CONVERGES
    * within the bound (a no-op final round), so the output is the true
    * core there, not a truncation.
    *
    * Output per input node: in_core 0/1 and the node's degree inside
    * the final core subgraph (0 outside).
    *
    * Scale shape: each round is a degree hash-agg over the current
    * (u, v) edge set plus two semi-joins against the survivor set —
    * slim long pairs, one shuffle each; every round's edge frame is
    * localCheckpoint'ed (the bfsLayers discipline) so lineage stays
    * flat across rounds. Edge count is non-increasing, so the peel
    * costs at most `rounds` × (one scan of the shrinking graph). */
  def kCore(nodes: DataFrame, edges: DataFrame, k: Int,
            rounds: Int): DataFrame = {
    // `alive` is only assigned inside the peel loop, and kCoreSql
    // emits broken SQL for rounds < 1 — fail loudly up front instead
    // of an NPE at the final join.
    require(rounds >= 1, s"kCore needs rounds >= 1, got $rounds")
    require(k >= 1, s"kCore needs k >= 1, got $k")
    var e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var alive: DataFrame = null
    // Early exit at the fixpoint: when a round removes NO edge, degrees
    // are unchanged, so the survivor set is unchanged and every further
    // round is the identity — stopping early is result-identical to the
    // full `rounds` unroll the oracle runs (counts are cheap: both
    // frames are checkpointed).
    var nEdges = e.count()
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val deg = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      alive = deg.filter(col("deg") >= k).select("node").localCheckpoint()
      e = e
        .join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(alive.select(col("node").as("v")), Seq("v"), "left_semi")
        .localCheckpoint()
      val n2 = e.count()
      converged = n2 == nEdges // at least one round always runs
      nEdges = n2
      r += 1
    }
    val coreDeg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("cd"))
    nodes.select(col("node_id"))
      .join(alive.select(col("node").as("node_id"), lit(1).as("__in")),
        Seq("node_id"), "left")
      .join(coreDeg.select(col("node").as("node_id"), col("cd")),
        Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("__in"), lit(0)).as("in_core"),
        coalesce(col("cd"), lit(0L)).as("core_degree"))
  }

  /** Oracle twin of [[kCore]]: the identical peel unrolled as chained
    * CTEs — round r's survivor set a$r and restricted edge set e$r.
    * Every round CTE is AS MATERIALIZED: each references its
    * predecessor more than once, and DuckDB's default per-reference
    * inlining would otherwise copy the whole upstream edge pipeline
    * 2^rounds times (measured: file-handle exhaustion at rounds=8). */
  def kCoreSql(nodesSql: String, edgesSql: String, k: Int,
               rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH nodes AS ($nodesSql),
        edges AS ($edgesSql),
        e0 AS MATERIALIZED (
               SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
               FROM edges WHERE src <> dst)""")
    for (r <- 1 to rounds) {
      val prev = s"e${r - 1}"
      sb.append(s""",
        d$r AS MATERIALIZED (
                  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
                  SELECT u AS node FROM $prev
                  UNION ALL SELECT v FROM $prev) GROUP BY node),
        a$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $k),
        e$r AS MATERIALIZED (SELECT u, v FROM $prev
                WHERE u IN (SELECT node FROM a$r)
                  AND v IN (SELECT node FROM a$r))""")
    }
    sb.append(s""",
        cd AS (SELECT node, CAST(count(*) AS BIGINT) AS cd FROM (
                 SELECT u AS node FROM e$rounds
                 UNION ALL SELECT v FROM e$rounds) GROUP BY node)
        SELECT n.node_id,
               CAST(CASE WHEN a.node IS NULL THEN 0 ELSE 1 END AS INT)
                 AS in_core,
               COALESCE(cd.cd, 0) AS core_degree
        FROM nodes n
        LEFT JOIN a$rounds a ON n.node_id = a.node
        LEFT JOIN cd ON n.node_id = cd.node
        ORDER BY n.node_id""")
    sb.toString
  }

  /** k-truss decomposition (Cohen, "Trusses: cohesive subgraphs for
    * social network analysis", NSA tech report 2008; the MapReduce
    * peel is Cohen 2009): the maximal subgraph in which EVERY edge
    * closes at least k−2 triangles. A strictly stronger cohesion
    * signal than [[kCore]] (every k-truss edge lies in a (k−1)-core,
    * not vice versa): the truss keeps template cliques and drops the
    * bridge edges a core-based filter keeps — the edge-grain
    * dedup/community primitive.
    *
    * Per round: support(u,v) = triangles through (u,v) = |common
    * neighbors|, counted ONCE per triangle at its degree-ordered apex
    * (the [[triangleStats]] orientation, Suri & Vassilvitskii WWW'11)
    * and scattered to the triangle's three undirected edges — NOT the
    * raw two-sided wedge join, whose Σ deg(w)² blows up quadratically
    * inside one join group at a celebrity hub (the "last reducer";
    * PLANS.md's TrussScale drive plants a 2¹⁷-leaf star and measures flat
    * per-round cost, where the raw wedge would emit C(2¹⁷,2) ≈ 8.6e9
    * rows). Oriented out-degree is O(√m), so the apex wedge join is
    * O(m^1.5) worst-case. Values are identical to the raw wedge join,
    * so the oracle's common-neighbor CTEs are unchanged. Edges with
    * support < k−2 peel; removal cascades (the diamond fixture in
    * DedupSimSpec: one chord survives round 1 and dies round 2).
    * Early exit at the fixpoint — a round removing no edge leaves
    * every support unchanged, so stopping is result-identical to the
    * oracle's full unroll (the [[kCore]] argument); per-round frames
    * localCheckpoint so the plan stays linear in rounds.
    *
    * Output: every ORIGINAL undirected edge with its truss membership
    * and its support WITHIN the final truss (0 outside).
    *
    * Scale shape: per round, one degree hash-agg, the oriented wedge
    * equi-join, a triangle-close equi-join, one explode + hash-agg
    * (slim (long, long) rows throughout) + one semi-join peel; no
    * driver state beyond the edge count. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"kTruss needs k >= 3, got $k")
    require(rounds >= 1, s"kTruss needs rounds >= 1, got $rounds")
    val e0 = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    def support(e: DataFrame): DataFrame = {
      val deg = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      // Total-order orientation low-(deg, id) → high: acyclic, every
      // triangle has exactly one apex with two out-edges. The oriented
      // frame localCheckpoints (it is read three times; the per-round
      // checkpoint discipline keeps plans linear in rounds).
      val o = e
        .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
              (col("du") === col("dv") && col("u") < col("v")),
            col("u")).otherwise(col("v")).as("a"),
          when(col("du") < col("dv") ||
              (col("du") === col("dv") && col("u") < col("v")),
            col("v")).otherwise(col("u")).as("b"))
        .localCheckpoint()
      val tri = o.select(col("a").as("x"), col("b").as("y"))
        .join(o.select(col("a").as("x2"), col("b").as("z")),
          col("x") === col("x2"))
        .select(col("x"), col("y"), col("z"))
        .join(o.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"))
      tri.select(explode(array(
          struct(least(col("x"), col("y")).as("u"),
            greatest(col("x"), col("y")).as("v")),
          struct(least(col("x"), col("z")).as("u"),
            greatest(col("x"), col("z")).as("v")),
          struct(least(col("y"), col("z")).as("u"),
            greatest(col("y"), col("z")).as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
    }
    var e = e0
    var nEdges = e.count()
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      e = e.join(support(e), Seq("u", "v"), "left")
        .filter(coalesce(col("sup"), lit(0L)) >= (k - 2).toLong)
        .select(col("u"), col("v"))
        .localCheckpoint()
      val n2 = e.count()
      converged = n2 == nEdges
      nEdges = n2
      r += 1
    }
    val finalSup = support(e)
    e0.join(e.withColumn("__in", lit(1)), Seq("u", "v"), "left")
      .join(finalSup, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("__in"), lit(0)).as("in_truss"),
        coalesce(col("sup"), lit(0L)).as("truss_support"))
  }

  /** Oracle twin of [[kTruss]]: the identical peel unrolled as chained
    * MATERIALIZED CTEs (each round's edge set read by the adjacency,
    * the wedge join, and the next round — the kCore inlining lesson). */
  def kTrussSql(edgesSql: String, k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH edges AS ($edgesSql),
        t0 AS MATERIALIZED (
               SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
               FROM edges WHERE src <> dst)""")
    def supCte(name: String, src: String): String =
      s"""$name AS MATERIALIZED (
            SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup
            FROM $src e
            JOIN (SELECT u AS a, v AS b FROM $src
                  UNION ALL SELECT v, u FROM $src) x ON x.a = e.u
            JOIN (SELECT u AS a, v AS b FROM $src
                  UNION ALL SELECT v, u FROM $src) y
              ON y.a = e.v AND y.b = x.b
            GROUP BY e.u, e.v)"""
    for (r <- 1 to rounds) {
      val prev = s"t${r - 1}"
      sb.append(s""",
        ${supCte(s"s$r", prev)},
        t$r AS MATERIALIZED (
          SELECT p.u, p.v FROM $prev p
          LEFT JOIN s$r s ON s.u = p.u AND s.v = p.v
          WHERE COALESCE(s.sup, 0) >= ${k - 2})""")
    }
    sb.append(s""",
        ${supCte("sf", s"t$rounds")}
        SELECT e.u, e.v,
          CAST(CASE WHEN t.u IS NULL THEN 0 ELSE 1 END AS INT) AS in_truss,
          COALESCE(sf.sup, 0) AS truss_support
        FROM t0 e
        LEFT JOIN t$rounds t ON t.u = e.u AND t.v = e.v
        LEFT JOIN sf ON sf.u = e.u AND sf.v = e.v
        ORDER BY e.u, e.v""")
    sb.toString
  }

  /** Per-node triangle count, degree, and local clustering coefficient
    * over an arbitrary directed edge list (symmetrized internally) — the
    * cohesion observable over the corpus k-NN graph: a node whose
    * neighbors also neighbor each other sits inside a tight semantic
    * clique (boilerplate family, template farm), while a hub with
    * lcc ≈ 0 bridges unrelated regions.
    *
    * Algorithm: degree-ordered edge orientation (Suri & Vassilvitskii,
    * "Counting triangles and the curse of the last reducer", WWW'11).
    * Each undirected edge is oriented from its lower-(degree, id)
    * endpoint to the higher; the orientation is a total order, so the
    * oriented graph is acyclic and every triangle has exactly ONE apex
    * with two out-edges — counted once, no /3 or /6 correction, and no
    * orientation ever needs repair. The scale property: oriented
    * out-degree is O(√m) even when raw degree is O(n), so the wedge
    * self-join (the only super-linear step) generates Σ d⁺(v)² = O(m^1.5)
    * rows WORST-case instead of the O(n²) a raw-degree wedge join hits on
    * a hub node — the "last reducer" under celebrity skew is exactly what
    * the orientation removes.
    *
    * Plan shape: three hash equi-joins over slim (long, long) rows (wedge
    * build on apex, close on (y, z), degree attach), one explode +
    * hash-agg for per-node counts. No text, arrays, or floats shuffle;
    * lcc is exact integer micro-units (2·tri·10⁶ div deg·(deg−1) — Long
    * overflows only past ~4.6e12 triangles/node), NULL when deg < 2
    * (undefined, both engines). */
  def triangleStats(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist()
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val o = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("a"),
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("b"))
      .persist() // read three times by the triangle join
    val tri = o.select(col("a").as("x"), col("b").as("y"))
      .join(o.select(col("a").as("x2"), col("b").as("z")),
        col("x") === col("x2"))
      .select(col("x"), col("y"), col("z"))
      .join(o.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("node_id"), col("deg").as("degree"),
        coalesce(col("tri"), lit(0L)).as("triangles"),
        when(col("deg") >= 2, expr(
          s"(2 * coalesce(tri, CAST(0 AS BIGINT)) * $LccScale)" +
            " div (deg * (deg - 1))"))
          .as("lcc_micro"))
  }

  /** Oracle twin of [[triangleStats]] — the identical orientation and
    * joins; `//` is DuckDB's floor division on BIGINT, matching Spark's
    * `div`. */
  def triangleStatsSql(edgesSql: String): String =
    s"""WITH edges AS ($edgesSql),
        und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                FROM edges WHERE src <> dst),
        deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
                  SELECT u AS node FROM und
                  UNION ALL SELECT v FROM und) GROUP BY node),
        o AS (SELECT CASE WHEN du.deg < dv.deg
                            OR (du.deg = dv.deg AND und.u < und.v)
                          THEN und.u ELSE und.v END AS a,
                     CASE WHEN du.deg < dv.deg
                            OR (du.deg = dv.deg AND und.u < und.v)
                          THEN und.v ELSE und.u END AS b
              FROM und JOIN deg du ON und.u = du.node
                       JOIN deg dv ON und.v = dv.node),
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM o e1 JOIN o e2 ON e1.a = e2.a
                          JOIN o e3 ON e3.a = e1.b AND e3.b = e2.b),
        pn AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM (
                 SELECT x AS node FROM tri
                 UNION ALL SELECT y FROM tri
                 UNION ALL SELECT z FROM tri) GROUP BY node)
        SELECT d.node AS node_id, d.deg AS degree,
               COALESCE(p.tri, CAST(0 AS BIGINT)) AS triangles,
               CASE WHEN d.deg >= 2
                    THEN (2 * COALESCE(p.tri, CAST(0 AS BIGINT)) * $LccScale)
                         // (d.deg * (d.deg - 1)) END AS lcc_micro
        FROM deg d LEFT JOIN pn p ON d.node = p.node
        ORDER BY node_id"""

  /** Oracle twin of [[pageRank]]: the same rounds as chained CTEs (the
    * `text_bpe_merges` replay pattern). DuckDB widens integer SUM to
    * HUGEINT internally; the final CAST restores BIGINT — values are
    * identical because both engines stay inside the documented overflow
    * bound. */
  def pageRankSql(nodesSql: String, edgesSql: String,
                  iters: Int = PrIters): String = {
    val its = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s"""it$i AS (SELECT n.node_id,
            CAST($PrBase + ($PrDampNum * COALESCE(s.m, 0)) // $PrDampDen
                 AS BIGINT) AS pr
            FROM nodes n LEFT JOIN (
              SELECT e.dst, SUM(p.pr // o.od) AS m
              FROM edges e JOIN $prev p ON e.src = p.node_id
                           JOIN outd o ON e.src = o.src
              GROUP BY e.dst) s ON n.node_id = s.dst)"""
    }
    s"""WITH nodes AS ($nodesSql),
        edges AS ($edgesSql),
        outd AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
        r0 AS (SELECT node_id, CAST($PrS0 AS BIGINT) AS pr FROM nodes),
        ${its.mkString(",\n        ")}
        SELECT node_id, pr AS pagerank FROM it$iters ORDER BY node_id"""
  }

  /** Personalized PageRank (topic-sensitive PageRank, Haveliwala WWW'02;
    * a.k.a. random walk with restart): identical damped iteration to
    * [[pageRank]] except the teleport mass lands ONLY on the `seedPred`
    * set — every round each seed receives the fixed restart grant
    * [[PrBase]] and non-seeds receive none, so mass concentrates in the
    * seeds' neighborhoods. This is the "expand from a trusted core"
    * primitive: seed the walker at human-audited documents (or a known
    * topic slice) and rank the corpus by proximity to that core —
    * TrustRank-style quality propagation and topic-conditioned curation
    * in one operator.
    *
    * Integer contract: init mass S0 at seeds / 0 elsewhere, damping as
    * the exact 85/100 rational with floor division; total mass never
    * exceeds |seeds|·S0 plus damped inbound sums, strictly below the
    * [[pageRank]] overflow bound (which already covers N·S0). Dangling
    * leak is the same documented contract.
    *
    * Scale shape: identical to [[pageRank]] — the degree-joined edge
    * table persists once, each round is one equi-join + one map-side-
    * combined hash-agg + a nodes left-join; rounds O(iters), lineage
    * flat. */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame,
                           seedPred: Column,
                           iters: Int = PrIters): DataFrame = {
    val outd = edges.groupBy("src").agg(count(lit(1)).as("od"))
    val eo = edges.select("src", "dst").join(outd, "src").persist()
    val nn = nodes.select(col("node_id"), seedPred.as("is_seed"))
    var r = nn.select(col("node_id"),
      when(col("is_seed"), lit(PrS0)).otherwise(lit(0L)).as("pr"))
    for (_ <- 1 to iters) {
      val inbound = eo.join(r, eo("src") === r("node_id"))
        .select(col("dst"), expr("pr div od").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("m"))
      r = nn
        .join(inbound, col("node_id") === inbound("dst"), "left")
        .select(col("node_id"),
          (when(col("is_seed"), lit(PrBase)).otherwise(lit(0L)) + expr(
            s"($PrDampNum * coalesce(m, CAST(0 AS BIGINT))) div $PrDampDen"))
            .as("pr"))
    }
    nn.join(r, "node_id")
      .select(col("node_id"), col("is_seed"), col("pr").as("ppr"))
  }

  /** Synchronous Louvain MOVE phase (Blondel et al., "Fast unfolding of
    * communities in large networks", 2008), `rounds` fixed rounds — the
    * community-detection step between [[labelPropagate]] (no modularity
    * objective) and [[modularity]] (scores a given labeling): every
    * node simultaneously moves to the candidate community (its
    * neighbors' communities + staying) maximizing the modularity gain.
    * With a per-node constant offset removed, argmax of the gain equals
    * argmax of score(C) = e_{v,C}·2m − deg_v·Σ_{C\v} — EXACT integers
    * (products in DECIMAL(38,0), the [[modularity]] overflow
    * discipline), ties (score desc, community asc), so both engines
    * move every node identically. Synchronous rounds can oscillate
    * pairs (the known price of the distributed variant vs sequential
    * Louvain); the fixed round count and deterministic ties keep the
    * unrolled oracle exact. Emitted `gain_milli` is the RELATIVE gain
    * over staying, scaled by 1000/2m — nonnegative by construction, so
    * floor division agrees across engines.
    *
    * Scale shape: per round, one (node, neighbor-community) hash-agg
    * over the symmetrized edges, a community degree-sum agg, and a
    * per-node WindowGroupLimit argmax — the standard distributed-Louvain
    * layout; community state localCheckpoints between rounds. */
  def louvainRounds(nodes: DataFrame, edges: DataFrame,
                    rounds: Int = 2): DataFrame = {
    require(rounds >= 1, s"louvainRounds needs rounds >= 1 (got $rounds)")
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint()
    val deg = und.groupBy(col("src").as("node_id"))
      .agg(count(lit(1)).as("deg"))
    val m2 = und.agg(count(lit(1)).as("m2"))
    var comm = nodes.select(col("node_id"), col("node_id").as("c"))
    var gains = nodes.select(col("node_id"), lit(0L).as("gain_milli"))
    for (_ <- 1 to rounds) {
      val cm = comm.join(deg, "node_id")
      val evc = und
        .join(comm.select(col("node_id").as("dst"), col("c").as("cc")),
          "dst")
        .groupBy(col("src").as("node_id"), col("cc"))
        .agg(count(lit(1)).as("e"))
      val degsum = cm.groupBy(col("c").as("cc")).agg(sum(col("deg")).as("s"))
      val cand = evc.select(col("node_id"), col("cc"))
        .union(cm.select(col("node_id"), col("c").as("cc")))
        .distinct()
        .join(evc, Seq("node_id", "cc"), "left")
        .withColumn("e", coalesce(col("e"), lit(0L)))
        .join(cm.select(col("node_id"), col("c"), col("deg")), "node_id")
        .join(degsum, "cc")
        .crossJoin(broadcast(m2))
        .withColumn("sx", col("s") -
          when(col("cc") === col("c"), col("deg")).otherwise(lit(0L)))
        .withColumn("score", expr(
          "CAST(e AS DECIMAL(38,0)) * m2 - CAST(deg AS DECIMAL(38,0)) * sx"))
        .localCheckpoint()
      val w = Window.partitionBy(col("node_id"))
        .orderBy(col("score").desc, col("cc"))
      val pick = cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node_id"), col("cc").as("newc"), col("score"),
          col("m2"))
        .join(cand.filter(col("cc") === col("c"))
          .select(col("node_id"), col("score").as("stay_score")), "node_id")
        .select(col("node_id"), col("newc"), expr(
          "CAST(((score - stay_score) * 1000) div m2 AS BIGINT)")
          .as("gain_milli"))
      comm = nodes
        .join(pick.select(col("node_id"), col("newc")), Seq("node_id"),
          "left")
        .select(col("node_id"), coalesce(col("newc"), col("node_id"))
          .as("c"))
        .localCheckpoint()
      gains = nodes
        .join(pick.select(col("node_id"), col("gain_milli")),
          Seq("node_id"), "left")
        .select(col("node_id"),
          coalesce(col("gain_milli"), lit(0L)).as("gain_milli"))
    }
    comm.join(gains, "node_id")
      .select(col("node_id"), col("c").as("community"), col("gain_milli"))
  }

  /** Oracle twin of [[louvainRounds]]: rounds replay as chained CTEs
    * (HUGEINT products mirror the DECIMAL(38,0) route). */
  def louvainRoundsSql(nodesSql: String, edgesSql: String,
                       rounds: Int = 2): String = {
    val its = (1 to rounds).map { r =>
      val prev = s"comm${r - 1}"
      s"""evc$r AS MATERIALIZED (SELECT u.src AS node_id, p.c AS cc,
            CAST(count(*) AS BIGINT) AS e
          FROM und u JOIN $prev p ON u.dst = p.node_id GROUP BY 1, 2),
        cm$r AS (SELECT p.node_id, p.c, d.deg
          FROM $prev p JOIN deg d USING (node_id)),
        ds$r AS (SELECT c AS cc, CAST(sum(deg) AS BIGINT) AS s
          FROM cm$r GROUP BY 1),
        cd$r AS MATERIALIZED (SELECT k.node_id, k.cc, cm.c,
            CAST(COALESCE(e.e, 0) AS HUGEINT) * m2.m2
              - CAST(cm.deg AS HUGEINT) *
                (ds.s - CASE WHEN k.cc = cm.c THEN cm.deg ELSE 0 END)
              AS score
          FROM (SELECT node_id, cc FROM evc$r
                UNION SELECT node_id, c FROM cm$r) k
          LEFT JOIN evc$r e USING (node_id, cc)
          JOIN cm$r cm USING (node_id)
          JOIN ds$r ds USING (cc)
          CROSS JOIN m2),
        pk$r AS (SELECT node_id, cc AS newc, score FROM (
            SELECT node_id, cc, score, row_number() OVER (
              PARTITION BY node_id ORDER BY score DESC, cc) AS rn
            FROM cd$r) WHERE rn = 1),
        g$r AS (SELECT p.node_id, p.newc,
            CAST(((p.score - st.score) * 1000) // m2.m2 AS BIGINT)
              AS gain_milli
          FROM pk$r p
          JOIN (SELECT node_id, score FROM cd$r WHERE cc = c) st
            USING (node_id)
          CROSS JOIN m2),
        comm$r AS MATERIALIZED (SELECT n.node_id,
            COALESCE(g.newc, n.node_id) AS c
          FROM nodes n LEFT JOIN g$r g USING (node_id))"""
    }
    s"""WITH nodes AS MATERIALIZED ($nodesSql),
        ed AS MATERIALIZED ($edgesSql),
        und AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM ed
            UNION ALL SELECT dst AS src, src AS dst FROM ed)
          WHERE src <> dst),
        deg AS MATERIALIZED (SELECT src AS node_id,
            CAST(count(*) AS BIGINT) AS deg
          FROM und GROUP BY 1),
        m2 AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m2 FROM und),
        comm0 AS (SELECT node_id, node_id AS c FROM nodes),
        ${its.mkString(",\n        ")}
        SELECT c.node_id, c.c AS community,
          COALESCE(g.gain_milli, 0) AS gain_milli
        FROM comm$rounds c LEFT JOIN g$rounds g USING (node_id)
        ORDER BY c.node_id"""
  }

  /** Oracle twin of [[personalizedPageRank]]: `nodesSql` must yield
    * (node_id, is_seed); rounds replay as chained CTEs. */
  def personalizedPageRankSql(nodesSql: String, edgesSql: String,
                              iters: Int = PrIters): String = {
    val its = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s"""it$i AS (SELECT n.node_id,
            CAST(CASE WHEN n.is_seed THEN $PrBase ELSE 0 END
                 + ($PrDampNum * COALESCE(s.m, 0)) // $PrDampDen
                 AS BIGINT) AS pr
            FROM nodes n LEFT JOIN (
              SELECT e.dst, SUM(p.pr // o.od) AS m
              FROM edges e JOIN $prev p ON e.src = p.node_id
                           JOIN outd o ON e.src = o.src
              GROUP BY e.dst) s ON n.node_id = s.dst)"""
    }
    s"""WITH nodes AS ($nodesSql),
        edges AS ($edgesSql),
        outd AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
        r0 AS (SELECT node_id,
          CAST(CASE WHEN is_seed THEN $PrS0 ELSE 0 END AS BIGINT) AS pr
          FROM nodes),
        ${its.mkString(",\n        ")}
        SELECT n.node_id, n.is_seed, pr AS ppr
        FROM it$iters JOIN nodes n USING (node_id) ORDER BY n.node_id"""
  }

  /** Semi-supervised label propagation with a FIXED round count: seed
    * nodes carry immutable labels; each round, every still-unlabeled
    * node adopts the MAJORITY label among its labeled neighbors (tie →
    * smallest label — a total, engine-portable rule), labels only ever
    * spread (a labeled node never changes). The fixed `rounds` bound
    * keeps both engines on the identical unrolled computation; nodes
    * the seeds cannot reach within the bound stay NULL (both engines).
    * This is the cheap transduction pass that extends a small set of
    * human-audited domain/quality labels over the corpus k-NN graph.
    *
    * Scale shape per round: one equi-join of the (symmetrized, cached)
    * edge list against the slim current label frame, a (node, label)
    * hash-agg with map-side combine, and a node-partitioned window to
    * pick the majority — no global window, no growing lineage (each
    * round localCheckpoints, the bfsLayers discipline). */
  def labelPropagate(nodes: DataFrame, edges: DataFrame, seedPred: Column,
                     rounds: Int): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src")).persist()
    var lbl = nodes
      .select(col("node_id"),
        when(seedPred, col("node_id")).as("label"))
      .localCheckpoint()
    val wPick = Window.partitionBy(col("dst"))
      .orderBy(col("cnt").desc, col("label"))
    for (_ <- 1 to rounds) {
      val pick = sym
        .join(lbl.filter(col("label").isNotNull), sym("src") === lbl("node_id"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("dst"), col("label").as("maj"))
      lbl = lbl.join(pick, lbl("node_id") === pick("dst"), "left")
        .select(col("node_id"), coalesce(col("label"), col("maj")).as("label"))
        .localCheckpoint()
    }
    sym.unpersist(false) // all rounds materialized by the checkpoints
    lbl.select(col("node_id"), col("label"))
  }

  /** Oracle twin of [[labelPropagate]] — identical unrolled rounds; the
    * round CTEs are AS MATERIALIZED for the same per-reference-inlining
    * reason as [[kCoreSql]]. */
  def labelPropagateSql(nodesSql: String, edgesSql: String,
                        seedPredSql: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH nodes AS ($nodesSql),
        edges AS ($edgesSql),
        sym AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst, src FROM edges)),
        l0 AS MATERIALIZED (
          SELECT node_id,
                 CASE WHEN $seedPredSql THEN node_id END AS label
          FROM nodes)""")
    for (r <- 1 to rounds) {
      val prev = s"l${r - 1}"
      sb.append(s""",
        c$r AS MATERIALIZED (
          SELECT dst, label, CAST(count(*) AS BIGINT) AS cnt
          FROM sym JOIN $prev ON sym.src = $prev.node_id
          WHERE label IS NOT NULL GROUP BY dst, label),
        p$r AS MATERIALIZED (
          SELECT dst, label AS maj FROM (
            SELECT *, row_number() OVER (PARTITION BY dst
              ORDER BY cnt DESC, label) AS rn FROM c$r) WHERE rn = 1),
        l$r AS MATERIALIZED (
          SELECT node_id, COALESCE(label, maj) AS label
          FROM $prev LEFT JOIN p$r ON $prev.node_id = p$r.dst)""")
    }
    sb.append(s"""
        SELECT node_id, label FROM l$rounds ORDER BY node_id""")
    sb.toString
  }

  /** BFS distance layers from a seed set over a directed edge list —
    * "how many hops is every document from the curated core": seeds are
    * layer 0, each round expands the current frontier one hop, a node
    * keeps the FIRST depth that reaches it, and nodes the seeds never
    * reach within `maxDepth` report −1 (graph-distance features for
    * curation: trust propagation from vetted documents, staleness
    * radius from a refreshed subset).
    *
    * Scale shape — the Pregel frontier pattern, NOT a transitive
    * closure: each round is frontier⋈edges (equi-join on src, slim
    * (node_id) rows) → distinct → anti-join against the visited set;
    * every frontier is persisted so round r+1 references a materialized
    * slim node-id frame, never a 2^depth-deep lineage (the anti-join
    * reads the union of CACHED layers — no recomputation). Rounds are
    * O(maxDepth); the frontier can only shrink relative to the
    * reachable set, and no step is ever quadratic in degree. */
  def bfsLayers(nodes: DataFrame, edges: DataFrame, seedPred: Column,
                maxDepth: Int): DataFrame = {
    // Repartition-once-by-join-key before persisting: the cached frame
    // carries HashPartitioning(src), so EVERY round's frontier join
    // reuses that distribution instead of re-shuffling the full edge
    // table per round.
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).persist()
    // Each layer is localCheckpoint'ed, not merely persisted (the
    // DedupOps.maxSpans round discipline): round r's anti-join unions
    // every earlier layer, so with live lineage the logical plan doubles
    // per round and PLANNING time goes exponential — the 2^20-edge drive
    // measured 11.8 s at 4 rounds but 141 s at 8 with persist() alone;
    // checkpointing truncates each layer to a leaf and the same 8-round
    // drive runs in seconds per round. (On a fault-tolerant cluster use
    // a reliable checkpoint dir; local checkpoints trade executor-loss
    // recovery for speed.)
    var layers = List(
      nodes.filter(seedPred).select(col("node_id")).distinct()
        .localCheckpoint())
    for (_ <- 1 to maxDepth) {
      val visited = layers.reduce(_ unionAll _)
      val next = layers.head.join(e, col("node_id") === col("src"))
        .select(col("dst").as("node_id")).distinct()
        .join(visited, Seq("node_id"), "left_anti")
        .localCheckpoint()
      layers = next :: layers
    }
    // Every use of the cached edge frame happened inside the loop (each
    // localCheckpoint is eager), so release its blocks now — a long-lived
    // session calling bfsLayers repeatedly must not accumulate edge
    // caches. The checkpointed layers stay referenced by the result and
    // are reclaimed by the ContextCleaner when the result is dropped.
    e.unpersist(false)
    val dists = layers.reverse.zipWithIndex.map { case (f, dd) =>
      f.select(col("node_id"), lit(dd).as("dist"))
    }.reduce(_ unionAll _)
    nodes.select(col("node_id")).join(dists, Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("dist"), lit(-1)).as("dist"))
  }

  /** Oracle twin of [[bfsLayers]]: a recursive CTE bounded at `maxDepth`
    * whose UNION dedups (node, dist) pairs; min(dist) per node is the
    * first-reached BFS layer — identical to the frontier anti-join. */
  def bfsLayersSql(nodesSql: String, edgesSql: String,
                   seedPredSql: String, maxDepth: Int): String =
    s"""WITH RECURSIVE nodes AS ($nodesSql),
        edges AS ($edgesSql),
        bfs(node_id, dist) AS (
          SELECT node_id, 0 FROM nodes WHERE $seedPredSql
          UNION
          SELECT e.dst, b.dist + 1
          FROM bfs b JOIN edges e ON b.node_id = e.src
          WHERE b.dist < $maxDepth),
        m AS (SELECT node_id, CAST(min(dist) AS INT) AS dist
              FROM bfs GROUP BY node_id)
        SELECT n.node_id, COALESCE(m.dist, -1) AS dist
        FROM nodes n LEFT JOIN m ON n.node_id = m.node_id
        ORDER BY n.node_id"""

  /** Double-sweep diameter lower bound (Magnien, Latapy & Habib's
    * classic BFS double sweep; the opening move of iFUB): BFS from a
    * hash-chosen start, take the farthest node u (ties → lowest id),
    * BFS again from u — ecc(u) lower-bounds the diameter and is
    * empirically tight on real graphs. The one-row panel a graph
    * health check wants: how stretched is the corpus k-NN graph, and
    * how much of it is unreachable from its periphery. Undirected
    * (edges symmetrized); exact BFS layer integers throughout, so the
    * bound is engine-portable bit-for-bit.
    *
    * Scale shape: exactly two [[bfsLayers]] runs (the checkpointed
    * frontier discipline) plus two bounded argmax collects — driver
    * state is three scalars. */
  def diameterDoubleSweep(nodes: DataFrame, edges: DataFrame,
                          maxDepth: Int = 8,
                          salt: String = "dia",
                          cacheTag: String = "",
                          cacheDepth: Int = 0): DataFrame = {
    require(maxDepth >= 1, s"diameterDoubleSweep needs maxDepth >= 1")
    val keyFiles = (nodes.inputFiles ++ edges.inputFiles).toSeq
    // repartition(src)+persist: the two sweeps' per-level expand joins
    // are then co-partitioned with the frontier (see [[singleBfs]]) —
    // without it every BFS level re-unioned and re-shuffled the edge
    // frame. Same rows in any order — BFS distances are order-free.
    val und = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(graphParts(nodes.sparkSession, keyFiles), col("src"))
      .persist()
    val nodesD = nodes.select(col("node_id")).distinct().localCheckpoint()
    val nDistinct = nodesD.count()
    val start = nodesD
      .withColumn("h", graft.ops.TextOps.hash64(
        concat(lit(salt), col("node_id").cast("string"))))
      .orderBy(col("h"), col("node_id")).limit(1)
      .collect()(0).getLong(0)
    // Sweeps ride [[bfsDistCached]] so a session that also runs the
    // iFUB/TK gates shares the (start → antipode) chain instead of
    // rebuilding it. Mirrors the oracle exactly: the argmax ranges
    // over ALL reached nodes (the recursive CTE walks edges
    // unrestricted), n_unreached counts only `nodes` rows.
    def far(seed: Long): (Long, Int, Long) = {
      val (d, _) = bfsDistCached(nodes, und, seed, maxDepth,
        math.max(maxDepth, cacheDepth), cacheTag, keyFiles)
      val top = d.orderBy(col("dist").desc, col("node_id")).limit(1)
        .collect()(0)
      val unreached =
        nDistinct - d.join(nodesD, Seq("node_id"), "left_semi").count()
      (top.getLong(0), top.getInt(1), unreached)
    }
    val (u, _, _) = far(start)
    val (v, eccU, unreachedU) = far(u)
    und.unpersist(false)
    nodes.sparkSession.createDataFrame(Seq(
        (start, u, v, eccU.toLong, unreachedU)))
      .toDF("start_id", "far_a", "far_b", "diam_lb", "n_unreached")
  }

  /** Oracle twin of [[diameterDoubleSweep]]: two chained bounded
    * recursive CTEs, the second seeded by the first's argmax scalar,
    * with the same (dist DESC, node_id) tie order. */
  def diameterDoubleSweepSql(nodesSql: String, edgesSql: String,
                             maxDepth: Int = 8,
                             salt: String = "dia"): String = {
    val h = graft.ops.TextOps.hash64Sql(
      s"'$salt' || CAST(node_id AS VARCHAR)")
    s"""WITH RECURSIVE nodes AS ($nodesSql),
        e0 AS ($edgesSql),
        edges AS (SELECT src, dst FROM e0
                  UNION ALL SELECT dst, src FROM e0),
        st AS (SELECT node_id AS s FROM (
          SELECT DISTINCT node_id FROM nodes) n
          ORDER BY $h, node_id LIMIT 1),
        b1(node_id, dist) AS (
          SELECT s, 0 FROM st
          UNION
          SELECT e.dst, b.dist + 1
          FROM b1 b JOIN edges e ON b.node_id = e.src
          WHERE b.dist < $maxDepth),
        m1 AS (SELECT node_id, min(dist) AS dist FROM b1 GROUP BY 1),
        u AS (SELECT node_id AS u FROM m1
              ORDER BY dist DESC, node_id LIMIT 1),
        b2(node_id, dist) AS (
          SELECT u, 0 FROM u
          UNION
          SELECT e.dst, b.dist + 1
          FROM b2 b JOIN edges e ON b.node_id = e.src
          WHERE b.dist < $maxDepth),
        m2 AS (SELECT node_id, min(dist) AS dist FROM b2 GROUP BY 1),
        v AS (SELECT node_id AS v, dist AS ecc FROM m2
              ORDER BY dist DESC, node_id LIMIT 1)
        SELECT st.s AS start_id, u.u AS far_a, v.v AS far_b,
          CAST(v.ecc AS BIGINT) AS diam_lb,
          (SELECT CAST(count(*) AS BIGINT)
           FROM (SELECT DISTINCT node_id FROM nodes) n
           WHERE n.node_id NOT IN (SELECT node_id FROM m2))
            AS n_unreached
        FROM st CROSS JOIN u CROSS JOIN v"""
  }

  /** Multi-source BFS over a shared pre-partitioned symmetric edge
    * frame: first-reached (seed, node) layers, the [[harmonicCentrality]]
    * frontier discipline (every layer localCheckpoints — the
    * exponential-planning lesson) plus an empty-frontier early exit
    * (result-identical: the skipped layers are empty).
    *
    * Returns (layers, depthCapped): depthCapped is true when the walk
    * exhausted `maxDepth` with a still-live frontier — some true
    * distance exceeds the cap, so every eccentricity read from this
    * run may be UNDERSTATED and callers must degrade to their
    * resolved=false sentinel instead of certifying a bound. The probe
    * (one extra frontier join) only runs when the cap was actually
    * reached, never on inputs whose eccentricities sit under it.
    *
    * CONTRACT: `e` must be SYMMETRIC (every caller symmetrizes). The
    * anti-join then needs only the LAST TWO layers (round-11): in an
    * undirected unweighted graph a neighbor of a dist-r node has
    * dist ∈ {r−1, r, r+1}, so a candidate already visited can only
    * live in layer r−1 or r — per-round dedup state drops from
    * Θ(Σ layers) (quadratic in depth overall) to Θ(two layers).
    * A directed walk (bfsLayers) must keep the full union: a forward
    * edge may point at an arbitrarily EARLY layer. */
  /** Scale-adaptive partition count for an iterative graph op's working
    * set (frontiers, adjacency, per-round aggregations), derived from
    * the RAW inputs' on-disk bytes — guide §2: never a constant tuned
    * to one box. At gate scale a k-NN edge table is a few hundred KB,
    * so every per-level job runs 1 task instead of `shuffle.partitions`
    * tiny ones (the per-job fixed overhead dominated the diameter
    * family's bench lines); at crawl scale bytes/4 MB grows past any
    * core count and the same expression yields full parallelism.
    * In-memory inputs (no files — the spec fixtures) fall back to the
    * session default parallelism. */
  private[graft] def graphParts(spark: org.apache.spark.sql.SparkSession,
                                keyFiles: Seq[String]): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = keyFiles.distinct.map { f =>
      try {
        val p = new Path(f)
        p.getFileSystem(conf).getFileStatus(p).getLen
      } catch { case NonFatal(_) => 0L }
    }.sum
    if (bytes <= 0L) spark.sparkContext.defaultParallelism
    else math.max(1, math.min(bytes / (4L << 20), 1L << 20).toInt + 1)
  }

  /** Single-source specialization of [[multiBfs]] — the shape every
    * [[bfsDistCached]] sweep actually runs (one seed per call). Three
    * §2.2/§2.3/§2.4 savings over the general multi-seed walk:
    *
    *  - rows are (node_id) only — no constant `seed` column rides every
    *    frontier shuffle;
    *  - every frame is explicitly hash-partitioned by node_id into the
    *    caller's `parts` (from [[graphParts]]): the expand join
    *    (frontier.node_id = e.src) is co-partitioned with the callers'
    *    `repartition(parts, src)`-persisted adjacency, and the visited
    *    check anti-joins the last two layers ONE AT A TIME (each
    *    checkpointed layer already node_id-partitioned) instead of
    *    unioning them (a union discards partitioning and forced a
    *    re-exchange);
    *  - the explicit repartition replaces distinct's own exchange (the
    *    aggregation's clustering requirement is satisfied by the
    *    repartition), pinning the level layout against AQE re-coalescing
    *    it away from the adjacency's.
    *
    * Net: one Exchange per level where the general walk paid three, at
    * a task count that tracks the graph's bytes. Layer SETS are
    * identical to multiBfs — BFS levels don't depend on join order or
    * partitioning — so every consumer is value-unchanged. */
  private[graft] def singleBfs(spark: org.apache.spark.sql.SparkSession,
                               seedId: Long, e: DataFrame, maxDepth: Int,
                               parts: Int)
  : (DataFrame, Boolean) = {
    def expand(frontier: DataFrame, prev: List[DataFrame]): DataFrame =
      prev.take(2).foldLeft(
        frontier.join(e, col("node_id") === col("src"))
          .select(col("dst").as("node_id"))
          .repartition(parts, col("node_id")).distinct()
      )((acc, l) => acc.join(l, Seq("node_id"), "left_anti"))
    var layers = List(
      spark.createDataFrame(Seq(Tuple1(seedId))).toDF("node_id")
        .repartition(parts, col("node_id")).localCheckpoint())
    var depth = 0
    var done = false
    while (depth < maxDepth && !done) {
      val next = expand(layers.head, layers).localCheckpoint()
      if (next.isEmpty) done = true else layers = next :: layers
      depth += 1
    }
    val capped = !done && !expand(layers.head, layers).isEmpty
    (layers.reverse.zipWithIndex.map { case (f, dd) =>
      f.select(col("node_id"), lit(dd).as("dist"))
    }.reduce(_ unionAll _), capped)
  }

  private[graft] def multiBfs(seeds: DataFrame, e: DataFrame, maxDepth: Int)
  : (DataFrame, Boolean) = {
    var layers = List(
      seeds.select(col("seed"), col("seed").as("node_id")).distinct()
        .localCheckpoint())
    var depth = 0
    var done = false
    while (depth < maxDepth && !done) {
      val visited = layers.take(2).reduce(_ unionAll _)
      val next = layers.head.join(e, col("node_id") === col("src"))
        .select(col("seed"), col("dst").as("node_id")).distinct()
        .join(visited, Seq("seed", "node_id"), "left_anti")
        .localCheckpoint()
      if (next.isEmpty) done = true else layers = next :: layers
      depth += 1
    }
    val capped = !done && {
      val visited = layers.take(2).reduce(_ unionAll _)
      !layers.head.join(e, col("node_id") === col("src"))
        .select(col("seed"), col("dst").as("node_id")).distinct()
        .join(visited, Seq("seed", "node_id"), "left_anti")
        .isEmpty
    }
    (layers.reverse.zipWithIndex.map { case (f, dd) =>
      f.select(col("seed"), col("node_id"), lit(dd).as("dist"))
    }.reduce(_ unionAll _), capped)
  }

  /** Cross-gate single-source BFS sweep artifact — the
    * `SimOps.knnEdgesCached` pattern for diameter sweeps (round-11
    * verdict #2): [[diameterDoubleSweep]] and [[diameterIfub]] open
    * with the SAME BFS chain (hash start → its antipode) over the same
    * corpus graph, and an analytics session running both would
    * otherwise rebuild sweeps the other just ran. When session conf
    * `graft.bfs.dir` is set AND the caller passes a non-empty
    * `graphTag`, the sweep's reached-distance frame (node_id, dist)
    * is a `bfs`-kind [[graft.Artifacts]] entry keyed by (input files,
    * graphTag, seed), with the COMPUTE depth and capped flag encoded in
    * the entry name (`bfs_<tag>_d<depth>_c<0|1>`, read only once
    * committed).
    *
    * Depth sharing is lossless because BFS layers are cap-independent:
    * a stored sweep of depth D serves any reader needing d ≤ D — rows
    * with dist ≤ d ARE the depth-d result, and the reader's capped
    * flag is exact (a dist = d+1 row exists, or D = d and the writer
    * itself capped). `computeDepth` lets a shallow gate OVER-compute
    * once (the double sweep at the iFUB depth) so the deeper gate can
    * share; on graphs whose eccentricity sits under the cap the extra
    * rounds never run (the frontier empties first).
    *
    * `graphTag` is load-bearing exactly like knnEdgesCached's
    * `variant`: DERIVED edge frames report their parent's inputFiles,
    * so two different graphs over the same table (the document chain
    * vs the document tree) MUST carry different tags. Callers sharing
    * a tag must pass semantically equal graphs (dedup/ordering of the
    * symmetric edge frame may differ — BFS distances don't). Unset
    * conf / empty tag / in-memory inputs: plain compute (the Verify
    * gate's path — correctness never depends on the cache).
    *
    * `keyFiles` must be the inputFiles of the op's RAW (nodes, edges)
    * parameters, harvested BEFORE any derived frame is persisted: a
    * persisted derivation reports NO files (CacheManager substitution
    * replaces its optimized plan with an InMemoryRelation), which
    * would silently fork the key and defeat cross-op sharing. */
  private[graft] def bfsDistCached(nodes: DataFrame, eSym: DataFrame,
      seedId: Long, maxDepth: Int, computeDepth: Int,
      graphTag: String, keyFiles: Seq[String],
      persist: Boolean = true): (DataFrame, Boolean) = {
    val spark = nodes.sparkSession
    def compute(depth: Int): (DataFrame, Boolean) =
      singleBfs(spark, seedId, eSym, depth, graphParts(spark, keyFiles))
    def inline: (DataFrame, Boolean) = {
      val (d, tr) = compute(maxDepth)
      (d.localCheckpoint(), tr)
    }
    val slot =
      if (graphTag.isEmpty) None
      else graft.Artifacts.slot(spark, "bfs", Seq(graphTag, seedId), keyFiles)
    slot match {
      case None => inline
      case Some((dir, tag)) =>
        val re = s"bfs_${tag}_d(\\d+)_c([01])".r
        def entry(p: Path): Option[(Path, Int, Boolean)] = p.getName match {
          case re(dS, cS) => Some((p, dS.toInt, cS == "1"))
          case _ => None
        }
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val stored =
          (if (fs.exists(dir)) fs.listStatus(dir).toSeq.map(_.getPath) else Nil)
            .flatMap(entry)
            .filter(e => e._2 >= maxDepth && graft.Artifacts.committed(spark, e._1))
            .sortBy(-_._2).headOption
        // `persist = false` callers (round-12 verdict #7: iFUB's graph-
        // determined later pivots, which no other gate can ever share)
        // still READ a hit if one exists, but a miss computes without
        // paying the write — the artifact dir stays reserved for sweeps
        // with actual cross-gate reuse (the hash start and its antipodes).
        if (stored.isEmpty && !persist) inline
        else {
          val cd = math.max(maxDepth, computeDepth)
          // The sweep frame is O(|V|) slim (node_id, dist) rows; at the
          // analytics grain one file is the right write shape (32 tiny
          // part files cost ~0.3 s each write+list — measured as the
          // graph_diameter_tk bench regression).
          val (path, storedDepth, storedCapped) = stored.getOrElse(entry(
            graft.Artifacts.write(s"bfs_${tag}_s$seedId", Some(1)) {
              val (d, tr) = compute(cd)
              (d, new Path(dir, s"bfs_${tag}_d${cd}_c${if (tr) 1 else 0}"))
            }).get)
          val full = spark.read.parquet(path.toString)
          val capped =
            if (storedDepth == maxDepth) storedCapped
            else !full.filter(col("dist") === maxDepth + 1).isEmpty
          (full.filter(col("dist") <= maxDepth).localCheckpoint(), capped)
        }
    }
  }

  /** Max eccentricity over a seed SET via a BIT-PARALLEL multi-source
    * BFS — the round-11 answer to the iFUB fringe scan's published
    * expander worst case. The row-keyed [[multiBfs]] materializes
    * Θ(S·n) (seed, node) rows when the fringe holds most of the
    * graph (near-APSP state); this scan gives each seed ONE BIT and
    * keeps per node only the ceil(S/64)-word bitmap of seeds that
    * reach it — Θ(S·n/64) words, rounds are (frontier ⋈ edges) →
    * per-node [[graft.catalyst.BitOrAgg]] → and-not against the
    * cumulative reach.
    *
    * It can do this because the iFUB fold only consumes
    * B = max_{w∈seeds} ecc(w), never per-seed distances: a seed's
    * ecc is the round its reach last grew, so B is simply the LAST
    * round any new bit appeared anywhere — bit identity is never
    * read back, making the packing lossless for this statistic.
    *
    * Returns (B, capped): capped=true when growth would continue
    * past `maxDepth` (probed one round further, only when round
    * maxDepth itself still grew) — same contract as [[multiBfs]],
    * including the SYMMETRIC-adjacency requirement: dedup rides the
    * same last-two-layers band property (a seed's bit re-proposed at
    * round r+1 can only have been set in rounds r−1 or r), so NO
    * cumulative reach frame exists — per-round state is the two most
    * recent delta frames, not Θ(reached · S/64).
    *
    * Scale: state is two delta frames of ≤ n·S/64 words each with
    * S ≤ the caller's seed budget; the seed→bit assignment is a
    * row_number over ≤ S rows (one bounded single-partition window,
    * never the full graph). */
  private[graft] def eccMaxBitBfs(seeds: DataFrame, e: DataFrame,
                           maxDepth: Int, nSeeds: Long,
                           parts: Int = 0): (Int, Boolean) = {
    val words = ((nSeeds + 63) / 64).toInt
    val anyBit = (c: Column) => exists(c, x => x =!= 0L)
    // parts (from [[graphParts]]): pin every per-round frame to the
    // adjacency's explicit node-keyed layout — co-partitioned expand
    // joins, and task counts that track graph bytes instead of the
    // session shuffle default (see [[singleBfs]]).
    val p =
      if (parts > 0) parts
      else seeds.sparkSession.sparkContext.defaultParallelism
    // One task is correct: `seeds` is one fringe level, within seedBudget.
    val init = seeds.select(col("seed"))
      .withColumn("i", row_number().over(Window.orderBy("seed")) - 1)
      .select(col("seed").as("node_id"), expr(
        s"""transform(sequence(0, ${words - 1}),
            w -> IF(w = i div 64,
                    shiftleft(CAST(1 AS BIGINT), CAST(i % 64 AS INT)),
                    CAST(0 AS BIGINT)))""").as("nb"))
      .repartition(p, col("node_id"))
      .localCheckpoint()
    var prev = init.filter(lit(false)).localCheckpoint()
    var cur = init
    var b = 0
    var round = 1
    var capped = false
    var grew = true
    // One probe round past the cap: it only flags truncation, its
    // bits are never folded into B.
    while (grew && round <= maxDepth + 1 && !capped) {
      val inc = cur.join(e, cur("node_id") === e("src"))
        .select(col("dst").as("node_id"), col("nb"))
        .repartition(p, col("node_id"))
        .groupBy(col("node_id"))
        .agg(graft.catalyst.BitOrAgg(col("nb")).as("inc"))
        .select(col("node_id"), col("inc"))
      val seen = prev.unionAll(cur)
        .repartition(p, col("node_id"))
        .groupBy(col("node_id"))
        .agg(graft.catalyst.BitOrAgg(col("nb")).as("bits"))
      val nd = inc.join(seen, Seq("node_id"), "left")
        .select(col("node_id"),
          when(col("bits").isNull, col("inc"))
            .otherwise(zip_with(col("inc"), col("bits"),
              (a, bb) => a.bitwiseAND(bitwise_not(bb)))).as("nb"))
        .filter(anyBit(col("nb")))
        .localCheckpoint()
      grew = !nd.isEmpty
      if (grew) {
        if (round > maxDepth) capped = true
        else {
          b = round
          prev = cur
          cur = nd
          round += 1
        }
      }
    }
    (b, capped)
  }

  /** Exact diameter via iFUB (Crescenzi, Grossi, Habib, Lanzi &
    * Marino, "On computing the diameter of real-world undirected
    * graphs", TCS 2013) — the published completion of
    * [[diameterDoubleSweep]]:
    *
    *  1. double sweep: BFS from the hash seed → farthest node a; BFS
    *     from a → ecc(a) (the classic lower bound) and antipode b,
    *  2. root u = the MIDPOINT of the a–b shortest path (the paper's
    *     root rule: a central node has small eccentricity, so the top
    *     BFS levels — the only ones iFUB visits — are small sets),
    *  3. refinement: with fringe levels F_i(u), lb = max(ecc(a),
    *     ecc(u)), ub = 2·ecc(u); descending i, fold in
    *     B_i = max{ecc(w) : w ∈ F_i(u)} and stop when lb ≥ 2(i−1) —
    *     the paper's theorem: any pair both strictly below level i is
    *     within 2(i−1), so lb is then the exact diameter (of the
    *     start component; `n_unreached` on the LB gate reports the
    *     rest).
    *
    * Spark reshape (round-11): the fringe runs LEVEL BY LEVEL
    * DESCENDING — level ecc(u) first (the smallest set) — each level
    * one bit-parallel multi-source eccentricity scan
    * ([[eccMaxBitBfs]]: Θ(S·n/64) bitmap words, never the row-keyed
    * Θ(S·n) near-APSP state of the expander worst case), folding and
    * early-exiting BETWEEN levels: the paper's sequential early exit
    * recovered at BSP granularity (real-world graphs resolve within
    * the first levels —
    * the paper's experiments; the spec pins resolution on the gate
    * corpus). A total `seedBudget` makes a Θ(n)-seed BFS impossible
    * by construction: a level that would push the processed-seed
    * count past the budget is NOT run and the fold degrades to the
    * honest resolved=false / diam_exact=−1 sentinel (budget_hit=true
    * in the output row — at production scale: raise the budget or
    * accept the bracket). Before any BFS, fringe seeds are pre-pruned
    * by the Takes–Kosters eccentricity sandwich harvested from the
    * four base sweeps (ecc(w) ≤ d(v,w)+ecc(v) for v ∈ {start,a,b,u}):
    * a seed whose upper bound is already ≤ lb0 cannot raise the
    * fold's lower bound, so its BFS is skipped — the published
    * iFUB×BoundingDiameters hybrid (pruned_seeds in the output row).
    * All arithmetic is BFS layer integers — hash-exact; the driver
    * fold holds ≤ fringeLevels scalars.
    *
    * Depth-cap honesty: every BFS reports whether `maxDepth` cut a
    * live frontier; any hit forces resolved=false, diam_exact=−1 and
    * diam_ub=−1 (an eccentricity read under a hit cap is understated,
    * so 2·ecc is NOT a certified upper bound; diam_lb remains a
    * genuine lower bound — observed distances are true distances).
    * The SQL twin truncates its recursive CTEs identically and
    * carries the same flag, so the sentinel is cross-engine-gated. */
  def diameterIfub(nodes: DataFrame, edges: DataFrame,
                   maxDepth: Int = 12, fringeLevels: Int = 3,
                   seedBudget: Int = 65536,
                   salt: String = "dia",
                   cacheTag: String = "",
                   cacheDepth: Int = 0): DataFrame = {
    require(maxDepth >= 1 && fringeLevels >= 1 && seedBudget >= 0,
      "bad iFUB params")
    val spark = nodes.sparkSession
    // Cache key from the RAW inputs, before `e` is persisted (a
    // persisted derivation reports no inputFiles — see bfsDistCached).
    val keyFiles = (nodes.inputFiles ++ edges.inputFiles).toSeq
    val eParts = graphParts(spark, keyFiles)
    val e = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(eParts, col("src")).persist()
    val start = nodes.select(col("node_id")).distinct()
      .withColumn("h", graft.ops.TextOps.hash64(
        concat(lit(salt), col("node_id").cast("string"))))
      .orderBy(col("h"), col("node_id")).limit(1)
      .collect()(0).getLong(0)
    // The four base sweeps ride [[bfsDistCached]]: the double-sweep
    // gate over the same graph/tag shares its (start, a) sweeps with
    // this walk instead of each gate rebuilding them.
    def bfs(seedId: Long): (DataFrame, Boolean) =
      bfsDistCached(nodes, e, seedId, maxDepth,
        math.max(maxDepth, cacheDepth), cacheTag, keyFiles)
    def argmaxDist(d: DataFrame): (Long, Int) = {
      val r = d.orderBy(col("dist").desc, col("node_id")).limit(1)
        .collect()(0)
      (r.getLong(0), r.getInt(1))
    }
    val (dStart, t1) = bfs(start)
    val (a, eccS) = argmaxDist(dStart)
    val (dA, t2) = bfs(a)
    val (b, eccA) = argmaxDist(dA)
    val (dB, t3) = bfs(b)
    val eccB = dB.agg(max(col("dist"))).collect()(0).getInt(0)
    // Midpoint of the a–b shortest path: dist-from-a = ecc(a) div 2
    // AND on a shortest path (d_a + d_b = d(a,b) = ecc(a)); tie →
    // lowest id. Level ecc(a) div 2 of a shortest path always has a
    // node, so the pick is total.
    val m = dA.select(col("node_id"), col("dist").as("da"))
      .join(dB.select(col("node_id"), col("dist").as("db")), "node_id")
      .filter(col("da") === eccA / 2 && col("da") + col("db") === eccA)
      .orderBy(col("node_id")).limit(1).collect()(0).getLong(0)
    val (dM, t4) = bfs(m)
    val eccM = dM.agg(max(col("dist"))).collect()(0).getInt(0)
    var capped = t1 || t2 || t3 || t4
    // Entry bounds fold in ALL four sweep eccentricities (each a
    // genuine diameter lower bound; each 2·ecc a genuine upper bound
    // when uncapped) — a larger lb0 can only stop the fold earlier at
    // the same exact value (lb ≤ diam always; resolution ⇒ lb = diam).
    val lb0 = Seq(eccS, eccA, eccB, eccM).max
    val ub0 = Seq(eccS, eccA, eccB, eccM).map(2 * _).min
    val loI = math.max(1, eccM - fringeLevels + 1)
    val big = lit(2147483647)
    val fringe = dM.filter(col("dist").between(loI, eccM))
      .select(col("node_id"), col("dist").as("lvl"))
      .join(dStart.select(col("node_id"), col("dist").as("d1")),
        Seq("node_id"), "left")
      .join(dA.select(col("node_id"), col("dist").as("d2")),
        Seq("node_id"), "left")
      .join(dB.select(col("node_id"), col("dist").as("d3")),
        Seq("node_id"), "left")
      .select(col("node_id").as("seed"), col("lvl"),
        least(coalesce(col("d1") + lit(eccS), big),
          coalesce(col("d2") + lit(eccA), big),
          coalesce(col("d3") + lit(eccB), big),
          col("lvl") + lit(eccM)).as("eu"))
      .localCheckpoint()
    val pruned = fringe.filter(col("eu") <= lb0).count()
    val live = fringe.filter(col("eu") > lb0)
      .select(col("seed"), col("lvl")).localCheckpoint()
    // The iFUB fold — per-level descending, early exit between
    // levels; both engines fold the identical B_i values.
    var lb = lb0
    var ub = ub0
    var resolved = lb >= ub
    var seedsRun = 0L
    var budgetHit = false
    var i = eccM
    while (!resolved && !budgetHit && !capped && i >= loI) {
      val seedsI = live.filter(col("lvl") === i).select("seed")
      val cntI = seedsI.count()
      if (seedsRun + cntI > seedBudget) budgetHit = true
      else {
        val bI =
          if (cntI == 0L) 0
          else {
            val (bi, tr) = eccMaxBitBfs(seedsI, e, maxDepth, cntI, eParts)
            if (tr) capped = true
            bi
          }
        lb = math.max(lb, bI)
        ub = math.min(ub, 2 * (i - 1))
        resolved = lb >= ub
        seedsRun += cntI
        i -= 1
      }
    }
    e.unpersist(false)
    val resolvedF = resolved && !capped
    val ubOut =
      if (capped) -1L else if (resolved) lb.toLong else ub.toLong
    spark.createDataFrame(Seq((start, a, b, m, eccM.toLong, eccA.toLong,
        lb.toLong, ubOut, resolvedF,
        if (resolvedF) lb.toLong else -1L,
        pruned, seedsRun, budgetHit, capped)))
      .toDF("start_id", "far_a", "far_b", "root_id", "ecc_root",
        "sweep_lb", "diam_lb", "diam_ub", "resolved", "diam_exact",
        "pruned_seeds", "seeds_run", "budget_hit", "depth_capped")
  }

  /** Oracle twin of [[diameterIfub]]: four chained bounded recursive
    * CTEs (start → a → b → midpoint root), the TK sandwich pre-prune
    * from the same four distance maps, then ONE multi-source
    * recursive CTE PER FRINGE LEVEL (unrolled over `fringeLevels`)
    * with the fold expressed as a chain of per-level CTEs carrying
    * (lb, ub, resolved, seeds, budget_hit, depth_capped) — each level
    * "runs" only when the previous state is unresolved, unbudgeted
    * and uncapped, exactly the Spark loop's early exit. Depth-cap
    * flags: a BFS is capped iff some node first reached at dist =
    * maxDepth still has an unreached neighbor (the nonempty-frontier
    * probe, identically truncated in both engines). */
  def diameterIfubSql(nodesSql: String, edgesSql: String,
                      maxDepth: Int = 12, fringeLevels: Int = 3,
                      seedBudget: Int = 65536,
                      salt: String = "dia"): String = {
    val h = graft.ops.TextOps.hash64Sql(
      s"'$salt' || CAST(node_id AS VARCHAR)")
    def truncOf(mTbl: String): String =
      s"""EXISTS(SELECT 1 FROM $mTbl b JOIN edges e ON b.node_id = e.src
            WHERE b.dist = $maxDepth
              AND e.dst NOT IN (SELECT node_id FROM $mTbl))"""
    val sb = new StringBuilder
    sb.append(s"""WITH RECURSIVE nodes AS ($nodesSql),
        e0 AS MATERIALIZED ($edgesSql),
        edges AS MATERIALIZED (SELECT src, dst FROM (
            SELECT src, dst FROM e0 WHERE src <> dst
            UNION SELECT dst, src FROM e0 WHERE src <> dst)),
        st AS (SELECT node_id AS s FROM (
          SELECT DISTINCT node_id FROM nodes) n
          ORDER BY $h, node_id LIMIT 1),
        b1(node_id, dist) AS (
          SELECT s, 0 FROM st
          UNION
          SELECT e.dst, b.dist + 1
          FROM b1 b JOIN edges e ON b.node_id = e.src
          WHERE b.dist < $maxDepth),
        m1 AS MATERIALIZED (
          SELECT node_id, min(dist) AS dist FROM b1 GROUP BY 1),
        es1 AS (SELECT max(dist) AS ecc_s FROM m1),
        av AS (SELECT node_id AS a FROM m1
               ORDER BY dist DESC, node_id LIMIT 1),
        b2(node_id, dist) AS (
          SELECT a, 0 FROM av
          UNION
          SELECT e.dst, b.dist + 1
          FROM b2 b JOIN edges e ON b.node_id = e.src
          WHERE b.dist < $maxDepth),
        m2 AS MATERIALIZED (
          SELECT node_id, min(dist) AS dist FROM b2 GROUP BY 1),
        ea AS (SELECT max(dist) AS ecc_a FROM m2),
        bv AS (SELECT node_id AS bb FROM m2
               ORDER BY dist DESC, node_id LIMIT 1),
        b3(node_id, dist) AS (
          SELECT bb, 0 FROM bv
          UNION
          SELECT e.dst, b.dist + 1
          FROM b3 b JOIN edges e ON b.node_id = e.src
          WHERE b.dist < $maxDepth),
        m3 AS MATERIALIZED (
          SELECT node_id, min(dist) AS dist FROM b3 GROUP BY 1),
        eb AS (SELECT max(dist) AS ecc_b FROM m3),
        mid AS (SELECT m2.node_id AS m
          FROM m2 JOIN m3 ON m2.node_id = m3.node_id CROSS JOIN ea
          WHERE m2.dist = ecc_a // 2 AND m2.dist + m3.dist = ecc_a
          ORDER BY m2.node_id LIMIT 1),
        b4(node_id, dist) AS (
          SELECT m, 0 FROM mid
          UNION
          SELECT e.dst, b.dist + 1
          FROM b4 b JOIN edges e ON b.node_id = e.src
          WHERE b.dist < $maxDepth),
        m4 AS MATERIALIZED (
          SELECT node_id, min(dist) AS dist FROM b4 GROUP BY 1),
        em AS (SELECT max(dist) AS ecc_m FROM m4),
        fr AS MATERIALIZED (SELECT m4.node_id AS seed, m4.dist AS lvl,
            least(
              COALESCE(m1.dist + (SELECT ecc_s FROM es1), 2147483647),
              COALESCE(m2.dist + (SELECT ecc_a FROM ea), 2147483647),
              COALESCE(m3.dist + (SELECT ecc_b FROM eb), 2147483647),
              m4.dist + (SELECT ecc_m FROM em)) AS eu
          FROM m4
          LEFT JOIN m1 ON m1.node_id = m4.node_id
          LEFT JOIN m2 ON m2.node_id = m4.node_id
          LEFT JOIN m3 ON m3.node_id = m4.node_id
          CROSS JOIN em
          WHERE m4.dist >= greatest(1, em.ecc_m - ${fringeLevels - 1})
            AND m4.dist <= em.ecc_m),
        base0 AS MATERIALIZED (SELECT
            greatest(es1.ecc_s, ea.ecc_a, eb.ecc_b, em.ecc_m) AS lb0,
            least(2 * es1.ecc_s, 2 * ea.ecc_a, 2 * eb.ecc_b,
              2 * em.ecc_m) AS ub0,
            em.ecc_m AS ecc_m
          FROM es1 CROSS JOIN ea CROSS JOIN eb CROSS JOIN em),
        prn AS (SELECT count(*) AS pruned FROM fr CROSS JOIN base0
          WHERE eu <= lb0),
        fm1 AS MATERIALIZED (SELECT ecc_m, lb0 AS lb, ub0 AS ub,
          (lb0 >= ub0) AS res, CAST(0 AS BIGINT) AS seeds,
          FALSE AS bhit,
          (${truncOf("m1")} OR ${truncOf("m2")}
            OR ${truncOf("m3")} OR ${truncOf("m4")}) AS trc
          FROM base0)""")
    for (j <- 0 until fringeLevels) {
      val prev = if (j == 0) "fm1" else s"f${j - 1}"
      sb.append(s""",
        fr$j AS MATERIALIZED (SELECT seed FROM fr CROSS JOIN em
          CROSS JOIN base0
          WHERE lvl = em.ecc_m - $j AND eu > lb0),
        ms$j(seed, node_id, dist) AS (
          SELECT seed, seed, 0 FROM fr$j
          UNION
          SELECT s.seed, e.dst, s.dist + 1
          FROM ms$j s JOIN edges e ON s.node_id = e.src
          WHERE s.dist < $maxDepth),
        mm$j AS MATERIALIZED (SELECT seed, node_id, min(dist) AS dist
          FROM ms$j GROUP BY 1, 2),
        lv$j AS MATERIALIZED (SELECT
          COALESCE((SELECT max(dist) FROM mm$j), 0) AS b,
          (SELECT count(*) FROM fr$j) AS cnt,
          EXISTS(SELECT 1 FROM mm$j b JOIN edges e ON b.node_id = e.src
            WHERE b.dist = $maxDepth AND NOT EXISTS (
              SELECT 1 FROM mm$j v WHERE v.seed = b.seed
                AND v.node_id = e.dst)) AS tr),
        f$j AS MATERIALIZED (SELECT ecc_m,
            CASE WHEN can THEN greatest(lb, b) ELSE lb END AS lb,
            CASE WHEN can THEN least(ub, 2 * (ecc_m - $j - 1))
              ELSE ub END AS ub,
            res OR (can
              AND CASE WHEN can THEN greatest(lb, b) ELSE lb END
                >= CASE WHEN can THEN least(ub, 2 * (ecc_m - $j - 1))
                   ELSE ub END) AS res,
            seeds + CASE WHEN can THEN cnt
              ELSE CAST(0 AS BIGINT) END AS seeds,
            bhit OR (NOT res AND NOT trc AND valid
              AND seeds + cnt > $seedBudget) AS bhit,
            trc OR (can AND tr) AS trc
          FROM (SELECT p.*, l.b, l.cnt, l.tr,
              (p.ecc_m - $j >= 1) AS valid,
              (NOT p.res AND NOT p.bhit AND NOT p.trc
                AND (p.ecc_m - $j >= 1)
                AND p.seeds + l.cnt <= $seedBudget) AS can
            FROM $prev p CROSS JOIN lv$j l))""")
    }
    sb.append(s"""
        SELECT (SELECT s FROM st) AS start_id,
          (SELECT a FROM av) AS far_a,
          (SELECT bb FROM bv) AS far_b,
          (SELECT m FROM mid) AS root_id,
          CAST((SELECT ecc_m FROM em) AS BIGINT) AS ecc_root,
          CAST((SELECT ecc_a FROM ea) AS BIGINT) AS sweep_lb,
          CAST(f.lb AS BIGINT) AS diam_lb,
          CAST(CASE WHEN f.trc THEN -1 WHEN f.res THEN f.lb
            ELSE f.ub END AS BIGINT) AS diam_ub,
          (f.res AND NOT f.trc) AS resolved,
          CAST(CASE WHEN f.res AND NOT f.trc THEN f.lb ELSE -1 END
            AS BIGINT) AS diam_exact,
          CAST((SELECT pruned FROM prn) AS BIGINT) AS pruned_seeds,
          CAST(f.seeds AS BIGINT) AS seeds_run,
          f.bhit AS budget_hit,
          f.trc AS depth_capped
        FROM f${fringeLevels - 1} f""")
    sb.toString
  }

  /** Exact diameter via BoundingDiameters (Takes & Kosters,
    * "Determining the diameter of small world networks", CIKM 2011) —
    * the 100 TB-scale companion to [[diameterIfub]]: where iFUB's
    * fringe chunk is a Θ(n)-seed multi-source BFS on expander-like
    * graphs (its known worst case), this algorithm runs ONE
    * single-source BFS per round — O(rounds·m) total, and on
    * small-world graphs the bound refinement terminates in a handful
    * of rounds regardless of n.
    *
    * Per round, BFS from the selected node v gives ecc(v) and, for
    * every node w, the sandwich ecc(v) − d(v,w) ≤ ecc(w) ≤
    * ecc(v) + d(v,w) (and ecc(w) ≥ d(v,w)); the global bounds are
    * ΔL = max ecc(v) seen, ΔU = min 2·ecc(v). A node leaves the
    * candidate set when it can no longer move either bound
    * (εU(w) ≤ ΔL and 2·εL(w) ≥ ΔU); selection INTERCHANGES max-εU
    * (diameter witnesses) and min-εL (bound tighteners), ties to the
    * lowest id. Termination: ΔU ≤ ΔL, or the candidate set empties —
    * then every unprocessed node has ecc ≤ ΔL, so ΔL IS the exact
    * diameter of the start component even while ΔU > ΔL.
    *
    * Both engines run the identical fixed `maxRounds` schedule (the
    * kTruss bounded-unroll pattern): the oracle computes every round
    * and folds to the FIRST resolved round; Spark early-exits there —
    * later rounds cannot change the folded output. Unresolved within
    * the budget → resolved=false, diam_exact = −1 sentinel.
    *
    * Depth-cap honesty: a round whose BFS exhausts `maxDepth` with a
    * live frontier stops the loop immediately with resolved=false,
    * diam_exact=−1, diam_ub=−1 and depth_capped=true — the observed
    * eccentricity is understated, so 2·ecc is NOT a certified upper
    * bound (the dl update still applies: observed BFS distances are
    * true distances, so dl remains a genuine lower bound). The SQL
    * twin truncates identically and folds to min(first resolved
    * round with no earlier cap, first capped round, maxRounds).
    *
    * Scale shape: per round one [[multiBfs]] single-seed run over the
    * shared pre-partitioned adjacency, one narrow bounds-update join,
    * and three bounded collects (ecc, active count, next pick);
    * driver state is two scalars. */
  def diameterBounds(nodes: DataFrame, edges: DataFrame,
                     maxDepth: Int = 12, maxRounds: Int = 6,
                     salt: String = "dia",
                     cacheTag: String = "",
                     cacheDepth: Int = 0): DataFrame = {
    require(maxDepth >= 1 && maxRounds >= 1, "bad diameterBounds params")
    val spark = nodes.sparkSession
    // Cache key from the RAW inputs, before `e` is persisted (a
    // persisted derivation reports no inputFiles — see bfsDistCached).
    val keyFiles = (nodes.inputFiles ++ edges.inputFiles).toSeq
    val eParts = graphParts(spark, keyFiles)
    val e = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(eParts, col("src")).persist()
    val start = nodes.select(col("node_id")).distinct()
      .withColumn("h", graft.ops.TextOps.hash64(
        concat(lit(salt), col("node_id").cast("string"))))
      .orderBy(col("h"), col("node_id")).limit(1)
      .collect()(0).getLong(0)
    // Round-1's pivot is the same hash start (same salt) the iFUB
    // family opens with, so on a shared graph/tag that sweep comes
    // from [[bfsDistCached]] for free; later pivots are graph-
    // determined and NO other gate can ever want them, so they
    // compute without paying the artifact write (round-12 verdict
    // #7: each cold write cost ~1 s of graph_diameter_tk for reuse
    // that never happens in a fresh cache dir). A pre-existing hit
    // is still read.
    def bfs(seedId: Long): (DataFrame, Boolean) =
      bfsDistCached(nodes, e, seedId, maxDepth,
        math.max(maxDepth, cacheDepth), cacheTag, keyFiles,
        persist = seedId == start)
    var v = start
    var dl = 0
    var du = Int.MaxValue
    var bounds: DataFrame = null
    var r = 0
    var resolved = false
    var capped = false
    while (r < maxRounds && !resolved && !capped) {
      val (d, tr) = bfs(v)
      val ecc = d.agg(max(col("dist"))).collect()(0).getInt(0)
      dl = math.max(dl, ecc)
      if (tr) { capped = true; r += 1 }
      else {
        du = math.min(du, 2 * ecc)
        val merged =
          if (bounds == null)
            d.select(col("node_id"),
              greatest(col("dist"), lit(ecc) - col("dist")).as("el"),
              (col("dist") + lit(ecc)).as("eu"))
          else bounds.join(d, "node_id")
            .select(col("node_id"),
              greatest(col("el"), col("dist"), lit(ecc) - col("dist"))
                .as("el"),
              least(col("eu"), col("dist") + lit(ecc)).as("eu"))
        bounds = merged
          .withColumn("active",
            !(col("eu") <= dl && col("el") * 2 >= du))
          .localCheckpoint()
        r += 1
        // ONE aggregate replaces the active count plus the orderBy-limit
        // pick (two driver jobs per round, guide §1.2): count the active
        // set and compute BOTH interchange picks in the same pass.
        // max_by/min_by over (key, node_id) structs replay the exact
        // (eu DESC, node_id) / (el ASC, node_id) tie orders — inactive
        // rows carry a NULL ordering struct, which the aggregates skip.
        val st = bounds.agg(
          sum(when(col("active"), 1L).otherwise(0L)).as("n_active"),
          max_by(col("node_id"),
            when(col("active"), struct(col("eu"), -col("node_id"))))
            .as("pick_eu"),
          min_by(col("node_id"),
            when(col("active"), struct(col("el"), col("node_id"))))
            .as("pick_el")).collect()(0)
        val nActive = st.getLong(0)
        resolved = du <= dl || nActive == 0L
        if (!resolved && r < maxRounds)
          v = if (r % 2 == 1) st.getLong(1) else st.getLong(2)
      }
    }
    e.unpersist(false)
    spark.createDataFrame(Seq((start, r.toLong, dl.toLong,
        if (capped) -1L else math.min(du, 2 * dl).toLong, resolved,
        if (resolved) dl.toLong else -1L, capped)))
      .toDF("start_id", "n_bfs", "diam_lb", "diam_ub", "resolved",
        "diam_exact", "depth_capped")
  }

  /** Oracle twin of [[diameterBounds]]: `maxRounds` chained blocks of
    * (pick → bounded recursive BFS → ecc → bounds update), every
    * round computed unconditionally, folded to the first resolved
    * round with no earlier depth-cap hit — or to the first capped
    * round (resolved=false, diam_ub=−1, diam_exact=−1 sentinel) —
    * the same fold Spark's early exit implements. */
  def diameterBoundsSql(nodesSql: String, edgesSql: String,
                        maxDepth: Int = 12, maxRounds: Int = 6,
                        salt: String = "dia"): String = {
    val h = graft.ops.TextOps.hash64Sql(
      s"'$salt' || CAST(node_id AS VARCHAR)")
    val sb = new StringBuilder
    sb.append(s"""WITH RECURSIVE nodes AS ($nodesSql),
        e0 AS MATERIALIZED ($edgesSql),
        edges AS MATERIALIZED (SELECT src, dst FROM (
            SELECT src, dst FROM e0 WHERE src <> dst
            UNION SELECT dst, src FROM e0 WHERE src <> dst)),
        v1 AS (SELECT node_id AS v FROM (
          SELECT DISTINCT node_id FROM nodes) n
          ORDER BY $h, node_id LIMIT 1)""")
    for (r <- 1 to maxRounds) {
      // pick for rounds >= 2: interchanging max-eu / min-el over the
      // previous round's active set (empty when already resolved —
      // the whole round chain then yields NULLs the fold ignores).
      if (r >= 2) {
        val ord = if (r % 2 == 0) "eu DESC" else "el ASC"
        sb.append(s""",
        v$r AS MATERIALIZED (SELECT node_id AS v FROM bd${r - 1}
          WHERE active ORDER BY $ord, node_id LIMIT 1)""")
      }
      sb.append(s""",
        b$r(node_id, dist) AS (
          SELECT v, 0 FROM v$r
          UNION
          SELECT e.dst, b.dist + 1
          FROM b$r b JOIN edges e ON b.node_id = e.src
          WHERE b.dist < $maxDepth),
        m$r AS MATERIALIZED (
          SELECT node_id, min(dist) AS dist FROM b$r GROUP BY 1),
        x$r AS MATERIALIZED (SELECT max(dist) AS ecc FROM m$r),
        g$r AS MATERIALIZED (SELECT
            greatest(${if (r == 1) "0" else s"(SELECT dl FROM g${r - 1})"},
              COALESCE((SELECT ecc FROM x$r), 0)) AS dl,
            least(${if (r == 1) "2147483647"
              else s"(SELECT du FROM g${r - 1})"},
              COALESCE(2 * (SELECT ecc FROM x$r), 2147483647)) AS du),
        bd$r AS MATERIALIZED (SELECT node_id, el, eu,
            NOT (eu <= (SELECT dl FROM g$r)
              AND el * 2 >= (SELECT du FROM g$r)) AS active
          FROM (${if (r == 1)
            s"""SELECT m.node_id,
              greatest(m.dist, (SELECT ecc FROM x1) - m.dist) AS el,
              m.dist + (SELECT ecc FROM x1) AS eu FROM m1 m"""
          else
            s"""SELECT p.node_id,
              greatest(p.el, m.dist, (SELECT ecc FROM x$r) - m.dist)
                AS el,
              least(p.eu, m.dist + (SELECT ecc FROM x$r)) AS eu
            FROM bd${r - 1} p JOIN m$r m ON p.node_id = m.node_id"""})),
        s$r AS MATERIALIZED (
          SELECT $r AS r, (SELECT dl FROM g$r) AS dl,
            (SELECT du FROM g$r) AS du,
            (SELECT count(*) FROM bd$r WHERE active) AS n_active,
            EXISTS(SELECT 1 FROM m$r b JOIN edges e ON b.node_id = e.src
              WHERE b.dist = $maxDepth
                AND e.dst NOT IN (SELECT node_id FROM m$r)) AS tr)""")
    }
    val allRounds = (1 to maxRounds).map(r => s"SELECT * FROM s$r")
      .mkString(" UNION ALL ")
    sb.append(s""",
        rounds AS ($allRounds),
        trx AS (SELECT min(r) AS tstar FROM rounds WHERE tr),
        res AS (SELECT min(r) AS rstar FROM rounds r0
          WHERE (r0.du <= r0.dl OR r0.n_active = 0)
            AND NOT EXISTS (SELECT 1 FROM rounds r1
              WHERE r1.tr AND r1.r <= r0.r)),
        fin AS (SELECT r, dl, du,
            ((SELECT rstar FROM res) IS NULL
              AND (SELECT tstar FROM trx) IS NOT NULL) AS capped
          FROM rounds CROSS JOIN res CROSS JOIN trx
          WHERE r = COALESCE(res.rstar, trx.tstar, $maxRounds))
        SELECT (SELECT v FROM v1) AS start_id,
          CAST(fin.r AS BIGINT) AS n_bfs,
          CAST(fin.dl AS BIGINT) AS diam_lb,
          CAST(CASE WHEN fin.capped THEN -1
            ELSE least(fin.du, 2 * fin.dl) END AS BIGINT) AS diam_ub,
          ((SELECT rstar FROM res) IS NOT NULL) AS resolved,
          CAST(CASE WHEN (SELECT rstar FROM res) IS NOT NULL
            THEN fin.dl ELSE -1 END AS BIGINT) AS diam_exact,
          fin.capped AS depth_capped
        FROM fin""")
    sb.toString
  }

  /** Sampled harmonic centrality (Marchiori & Latora's harmonic mean
    * formulation; the pivot-sampling estimator shape of Eppstein &
    * Wang 2004): H(v) = Σ_seeds 1e6 div d(seed, v) over `k`
    * hash-chosen BFS sources — the centrality that handles
    * disconnected graphs gracefully (unreachable pairs contribute 0,
    * no ∞ to patch), which is exactly the regime of a corpus k-NN
    * graph with isolated template islands. Exact integers: distances
    * are BFS layer indices, each contribution floor(1e6/d), so the
    * sampled statistic is engine-portable bit-for-bit (the estimator's
    * sampling error is the knob, never float drift).
    *
    * Per-seed frontier rounds share [[bfsLayers]]'s discipline: the
    * (seed, node) state rides one frontier frame, every layer
    * localCheckpoints (the exponential-planning lesson), the
    * symmetrized adjacency repartitions by src once. Seeds are the
    * first `k` nodes in the engine-wide hash order (the IVF-init
    * rule) — deterministic on any partitioning. */
  def harmonicCentrality(nodes: DataFrame, edges: DataFrame,
                         k: Int = 8, maxDepth: Int = 6,
                         salt: String = "hc"): DataFrame = {
    require(k >= 1 && maxDepth >= 1,
      s"harmonicCentrality bad params ($k, $maxDepth)")
    val adj = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(col("src")).persist()
    val seeds = nodes.select(col("node_id")).distinct()
      .withColumn("h", graft.ops.TextOps.hash64(
        concat(lit(salt), col("node_id").cast("string"))))
      .orderBy(col("h"), col("node_id")).limit(k)
      .select(col("node_id").as("seed"))
    var layers = List(
      seeds.select(col("seed"), col("seed").as("node_id"))
        .localCheckpoint())
    for (_ <- 1 to maxDepth) {
      // adj is symmetric, so the last TWO layers suffice for dedup
      // (the multiBfs band property) — never the full visited union.
      val visited = layers.take(2).reduce(_ unionAll _)
      val next = layers.head.join(adj, col("node_id") === col("src"))
        .select(col("seed"), col("dst").as("node_id")).distinct()
        .join(visited, Seq("seed", "node_id"), "left_anti")
        .localCheckpoint()
      layers = next :: layers
    }
    adj.unpersist(false)
    val dists = layers.reverse.zipWithIndex.map { case (f, dd) =>
      f.select(col("seed"), col("node_id"), lit(dd.toLong).as("dist"))
    }.reduce(_ unionAll _)
    val h = dists.filter(col("dist") >= 1L)
      .groupBy(col("node_id"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000L div dist")).as("h_micro"))
    nodes.select(col("node_id")).join(h, Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("h_micro"), lit(0L)).as("h_micro"))
  }

  /** Oracle twin of [[harmonicCentrality]]: the same hash-ordered seed
    * pick, a bounded recursive CTE over (seed, node, dist) whose UNION
    * dedups triples, min(dist) per pair, then the floor-divided
    * harmonic sum. */
  def harmonicCentralitySql(nodesSql: String, edgesSql: String,
                            k: Int = 8, maxDepth: Int = 6,
                            salt: String = "hc"): String = {
    val h = graft.ops.TextOps.hash64Sql(
      s"'$salt' || CAST(node_id AS VARCHAR)")
    s"""WITH RECURSIVE nodes AS ($nodesSql),
        e0 AS ($edgesSql),
        edges AS (SELECT src, dst FROM (
            SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
          WHERE src <> dst),
        seeds AS (SELECT node_id AS seed FROM (
          SELECT DISTINCT node_id FROM nodes) n
          ORDER BY $h, node_id LIMIT $k),
        bfs(seed, node_id, dist) AS (
          SELECT seed, seed, 0 FROM seeds
          UNION
          SELECT b.seed, e.dst, b.dist + 1
          FROM bfs b JOIN edges e ON b.node_id = e.src
          WHERE b.dist < $maxDepth),
        m AS (SELECT seed, node_id, CAST(min(dist) AS BIGINT) AS d
              FROM bfs GROUP BY seed, node_id),
        hc AS (SELECT node_id, CAST(count(*) AS BIGINT) AS n_reached,
              CAST(sum(1000000 // d) AS BIGINT) AS h_micro
            FROM m WHERE d >= 1 GROUP BY node_id)
        SELECT n.node_id, COALESCE(hc.n_reached, 0) AS n_reached,
               COALESCE(hc.h_micro, 0) AS h_micro
        FROM nodes n LEFT JOIN hc ON n.node_id = hc.node_id
        ORDER BY n.node_id"""
  }

  /** Directed-modularity panel over a community assignment: per
    * community, node count, within-community edge count, out/in degree
    * mass, and the community's exact-integer modularity contribution
    *   q_c = e_c·10⁶ div m  −  out_c·in_c·10⁶ div m²
    * (micro-units, floor division — Σ q_c is the usual Q up to the
    * per-term floor). The quality gate for [[labelPropagate]]'s output:
    * a propagation change that fragments communities moves this panel,
    * turning the gate red. NULL-labeled (unreached) nodes are excluded
    * from both node and edge mass; `m` counts edges with BOTH endpoints
    * labeled, so the null-community never distorts the expectation term.
    *
    * Scale shape: two slim equi-joins of the edge list against the
    * (node, label) frame, then label-keyed hash-aggs (map-side
    * combinable, community-count rows); the scalar `m` is a 1-row
    * broadcast. No window, no self-join. */
  def modularity(labels: DataFrame, edges: DataFrame): DataFrame = {
    val lbl = labels.filter(col("label").isNotNull)
    val e = edges.select(col("src"), col("dst"))
      .join(lbl.select(col("node_id").as("src"), col("label").as("src_label")),
        Seq("src"))
      .join(lbl.select(col("node_id").as("dst"), col("label").as("dst_label")),
        Seq("dst"))
      .select(col("src_label"), col("dst_label"))
    val m = e.agg(count(lit(1)).as("m"))
    val outD = e.groupBy(col("src_label").as("label"))
      .agg(count(lit(1)).as("deg_out"))
    val inD = e.groupBy(col("dst_label").as("label"))
      .agg(count(lit(1)).as("deg_in"))
    val within = e.filter(col("src_label") === col("dst_label"))
      .groupBy(col("src_label").as("label"))
      .agg(count(lit(1)).as("e_within"))
    lbl.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
      .join(within, Seq("label"), "left")
      .join(outD, Seq("label"), "left")
      .join(inD, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .withColumn("e_within", coalesce(col("e_within"), lit(0L)))
      .withColumn("deg_out", coalesce(col("deg_out"), lit(0L)))
      .withColumn("deg_in", coalesce(col("deg_in"), lit(0L)))
      .select(col("label"), col("n_nodes"), col("e_within"),
        col("deg_out"), col("deg_in"),
        // Products in DECIMAL(38,0) (the TextOps BM25 pattern):
        // deg_out·deg_in·10⁶ wraps Int64 once m exceeds ~3e6 edges —
        // Spark's non-ANSI arithmetic would wrap silently while the
        // DuckDB twin raises. Quotients are ≤10⁶ so the result is a
        // safe BIGINT.
        expr("CAST((CAST(e_within AS DECIMAL(38,0)) * 1000000) div m" +
          " AS BIGINT) - " +
          "CAST((CAST(deg_out AS DECIMAL(38,0)) * deg_in * 1000000) div" +
          " (CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)")
          .as("q_contrib_micro"))
  }

  /** Oracle twin of [[modularity]] — identical masses and floor
    * divisions; `//` is DuckDB's floor division, matching Spark `div`
    * on these non-negative operands. */
  def modularitySql(labelsSql: String, edgesSql: String): String =
    s"""WITH lbl AS MATERIALIZED (
          SELECT node_id, label FROM ($labelsSql) WHERE label IS NOT NULL),
        ed AS MATERIALIZED ($edgesSql),
        e AS MATERIALIZED (
          SELECT ls.label AS src_label, ld.label AS dst_label
          FROM ed JOIN lbl ls ON ed.src = ls.node_id
                  JOIN lbl ld ON ed.dst = ld.node_id),
        m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
        outd AS (SELECT src_label AS label,
          CAST(count(*) AS BIGINT) AS deg_out FROM e GROUP BY 1),
        ind AS (SELECT dst_label AS label,
          CAST(count(*) AS BIGINT) AS deg_in FROM e GROUP BY 1),
        w AS (SELECT src_label AS label,
          CAST(count(*) AS BIGINT) AS e_within
          FROM e WHERE src_label = dst_label GROUP BY 1),
        nn AS (SELECT label, CAST(count(*) AS BIGINT) AS n_nodes
          FROM lbl GROUP BY 1)
        SELECT nn.label, n_nodes,
          COALESCE(e_within, 0) AS e_within,
          COALESCE(deg_out, 0) AS deg_out,
          COALESCE(deg_in, 0) AS deg_in,
          CAST(((COALESCE(e_within, 0)::HUGEINT * 1000000) // m) -
            ((COALESCE(deg_out, 0)::HUGEINT * COALESCE(deg_in, 0) * 1000000)
              // (m::HUGEINT * m)) AS BIGINT) AS q_contrib_micro
        FROM nn LEFT JOIN w USING (label) LEFT JOIN outd USING (label)
          LEFT JOIN ind USING (label) CROSS JOIN m
        ORDER BY nn.label"""

  /** Pivot-sampled betweenness centrality (Brandes, "A faster algorithm
    * for betweenness centrality", J. Math. Sociol. 2001; pivot sampling
    * per Brandes & Pich, "Centrality estimation in large networks",
    * IJBC 2007) — the shortest-path-brokerage score the centrality
    * stack (pagerank / harmonic / k-core) lacks: which documents sit ON
    * the paths between semantic regions (bridge/boilerplate detectors),
    * not merely NEAR many documents.
    *
    * Two BSP passes over the symmetrized edge table, both
    * frontier-shaped (one equi-join shuffle per round):
    *
    *  1. FORWARD: multi-source BFS from `k` hash-chosen pivots (the
    *     harmonicCentrality seed rule — engine-portable order), each
    *     layer carrying σ(s,v) = #shortest s→v paths: a round is
    *     frontier ⋈ adj → hash-agg sum(σ) by (seed, dst) → band
    *     anti-join. σ of a dist-(r+1) node is exactly the sum over its
    *     dist-r predecessors (every shortest path enters through one),
    *     and the SYMMETRIC adjacency gives the multiBfs band property:
    *     dedup needs only the last TWO layers, never the visited union.
    *  2. BACKWARD: Brandes' dependency accumulation, level by level
    *     descending — δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w)·(1 + δ(w)),
    *     where succ(v) = adjacent nodes one level deeper. Deepest
    *     layer starts at δ=0; each level is ONE join of the layer
    *     against (adj ⋈ next layer) and a hash-agg. In exact integer
    *     micro-units: per-term floor division
    *     (σ_v·(10⁶+δ_w)) div σ_w with the product in DECIMAL(38,0)
    *     (the modularity overflow ladder — δ can reach n·10⁶ long
    *     before the product fits Int64), then an exact integer sum, so
    *     partial-agg order can never move a bit and DuckDB's HUGEINT
    *     `//` replays it term-for-term.
    *
    * bc_micro(v) = Σ over pivot runs of δ(v), pivots themselves
    * excluded (level 0 never accumulates) — Brandes' endpoint-free
    * directed dependency, summed over the sampled sources; rescaling
    * by n/k (the Brandes–Pich estimator) is a presentation constant
    * left to the caller. `maxDepth` bounds the horizon: dependencies
    * of paths longer than maxDepth are excluded IDENTICALLY in both
    * engines (the harmonicCentrality truncation contract; size it
    * above the graph's eccentricity for the exact statistic).
    *
    * Scale shape: per-round state is Θ(k·frontier) slim rows (pivot
    * count × layer); layers localCheckpoint (lineage discipline) and
    * the whole walk is k-independent of the corpus-wide pair count —
    * never the all-pairs Θ(n·m) of exact Brandes. */
  def betweennessCentrality(nodes: DataFrame, edges: DataFrame,
                            k: Int = 16, maxDepth: Int = 6,
                            salt: String = "bc"): DataFrame = {
    require(k >= 1 && maxDepth >= 1,
      s"betweennessCentrality bad params ($k, $maxDepth)")
    val bParts = graphParts(nodes.sparkSession,
      (nodes.inputFiles ++ edges.inputFiles).toSeq)
    val adj = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(bParts, col("src")).persist()
    val seeds = nodes.select(col("node_id")).distinct()
      .withColumn("h", graft.ops.TextOps.hash64(
        concat(lit(salt), col("node_id").cast("string"))))
      .orderBy(col("h"), col("node_id")).limit(k)
      .select(col("node_id").as("seed"))
    // forward: layers of (seed, node_id, sigma), newest first. Every
    // layer is hash-partitioned by node_id ALONE (not (seed, node_id)):
    // node_id partitioning satisfies the (seed, dst) aggregation's
    // clustering requirement (subset rule) AND co-partitions the next
    // level's expand join with the `repartition(src)`-persisted
    // adjacency — the general shape paid a frontier exchange per level
    // for each (guide §2.4; the singleBfs lesson at multi-seed grain).
    var layers = List(
      seeds.select(col("seed"), col("seed").as("node_id"),
        lit(1L).as("sigma"))
        .repartition(bParts, col("node_id")).localCheckpoint())
    var depth = 0
    var live = true
    while (depth < maxDepth && live) {
      val visited = layers.take(2).map(_.select(col("seed"), col("node_id")))
        .reduce(_ unionAll _)
      // σ grows exponentially with depth: sum through DECIMAL(38,0) +
      // BIGINT cast (the overflow-ladder rule δ already follows) so a
      // wrap fails loudly in BOTH engines instead of Spark's silent
      // Long wraparound vs the twin's raising HUGEINT cast.
      val next = layers.head.join(adj, col("node_id") === col("src"))
        .repartition(bParts, col("dst"))
        .groupBy(col("seed"), col("dst"))
        .agg(expr("CAST(sum(CAST(sigma AS DECIMAL(38,0))) AS BIGINT)")
          .as("sigma"))
        .select(col("seed"), col("dst").as("node_id"), col("sigma"))
        .join(visited, Seq("seed", "node_id"), "left_anti")
        .localCheckpoint()
      if (next.isEmpty) live = false else layers = next :: layers
      depth += 1
    }
    // backward: delta per layer, deepest first. layers.head is deepest.
    val down = layers // newest (deepest) first
    var delta = down.head.select(col("seed"), col("node_id"), col("sigma"),
      lit(0L).as("delta"))
    var acc = delta.select(col("seed"), col("node_id"), col("delta"))
    for (fl <- down.tail) {
      val succ = delta.select(col("seed"), col("node_id").as("dst"),
        col("sigma").as("sigma_w"), col("delta").as("delta_w"))
      // Per-term floor division, then the SUM also rides DECIMAL(38,0):
      // a Long sum would wrap silently in Spark where the twin's
      // HUGEINT sum raises (the modularity overflow-ladder rule).
      val terms = fl.join(adj, fl("node_id") === adj("src"))
        .join(succ, Seq("seed", "dst"))
        .repartition(bParts, col("node_id"))
        .groupBy(col("seed"), col("node_id"))
        .agg(expr(
          "CAST(sum(CAST((CAST(sigma AS DECIMAL(38,0)) * " +
            "(1000000 + delta_w)) div sigma_w AS DECIMAL(38,0))) " +
            "AS BIGINT)").as("delta"))
      delta = fl.join(terms, Seq("seed", "node_id"), "left")
        .select(col("seed"), col("node_id"), col("sigma"),
          coalesce(col("delta"), lit(0L)).as("delta"))
        .localCheckpoint()
      acc = acc.unionAll(delta.select(col("seed"), col("node_id"),
        col("delta")))
    }
    adj.unpersist(false)
    // pivots themselves never accumulate: drop level-0 rows (node = seed)
    val bc = acc.filter(col("node_id") =!= col("seed"))
      .groupBy(col("node_id"))
      .agg(sum(col("delta")).as("bc_micro"))
    nodes.select(col("node_id")).join(bc, Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("bc_micro"), lit(0L)).as("bc_micro"))
  }

  /** Oracle twin of [[betweennessCentrality]]: identical hash-ordered
    * pivots, the forward levels unrolled as chained CTEs (σ summed per
    * level, band NOT-EXISTS dedup against the previous two levels),
    * then the backward accumulation unrolled descending with the same
    * HUGEINT product / `//` floor division per term. */
  def betweennessCentralitySql(nodesSql: String, edgesSql: String,
                               k: Int = 16, maxDepth: Int = 6,
                               salt: String = "bc"): String = {
    val h = graft.ops.TextOps.hash64Sql(
      s"'$salt' || CAST(node_id AS VARCHAR)")
    val fwd = (1 to maxDepth).map { l =>
      val prev = s"f${l - 1}"
      val prev2 = if (l >= 2) s"f${l - 2}" else ""
      val band =
        s"""WHERE NOT EXISTS (SELECT 1 FROM $prev p
              WHERE p.seed = f.seed AND p.node_id = e.dst)""" +
          (if (prev2.isEmpty) "" else
            s""" AND NOT EXISTS (SELECT 1 FROM $prev2 q
              WHERE q.seed = f.seed AND q.node_id = e.dst)""")
      s"""f$l AS MATERIALIZED (
          SELECT f.seed, e.dst AS node_id,
                 CAST(sum(f.sigma) AS BIGINT) AS sigma
          FROM $prev f JOIN edges e ON f.node_id = e.src
          $band
          GROUP BY f.seed, e.dst)"""
    }.mkString(",\n")
    val bwd = (maxDepth - 1 to 0 by -1).map { l =>
      s"""b$l AS MATERIALIZED (
          SELECT fl.seed, fl.node_id, fl.sigma,
            CAST(COALESCE(sum(
              (fl.sigma::HUGEINT * (1000000 + bw.delta)) // bw.sigma),
              0) AS BIGINT) AS delta
          FROM f$l fl
          LEFT JOIN edges e ON fl.node_id = e.src
          LEFT JOIN b${l + 1} bw
            ON bw.seed = fl.seed AND bw.node_id = e.dst
          GROUP BY fl.seed, fl.node_id, fl.sigma)"""
    }.mkString(",\n")
    val accArms = (1 to maxDepth)
      .map(l => s"SELECT seed, node_id, delta FROM b$l").mkString(
        "\n          UNION ALL ")
    s"""WITH nodes AS ($nodesSql),
        e0 AS ($edgesSql),
        edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
          WHERE src <> dst),
        seeds AS (SELECT node_id AS seed FROM (
          SELECT DISTINCT node_id FROM nodes) n
          ORDER BY $h, node_id LIMIT $k),
        f0 AS (SELECT seed, seed AS node_id, CAST(1 AS BIGINT) AS sigma
               FROM seeds),
        $fwd,
        b$maxDepth AS (SELECT seed, node_id, sigma,
          CAST(0 AS BIGINT) AS delta FROM f$maxDepth),
        $bwd,
        acc AS ($accArms),
        bc AS (SELECT node_id, CAST(sum(delta) AS BIGINT) AS bc_micro
               FROM acc WHERE node_id <> seed GROUP BY node_id)
        SELECT n.node_id, COALESCE(bc.bc_micro, 0) AS bc_micro
        FROM nodes n LEFT JOIN bc ON n.node_id = bc.node_id
        ORDER BY n.node_id"""
  }

  /** Hop-bounded weighted single-source shortest paths — synchronous
    * Bellman–Ford over a DIRECTED weighted edge table (src, dst,
    * w_micro ≥ 0), `rounds` relaxation rounds from a seed set: the
    * weighted companion of [[bfsLayers]] (graph-distance-from-core as
    * a curation feature, now respecting edge COST — e.g. semantic
    * distance on the k-NN graph — instead of hop count).
    *
    * Contract: dist(v) = cheapest path from any seed using ≤ `rounds`
    * hops — the BSP-natural semantics (Malewicz et al., Pregel, SIGMOD
    * 2010 run a fixed superstep budget the same way); a cheaper path
    * needing more hops is excluded IDENTICALLY in both engines. A
    * round that relaxes nothing ends the walk early (result-identical:
    * further rounds are fixpoints). Unreached nodes report −1.
    *
    * Scale shape: one equi-join shuffle + min hash-agg per round over
    * slim (node, dist) rows; the frame never exceeds |reached| rows
    * (min-folded each round, localCheckpointed lineage). At a 100 TB
    * edge count the same loop delta-steps (bucketed priority) — the
    * fixed-round contract here is the bounded-work variant. */
  def sssp(nodes: DataFrame, edges: DataFrame, seedPred: Column,
           rounds: Int = 6): DataFrame = {
    require(rounds >= 1, s"sssp bad rounds $rounds")
    val e = edges.select(col("src"), col("dst"), col("w_micro"))
      .repartition(col("src")).persist()
    var dist = nodes.select(col("node_id")).distinct().filter(seedPred)
      .withColumn("dist_micro", lit(0L)).localCheckpoint()
    var r = 0
    var live = true
    while (r < rounds && live) {
      // old_dist rides the min-agg (min ignores nulls; each node has at
      // most one prior row, so min(old_dist) IS its previous distance,
      // null when first reached this round). The fixpoint probe then
      // reads the already-materialized checkpoint — one Spark
      // computation of the join per round, not two (the round-11 shape
      // re-joined relaxed against dist and recomputed the round).
      val relaxed = dist.join(e, col("node_id") === col("src"))
        .select(col("dst").as("node_id"),
          (col("dist_micro") + col("w_micro")).as("dist_micro"),
          lit(null).cast("long").as("old_dist"))
        .unionAll(dist.select(col("node_id"), col("dist_micro"),
          col("dist_micro").as("old_dist")))
        .groupBy(col("node_id"))
        .agg(min(col("dist_micro")).as("dist_micro"),
          min(col("old_dist")).as("old_dist"))
        .localCheckpoint()
      // fixpoint probe over checkpointed blocks: any dist improved?
      val improved = relaxed.filter(col("old_dist").isNull ||
        col("dist_micro") < col("old_dist"))
      if (improved.isEmpty) live = false
      dist = relaxed.select(col("node_id"), col("dist_micro"))
      r += 1
    }
    e.unpersist(false)
    nodes.select(col("node_id")).join(dist, Seq("node_id"), "left")
      .select(col("node_id"),
        coalesce(col("dist_micro"), lit(-1L)).as("dist_micro"))
  }

  /** Oracle twin of [[sssp]]: the relaxation rounds unrolled as chained
    * min-folded CTEs (`edgesSql` must yield (src, dst, w_micro)). */
  def ssspSql(nodesSql: String, edgesSql: String, seedPredSql: String,
              rounds: Int = 6): String = {
    val relax = (1 to rounds).map { l =>
      s"""d$l AS MATERIALIZED (
          SELECT node_id, CAST(min(dist_micro) AS BIGINT) AS dist_micro
          FROM (
            SELECT e.dst AS node_id, d.dist_micro + e.w_micro AS dist_micro
            FROM d${l - 1} d JOIN edges e ON d.node_id = e.src
            UNION ALL
            SELECT node_id, dist_micro FROM d${l - 1})
          GROUP BY node_id)"""
    }.mkString(",\n")
    s"""WITH nodes AS ($nodesSql),
        edges AS MATERIALIZED (SELECT src, dst, w_micro FROM ($edgesSql)),
        d0 AS (SELECT node_id, CAST(0 AS BIGINT) AS dist_micro
               FROM (SELECT DISTINCT node_id FROM nodes)
               WHERE $seedPredSql),
        $relax
        SELECT n.node_id,
               COALESCE(d$rounds.dist_micro, -1) AS dist_micro
        FROM nodes n LEFT JOIN d$rounds ON n.node_id = d$rounds.node_id
        ORDER BY n.node_id"""
  }
}
