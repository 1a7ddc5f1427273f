package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classical time-series diagnostics over keyed event series — the
  * signal-shape checks (serial correlation, mean-shift detection) run
  * before a sensor feed is trusted as a training signal. Inputs are
  * (user_id, ts, event_id, vm) frames with `vm` already in integer
  * milli-units; everything downstream is exact BIGINT except the single
  * quantized Pearson ratio both engines derive from identical integer
  * sufficient statistics.
  */
object TsOps {

  /** Lagged co-moment panel (ACF lags 1..3): pairs are formed WITHIN
    * each key's time-ordered series (a cross-user pair is meaningless),
    * then pooled into one corpus-wide panel per lag. The integer
    * sufficient statistics (n, Σx, Σy, Σxy, Σxx, Σyy) are the
    * hash-exact core; `acf` is the Pearson ratio computed from those
    * BIGINTs with a fixed DOUBLE expression tree, quantized to 4 dp
    * (NULL when a lag has no variance — both engines' x/0).
    *
    * Scale shape: one user-partitioned window sort (never a global
    * window), then a 3-row hash-agg with map-side combine — the panel
    * is O(1) output regardless of corpus size. */
  def autocorr(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val lagged = ev.select(col("vm").as("x"),
      lag(col("vm"), 1).over(w).as("y1"),
      lag(col("vm"), 2).over(w).as("y2"),
      lag(col("vm"), 3).over(w).as("y3"))
    val pairs = lagged
      .select(col("x"),
        posexplode(array(col("y1"), col("y2"), col("y3")))
          .as(Seq("li", "y")))
      .filter(col("y").isNotNull)
      .select((col("li") + 1).cast("int").as("lag_k"), col("x"), col("y"))
    pairs.groupBy(col("lag_k")).agg(
        count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_xx"),
        sum(col("y") * col("y")).as("sum_yy"))
      .select(col("lag_k"), col("n_pairs"), col("sum_x"), col("sum_y"),
        col("sum_xy"), col("sum_xx"), col("sum_yy"), acfRatio.as("acf"))
  }

  /** Pearson ratio from the BIGINT sufficient statistics, NULL when a
    * lag has no variance — the explicit guard mirrors DuckDB's
    * NULL-on-zero-divisor double division (Spark's ANSI default
    * throws instead). */
  private def acfRatio = {
    val num =
      col("n_pairs").cast("double") * col("sum_xy").cast("double") -
        col("sum_x").cast("double") * col("sum_y").cast("double")
    val den =
      sqrt((col("n_pairs").cast("double") * col("sum_xx").cast("double") -
            col("sum_x").cast("double") * col("sum_x").cast("double")) *
           (col("n_pairs").cast("double") * col("sum_yy").cast("double") -
            col("sum_y").cast("double") * col("sum_y").cast("double")))
    SimOps.quant4(when(den === 0.0, lit(null)).otherwise(num / den))
  }

  /** Per-user CUSUM mean-shift scan: S_t = Σ_{i≤t} (x_i − μ_user) with
    * μ the floor-divided integer mean (so S is pure integer), peak =
    * the row maximizing |S| (ties → earliest, a total order), flagged
    * when the peak exceeds 1/`peakDivisor` of the user's total
    * absolute-deviation mass — an integer concentration test: random
    * fluctuation peaks at O(√n·mad), far below n·mad/4, while a
    * mid-series mean shift concentrates ~half the mass on one side.
    *
    * Scale shape: every window is user-partitioned (one exchange, the
    * sorts shared); no global window, no self-join; one row per user
    * out. */
  def cusum(ev: DataFrame, peakDivisor: Int): DataFrame = {
    val wAll = Window.partitionBy(col("user_id"))
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPick = Window.partitionBy(col("user_id"))
      .orderBy(abs(col("s")).desc, col("ts"), col("event_id"))
    ev
      .withColumn("n_readings", count(lit(1)).over(wAll))
      .withColumn("__sv", sum(col("vm")).over(wAll))
      // Floor division (nonneg-residue identity, as in theilSen):
      // Spark's `div` truncates toward zero while DuckDB's `//`
      // floors; they disagree whenever the milli-value sum is
      // negative, which would cascade into dev, S, and is_shift.
      .withColumn("mean_milli",
        expr("(__sv - ((__sv % n_readings) + n_readings) % n_readings)" +
          " div n_readings"))
      .withColumn("dev", col("vm") - col("mean_milli"))
      .withColumn("s", sum(col("dev")).over(wRun))
      .withColumn("sum_abs_dev", sum(abs(col("dev"))).over(wAll))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_readings"), col("mean_milli"),
        col("s").as("peak_cusum_milli"),
        col("event_id").as("peak_event_id"),
        (abs(col("s")) > expr(s"sum_abs_dev div $peakDivisor"))
          .as("is_shift"))
  }

  /** Theil–Sen robust trend slope per user over the trailing `window`
    * readings: the (lower) median of the pairwise slopes
    * (v_j − v_i)/(j − i) over all index pairs i < j — a single outlier
    * reading drags an OLS slope arbitrarily but moves a pairwise median
    * by at most one rank (29% breakdown point). Slopes use the reading
    * INDEX as the abscissa (the evenly-spaced form), in floor-divided
    * integer micro-milli-units per step; the floor division is spelled
    * as the explicit nonneg-residue identity `(a − ((a%b)+b)%b) div b`
    * because Spark's `div` truncates toward zero while DuckDB's `//`
    * floors — they disagree exactly on the negative slopes this
    * operator exists to rank. The median VALUE at rank ⌈P/2⌉ is
    * well-defined by the slope order alone (equal slopes collapse), so
    * no tie-break column is needed for determinism.
    *
    * Scale shape: the trailing window is one user-partitioned
    * row_number; the pair join is per-key bounded (≤ window rows per
    * user ⇒ ≤ window²/2 pairs, never data-sized); the median is one
    * more user-partitioned window over ≤ 120 rows per user. No global
    * window, no unbounded self-join. */
  def theilSen(ev: DataFrame, window: Int): DataFrame = {
    val wRecent = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val recent = ev
      .withColumn("rn", row_number().over(wRecent))
      .filter(col("rn") <= window)
      .withColumn("nr", count(lit(1))
        .over(Window.partitionBy(col("user_id"))))
      // Ascending index; only differences j−i matter, so the shift for
      // users with fewer than `window` readings is irrelevant.
      .select(col("user_id"), col("nr"),
        (lit(window) - col("rn")).cast("long").as("idx"), col("vm"))
    val pairs = recent.as("a").join(recent.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.idx") < col("b.idx"))
      .select(col("a.user_id").as("user_id"), col("a.nr").as("nr"),
        ((col("b.vm") - col("a.vm")) * 1000000L).as("num"),
        (col("b.idx") - col("a.idx")).as("den"))
      .withColumn("slope",
        expr("(num - ((num % den) + den) % den) div den"))
    val wMed = Window.partitionBy(col("user_id")).orderBy(col("slope"))
    pairs
      .withColumn("mr", row_number().over(wMed))
      .withColumn("n_pairs",
        count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("mr") === expr("(n_pairs + 1) div 2"))
      .select(col("user_id"), col("nr").as("n_readings"),
        col("n_pairs"), col("slope").as("slope_step_micro"))
  }

  /** Oracle twin of [[theilSen]]. */
  def theilSenSql(table: String, window: Int): String =
    s"""WITH ev AS (SELECT user_id, ts, event_id,
          CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm FROM $table),
        r AS (SELECT user_id, vm,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rn
              FROM ev),
        rec AS (SELECT user_id, vm,
                  CAST($window - rn AS BIGINT) AS idx,
                  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS nr
                FROM r WHERE rn <= $window),
        pr AS (SELECT a.user_id, a.nr,
                 (b.vm - a.vm) * 1000000 AS num, b.idx - a.idx AS den
               FROM rec a JOIN rec b
                 ON a.user_id = b.user_id AND a.idx < b.idx),
        sl AS (SELECT user_id, nr,
                 (num - ((num % den) + den) % den) // den AS slope
               FROM pr),
        m AS (SELECT user_id, nr, slope,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY slope) AS mr,
                CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                  AS n_pairs
              FROM sl)
        SELECT user_id, nr AS n_readings, n_pairs,
               CAST(slope AS BIGINT) AS slope_step_micro
        FROM m WHERE mr = (n_pairs + 1) // 2
        ORDER BY user_id"""

  /** Holt double-exponential smoothing per user: the level+trend
    * recursion (α = β = 1/4, l₁ = x₁, b₁ = 0)
    *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    * — the one-step forecaster (f = l + b) dashboards run when a series
    * has drift EWMA's flat level cannot follow. A left fold with a TWO-
    * component state, which no window frame aggregate expresses: run as
    * the [[graft.queries.EgvQueries]] EWMA pattern's array `aggregate`
    * HOF over one per-user ordered collect. The fold fixes the operation
    * order AND the duplicated l_t subexpression is the identical IEEE
    * tree in both engines (neither lambda dialect has let-binding), so
    * the gate needs no tolerance. One user-keyed exchange; state linear
    * in the user's readings (retention-bounded).
    *
    * State is a 2-element DOUBLE ARRAY, not a struct: DuckDB 1.0's
    * `list_reduce` evaluates a struct-building lambda field by field
    * with the accumulator clobbered in between — the 'b' field sees the
    * freshly computed 'l' where Spark's `aggregate` sees the previous
    * one (probe: `(acc,s) -> {'l': acc.l+1000, 'b': acc.l}` over 3
    * elements returns b = l = 2001). List accumulators fold correctly.
    *
    * `ev` must provide (user_id, sec, event_id, value<double>). */
  def holt(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_readings"),
        expr("""aggregate(
            transform(
              array_sort(collect_list(struct(sec, event_id, value))),
              s -> s.value),
            CAST(NULL AS ARRAY<DOUBLE>),
            (acc, x) -> CASE WHEN acc IS NULL
              THEN array(x, CAST(0.0 AS DOUBLE))
              ELSE array(
                x * CAST(0.25 AS DOUBLE)
                  + (acc[0] + acc[1]) * CAST(0.75 AS DOUBLE),
                (x * CAST(0.25 AS DOUBLE)
                  + (acc[0] + acc[1]) * CAST(0.75 AS DOUBLE)
                  - acc[0]) * CAST(0.25 AS DOUBLE)
                  + acc[1] * CAST(0.75 AS DOUBLE)) END)""").as("st"))
      .select(col("user_id"), col("n_readings"),
        SimOps.quant4(expr("st[0]")).as("level"),
        SimOps.quant4(expr("st[1]")).as("trend"),
        SimOps.quant4(expr("st[0] + st[1]")).as("forecast"))

  /** Oracle twin of [[holt]]: the identical fold via list-typed
    * `list_reduce` (seeding with [x₁, 0] IS the l₁ = x₁, b₁ = 0 init),
    * every constant CAST AS DOUBLE so DuckDB cannot bind DECIMAL
    * arithmetic. See [[holt]] for why the state is a list. */
  def holtSql(table: String): String =
    s"""WITH o AS (SELECT user_id,
          list(value::DOUBLE ORDER BY epoch(ts), event_id) AS xs,
          CAST(count(*) AS BIGINT) AS n_readings
         FROM $table GROUP BY user_id),
        f AS (SELECT user_id, n_readings,
          list_reduce(
            list_transform(xs, x -> [x, CAST(0.0 AS DOUBLE)]),
            (acc, s) -> [
              s[1] * CAST(0.25 AS DOUBLE)
                + (acc[1] + acc[2]) * CAST(0.75 AS DOUBLE),
              (s[1] * CAST(0.25 AS DOUBLE)
                + (acc[1] + acc[2]) * CAST(0.75 AS DOUBLE)
                - acc[1]) * CAST(0.25 AS DOUBLE)
                + acc[2] * CAST(0.75 AS DOUBLE)]) AS st
         FROM o)
        SELECT user_id, n_readings,
          ${SimOps.quant4Sql("st[1]")} AS level,
          ${SimOps.quant4Sql("st[2]")} AS trend,
          ${SimOps.quant4Sql("st[1] + st[2]")} AS forecast
        FROM f ORDER BY user_id"""

  /** SAX symbolization (Lin, Keogh, Wei & Lonardi, DMKD'07) per user:
    * PAA frame means over `segLen`-reading segments (floor-divided
    * milli-units — the theilSen nonneg-residue identity, so negative
    * sums agree across engines), quantized to an `alpha`-letter word by
    * EQUAL-WIDTH bins over the user's own [min, max] — the
    * integer-exact stand-in for classical SAX's Gaussian breakpoints
    * after z-normalization (those need a float σ both engines would
    * have to agree on bit-for-bit; equal-width keeps the entire
    * pipeline in BIGINT). The word is the fixed-length symbolic index
    * a series store builds iSAX trees and motif/discord scans over —
    * n readings compress to n/segLen letters before any cross-series
    * comparison happens.
    *
    * Scale shape: one user-partitioned window for the index (never a
    * global sort), a (user, seg) hash-agg with map-side combine, a
    * user-level range agg, one user roll-up; output O(n/segLen) chars
    * per user. The letter concat orders by seg INSIDE the aggregation
    * (sorted struct collect / ORDER BY string_agg), so no presentation
    * sort leaks into the analytic plan. */
  def sax(ev: DataFrame, segLen: Int, alpha: Int): DataFrame = {
    require(segLen >= 1 && alpha >= 2 && alpha <= 26,
      s"sax needs segLen >= 1 and 2 <= alpha <= 26 (got $segLen, $alpha)")
    val letters = ('a' until ('a' + alpha).toChar).mkString
    val wIdx = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val segs = ev
      .withColumn("idx", (row_number().over(wIdx) - 1).cast("long"))
      .withColumn("seg", expr(s"idx div $segLen"))
      .groupBy(col("user_id"), col("seg"))
      .agg(sum(col("vm")).as("sv"), count(lit(1)).as("ns"))
      .withColumn("paa", expr("(sv - ((sv % ns) + ns) % ns) div ns"))
    val ranges = ev.groupBy(col("user_id"))
      .agg(min(col("vm")).as("vmin"), max(col("vm")).as("vmax"),
        count(lit(1)).as("n_readings"))
    segs.join(ranges, "user_id")
      .withColumn("bucket", least(lit(alpha - 1).cast("long"),
        expr(s"((paa - vmin) * $alpha) div (vmax - vmin + 1)")))
      .withColumn("letter",
        expr(s"substr('$letters', CAST(bucket AS INT) + 1, 1)"))
      .groupBy(col("user_id"))
      .agg(max(col("n_readings")).as("n_readings"),
        count(lit(1)).as("n_segments"),
        max(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(seg, letter))), s -> s.letter), '')").as("sax_word"))
  }

  /** Oracle twin of [[sax]]: identical index window, floor-divided PAA
    * (DuckDB `//` floors natively), equal-width bucket, and an
    * ORDER BY string_agg for the word. */
  def saxSql(table: String, segLen: Int, alpha: Int): String = {
    val letters = ('a' until ('a' + alpha).toChar).mkString
    s"""WITH ev AS (SELECT user_id, ts, event_id,
          CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm FROM $table),
        ix AS (SELECT user_id, vm,
                 CAST(row_number() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) - 1 AS BIGINT) AS idx
               FROM ev),
        sg AS (SELECT user_id, idx // $segLen AS seg,
                 CAST(sum(vm) AS BIGINT) AS sv,
                 CAST(count(*) AS BIGINT) AS ns
               FROM ix GROUP BY 1, 2),
        rg AS (SELECT user_id, min(vm) AS vmin, max(vm) AS vmax,
                 CAST(count(*) AS BIGINT) AS n_readings
               FROM ev GROUP BY 1),
        bk AS (SELECT s.user_id, s.seg, r.vmin, r.vmax, r.n_readings,
                 least(CAST(${alpha - 1} AS BIGINT),
                   (((sv // ns) - r.vmin) * $alpha)
                     // (r.vmax - r.vmin + 1)) AS bucket
               FROM sg s JOIN rg r USING (user_id))
        SELECT user_id, max(n_readings) AS n_readings,
               CAST(count(*) AS BIGINT) AS n_segments,
               max(vmin) AS vmin, max(vmax) AS vmax,
               string_agg(substr('$letters', CAST(bucket AS INT) + 1, 1),
                          '' ORDER BY seg) AS sax_word
        FROM bk GROUP BY user_id ORDER BY user_id"""
  }

  /** Unreachable-cell sentinel for the banded DTW table. Real path costs
    * are bounded by pathLen·maxCost ≈ 16·2e9 milli ≪ 1e15, so INF + one
    * cost term never wraps and never beats a real path. */
  val DtwInf = 1000000000000000L

  /** The banded-DTW dynamic program as ONE whole-stage-codegen SQL
    * expression: a nested `aggregate` fold — outer over rows i (state =
    * previous DP row, an ARRAY<BIGINT> of length w+1 with the D(i,0)=∞
    * boundary), inner over columns j (state = the growing current row,
    * seeded with the j=0 boundary cell). Cells outside the Sakoe–Chiba
    * band |i−j| > r are pinned to [[DtwInf]]; in-band cells always have
    * an in-band diagonal predecessor (|（i−1)−(j−1)| ≤ r), so the final
    * corner cell is the EXACT banded DTW distance, not a truncation.
    * All-integer milli units; both engines run the identical fold. */
  def dtwExpr(va: String, vb: String, w: Int, band: Int): String = {
    val inf = s"CAST($DtwInf AS BIGINT)"
    val seed = (Seq("CAST(0 AS BIGINT)") ++ Seq.fill(w)(inf))
      .mkString("array(", ", ", ")")
    s"""aggregate(
        sequence(1, $w),
        $seed,
        (prev, i) -> aggregate(
          sequence(1, $w),
          array($inf),
          (cur, j) -> concat(cur, array(
            CASE WHEN abs(i - j) > $band THEN $inf
            ELSE least(least(element_at(prev, j + 1), element_at(cur, j)),
                       element_at(prev, j))
                 + abs(element_at($va, i) - element_at($vb, j)) END))),
        acc -> element_at(acc, ${w + 1}))"""
  }

  /** Dynamic Time Warping similarity search over per-user series
    * (Berndt & Clifford KDD'94; Sakoe & Chiba 1978 for the band): each
    * query user's PAA-reduced series (first `w` segments of `segLen`
    * readings, floor-divided milli means — the [[sax]] front end) is
    * compared against every user's series under a Sakoe–Chiba band of
    * half-width `band`, and the `topK` nearest neighbors per query are
    * published. DTW is THE standard alignment-tolerant distance for
    * sensor/usage series — two users with the same pattern shifted by a
    * few readings score near zero where Euclidean distance explodes.
    *
    * PAA-first is the scale design (Keogh's exact-indexing insight):
    * the DP is O(w·band) per pair on the REDUCED series, w=8 here vs
    * raw lengths in the dozens. The query set is a broadcast (bounded
    * by `queryMod` selection); candidate scoring is one narrow pass
    * over users × queries with the fold above fused into codegen; the
    * per-query top-k is a WindowGroupLimit (spill-safe, the
    * sim_topk_brute shape). At crawl scale the brute arm becomes the
    * audit and an LB_Keogh envelope prefilter would gate candidates —
    * same contract as SimOps' guarded brute. */
  /** The PAA front end shared by [[dtwTopK]] and [[dtwTopKPruned]]:
    * per-user milli readings in (ts, event_id) order, floor-divided
    * means over the first `w` segments of `segLen`, one ARRAY<BIGINT>
    * row per user that has all `w` segments. */
  def paaVectors(ev: DataFrame, segLen: Int, w: Int): DataFrame = {
    val wIdx = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .withColumn("idx", (row_number().over(wIdx) - 1).cast("long"))
      .withColumn("seg", expr(s"idx div $segLen"))
      .filter(col("seg") < w)
      .groupBy(col("user_id"), col("seg"))
      .agg(sum(col("vm")).as("sv"), count(lit(1)).as("ns"))
      .withColumn("paa", expr("(sv - ((sv % ns) + ns) % ns) div ns"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("nseg"),
        expr("transform(array_sort(collect_list(struct(seg, paa))), " +
          "s -> s.paa)").as("v"))
      .filter(col("nseg") === w)
      .select(col("user_id"), col("v"))
  }

  /** SQL CTEs for [[paaVectors]] (expects to be embedded in a WITH
    * chain; exposes `vc(user_id, v)`). */
  def paaVectorsSql(table: String, segLen: Int, w: Int): String =
    s"""ix AS (SELECT user_id,
          CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm,
          CAST(row_number() OVER (PARTITION BY user_id
            ORDER BY ts, event_id) - 1 AS BIGINT) AS idx
          FROM $table),
        sg AS (SELECT user_id, idx // $segLen AS seg,
            CAST(sum(vm) AS BIGINT) // CAST(count(*) AS BIGINT) AS paa
          FROM ix WHERE idx // $segLen < $w GROUP BY 1, 2),
        vc AS (SELECT user_id, list(paa ORDER BY seg) AS v
          FROM sg GROUP BY user_id HAVING count(*) = $w)"""

  def dtwTopK(ev: DataFrame, segLen: Int = 5, w: Int = 8, band: Int = 2,
              queryMod: Int = 50, topK: Int = 3): DataFrame = {
    require(segLen >= 1 && w >= 2 && band >= 1 && topK >= 1,
      s"dtwTopK bad params ($segLen, $w, $band, $topK)")
    val vecs = paaVectors(ev, segLen, w)
    val q = vecs.filter(col("user_id") % queryMod === 0)
      .select(col("user_id").as("query_id"), col("v").as("qv"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("dtw"), col("user_id"))
    vecs.crossJoin(broadcast(q))
      .filter(col("user_id") =!= col("query_id"))
      .withColumn("dtw", expr(dtwExpr("qv", "v", w, band)))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("user_id").as("neighbor_id"), col("dtw"))
  }

  /** Oracle twin of [[dtwTopK]]: the identical PAA front end and DP
    * fold in DuckDB — `list_reduce` has no seed argument, so both fold
    * seeds ride as `list_prepend`ed first elements, and loop indices
    * travel as single-element lists to satisfy list_reduce's
    * accumulator/element type unification. */
  def dtwTopKSql(table: String, segLen: Int = 5, w: Int = 8, band: Int = 2,
                 queryMod: Int = 50, topK: Int = 3): String = {
    val inf = s"CAST($DtwInf AS BIGINT)"
    val seed = (Seq("CAST(0 AS BIGINT)") ++ Seq.fill(w)(inf))
      .mkString("[", ", ", "]")
    val fold =
      s"""list_reduce(
          list_prepend($seed,
            list_transform(range(1, ${w + 1}), i -> [CAST(i AS BIGINT)])),
          (prev, ie) -> list_reduce(
            list_prepend([$inf],
              list_transform(range(1, ${w + 1}), j -> [CAST(j AS BIGINT)])),
            (cur, je) -> list_concat(cur, [
              CASE WHEN abs(ie[1] - je[1]) > $band THEN $inf
              ELSE least(least(prev[je[1] + 1], cur[je[1]]), prev[je[1]])
                   + abs(qv[ie[1]] - v[je[1]]) END])))[${w + 1}]"""
    s"""WITH ${paaVectorsSql(table, segLen, w)},
        qs AS (SELECT user_id AS query_id, v AS qv FROM vc
          WHERE user_id % $queryMod = 0),
        sc AS (SELECT query_id, user_id AS neighbor_id, $fold AS dtw
          FROM vc CROSS JOIN qs WHERE user_id <> query_id),
        rk AS (SELECT query_id, neighbor_id, dtw,
            CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY dtw, neighbor_id) AS BIGINT) AS rank
          FROM sc)
        SELECT query_id, rank, neighbor_id, dtw FROM rk
        WHERE rank <= $topK ORDER BY query_id, rank"""
  }

  /** CERTIFIED-pruned DTW top-k — [[dtwTopK]]'s scale path, exact by
    * theorem (Keogh & Ratanamahatana, "Exact indexing of dynamic time
    * warping", KAIS 2005): per query build the Sakoe–Chiba ENVELOPE
    * U_i = max(q_{i−r..i+r}), L_i = min(q_{i−r..i+r}); then
    * LB_Keogh(c) = Σ_i max(c_i − U_i, L_i − c_i, 0) ≤ DTW(q, c) for
    * every candidate. The exact two-phase search:
    *   1. seed = the topK candidates by (LB, id); run full DTW on them;
    *      τ = max(seed DTWs) — an upper bound on the true k-th distance
    *      (the true top-k DTWs are each ≤ the worst of ANY k DTWs).
    *   2. full DTW only where LB ≤ τ; any skipped pair has
    *      DTW ≥ LB > τ ≥ k-th-best, so it cannot enter the top-k —
    *      the result is IDENTICAL to the brute [[dtwTopK]] (spec-pinned),
    *      with `n_scored` published per query as the certification
    *      observable (how many full DPs actually ran).
    * The LB is O(w) per pair vs the DP's O(w·band); at crawl scale the
    * candidate stream after phase 2's filter is where the wall-clock
    * goes, and the bound's tightness — not cluster layout — decides it.
    *
    * Scale shape: identical broadcast/narrow-pass layout to [[dtwTopK]];
    * the slim (query, candidate, lb) stream is localCheckpoint'ed once
    * for its two consumers (seed ranking + candidate filter), and τ is a
    * per-query broadcastable aggregate. */
  def dtwTopKPruned(ev: DataFrame, segLen: Int = 5, w: Int = 8,
                    band: Int = 2, queryMod: Int = 50,
                    topK: Int = 3): DataFrame = {
    require(segLen >= 1 && w >= 2 && band >= 1 && topK >= 1,
      s"dtwTopKPruned bad params ($segLen, $w, $band, $topK)")
    val vecs = paaVectors(ev, segLen, w)
    val q = vecs.filter(col("user_id") % queryMod === 0)
      .select(col("user_id").as("query_id"), col("v").as("qv"),
        expr(s"""transform(sequence(1, $w), i -> array_max(
            slice(v, greatest(1, i - $band),
                  least($w, i + $band) - greatest(1, i - $band) + 1)))""")
          .as("ue"),
        expr(s"""transform(sequence(1, $w), i -> array_min(
            slice(v, greatest(1, i - $band),
                  least($w, i + $band) - greatest(1, i - $band) + 1)))""")
          .as("le"))
    val pairs = vecs.crossJoin(broadcast(q))
      .filter(col("user_id") =!= col("query_id"))
      .withColumn("lb", expr(
        s"""aggregate(sequence(1, $w), CAST(0 AS BIGINT), (acc, i) ->
            acc + greatest(element_at(v, i) - element_at(ue, i),
                           element_at(le, i) - element_at(v, i),
                           CAST(0 AS BIGINT)))"""))
      .select(col("query_id"), col("user_id").as("neighbor_id"),
        col("qv"), col("v"), col("lb"))
      .localCheckpoint()
    val wSeed = Window.partitionBy(col("query_id"))
      .orderBy(col("lb"), col("neighbor_id"))
    val tau = pairs
      .withColumn("sr", row_number().over(wSeed))
      .filter(col("sr") <= topK)
      .withColumn("dtw", expr(dtwExpr("qv", "v", w, band)))
      .groupBy(col("query_id")).agg(max(col("dtw")).as("tau"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("dtw"), col("neighbor_id"))
    val wCnt = Window.partitionBy(col("query_id"))
    pairs.join(broadcast(tau), "query_id")
      .filter(col("lb") <= col("tau"))
      .withColumn("dtw", expr(dtwExpr("qv", "v", w, band)))
      .withColumn("n_scored", count(lit(1)).over(wCnt))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("dtw"), col("n_scored"))
  }

  /** Oracle twin of [[dtwTopKPruned]]: identical envelope, LB sum, seed
    * τ, candidate filter, and DP fold in DuckDB (end-inclusive 1-based
    * list slicing matches the slice() bounds above). */
  def dtwTopKPrunedSql(table: String, segLen: Int = 5, w: Int = 8,
                       band: Int = 2, queryMod: Int = 50,
                       topK: Int = 3): String = {
    val inf = s"CAST($DtwInf AS BIGINT)"
    val seed = (Seq("CAST(0 AS BIGINT)") ++ Seq.fill(w)(inf))
      .mkString("[", ", ", "]")
    def fold(a: String, b: String) =
      s"""list_reduce(
          list_prepend($seed,
            list_transform(range(1, ${w + 1}), i -> [CAST(i AS BIGINT)])),
          (prev, ie) -> list_reduce(
            list_prepend([$inf],
              list_transform(range(1, ${w + 1}), j -> [CAST(j AS BIGINT)])),
            (cur, je) -> list_concat(cur, [
              CASE WHEN abs(ie[1] - je[1]) > $band THEN $inf
              ELSE least(least(prev[je[1] + 1], cur[je[1]]), prev[je[1]])
                   + abs($a[ie[1]] - $b[je[1]]) END])))[${w + 1}]"""
    s"""WITH ${paaVectorsSql(table, segLen, w)},
        qs AS (SELECT user_id AS query_id, v AS qv,
            list_transform(range(1, ${w + 1}), i ->
              list_max(v[greatest(1, i - $band):least($w, i + $band)]))
              AS ue,
            list_transform(range(1, ${w + 1}), i ->
              list_min(v[greatest(1, i - $band):least($w, i + $band)]))
              AS le
          FROM vc WHERE user_id % $queryMod = 0),
        pr AS (SELECT query_id, user_id AS neighbor_id, qv, v,
            CAST(list_sum(list_transform(range(1, ${w + 1}), i ->
              greatest(v[i] - ue[i], le[i] - v[i], CAST(0 AS BIGINT))))
              AS BIGINT) AS lb
          FROM vc CROSS JOIN qs WHERE user_id <> query_id),
        sd AS (SELECT query_id, neighbor_id, qv, v, lb,
            row_number() OVER (PARTITION BY query_id
              ORDER BY lb, neighbor_id) AS sr
          FROM pr),
        tau AS (SELECT query_id, max(${fold("qv", "v")}) AS tau
          FROM sd WHERE sr <= $topK GROUP BY query_id),
        cand AS (SELECT p.query_id, p.neighbor_id,
            ${fold("p.qv", "p.v")} AS dtw
          FROM pr p JOIN tau t USING (query_id) WHERE p.lb <= t.tau),
        rk AS (SELECT query_id, neighbor_id, dtw,
            CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY dtw, neighbor_id) AS BIGINT) AS rank,
            CAST(count(*) OVER (PARTITION BY query_id) AS BIGINT)
              AS n_scored
          FROM cand)
        SELECT query_id, rank, neighbor_id, dtw, n_scored FROM rk
        WHERE rank <= $topK ORDER BY query_id, rank"""
  }

  /** Hampel identifier threshold in ten-thousandths: 3 · 1.4826 (the
    * MAD-to-σ consistency constant for the normal) = 4.4478 → the flag
    * fires when |x − med| · 10⁴ > 44478 · MAD — exact integers, no
    * float compare anywhere. */
  val HampelK4 = 44478L

  /** Hampel filter (Hampel 1974; Pearson's "mining imperfect data"
    * formulation) — the robust rolling-window outlier detector a
    * sensor-cleaning pass runs BEFORE any model sees the series: per
    * reading, the median and MAD of the ±`w` window around it, flag
    * when the deviation exceeds 3σ-equivalent ([[HampelK4]]). Median
    * beats the rolling mean the EWMA family uses because one spike
    * cannot drag its own threshold up (masking); MAD = 0 (constant
    * window) degenerates to "any deviation flags", the standard
    * convention. Exact integer milli values, lower-median
    * ((n+1) div 2 after sort) on both engines, so the flag bit is
    * engine-portable with zero float compares.
    *
    * Scale shape: ONE frame-ordered window per user (2w+1 ≤ 15 longs
    * per row — bounded state), then narrow per-row array math; no
    * self-join, no shuffle beyond the user partition. */
  def hampel(ev: DataFrame, w: Int = 3): DataFrame = {
    require(w >= 1, s"hampel needs w >= 1, got $w")
    val wIdx = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .withColumn("pos", (row_number().over(wIdx) - 1).cast("long"))
      .withColumn("arr", collect_list(col("vm")).over(
        wIdx.rowsBetween(-w, w)))
      .withColumn("med", expr(
        "element_at(array_sort(arr), CAST((size(arr) + 1) div 2 AS INT))"))
      .withColumn("mad", expr(
        """element_at(array_sort(transform(arr, x -> abs(x - med))),
           CAST((size(arr) + 1) div 2 AS INT))"""))
      .select(col("user_id"), col("pos"), col("vm"), col("med"),
        col("mad"),
        (abs(col("vm") - col("med")) * lit(10000L) >
          lit(HampelK4) * col("mad")).as("flagged"))
  }

  /** Oracle twin of [[hampel]]: identical frame, lower-median index,
    * MAD, and integer threshold compare in DuckDB. */
  def hampelSql(table: String, w: Int = 3): String =
    s"""WITH ix AS (SELECT user_id,
          CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm,
          CAST(row_number() OVER (PARTITION BY user_id
            ORDER BY ts, event_id) - 1 AS BIGINT) AS pos,
          list(CAST(floor(value * 1000 + 0.5) AS BIGINT))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN $w PRECEDING AND $w FOLLOWING) AS arr
          FROM $table),
        md AS (SELECT user_id, pos, vm, arr,
            list_sort(arr)[(len(arr) + 1) // 2] AS med
          FROM ix),
        md2 AS (SELECT user_id, pos, vm, med,
            list_sort(list_transform(arr, x -> abs(x - med)))
              [(len(arr) + 1) // 2] AS mad
          FROM md)
        SELECT user_id, pos, vm, med, mad,
          abs(vm - med) * 10000 > $HampelK4 * mad AS flagged
        FROM md2 ORDER BY user_id, pos"""

  /** Candidate-count threshold below which [[dtwTopKAdaptive]] skips
    * the LB_Keogh pass: at the gated sf0.1 density (149 candidates/
    * query) the envelope build + two DP phases cost MORE than the
    * 14–63% DP savings they buy (PLANS.md, round 8) — the bound's
    * asymptotics only win once the candidate stream is wide enough to
    * amortize them. */
  val LbMinCandidates = 512

  /** Adaptive exact DTW top-k: ONE deterministic branch on the
    * per-query candidate count (|PAA vectors| − 1 — a scalar both
    * engines compute identically), taken BEFORE any heavy work:
    *   - below [[LbMinCandidates]]: the brute [[dtwTopK]] scan — every
    *     candidate DP-scored, n_scored = the full candidate count
    *     (published either way, the certification observable);
    *   - at/above: [[dtwTopKPruned]]'s LB_Keogh-certified two-phase
    *     search verbatim.
    * Both arms are EXACT (the pruned arm by the Keogh bound theorem),
    * so the ranked pairs are identical whichever fires — only
    * n_scored reports the arm. The count is one driver action over
    * the slim PAA table (at 100 TB: a catalog row-count estimate).
    * The oracle twin replays the same branch as two UNION ALL arms
    * each guarded by the count predicate — exactly one emits rows. */
  def dtwTopKAdaptive(ev: DataFrame, segLen: Int = 5, w: Int = 8,
                      band: Int = 2, queryMod: Int = 50, topK: Int = 3,
                      lbMinCandidates: Int = LbMinCandidates): DataFrame = {
    val nCand = paaVectors(ev, segLen, w).count() - 1
    if (nCand < lbMinCandidates)
      dtwTopK(ev, segLen, w, band, queryMod, topK)
        .withColumn("n_scored", lit(nCand))
    else
      dtwTopKPruned(ev, segLen, w, band, queryMod, topK)
  }

  /** Oracle twin of [[dtwTopKAdaptive]]: both arms in one statement,
    * each filtered by the same candidate-count branch — DuckDB prunes
    * nothing, but exactly one arm produces rows, matching the Spark
    * side's driver-count branch. */
  def dtwTopKAdaptiveSql(table: String, segLen: Int = 5, w: Int = 8,
                         band: Int = 2, queryMod: Int = 50,
                         topK: Int = 3,
                         lbMinCandidates: Int = LbMinCandidates): String = {
    val brute = dtwTopKSql(table, segLen, w, band, queryMod, topK)
    val pruned = dtwTopKPrunedSql(table, segLen, w, band, queryMod, topK)
    s"""WITH bq AS ($brute), pq AS ($pruned),
        cn AS (SELECT CAST(count(*) - 1 AS BIGINT) AS n
          FROM (WITH ${paaVectorsSql(table, segLen, w)}
                SELECT user_id FROM vc))
        SELECT query_id, rank, neighbor_id, dtw,
               (SELECT n FROM cn) AS n_scored
        FROM bq WHERE (SELECT n FROM cn) < $lbMinCandidates
        UNION ALL
        SELECT query_id, rank, neighbor_id, dtw, n_scored
        FROM pq WHERE (SELECT n FROM cn) >= $lbMinCandidates
        ORDER BY query_id, rank"""
  }

  /** Per-series MOTIF discovery — the matrix-profile primitive (Yeh et
    * al., "Matrix Profile I", ICDM 2016): for every user, the pair of
    * non-overlapping length-`m` subsequences with minimal squared
    * Euclidean distance. The motif is the "repeated behavior" signal
    * (recurring daily routine, duplicated sensor trace, replayed
    * session); the trivial-match exclusion zone (pb − pa ≥ m) is what
    * separates a motif from a subsequence matching its own shifted
    * self. Distances stay in exact integer milli² (values ≤ ~10⁶ milli
    * → per-cell diff² ≤ 10¹², ×m = 8·10¹² ≪ 2⁶³); ties broken
    * (dist, pos_a, pos_b) so both engines pick the identical pair.
    *
    * Scale shape — the STOMP recurrence (Zhu et al., "Matrix Profile
    * II", ICDM 2016), declaratively: dist²(a, a+k) = SS(a) + SS(a+k)
    * − 2·dot(a, a+k), and along a DIAGONAL (fixed lag k) the dot is a
    * plain m-row moving sum of the elementwise products
    * p(i) = x(i)·x(i+k) — a window prefix sum, which is exactly
    * STOMP's O(1)-per-cell update (vs the O(m) zip_with of the naive
    * pair join this replaced in round 9). The cell table is the
    * inherent O(n²/2) of an EXACT full profile, but each cell is one
    * narrow (k, pos, product) row, and the diagonal windows partition
    * by (user, k) — a monster series spreads across its n−m diagonals
    * instead of pinning one user partition, so AQE/32 tasks split it.
    * [[matrixProfileBanded]] is the linear-cost horizon variant for
    * series where even O(n²) cells is too much. */
  def matrixProfile(ev: DataFrame, m: Int = 8): DataFrame =
    matrixProfileCells(ev, m, horizon = None)

  /** Horizon-banded matrix profile: motifs must recur within `horizon`
    * positions (pb − pa ≤ H) — the banded-join discipline applied to
    * motif discovery. Cell count drops from O(n²/2) to O(n·H): the
    * scale path for monster series where the exact full profile's
    * quadratic cell table is unpayable. Semantics: closest
    * non-overlapping pair WITHIN the horizon; `n_pairs` counts in-band
    * pairs only. */
  def matrixProfileBanded(ev: DataFrame, m: Int = 8,
                          horizon: Int = 32): DataFrame = {
    require(horizon >= m, s"horizon must be >= m (got $horizon < $m)")
    matrixProfileCells(ev, m, Some(horizon))
  }

  /** Bucket width for the EXACT profile's chunked pair join: one
    * monster series splits into n/4096 join groups instead of pinning
    * a single task with its full O(n²) candidate enumeration. Gated
    * series (≤ a few hundred readings) stay in one bucket. */
  val MpChunk = 4096

  private def matrixProfileCells(ev: DataFrame, m: Int,
                                 horizon: Option[Int]): DataFrame = {
    require(m >= 2, s"matrixProfile needs m >= 2 (got $m)")
    val wIdx = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ix = ev
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("vm"))
      .withColumn("pos", (row_number().over(wIdx) - 1).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("user_id"))))
      // SS(pos) = Σ vm² over the m-window starting here (NULL when the
      // window hangs off the series end — such anchors never qualify).
      .withColumn("ss", when(
        count(lit(1)).over(wIdx.rowsBetween(Window.currentRow, m - 1))
          === m,
        sum(col("vm") * col("vm")).over(
          wIdx.rowsBetween(Window.currentRow, m - 1))))
      .select(col("user_id"), col("pos"), col("n"), col("vm"), col("ss"))
      // Both pair-join sides read this frame; one checkpoint of the
      // slim (user, pos, vm, ss) table keeps a single scan+window
      // pipeline feeding both (the round-8 ReuseExchange lesson).
      .localCheckpoint()
    // The banded-join discipline (BandedJoinRule / bandedIntervalJoin):
    // a join on user_id alone enumerates |series|² candidates inside
    // ONE join group before any band filter — quadratic in key
    // popularity, and AQE cannot split it (measured: the naive form
    // went superlinear at 2^17 readings, PLANS.md's MpScale drive). Anchors
    // replicate to the position buckets their partners can live in
    // ([pos+m, pos+h] for the banded arm, [pos+m, n-1] chunked by
    // [[MpChunk]] for the exact arm); partners project their single
    // bucket, so the join is an equi-join on (user, bucket), every
    // pair meets in exactly one bucket (no dedup), and the exact range
    // predicate stays as the post-filter.
    val w = horizon.getOrElse(MpChunk).toLong
    val hiExpr = horizon match {
      case Some(h) => s"least(pos + $h, n - 1)"
      case None    => "n - 1"
    }
    val aRep = ix
      .filter(expr(s"pos + $m <= $hiExpr"))
      .withColumn("bk", explode(expr(
        s"sequence((pos + $m) div $w, ($hiExpr) div $w)")))
      .select(col("user_id"), col("bk"), col("pos").as("pa"),
        col("vm").as("va"), col("ss").as("sa"))
    val bSide = ix
      .select(col("user_id"), expr(s"pos div $w").as("bk"),
        col("pos").as("pb"), col("vm").as("vb"), col("ss").as("sb"))
    val bandPred = horizon match {
      case Some(h) => col("pb") <= col("pa") + h
      case None    => lit(true)
    }
    // One narrow product cell per (anchor, lag): p = x(i)·x(i+k).
    val cells = aRep.join(bSide, Seq("user_id", "bk"))
      .filter(col("pb") >= col("pa") + m && bandPred)
      .select(col("user_id"), (col("pb") - col("pa")).as("k"),
        col("pa"), (col("va") * col("vb")).as("p"),
        col("sa"), col("sb"))
    // STOMP along each diagonal: the m-cell moving sum IS the dot
    // product walk; a frame short of m cells falls off the diagonal
    // end (pa + m − 1 + k > n − 1) and is not a valid pair.
    val wDiag = Window.partitionBy(col("user_id"), col("k"))
      .orderBy(col("pa"))
    val frame = wDiag.rowsBetween(Window.currentRow, m - 1)
    val dists = cells
      .withColumn("dot", sum(col("p")).over(frame))
      .withColumn("nf", count(lit(1)).over(frame))
      .filter(col("nf") === m)
      .select(col("user_id"), col("pa"),
        (col("pa") + col("k")).as("pb"),
        (col("sa") + col("sb") - lit(2L) * col("dot")).as("dist_sq"))
    dists.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(struct(col("dist_sq"), col("pa"), col("pb"))).as("best"))
      .select(col("user_id"), col("n_pairs"),
        col("best.pa").as("pos_a"), col("best.pb").as("pos_b"),
        col("best.dist_sq").as("dist_sq"))
  }

  /** Oracle twin of [[matrixProfileBanded]]: the definitional
    * quadratic pair form with the horizon predicate — DuckDB at oracle
    * scale affords the naive form the Spark side deliberately avoids. */
  def matrixProfileBandedSql(table: String, m: Int = 8,
                             horizon: Int = 32): String =
    matrixProfileSql(table, m, Some(horizon))

  /** Oracle twin of [[matrixProfile]]: identical frame-ordered window
    * collect, exclusion zone, integer distance, and tie order — the
    * DEFINITIONAL all-pairs form (the Spark side runs the STOMP
    * diagonal recurrence; the gate proves them equal). */
  def matrixProfileSql(table: String, m: Int = 8,
                       horizon: Option[Int] = None): String = {
    val band = horizon.map(h => s" AND b.pos <= a.pos + $h").getOrElse("")
    s"""WITH ix AS (SELECT user_id,
          CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm,
          CAST(row_number() OVER (PARTITION BY user_id
            ORDER BY ts, event_id) - 1 AS BIGINT) AS pos,
          ts, event_id
          FROM $table),
        sub AS (SELECT user_id, pos, s FROM (
            SELECT user_id, pos,
              list(vm) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN CURRENT ROW AND ${m - 1} FOLLOWING) AS s
            FROM ix)
          WHERE len(s) = $m),
        pr AS (SELECT a.user_id, a.pos AS pa, b.pos AS pb,
            CAST(list_sum(list_transform(range(1, ${m + 1}),
              i -> (a.s[i] - b.s[i]) * (a.s[i] - b.s[i]))) AS BIGINT)
              AS dist_sq
          FROM sub a JOIN sub b ON a.user_id = b.user_id
            AND a.pos + $m <= b.pos$band),
        rk AS (SELECT user_id, pa, pb, dist_sq,
            row_number() OVER (PARTITION BY user_id
              ORDER BY dist_sq, pa, pb) AS rn,
            CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
              AS n_pairs
          FROM pr)
        SELECT user_id, n_pairs, pa AS pos_a, pb AS pos_b, dist_sq
        FROM rk WHERE rn = 1 ORDER BY user_id"""
  }
}
