package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.ops.SimOps

/** Glycemic-variability panel — the two published variability metrics a
  * CGM clinic reads beside mean/SD/TIR (which live in
  * `ref_glycemic_stats` / `ref_time_in_range`): MODD (Molnar 1972,
  * day-to-day reproducibility) and MAGE (Service 1970, within-day
  * excursion amplitude). Both are window-function pipelines over the
  * same user-keyed ordering, so each query pays ONE user-keyed exchange
  * for its whole chain of lag/lead passes (Catalyst reuses the sort);
  * the per-user scalar branches (SD, pair means) aggregate slim rows on
  * the same key. The reference's consumers (FIXTURES.md §B role mapping)
  * read these off the same EGV feed the categorize/filter topologies
  * process (StreamsFilterEgvs.java:28-31 feeds the same stream).
  */
object ClinicalQueries {

  /** MODD pipeline over a (user_id, sec, event_id, value) frame —
    * factored out of the gate so ClinicalSpec can pin the SEMANTICS on
    * hand-computed Molnar-1972-style fixtures (slot-representative
    * pick, consecutive-day pairing, exact micro-unit mean), not just
    * cross-engine agreement. */
  def modd(ev0: DataFrame): DataFrame = {
    val ev = ev0
      .withColumn("day", expr("sec div 86400"))
      .withColumn("slot", expr("(sec % 86400) div 3600"))
      .withColumn("off", abs(expr("sec % 3600") - lit(1800L)))
    val wRep = Window.partitionBy(col("user_id"), col("day"), col("slot"))
      .orderBy(col("off"), col("event_id"))
    val rep = ev.withColumn("rn", row_number().over(wRep))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("slot"), col("value"))
    val wPair = Window.partitionBy(col("user_id"), col("slot"))
      .orderBy(col("day"))
    rep
      .withColumn("pv", lag(col("value"), 1).over(wPair))
      .withColumn("pd", lag(col("day"), 1).over(wPair))
      .filter(col("pd") === col("day") - 1)
      // Accumulate in exact integer micro-units: a double-sum's value
      // depends on addend order (Spark's partial merge vs the
      // oracle's sequential scan — a 1-ulp drift flipped the 4th
      // decimal on one sf0.01 row), a long-sum's does not. One
      // identical IEEE division at the end on both sides.
      .withColumn("dm",
        expr("CAST(floor(abs(value - pv) * 1000000 + 0.5) AS LONG)"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("dm")).as("__sm"))
      .select(col("user_id"), col("n_pairs"),
        SimOps.quant4(col("__sm").cast("double") /
          (col("n_pairs") * lit(1000000L)).cast("double")).as("modd"))
  }

  /** MAGE pipeline over a (user_id, sec, event_id, value) frame — same
    * factoring rationale as [[modd]]: the Service-1970 semantics
    * (collapse → interior turning points → amplitudes vs 1 SD) are
    * pinned by hand-worked fixtures in ClinicalSpec. */
  def mage(ev: DataFrame): DataFrame = {
    val sd = ev.groupBy(col("user_id"))
      .agg(stddev_samp(col("value")).as("__sd"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    val collapsed = ev
      .withColumn("pv", lag(col("value"), 1).over(w))
      .filter(col("pv").isNull || col("value") =!= col("pv"))
      .drop("pv")
    val turns = collapsed
      .withColumn("prev", lag(col("value"), 1).over(w))
      .withColumn("nxt", lead(col("value"), 1).over(w))
      .filter(col("prev").isNotNull && col("nxt").isNotNull &&
        ((col("value") > col("prev") && col("value") > col("nxt")) ||
         (col("value") < col("prev") && col("value") < col("nxt"))))
      .select(col("user_id"), col("sec"), col("event_id"), col("value"))
    val amp = turns
      .withColumn("tv", lag(col("value"), 1).over(w))
      .filter(col("tv").isNotNull)
      .withColumn("amp", abs(col("value") - col("tv")))
      .select(col("user_id"), col("amp"))
    // ONE sd branch: left-joining amplitudes onto the per-user SD and
    // aggregating conditionally keeps zero-excursion users without a
    // second SD subtree (a naive "exc join sd, then sd left-join exc"
    // plan scans + aggregates the events table twice for SD).
    // Integer micro-unit accumulation (same rationale as [[modd]]):
    // the amplitude mean must not depend on partial-sum order.
    sd.join(amp, Seq("user_id"), "left")
      .withColumn("qual",
        col("amp").isNotNull &&
          SimOps.quant4(col("amp")) > SimOps.quant4(col("__sd")))
      .withColumn("am",
        when(col("qual"), expr("CAST(floor(amp * 1000000 + 0.5) AS LONG)")))
      .groupBy(col("user_id"), col("__sd"))
      .agg(sum(when(col("qual"), 1L).otherwise(0L)).as("n_excursions"),
        sum(col("am")).as("__sm"))
      .select(col("user_id"), SimOps.quant4(col("__sd")).as("sd_glucose"),
        col("n_excursions"),
        when(col("n_excursions") > 0,
          SimOps.quant4(col("__sm").cast("double") /
            (col("n_excursions") * lit(1000000L)).cast("double")))
          .as("mage"))
  }

  val defs: Seq[QueryDef] = Seq(

    // MODD — Mean Of Daily Differences: |glucose(t) − glucose(t − 24 h)|
    // averaged over time-matched readings on CONSECUTIVE days. Matching
    // uses the clinical convention: one representative reading per
    // (user, day, hour-of-day slot) — the reading nearest the slot
    // center (tie: lowest event_id) — then the day-over-day pair is a
    // lag over (user, slot) ordered by day, kept only when the previous
    // row is exactly the prior day. The representative pick and the
    // pairing are integer-exact; the |diff| of two raw parquet doubles
    // is IEEE-exact; only the final per-user mean is quantized.
    // Shape: one (user, day, slot) window picks representatives, one
    // (user, slot) window pairs days, one user-keyed hash-agg — all
    // slim day-grain rows after the first pass; never an all-readings
    // self-join (the textbook MODD join on ts = ts - 24h would shuffle
    // the full feed twice and die on irregular timestamps).
    QueryDef("ref_modd",
      (s, d) => modd(Tables.events(s, d)
        .select(col("user_id"), expr("CAST(ts AS LONG)").as("sec"),
          col("event_id"), col("value"))),
      Some(s"""WITH ev AS (SELECT user_id, event_id, value,
             |   CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
             | e2 AS (SELECT user_id, event_id, value, sec // 86400 AS day,
             |   (sec % 86400) // 3600 AS slot,
             |   abs((sec % 3600) - 1800) AS off FROM ev),
             | rep AS (SELECT user_id, day, slot, value FROM (
             |   SELECT *, row_number() OVER (PARTITION BY user_id, day, slot
             |     ORDER BY off, event_id) AS rn FROM e2) WHERE rn = 1),
             | pr AS (SELECT user_id, day, value,
             |   lag(value, 1) OVER w AS pv, lag(day, 1) OVER w AS pd
             |  FROM rep WINDOW w AS (PARTITION BY user_id, slot ORDER BY day)),
             | g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
             |   CAST(sum(CAST(floor(abs(value - pv) * 1000000 + 0.5) AS BIGINT))
             |     AS BIGINT) AS sm
             |  FROM pr WHERE pd = day - 1 GROUP BY user_id)
             | SELECT user_id, n_pairs,
             |  ${SimOps.quant4Sql(
                   "CAST(sm AS DOUBLE) / CAST(n_pairs * 1000000 AS DOUBLE)")}
             |    AS modd
             | FROM g ORDER BY user_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("user_id")),

    // MAGE — Mean Amplitude of Glycemic Excursions: the mean |peak −
    // nadir| over excursions exceeding one SD of the user's whole
    // series. Deterministic variant gated here: (1) collapse
    // consecutive equal readings (keep first) so every neighbor diff is
    // nonzero and "local extremum" is a total predicate; (2) interior
    // turning points = strict sign change (prev < v > next or
    // prev > v < next); (3) amplitude = |v − previous turning point|;
    // (4) keep amplitudes whose 4-dp-quantized value exceeds the
    // 4-dp-quantized SD — the threshold compare runs on engine-exact
    // quantized doubles (the hardNegatives band-test convention) so a
    // boundary amplitude cannot flip membership across engines.
    // Users with no qualifying excursion still report (0, NULL).
    // Shape: three consecutive lag/lead windows on the SAME (user ×
    // (sec, event_id)) partitioning-ordering — one exchange + one sort
    // reused through the chain (filters preserve order); the SD branch
    // is a user-keyed hash-agg of the same scan joined back on the
    // window's own key.
    QueryDef("ref_mage",
      (s, d) => mage(Tables.events(s, d)
        .select(col("user_id"), expr("CAST(ts AS LONG)").as("sec"),
          col("event_id"), col("value"))),
      Some(s"""WITH ev AS (SELECT user_id, event_id, value,
             |   CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
             | sd AS (SELECT user_id, stddev_samp(value) AS sdv
             |  FROM ev GROUP BY user_id),
             | coll AS (SELECT user_id, sec, event_id, value FROM (
             |   SELECT *, lag(value, 1) OVER (PARTITION BY user_id
             |     ORDER BY sec, event_id) AS pv FROM ev)
             |   WHERE pv IS NULL OR value <> pv),
             | tp AS (SELECT user_id, sec, event_id, value FROM (
             |   SELECT *, lag(value, 1) OVER w AS prev,
             |     lead(value, 1) OVER w AS nxt FROM coll
             |   WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id))
             |   WHERE prev IS NOT NULL AND nxt IS NOT NULL AND
             |     ((value > prev AND value > nxt)
             |      OR (value < prev AND value < nxt))),
             | amp AS (SELECT user_id, abs(value - tv) AS amp FROM (
             |   SELECT *, lag(value, 1) OVER (PARTITION BY user_id
             |     ORDER BY sec, event_id) AS tv FROM tp)
             |   WHERE tv IS NOT NULL),
             | j AS (SELECT sd.user_id, sdv, amp,
             |    (amp IS NOT NULL AND
             |     ${SimOps.quant4Sql("amp")} > ${SimOps.quant4Sql("sdv")})
             |      AS qual
             |   FROM sd LEFT JOIN amp ON sd.user_id = amp.user_id),
             | g AS (SELECT user_id, sdv,
             |    CAST(sum(CASE WHEN qual THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_excursions,
             |    CAST(sum(CASE WHEN qual THEN
             |        CAST(floor(amp * 1000000 + 0.5) AS BIGINT) END)
             |      AS BIGINT) AS sm
             |   FROM j GROUP BY user_id, sdv)
             | SELECT user_id, ${SimOps.quant4Sql("sdv")} AS sd_glucose,
             |  n_excursions,
             |  CASE WHEN n_excursions > 0 THEN ${SimOps.quant4Sql(
                   "CAST(sm AS DOUBLE) / CAST(n_excursions * 1000000 AS DOUBLE)")}
             |  END AS mage
             | FROM g ORDER BY user_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("user_id")),

    // Winsorized mean — the robust location estimate a sensor pipeline
    // trusts when raw means are spike-polluted (compression lows,
    // pressure-induced sensor attenuations): per user, clip every
    // reading into [p05, p95] of that user's own distribution
    // (percentile_disc — both engines pick actual data values, zero
    // interpolation arithmetic), then average the clipped series in
    // exact integer micro-units (the ref_modd accumulation rule).
    // Shape: one user-keyed sort-agg for the percentile pair (slim
    // per-user rows), an equi-join back on the same key, one hash-agg —
    // the clip itself is scalar codegen. The trimmed bounds travel in
    // the output so the gate checks WHERE the clip landed, not just the
    // mean.
    QueryDef("ref_winsorized_mean",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id"), col("value"))
        val pct = ev.groupBy(col("user_id")).agg(
          expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY value)")
            .as("p05"),
          expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)")
            .as("p95"),
          count(lit(1)).as("n_readings"))
        ev.join(pct, "user_id")
          .withColumn("w",
            least(greatest(col("value"), col("p05")), col("p95")))
          .withColumn("wm", expr("CAST(floor(w * 1000000 + 0.5) AS LONG)"))
          .groupBy(col("user_id"), col("n_readings"),
            col("p05"), col("p95"))
          .agg(sum(col("wm")).as("__sm"))
          .select(col("user_id"), col("n_readings"), col("p05"), col("p95"),
            SimOps.quant4(col("__sm").cast("double") /
              (col("n_readings") * lit(1000000L)).cast("double"))
              .as("wins_mean"))
      },
      Some(s"""WITH pct AS (SELECT user_id,
             |   quantile_disc(value, 0.05) AS p05,
             |   quantile_disc(value, 0.95) AS p95,
             |   CAST(count(*) AS BIGINT) AS n_readings
             |  FROM events GROUP BY user_id),
             | w AS (SELECT e.user_id, n_readings, p05, p95,
             |   CAST(floor(least(greatest(value, p05), p95) * 1000000 + 0.5)
             |     AS BIGINT) AS wm
             |  FROM events e JOIN pct ON e.user_id = pct.user_id),
             | g AS (SELECT user_id, n_readings, p05, p95,
             |   CAST(sum(wm) AS BIGINT) AS sm FROM w GROUP BY 1, 2, 3, 4)
             | SELECT user_id, n_readings, p05, p95,
             |  ${SimOps.quant4Sql(
                   "CAST(sm AS DOUBLE) / CAST(n_readings * 1000000 AS DOUBLE)")}
             |    AS wins_mean
             | FROM g ORDER BY user_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("user_id")),

    // Seasonal-residual anomaly — deviation from the user's OWN
    // time-of-day norm, the seasonal adjustment ref_anomaly_zscore's
    // global mean cannot see (a 160 mg/dL reading is normal after
    // dinner, anomalous at 4 am): baseline = per-(user, hour-of-day)
    // mean in floored integer micro-units, residual = reading −
    // baseline (pure integer subtraction), flag at the fixed clinical
    // 50 mg/dL excursion. Zero doubles anywhere — the baseline itself
    // is the floor-divided micro-unit mean, so the gate is hash-exact
    // with no quantization step at all. Shape: one (user, hod) hash-agg
    // (map-side combinable, 24 rows per user) joined back on the same
    // key — co-partitioned, no window sort over the feed.
    QueryDef("ref_seasonal_residual",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            hour(col("ts")).as("hod"),
            expr("CAST(floor(value * 1000000 + 0.5) AS LONG)").as("vm"))
        val base = ev.groupBy(col("user_id"), col("hod"))
          .agg(expr("sum(vm) div count(1)").as("baseline_micro"))
        ev.join(base, Seq("user_id", "hod"))
          .select(col("event_id"), col("user_id"), col("hod"),
            col("vm").as("value_micro"), col("baseline_micro"),
            (col("vm") - col("baseline_micro")).as("residual_micro"),
            (abs(col("vm") - col("baseline_micro")) > lit(50000000L))
              .as("is_anomaly"))
      },
      Some("""WITH ev AS (SELECT event_id, user_id,
             |   CAST(date_part('hour', ts) AS INT) AS hod,
             |   CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm
             |  FROM events),
             | b AS (SELECT user_id, hod,
             |   CAST(sum(vm) AS BIGINT) // CAST(count(*) AS BIGINT)
             |     AS baseline_micro
             |  FROM ev GROUP BY user_id, hod)
             | SELECT event_id, ev.user_id, ev.hod, vm AS value_micro,
             |  baseline_micro, vm - baseline_micro AS residual_micro,
             |  abs(vm - baseline_micro) > 50000000 AS is_anomaly
             | FROM ev JOIN b ON ev.user_id = b.user_id AND ev.hod = b.hod
             | ORDER BY event_id""".stripMargin.replace("\n", "")),
      presentOrder = Seq("event_id")),

    // Event-anchored response curve — the event-study shape (what does
    // the signal do in the 2 h AFTER each anchor event, in 30-min
    // offset buckets): every (purchase, later-reading) pair within the
    // window, via the hot-key-proof BANDED interval join (the plain
    // user-key + range-filter join is quadratic in a celebrity user's
    // rows — the failure PLANS.md's BandScale drive measured; the band caps each join
    // group at one tolerance cell). Bucket 0 includes the anchor's own
    // reading (δ = 0, inclusive left edge). Integer micro-unit means.
    QueryDef("ref_event_response",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), expr("CAST(ts AS LONG)").as("sec"),
            col("event_type"), col("value"))
        val anchors = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("sec"))
        val readings = ev.select(col("user_id"), col("sec").as("rsec"),
          col("value"))
        graft.ops.AsofOps.bandedIntervalJoin(anchors, readings,
            keyCols = Seq("user_id"), leftTime = "sec", rightTime = "rsec",
            rightPayload = Seq("value"), toleranceSec = 7200L)
          .filter(col("delta_s") >= 0 && col("delta_s") < 7200)
          .withColumn("offset_bucket", expr("delta_s div 1800"))
          .withColumn("vm", expr("CAST(floor(r_value * 1000000 + 0.5) AS LONG)"))
          .groupBy(col("offset_bucket"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("vm")).as("__sm"))
          .select(col("offset_bucket"), col("n_pairs"),
            expr("__sm div n_pairs").as("mean_value_micro"))
      },
      Some("""WITH ev AS (SELECT user_id,
             |   CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type, value
             |  FROM events),
             | a AS (SELECT user_id, sec FROM ev
             |  WHERE event_type = 'purchase'),
             | j AS (SELECT r.sec - a.sec AS d, r.value
             |  FROM a JOIN ev r ON a.user_id = r.user_id
             |   AND r.sec >= a.sec AND r.sec < a.sec + 7200),
             | b AS (SELECT d // 1800 AS offset_bucket,
             |   CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm FROM j)
             | SELECT offset_bucket, CAST(count(*) AS BIGINT) AS n_pairs,
             |  CAST(sum(vm) AS BIGINT) // CAST(count(*) AS BIGINT)
             |    AS mean_value_micro
             | FROM b GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", "")),
      presentOrder = Seq("offset_bucket"))
  )
}
