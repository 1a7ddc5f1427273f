package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twins of catalog batch queries. Each operator here has a
  * gated batch twin, and a `StreamingSpec` parity test runs it through
  * `restartEquivalent`: uninterrupted on the default state store, then
  * on RocksDB with one batch failed and replayed from the checkpoint,
  * to the same per-batch output.
  *
  * U1 — the reference's "UDF with keyed state" capability
  * (EgvTransformer.java:20-90, a ValueTransformer holding a state store),
  * generalized the Spark way: `flatMapGroupsWithState` over a typed
  * KeyValueGroupedDataset. Its Dexcom-native instance is
  * [[streamingTrendArrows]]: per-user state is the last reading, and each
  * arrival emits its rate of change against it (`Egv.trendRate`,
  * Egv.java:11) with the batch `ref_trend_arrows` classification.
  */
object StatefulOps {

  case class KeyedEvent(key: String, ts: java.sql.Timestamp, eventId: Long)
  case class LastTs(sec: Long)

  /** Streaming twin of the gated `stream_dedup_horizon` batch query:
    * bounded-state dedup over an event-time horizon. An event is a
    * duplicate iff the previous event with the same key (kept or NOT —
    * lag semantics, matching the batch window) lies within `horizonSec`.
    * State is ONE floor-second timestamp per key; in production add an
    * event-time timeout at the watermark so idle keys evict. Timestamps
    * floor to seconds exactly like the batch side's cast-to-long. */
  def gapDedup(events: Dataset[KeyedEvent], horizonSec: Long): Dataset[KeyedEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[LastTs, KeyedEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[KeyedEvent], state: GroupState[LastTs]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.eventId))
          val out = scala.collection.mutable.ArrayBuffer.empty[KeyedEvent]
          var last = state.getOption.map(_.sec)
          for (r <- sorted) {
            val sec = Math.floorDiv(r.ts.getTime, 1000L)
            if (last.forall(p => sec - p > horizonSec)) out += r
            last = Some(sec) // last SEEN, kept or not — lag() semantics
          }
          last.foreach(s => state.update(LastTs(s)))
          out.iterator
      }
  }

  case class FunnelEvent(userId: String, ts: java.sql.Timestamp, eventType: String)
  case class FunnelTransition(userId: String, stage: Int, ts: java.sql.Timestamp)
  case class FunnelState(stage: Int, anchorMs: Long)

  /** Streaming twin of the batch `ref_funnel`: a per-user stage machine
    * advancing view → click → purchase, each stage strictly after the
    * previous anchor and within `windowMs` of it. Greedy in-order
    * advance equals the batch min-anchored formula (the first view IS
    * min(view ts); the first qualifying click after it IS the batch t2;
    * same for purchase) — the parity test pins this. State is two fields
    * per user, O(1) forever; one FunnelTransition row emitted per stage
    * reached. Intra-batch order contract: event time (ties by type in
    * funnel order), matching the batch side's min() semantics.
    */
  def streamingFunnel(events: Dataset[FunnelEvent],
                      windowMs: Long): Dataset[FunnelTransition] = {
    import events.sparkSession.implicits._
    val order = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelState, FunnelTransition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: String, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val sorted = rows.toSeq
            .sortBy(e => (e.ts.getTime, order.getOrElse(e.eventType, 3)))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelTransition]
          var st = state.getOption.getOrElse(FunnelState(0, 0L))
          for (e <- sorted) {
            val t = e.ts.getTime
            val want = st.stage match {
              case 0 => "view"
              case 1 => "click"
              case 2 => "purchase"
              case _ => ""
            }
            val qualifies = e.eventType == want &&
              (st.stage == 0 || (t > st.anchorMs && t <= st.anchorMs + windowMs))
            if (qualifies) {
              st = FunnelState(st.stage + 1, t)
              out += FunnelTransition(userId, st.stage, e.ts)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** One tagged record of the two-stream temporal-enrichment union:
    * dimension updates (`isDim = true`, carrying `dimValue`) and fact
    * lookups (`isDim = false`, carrying `eventId`) share the key and an
    * event timestamp. */
  case class AsofEvent(key: String, ts: java.sql.Timestamp, isDim: Boolean,
                       eventId: Long, dimValue: Option[Int])
  case class AsofEnriched(key: String, ts: java.sql.Timestamp, eventId: Long,
                          asofValue: Option[Int],
                          asofTs: Option[java.sql.Timestamp])
  case class DimState(tsMs: Long, value: Int)

  /** Streaming as-of enrichment — the streaming twin of the gated batch
    * `q_asof_join` (`AsofOps.asofJoin`) and the Spark shape of the
    * reference's whole topology: a fact stream enriched against the
    * latest-so-far state of a changelog
    * (CategorizeWithKTableLookup.java:65-66 does exactly this with a
    * KTable lookup inside a ValueTransformer).
    *
    * Each lookup row gets the dim row with the greatest dim ts <= lookup
    * ts seen SO FAR — at equal timestamps the dim update wins (inclusive
    * <=, matching `asofJoin`'s right-before-left tie order). State is ONE
    * (ts, value) per key, O(1) forever: a NEWER dim update replaces an
    * older one, which is lossy only for lookups that arrive AFTER a dim
    * row that postdates them — the stream contract here, as with every
    * twin in this file, is event-time-ordered arrival across micro-batches
    * (enforced upstream by watermark + event-time sort, proven by the
    * cross-batch parity test). Lookups before any dim row emit NULLs
    * (left-join semantics, like the batch side).
    */
  def streamingAsof(events: Dataset[AsofEvent]): Dataset[AsofEnriched] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[DimState, AsofEnriched](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[AsofEvent], state: GroupState[DimState]) =>
          // Event-time order; dim rows first at equal ts (inclusive <=).
          val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, !r.isDim, r.eventId))
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofEnriched]
          var cur = state.getOption
          for (r <- sorted) {
            if (r.isDim) {
              // Guard against an out-of-order STALE dim slipping into a
              // batch: never replace a newer state with an older row.
              if (cur.forall(_.tsMs <= r.ts.getTime))
                cur = Some(DimState(r.ts.getTime, r.dimValue.get))
            } else {
              val m = cur.filter(_.tsMs <= r.ts.getTime)
              out += AsofEnriched(key, r.ts, r.eventId, m.map(_.value),
                m.map(s => new java.sql.Timestamp(s.tsMs)))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  case class ArrowRow(userId: Long, eventId: Long, rate: Option[Double],
                      arrow: String)
  case class LastReading(sec: Long, eventId: Long, value: Double)
  case class EwmaRow(userId: Long, n: Long, ewma: Double)
  case class EwmaState(n: Long, s: Double)

  /** Streaming twin of the gated `ref_ewma_trend` fold: keyed state is
    * (count, smoothed value) — two numbers per user forever. Each
    * arrival applies the SAME recursion step the batch HOF fold runs
    * (s' = 0.75·s + 0.25·x, first value seeds), in the same
    * (sec, eventId) order within each micro-batch; because the batch
    * operator IS a left fold, any in-order micro-batching replays the
    * identical multiply-add sequence and the snapshot is BIT-equal to
    * the batch result (asserted in `StreamingSpec`) — the same
    * state-equals-fold argument as the KMV twin, but over IEEE doubles
    * rather than a value set. */
  def streamingEwma(readings: Dataset[GlucoseReading]): Dataset[EwmaRow] = {
    import readings.sparkSession.implicits._
    readings
      .groupByKey(_.userId)
      .flatMapGroupsWithState[EwmaState, EwmaRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[GlucoseReading], state: GroupState[EwmaState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.sec, r.eventId))
          var st = state.getOption.getOrElse(EwmaState(0L, 0d))
          for (r <- sorted)
            st = if (st.n == 0L) EwmaState(1L, r.value)
                 else EwmaState(st.n + 1, st.s * 0.75 + r.value * 0.25)
          state.update(st)
          Iterator(EwmaRow(user, st.n, quant4(st.s)))
      }
  }

  /** Streaming twin of the gated `ref_trend_arrows`: the live 7-arrow
    * rate-of-change panel. Keyed state is the LAST reading only (sec,
    * eventId, value) — O(1) per user forever; each arrival classifies
    * against it with the SAME thresholds and the same classify-before-
    * divide rule (first/'dup' decided before any division, so no
    * Inf/NaN exists to render), then becomes the new last reading.
    * Within a micro-batch rows sort by (sec, eventId) — the batch
    * window's order — so any micro-batching of an in-order feed yields
    * the identical arrow sequence, proven against the batch query in
    * `StreamingSpec`. */
  def streamingTrendArrows(readings: Dataset[GlucoseReading]): Dataset[ArrowRow] = {
    import readings.sparkSession.implicits._
    readings
      .groupByKey(_.userId)
      .flatMapGroupsWithState[LastReading, ArrowRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[GlucoseReading], state: GroupState[LastReading]) =>
          val sorted = rows.toSeq.sortBy(r => (r.sec, r.eventId))
          val out = scala.collection.mutable.ArrayBuffer.empty[ArrowRow]
          var last = state.getOption
          for (r <- sorted) {
            val row = last match {
              case None => ArrowRow(user, r.eventId, None, "first")
              case Some(p) if p.sec == r.sec =>
                ArrowRow(user, r.eventId, None, "dup")
              case Some(p) =>
                val rate = quant4((r.value - p.value) /
                  ((r.sec - p.sec).toDouble / 60.0))
                val arrow =
                  if (rate > 3) "double_up"
                  else if (rate > 2) "single_up"
                  else if (rate > 1) "forty_five_up"
                  else if (rate >= -1) "flat"
                  else if (rate >= -2) "forty_five_down"
                  else if (rate >= -3) "single_down"
                  else "double_down"
                ArrowRow(user, r.eventId, Some(rate), arrow)
            }
            out += row
            last = Some(LastReading(r.sec, r.eventId, r.value))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** JVM mirror of `SimOps.quant4`: floor(x·10⁴ + 0.5)/10⁴ in doubles. */
  private def quant4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x else math.floor(x * 1e4 + 0.5) / 1e4

  case class TypeEvent(userId: Long, eventType: String, sec: Long,
                       eventId: Long)
  case class DiscoveryRow(userId: Long, eventId: Long, cumDistinct: Long)
  case class SeenTypes(seen: List[String])

  /** Streaming twin of the gated `q_cumulative_distinct`: the live
    * discovery/novelty curve — per arriving event, how many DISTINCT
    * event types its user has touched so far. Keyed state is the SET of
    * seen types (bounded by the type vocabulary, not the stream — the
    * reference's event_type domain is 3 values; a production topology
    * caps or sketches an open domain). Intra-batch order (sec, eventId)
    * matches the batch windows, so micro-batch splits reproduce the
    * batch curve row for row (StreamingSpec). */
  def streamingDiscovery(events: Dataset[TypeEvent]): Dataset[DiscoveryRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SeenTypes, DiscoveryRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[TypeEvent], state: GroupState[SeenTypes]) =>
          val sorted = rows.toSeq.sortBy(r => (r.sec, r.eventId))
          val out = scala.collection.mutable.ArrayBuffer.empty[DiscoveryRow]
          var seen = state.getOption.map(_.seen).getOrElse(Nil)
          for (r <- sorted) {
            if (!seen.contains(r.eventType)) seen = r.eventType :: seen
            out += DiscoveryRow(user, r.eventId, seen.size.toLong)
          }
          state.update(SeenTypes(seen))
          out.iterator
      }
  }

  case class QiDoc(qi: String, docId: Long)
  case class KAnonRelease(docId: Long, qi: String, releasedBy: Long)
  case class HeldDocs(held: List[Long], published: Boolean)

  /** Streaming twin of the gated `stream_k_anon` — the LIVE
    * suppress-until-k rung of the privacy ladder
    * (`pipeline_k_anonymity` etc. audit a closed corpus; a live
    * publisher must instead HOLD each arriving record until its
    * quasi-identifier class is safe to publish): the first k−1 records
    * of a class buffer in keyed state; the k-th arrival releases the
    * whole buffer at once (every one of those rows carries
    * `releasedBy` = the k-th doc), and every later member publishes
    * immediately (releasedBy = itself). Records of classes that never
    * reach k are never emitted — exactly the batch query's n ≥ k
    * filter.
    *
    * State per class is at most k−1 held ids + a published flag —
    * O(classes·k) total, corpus-size-free, the bound that makes this
    * runnable forever. Intra-batch order is docId asc (the arrival
    * contract), so any micro-batch split of an id-ordered feed
    * reproduces the batch rows exactly (StreamingSpec parity). */
  def streamingKAnon(docs: Dataset[QiDoc], k: Int): Dataset[KAnonRelease] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.qi)
      .flatMapGroupsWithState[HeldDocs, KAnonRelease](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (qi: String, rows: Iterator[QiDoc], state: GroupState[HeldDocs]) =>
          val sorted = rows.toSeq.sortBy(_.docId)
          val out = scala.collection.mutable.ArrayBuffer.empty[KAnonRelease]
          var st = state.getOption.getOrElse(HeldDocs(Nil, published = false))
          for (r <- sorted) {
            if (st.published) out += KAnonRelease(r.docId, qi, r.docId)
            else {
              val held = r.docId :: st.held
              if (held.length >= k) {
                held.reverse.foreach(d => out += KAnonRelease(d, qi, r.docId))
                st = HeldDocs(Nil, published = true)
              } else st = HeldDocs(held, published = false)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class CatDoc(qi: String, docId: Long)
  case class DpRelease(qi: String, trueN: Long, noise: Long,
                       releasedN: Long, releasedAt: Long)
  case class CatCount(n: Long)

  /** Streaming twin of the gated `stream_geo_dp` — PRIVATE CONTINUAL
    * counting with a doubling release schedule: a live publisher cannot
    * emit a DP count per arrival (privacy loss would grow linearly with
    * the stream), so it releases only when a category's count crosses a
    * power of two — O(log n) releases total, each a fresh truncated-
    * geometric draw keyed by (category, count) so replays are
    * idempotent. Between releases the true count stays hidden; the
    * published trajectory is the standard sparse-release compromise
    * (the binary-tree mechanism's simpler sibling, with the same
    * log-bounded release count).
    *
    * State per category is ONE counter — O(categories), corpus-free.
    * The coin is [[graft.ops.TextOps.hash64Scalar]] of `qi#n`, the same
    * value the batch gate's Column hash produces, and the noise is
    * [[graft.ops.SampleOps.geoNoiseScalar]] — so any micro-batch split
    * of an id-ordered feed reproduces the batch rows exactly
    * (StreamingSpec parity). */
  def streamingGeoDp(docs: Dataset[CatDoc]): Dataset[DpRelease] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.qi)
      .flatMapGroupsWithState[CatCount, DpRelease](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (qi: String, rows: Iterator[CatDoc], state: GroupState[CatCount]) =>
          var n = state.getOption.map(_.n).getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[DpRelease]
          for (r <- rows.toSeq.sortBy(_.docId)) {
            n += 1
            if ((n & (n - 1)) == 0L) {
              val u = graft.ops.TextOps.hash64Scalar(s"$qi#$n") %
                graft.ops.SampleOps.GeoMod
              val noise = graft.ops.SampleOps.geoNoiseScalar(u)
              out += DpRelease(qi, n, noise, math.max(n + noise, 0L),
                r.docId)
            }
          }
          state.update(CatCount(n))
          out.iterator
      }
  }

  case class TreeRelease(qi: String, trueN: Long, nNodes: Long,
                         releasedN: Long)

  /** Streaming twin of the gated `stream_tree_dp` — the binary-tree
    * mechanism live: a release fires at EVERY arrival, computed from
    * the category's counter alone (release(t) = t + Σ set-bit node
    * noises, each node keyed (qi, level, index) through the same
    * scalar hash/noise twins the batch gate uses). State per category
    * is ONE counter — the dyadic node noises need no storage because
    * they are deterministic functions of their key, which is also what
    * makes replays idempotent. Micro-batch-split parity in
    * StreamingSpec. */
  /** The pure release function of the binary-tree mechanism: walks
    * ALL 63 nonneg bit positions of t. A 20-bit cap would emit an
    * unnoised exact release whenever t is a multiple of 2^20 (every
    * set bit above the cap skipped); t ≥ 1 always has a set bit
    * below 63, so nNodes ≥ 1 at every arrival. Spec-pinned at the
    * t = 2^20 edge against the batch gate's bit-explode expression. */
  def treeRelease(qi: String, t: Long): TreeRelease = {
    var noise = 0L
    var nodes = 0L
    var b = 0
    while (b < 63) {
      if (((t >> b) & 1L) == 1L) {
        val u = graft.ops.TextOps.hash64Scalar(
          s"$qi|$b|${t >> b}") % graft.ops.SampleOps.GeoMod
        noise += graft.ops.SampleOps.geoNoiseScalar(u)
        nodes += 1
      }
      b += 1
    }
    TreeRelease(qi, t, nodes, t + noise)
  }

  def streamingTreeDp(docs: Dataset[CatDoc]): Dataset[TreeRelease] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.qi)
      .flatMapGroupsWithState[CatCount, TreeRelease](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (qi: String, rows: Iterator[CatDoc], state: GroupState[CatCount]) =>
          var n = state.getOption.map(_.n).getOrElse(0L)
          val out = scala.collection.mutable.ArrayBuffer.empty[TreeRelease]
          for (_ <- rows.toSeq.sortBy(_.docId)) {
            n += 1
            out += treeRelease(qi, n)
          }
          state.update(CatCount(n))
          out.iterator
      }
  }

  case class CdcUpdate(userId: Long, eventType: String, sec: Long,
                       eventId: Long, value: Double)
  case class CdcRow(userId: Long, eventType: String, eventId: Long,
                    status: String)
  case class LastValue(value: Double)

  /** Streaming twin of the gated `stream_cdc_classify`: the CHANGELOG
    * view of a KTable. The reference's KTable (`ref_latest_by_key`,
    * ConsumerDexcom's materialized latest state) exposes only the final
    * value per key; a CDC sink consumes the per-update classification
    * instead — first sight of a key is 'added', a repeat of the held
    * value is 'unchanged', a new value is 'changed'. State per
    * (user, event_type) is the LAST value only — O(1) per key forever,
    * the same bound as the trend-arrow twin. Within a micro-batch rows
    * sort by (sec, eventId) — the batch window's order — so any
    * micro-batch split of an in-order feed yields the identical status
    * sequence, proven against the batch query in `StreamingSpec`.
    * Equality is raw-double equality on both sides (the values are the
    * same parquet/stream doubles, never recomputed). */
  def streamingCdcClassify(updates: Dataset[CdcUpdate]): Dataset[CdcRow] = {
    import updates.sparkSession.implicits._
    updates
      .groupByKey(u => (u.userId, u.eventType))
      .flatMapGroupsWithState[LastValue, CdcRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Long, String), rows: Iterator[CdcUpdate],
         state: GroupState[LastValue]) =>
          val sorted = rows.toSeq.sortBy(r => (r.sec, r.eventId))
          val out = scala.collection.mutable.ArrayBuffer.empty[CdcRow]
          var last = state.getOption
          for (r <- sorted) {
            val status = last match {
              case None => "added"
              case Some(p) if p.value == r.value => "unchanged"
              case Some(_) => "changed"
            }
            out += CdcRow(key._1, key._2, r.eventId, status)
            last = Some(LastValue(r.value))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** One (band, key) bucket row of an arriving document: its id and full
    * MinHash signature. In a live topology these rows derive from the doc
    * stream as a narrow map (per-doc HOF minhash) + flatMap to bands —
    * no pre-aggregation, streaming-legal. */
  case class BucketDoc(band: Int, key: Long, docId: Long, sig: Seq[Long])
  case class NearDupHit(docId: Long, dupOf: Long, agree: Double)
  case class BucketSeen(docs: List[(Long, Seq[Long])])

  /** Streaming near-duplicate detection — the streaming twin of
    * `DedupOps.incrementalDedup`'s band arm: documents arrive, each is
    * checked against everything PREVIOUSLY seen in any shared LSH band
    * bucket, matches above the signature-agreement threshold are flagged
    * with the earliest matching id.
    *
    * State is keyed by (band, bucket): the list of (doc_id, signature)
    * seen there, capped at `maxPerBucket` — a hot bucket (the stop-word
    * shingle class) saturates instead of growing without bound, exactly
    * the MaxShingleFreq regime; production additionally evicts idle
    * buckets via an event-time timeout at the watermark. Verification is
    * signature agreement (matching minhash positions / k), the standard
    * streaming regime where historical document TEXT is no longer in
    * hand — est. Jaccard, not exact.
    *
    * Intra-batch order contract: doc_id order (arrival order is not
    * promised within a micro-batch), so earlier ids are visible to later
    * ones arriving together. A doc colliding in several bands emits one
    * hit per (band, stored doc); consumers reduce with min(dupOf).
    *
    * Delivery contract: EMISSION is at-least-once. The replay guard below
    * keeps redelivered docs from corrupting state (no duplicate cap slots,
    * no self-hits), but a redelivered doc still re-emits its hits against
    * already-stored docs. That is exactly the contract the min(dupOf)
    * reduce absorbs; a sink needing exactly-once hit rows must either
    * dedup on (docId, dupOf) or track emitted ids in state.
    */
  def streamingNearDup(bucketed: Dataset[BucketDoc], threshold: Double,
                       maxPerBucket: Int = 64): Dataset[NearDupHit] = {
    import bucketed.sparkSession.implicits._
    bucketed
      .groupByKey(b => (b.band, b.key))
      .flatMapGroupsWithState[BucketSeen, NearDupHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), rows: Iterator[BucketDoc], state: GroupState[BucketSeen]) =>
          val sorted = rows.toSeq.sortBy(_.docId)
          var seen = state.getOption.map(_.docs).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
          for (b <- sorted) {
            val k = b.sig.length
            for ((oldId, oldSig) <- seen if oldId != b.docId && oldSig.length == k) {
              val agree = b.sig.iterator.zip(oldSig.iterator)
                .count { case (x, y) => x == y }.toDouble / k
              if (agree >= threshold) out += NearDupHit(b.docId, oldId, agree)
            }
            // At-least-once sources replay rows: a doc already in state
            // must not occupy another cap slot (a hot doc's redeliveries
            // would otherwise burn the whole bucket) or re-emit as its
            // own duplicate.
            if (seen.size < maxPerBucket && !seen.exists(_._1 == b.docId))
              seen = (b.docId, b.sig) :: seen
          }
          state.update(BucketSeen(seen))
          out.iterator
      }
  }

  /** One span window of an arriving document: (doc, token offset, window
    * hash). In a live topology these derive from the doc stream as a
    * narrow map — tokenize, slide the SpanLen window, hash — exactly the
    * batch `grams` stage of `DedupOps.spanRewrite`, streaming-legal. */
  case class SpanWindow(docId: Long, pos: Int, h: Long)
  case class SpanCanon(docId: Long, pos: Int)
  case class SpanDupHit(docId: Long, pos: Int, canonDoc: Long, canonPos: Int)

  /** Streaming twin of `DedupOps.spanRewrite`'s marking phase (the gated
    * `dedup_span_rewrite` batch query): the FIRST occurrence of each
    * window text seen on the stream is canonical; every later occurrence
    * (any doc, any offset — same-doc repeats included) emits a dup hit
    * naming its canonical site. Downstream, a doc's removal set is the
    * union of its hit windows' [pos, pos+SpanLen) ranges — the same
    * reduction the batch operator runs, proven equal in `StreamingSpec`.
    *
    * State is ONE (docId, pos) pair per distinct window hash — the
    * incremental inverted index; production bounds it with an event-time
    * timeout at the data-retention horizon. Arrival-order contract: the
    * stream's canonical is the first ARRIVAL (intra-batch ties pinned by
    * (docId, pos) sort); feeding docs in id order reproduces the batch
    * operator's global min-(doc_id, pos) choice exactly. Replays of the
    * canonical occurrence do not emit self-hits or move the canonical
    * (at-least-once safe); replayed duplicates re-emit their hit, which
    * the downstream set-union absorbs.
    */
  def streamingSpanDedup(windows: Dataset[SpanWindow]): Dataset[SpanDupHit] = {
    import windows.sparkSession.implicits._
    windows
      .groupByKey(_.h)
      .flatMapGroupsWithState[SpanCanon, SpanDupHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[SpanWindow], state: GroupState[SpanCanon]) =>
          val sorted = rows.toSeq.sortBy(w => (w.docId, w.pos))
          var canon = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[SpanDupHit]
          for (w <- sorted) {
            canon match {
              case None =>
                canon = Some(SpanCanon(w.docId, w.pos))
              case Some(c) if c.docId == w.docId && c.pos == w.pos =>
                () // replay of the canonical occurrence: no self-hit
              case Some(c) =>
                out += SpanDupHit(w.docId, w.pos, c.docId, c.pos)
            }
          }
          canon.foreach(state.update)
          out.iterator
      }
  }

  case class TermEvent(grp: String, term: String)
  case class TopTermRow(grp: String, rk: Int, term: String, cnt: Long)

  /** Streaming twin of the gated `text_top_terms` heavy-hitters query:
    * ONE SpaceSaving sketch per group carried in keyed state — the
    * "streaming-updatable state" the sketch's mergeability promises,
    * exercised for real. Each micro-batch folds its terms into the
    * state buffer via the SAME `TopKSketchAgg.reduce` the batch UDAF
    * runs (one code path, no drift possible) and emits the current
    * top-k snapshot (Update semantics: later batches re-emit refined
    * rows; the latest snapshot per group is the result).
    *
    * State is bounded at `capacity` entries per group forever. In the
    * exact regime (distinct terms <= capacity) the final snapshot equals
    * the batch query on the same corpus REGARDLESS of how the stream is
    * micro-batched — the cross-batch parity proof in `StreamingSpec`.
    * Beyond capacity, intra-batch fold order is pinned (sorted) so
    * replays of the same batching are deterministic. */
  def streamingTopTerms(events: Dataset[TermEvent], capacity: Int,
                        k: Int): Dataset[TopTermRow] = {
    import events.sparkSession.implicits._
    import graft.catalyst.{TopKBuf, TopKSketchAgg}
    val agg = new TopKSketchAgg(capacity)
    events
      .groupByKey(_.grp)
      .flatMapGroupsWithState[TopKBuf, TopTermRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (grp: String, rows: Iterator[TermEvent], state: GroupState[TopKBuf]) =>
          var buf = state.getOption.getOrElse(agg.zero)
          rows.map(_.term).toSeq.sorted.foreach(t => buf = agg.reduce(buf, t))
          state.update(buf)
          agg.finish(buf).take(k).zipWithIndex.iterator.map {
            case ((t, c), i) => TopTermRow(grp, i + 1, t, c)
          }
      }
  }

  case class IdEvent(grp: String, id: Long)
  case class DistinctEst(grp: String, est: Long)

  case class GlucoseReading(userId: Long, sec: Long, eventId: Long,
                            value: Double)
  case class TirState(lastSec: Long, lastEventId: Long, lastValue: Double,
                      totalSec: Long, veryLowSec: Long, lowSec: Long,
                      inRangeSec: Long, highSec: Long, veryHighSec: Long)
  case class TirRow(userId: Long, totalSec: Long, veryLowSec: Long,
                    lowSec: Long, inRangeSec: Long, highSec: Long,
                    veryHighSec: Long, tirMicro: Long)

  /** Streaming twin of the gated `ref_time_in_range` clinical report:
    * keyed state carries the LAST reading plus the running band totals;
    * each arriving reading CLOSES the previous interval (duration
    * `min(gap, 1800)` credited to the previous value's band — identical
    * constants and band edges as the batch query) and becomes the new
    * open interval. Emits the refreshed per-user report every
    * micro-batch (Update semantics). State is one fixed-size row per
    * user forever.
    *
    * The emitted report adds the batch query's last-known-value tail —
    * the OPEN interval provisionally carries the full 30-min timeout —
    * computed at emit time only (never folded into state, so a later
    * reading that closes the interval at its true duration cannot
    * double-count). Every snapshot therefore equals the batch report
    * over the readings seen so far.
    *
    * Ordering contract: readings are sorted by (sec, eventId) within
    * each (group, micro-batch) — the same well-defined order the batch
    * window uses; across batches the feed is in order (a CGM device
    * uploads monotonically; the reference's Kafka key preserves
    * per-user offset order). Under that contract the final state equals
    * the batch report REGARDLESS of how the stream is micro-batched —
    * proven in `StreamingSpec`. */
  def streamingTimeInRange(readings: Dataset[GlucoseReading]): Dataset[TirRow] = {
    import readings.sparkSession.implicits._
    def bandAdd(st: TirState, v: Double, dur: Long): TirState =
      st.copy(totalSec = st.totalSec + dur,
        veryLowSec = st.veryLowSec + (if (v < 54) dur else 0L),
        lowSec = st.lowSec + (if (v >= 54 && v < 70) dur else 0L),
        inRangeSec = st.inRangeSec + (if (v >= 70 && v <= 180) dur else 0L),
        highSec = st.highSec + (if (v > 180 && v <= 250) dur else 0L),
        veryHighSec = st.veryHighSec + (if (v > 250) dur else 0L))
    readings
      .groupByKey(_.userId)
      .flatMapGroupsWithState[TirState, TirRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[GlucoseReading], state: GroupState[TirState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.sec, r.eventId))
          var st = state.getOption.orNull
          for (r <- sorted) {
            st =
              if (st == null)
                TirState(r.sec, r.eventId, r.value, 0L, 0L, 0L, 0L, 0L, 0L)
              else {
                val closed =
                  bandAdd(st, st.lastValue, math.min(r.sec - st.lastSec, 1800L))
                closed.copy(lastSec = r.sec, lastEventId = r.eventId,
                  lastValue = r.value)
              }
          }
          if (st == null) Iterator.empty
          else {
            state.update(st)
            // Provisional 30-min tail for the open interval (emit only).
            val rep = bandAdd(st, st.lastValue, 1800L)
            Iterator(TirRow(userId, rep.totalSec, rep.veryLowSec, rep.lowSec,
              rep.inRangeSec, rep.highSec, rep.veryHighSec,
              rep.inRangeSec * 1000000L / rep.totalSec))
          }
      }
  }

  case class HashEvent(grp: String, h: Long)
  case class CmsState(grp: String, total: Long, sketch: Array[Long])

  /** Streaming twin of the gated `text_cms_freq` Count-Min sketch: ONE
    * CMS per group in keyed state, each micro-batch folded via the SAME
    * [[graft.catalyst.CmsAgg.reduce]] the batch UDAF runs (one code
    * path, no drift possible); emits the refreshed sketch + total under
    * Update semantics. State is D·W counters FOREVER regardless of
    * stream length; counter sums are commutative, so ANY micro-batching
    * of the same events converges to the identical final sketch — the
    * cross-batch parity proof in `StreamingSpec`.
    *
    * Delivery contract: unlike HLL's set semantics, CMS counts are
    * additive — replayed events DO re-count, so estimates are
    * at-least-once under redelivery (the G1 exactly-once checkpoint
    * replay contract is what removes them end-to-end; same caveat as
    * any streaming counter). */
  def streamingCms(events: Dataset[HashEvent]): Dataset[CmsState] = {
    import events.sparkSession.implicits._
    import graft.catalyst.CmsAgg
    val agg = new CmsAgg
    events
      .groupByKey(_.grp)
      .flatMapGroupsWithState[Array[Long], CmsState](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (grp: String, rows: Iterator[HashEvent], state: GroupState[Array[Long]]) =>
          var buf = state.getOption.getOrElse(agg.zero)
          rows.foreach(r => buf = agg.reduce(buf, r.h))
          state.update(buf)
          // Row 0's counters sum to the total fold count (each reduce
          // increments exactly one counter per row).
          Iterator(CmsState(grp, buf.take(CmsAgg.W).sum, buf.clone()))
      }
  }

  case class KmvEst(grp: String, sketchN: Int, est: Long, sketch: Seq[Long])

  /** Streaming twin of the batch KMV sketch (`sketch_kmv_distinct`):
    * keyed state is the bottom-k distinct-hash array itself, folded with
    * the SAME [[graft.catalyst.KmvSketchAgg]] reduce the batch
    * aggregator uses — so cross-engine determinism carries over verbatim
    * (the final state is a pure function of the id SET, independent of
    * micro-batching, ordering, or at-least-once replays; set-insert
    * absorbs duplicates). Emits the refreshed sketch size and estimate
    * per micro-batch (Update semantics). State is k longs per group
    * FOREVER — same bound as the batch wire shape. Unlike the HLL twin
    * the snapshot is not estimate-equal-by-luck: it is byte-equal to
    * the batch sketch, asserted in `StreamingSpec`. */
  def streamingKmv(events: Dataset[IdEvent], k: Int): Dataset[KmvEst] = {
    import events.sparkSession.implicits._
    val agg = new graft.catalyst.KmvSketchAgg(k)
    events
      .groupByKey(_.grp)
      .flatMapGroupsWithState[Array[Long], KmvEst](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (grp: String, rows: Iterator[IdEvent], state: GroupState[Array[Long]]) =>
          var buf = state.getOption.getOrElse(Array.emptyLongArray)
          rows.foreach(r => buf = agg.reduce(buf, r.id))
          state.update(buf)
          val est =
            if (buf.length < k) buf.length.toLong
            else ((BigInt(k - 1) * BigInt(graft.catalyst.KmvSketchAgg.HashSpace))
              / BigInt(buf(k - 1))).toLong
          Iterator(KmvEst(grp, buf.length, est, buf.toSeq))
      }
  }

  /** Streaming twin of the batch HLL cardinality roll-up
    * (`q_hll_partial_merge`): ONE DataSketches HLL sketch per group in
    * keyed state — the "materialize per-partition sketches once, merge
    * forever" pattern run live. Each micro-batch folds its ids into the
    * stored sketch (same lgConfigK and HLL_8 target type as Spark's
    * `hll_sketch_agg`, verified estimate-equal in `StreamingSpec`) and
    * emits the refreshed estimate (Update semantics).
    *
    * State is the sketch's updatable byte image — bounded by lgConfigK
    * (~2^lgK bytes) FOREVER, regardless of stream cardinality; HLL
    * updates are set-semantics (order- and duplicate-insensitive), so
    * replayed ids under at-least-once delivery cannot move the estimate,
    * and any micro-batching of the same id set converges to the same
    * final state. */
  def streamingDistinct(events: Dataset[IdEvent],
                        lgK: Int): Dataset[DistinctEst] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.grp)
      .flatMapGroupsWithState[Array[Byte], DistinctEst](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (grp: String, rows: Iterator[IdEvent], state: GroupState[Array[Byte]]) =>
          import org.apache.datasketches.hll.{HllSketch, TgtHllType}
          val sk = state.getOption.map(HllSketch.heapify)
            .getOrElse(new HllSketch(lgK, TgtHllType.HLL_8))
          rows.foreach(r => sk.update(r.id))
          state.update(sk.toUpdatableByteArray)
          Iterator(DistinctEst(grp, Math.round(sk.getEstimate)))
      }
  }

  // ---- Stateless LM serving (the Brants broadcast shape) ---------------

  /** Trained Stupid-Backoff count tables as a driver/broadcast model:
    * the serving form of `TextOps.stupidBackoff`'s three hash-aggs —
    * counts, not probabilities, so the scorer reproduces the batch
    * gate's DECIMAL-floor divisions exactly at lookup time. Its size
    * is the train slice's distinct n-grams (the shard Brants et al.
    * serve from memory), collected to the driver and broadcast whole,
    * so a train slice's tables must fit in one JVM ([[trainSbModel]]
    * gives the measured sizes). */
  case class SbModel(uni: Map[String, Long],
                     bi: Map[(String, String), Long],
                     tri: Map[(String, String, String), Long],
                     nTot: Long)

  /** One batch pass over the train slice → [[SbModel]]. The three
    * n-gram grains aggregate distributed (map-side combine) and only
    * the distinct-n-gram count tables collect. */
  def trainSbModel(docs: org.apache.spark.sql.DataFrame,
                   trainPred: org.apache.spark.sql.Column): SbModel = {
    import org.apache.spark.sql.functions._
    val t = docs.filter(trainPred)
      .select(graft.ops.TextOps.tokens(col("text")).as("t"))
      .filter(col("t").isNotNull)
    // Each collect brings one table of the train slice's distinct
    // n-grams to the driver. On the lang = 'en' slice that is 31
    // unigrams, 911 bigrams and 8,136 trigrams at sf0.001 (193 train
    // docs), and 31, 907 and 9,096 at sf0.01 (218 train docs). The
    // fixture's 31-token vocabulary caps its trigrams at 31³; real text
    // grows the tables with the train slice's vocabulary.
    val uni = t.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bi = t.filter(size(col("t")) >= 2)
      .select(explode(expr(
        """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
           (a, b) -> struct(a AS wa, b AS wb))""")).as("b"))
      .groupBy(col("b.wa"), col("b.wb")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val tri = t.filter(size(col("t")) >= 3)
      .select(explode(expr(
        """transform(sequence(1, size(t) - 2),
           i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2,
                       element_at(t, i + 2) AS w3))""")).as("g"))
      .groupBy(col("g.w1"), col("g.w2"), col("g.w3"))
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    SbModel(uni, bi, tri, uni.values.sum)
  }

  case class LmDoc(docId: Long, text: String)
  case class LmScoreRow(docId: Long, nTrigrams: Long, nTriHit: Long,
                        nBiBack: Long, nUniBack: Long, nOov: Long,
                        sbScore: Double, flagged: Boolean)

  /** Streaming twin of the gated `stream_lm_score` — the trained
    * n-gram tables broadcast once, every arriving doc scored
    * STATELESSLY in a narrow map (the decontamination pattern: no
    * keyed state, no shuffle, append mode, replay-idempotent). Each
    * per-trigram score replays the batch gate's exact integer ladder:
    * tri c3·10⁶ div c2, else 0.4·(c2·10⁶ div c1) div 10⁶, else
    * 0.4²·(c1·10⁶ div N) div 10⁶, else 0 — BigInt products mirror the
    * batch DECIMAL(38,0) route, so a count past 2⁶³/10⁶ cannot
    * diverge the twins. */
  def streamingLmScore(docs: Dataset[LmDoc], model: SbModel)
  : Dataset[LmScoreRow] = {
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(model) // sized as trainSbModel states
    docs.mapPartitions { rows =>
      val m = bc.value
      rows.map { d =>
        val toks: Array[String] =
          if (d.text == null) Array.empty else d.text.split(" ", -1)
        var nTri = 0L; var h3 = 0L; var h2 = 0L; var h1 = 0L; var h0 = 0L
        var sp = 0L
        if (toks.length >= 3) {
          var i = 0
          while (i + 2 < toks.length) {
            val (w1, w2, w3) = (toks(i), toks(i + 1), toks(i + 2))
            nTri += 1
            m.tri.get((w1, w2, w3)) match {
              case Some(c3) =>
                h3 += 1
                sp += (BigInt(c3) * 1000000 / m.bi((w1, w2))).toLong
              case None => m.bi.get((w2, w3)) match {
                case Some(c2) =>
                  h2 += 1
                  val biP = (BigInt(c2) * 1000000 / m.uni(w2)).toLong
                  sp += 400000L * biP / 1000000L
                case None => m.uni.get(w3) match {
                  case Some(c1) =>
                    h1 += 1
                    val uniP = (BigInt(c1) * 1000000 / m.nTot).toLong
                    sp += 160000L * uniP / 1000000L
                  case None => h0 += 1
                }
              }
            }
            i += 1
          }
        }
        val score =
          if (nTri == 0) -1.0
          else {
            val x = sp.toDouble / (nTri * 1000000L).toDouble
            if (x.isNaN || x.isInfinite) x
            else math.floor(x * 10000.0 + 0.5) / 10000.0
          }
        LmScoreRow(d.docId, nTri, h3, h2, h1, h0, score,
          nTri == 0 || score < graft.ops.TextOps.SbFlagThreshold)
      }
    }
  }

  /** Trained interpolated Kneser–Ney tables as a broadcast model (the
    * [[SbModel]] shape for `TextOps.knBigram`): bigram counts c(w1w2),
    * per-context totals c(w1·) + distinct continuations N1+(w1·), and
    * the continuation probability P_cont(w2) pre-floored to micro
    * (N1+(·w2)·10⁶ div B — a per-w2 constant, so pre-flooring it is
    * exactly what the batch gate joins in). Its size is the train
    * slice's distinct bigrams plus one entry per context and per
    * continuation, collected to the driver and broadcast whole
    * ([[trainKnModel]] gives the measured sizes). */
  case class KnModel(bi: Map[(String, String), Long],
                     ctx: Map[String, (Long, Long)],
                     pcont: Map[String, Long])

  /** One batch pass over the train slice → [[KnModel]]: the identical
    * distributed count tables knBigram builds, collected bounded. */
  def trainKnModel(docs: org.apache.spark.sql.DataFrame,
                   trainPred: org.apache.spark.sql.Column): KnModel = {
    import org.apache.spark.sql.functions._
    // The one collect brings the train slice's distinct bigrams to the
    // driver: 911 at sf0.001 and 907 at sf0.01 on the lang = 'en'
    // slice; `ctx` and `pcont` derive from them (31 and 31 entries at
    // sf0.001, 30 and 31 at sf0.01).
    val bg = docs.filter(trainPred)
      .select(graft.ops.TextOps.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
           (a, b) -> struct(a AS wa, b AS wb))""")).as("b"))
      .groupBy(col("b.wa"), col("b.wb")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val ctx = bg.groupBy(_._1._1)
      .map { case (w1, m) => w1 -> ((m.values.sum, m.size.toLong)) }
    val nPrec = bg.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size }
    val bTot = bg.size.toLong
    val pcont = nPrec.map { case (w2, np) =>
      w2 -> (BigInt(np) * 1000000 / bTot).toLong }
    KnModel(bg, ctx, pcont)
  }

  case class KnScoreRow(docId: Long, nBigrams: Long, nKnHit: Long,
                        nContBack: Long, nOov: Long, knScore: Double,
                        flagged: Boolean)

  /** Streaming twin of the gated `stream_kn_score` — the trained
    * Kneser–Ney tables broadcast once, every arriving doc scored
    * STATELESSLY in a narrow map (no keyed state, no shuffle, append
    * mode, replay-idempotent). Each bigram occurrence replays the
    * batch gate's exact integer ladder: seen context →
    * (c12·10⁶ − d) div c(w1·) + ((d·N1+(w1·)) div c(w1·))·P_cont(w2)
    * div 10⁶ (missing c12 contributes only the interpolation term);
    * unseen context → P_cont(w2) outright; unseen continuation → 0.
    * BigInt products mirror the batch DECIMAL(38,0) route, floor
    * division throughout (every operand nonnegative, so BigInt's
    * truncation IS floor). */
  def streamingKnScore(docs: Dataset[LmDoc], model: KnModel)
  : Dataset[KnScoreRow] = {
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(model) // sized as trainKnModel states
    val d = 750000L
    docs.mapPartitions { rows =>
      val m = bc.value
      rows.map { doc =>
        val toks: Array[String] =
          if (doc.text == null) Array.empty else doc.text.split(" ", -1)
        var nBi = 0L; var h2 = 0L; var h1 = 0L; var h0 = 0L
        var sp = 0L
        var i = 0
        while (i + 1 < toks.length) {
          val (w1, w2) = (toks(i), toks(i + 1))
          nBi += 1
          val pc = m.pcont.get(w2)
          m.ctx.get(w1) match {
            case Some((ctxc, nfollow)) =>
              val t1 = m.bi.get((w1, w2)) match {
                case Some(c12) =>
                  ((BigInt(c12) * 1000000 - d) / ctxc).toLong
                case None => 0L
              }
              val t2 = (BigInt(d) * nfollow / ctxc).toLong *
                pc.getOrElse(0L) / 1000000L
              sp += t1 + t2
            case None => sp += pc.getOrElse(0L)
          }
          if (m.bi.contains((w1, w2))) h2 += 1
          else if (pc.isDefined) h1 += 1
          else h0 += 1
          i += 1
        }
        val score =
          if (nBi == 0) -1.0
          else {
            val x = sp.toDouble / (nBi * 1000000L).toDouble
            math.floor(x * 10000.0 + 0.5) / 10000.0
          }
        KnScoreRow(doc.docId, nBi, h2, h1, h0, score,
          nBi == 0 || score < graft.ops.TextOps.SbFlagThreshold)
      }
    }
  }

  case class WpTokRow(docId: Long, nWords: Long, nPieces: Long,
                      nUnk: Long, docFp: Long)

  /** Trained WordPiece vocab as a broadcastable SET — top-24 pieces per
    * position class + the unconditional alphabet singles, ≤ ~120
    * entries by construction (a bounded artifact, the k-means-centroid
    * collect discipline). */
  def trainWpVocab(docs: org.apache.spark.sql.DataFrame,
                   trainPred: org.apache.spark.sql.Column): Set[String] =
    // One row holding the vocab array: ≤ ~120 pieces whatever the corpus
    // size (120 at sf0.001 and at sf0.01).
    graft.ops.TextOps.wpVocabRow(docs.filter(trainPred))
      .collect()(0).getSeq[String](0).toSet

  /** Streaming twin of the gated `stream_wordpiece` serving view: the
    * frozen vocab broadcasts once and every arriving doc tokenizes
    * STATELESSLY in a narrow map (no keyed state, no shuffle, append
    * mode, replay-idempotent — the streamingLmScore pattern). The
    * greedy max-munch here is an independent JVM reimplementation of
    * the batch gate's HOF fold (same longest-match order, same
    * >[[graft.ops.TextOps.WpMaxWordLen]]-char [UNK] rule, same
    * order-sensitive [[graft.ops.TextOps.hash64Scalar]] fingerprint),
    * so StreamingSpec parity is two disjoint code paths agreeing.
    * BMP caveat: this twin indexes by UTF-16 code units where the
    * batch fold counts codepoints; both agree on all BMP text (and on
    * astral runs both land on [UNK]), diverging only if a trained
    * vocab piece straddles a surrogate pair — accepted and documented
    * rather than papered over. */
  def streamingWordPiece(docs: Dataset[LmDoc], vocab: Set[String])
  : Dataset[WpTokRow] = {
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(vocab) // sized as trainWpVocab states
    docs.mapPartitions { rows =>
      val v = bc.value
      // Same multilingual-honest extraction as TextOps.WpWordRe: ASCII
      // runs lowercased (engine-safe), non-ASCII runs verbatim — they
      // count as words and fall to [UNK] below instead of vanishing.
      val re = java.util.regex.Pattern.compile(
        "[a-zA-Z0-9]+|[^\\x00-\\x7f]+")
      rows.map { d =>
        val text = if (d.text == null) "" else d.text
        val m = re.matcher(text)
        var nW = 0L; var nP = 0L; var nU = 0L
        val sb = new StringBuilder
        while (m.find()) {
          val w0 = m.group()
          val w =
            if (w0.charAt(0) < 0x80) w0.toLowerCase(java.util.Locale.ROOT)
            else w0
          nW += 1
          if (sb.nonEmpty) sb.append(' ')
          if (w.length > graft.ops.TextOps.WpMaxWordLen) {
            nP += 1; nU += 1; sb.append("[UNK]")
          } else {
            var pos = 0
            var failed = false
            val toks = scala.collection.mutable.ArrayBuffer.empty[String]
            while (pos < w.length && !failed) {
              var l = math.min(graft.ops.TextOps.WpMaxLen, w.length - pos)
              var matched: String = null
              while (l >= 1 && matched == null) {
                val piece = w.substring(pos, pos + l)
                val marked = if (pos == 0) piece else "##" + piece
                if (v.contains(marked)) matched = marked else l -= 1
              }
              if (matched == null) failed = true
              else {
                toks += matched
                pos += matched.length - (if (pos == 0) 0 else 2)
              }
            }
            if (failed) { nP += 1; nU += 1; sb.append("[UNK]") }
            else { nP += toks.length; sb.append(toks.mkString(" ")) }
          }
        }
        WpTokRow(d.docId, nW, nP, nU,
          graft.ops.TextOps.hash64Scalar(sb.toString))
      }
    }
  }

  case class IntakeRow(docId: Long, nClean: Long, nMojibake: Long,
                       dominant: String, keep: Boolean)

  /** Streaming twin of the `pipeline_crawl_intake` gate — an
    * INDEPENDENT JVM reimplementation of the whole intake chain
    * (HTML strip with block-whole removal and `&amp;`-last entity
    * decode, mojibake pair count, script-class histogram with the
    * fixed dominant tie order, the keep rule), stateless per row in a
    * narrow map: the batch gate composes two probe frames with a
    * doc-grain join, which a pure stream cannot replay in append mode
    * — the per-row twin is the streamable shape AND a disjoint code
    * path, so StreamingSpec parity across micro-batch splits checks
    * both engines' regex semantics against plain java.util.regex. */
  def streamingCrawlIntake(docs: Dataset[LmDoc]): Dataset[IntakeRow] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { rows =>
      val script = java.util.regex.Pattern.compile(
        "(?is)<script[^>]*>.*?</script>")
      val style = java.util.regex.Pattern.compile(
        "(?is)<style[^>]*>.*?</style>")
      val comment = java.util.regex.Pattern.compile("(?s)<!--.*?-->")
      val tags = java.util.regex.Pattern.compile("<[^>]*>")
      val spaces = java.util.regex.Pattern.compile("[ \\t\\n\\r]+")
      // Independent single-pass reimplementation of the batch gate's
      // entity decode (HtmlEntityDecode): same grammar — named set +
      // decimal (1-7 digits) + hex (1-6) numeric references, invalid
      // code points (0 / surrogate / > 10FFFF) → U+FFFD — via a
      // capture-group matcher loop instead of the expression's offset
      // walk. Single pass = no double decode, same as the gate.
      val ent = java.util.regex.Pattern.compile(
        "&(?:(lt|gt|quot|nbsp|amp)|#([0-9]{1,7})|#[xX]([0-9a-fA-F]{1,6}));")
      val named = Map("lt" -> "<", "gt" -> ">", "quot" -> "\"",
        "nbsp" -> "\u00a0", "amp" -> "&")
      val moji = java.util.regex.Pattern.compile(
        "[\\x{00c2}\\x{00c3}][\\x{0080}-\\x{00bf}]")
      rows.map { d =>
        val raw = if (d.text == null) "" else d.text
        var t = script.matcher(raw).replaceAll(" ")
        t = style.matcher(t).replaceAll(" ")
        t = comment.matcher(t).replaceAll(" ")
        t = tags.matcher(t).replaceAll(" ")
        val em = ent.matcher(t)
        val sb = new java.lang.StringBuilder(t.length)
        while (em.find()) {
          val rep =
            if (em.group(1) != null) named(em.group(1))
            else {
              val cp =
                if (em.group(2) != null) em.group(2).toInt
                else Integer.parseInt(em.group(3), 16)
              if (cp == 0 || cp > 0x10FFFF ||
                  (cp >= 0xD800 && cp <= 0xDFFF)) "�"
              else new String(Character.toChars(cp))
            }
          em.appendReplacement(sb,
            java.util.regex.Matcher.quoteReplacement(rep))
        }
        em.appendTail(sb)
        t = sb.toString
        val clean = spaces.matcher(t).replaceAll(" ").trim
        var nMoji = 0L
        val mm = moji.matcher(clean)
        while (mm.find()) nMoji += 1
        // script classes over CODEPOINTS (the engines' length())
        var ascii = 0L; var latinExt = 0L; var cyr = 0L; var cjk = 0L
        var nCp = 0L
        var i = 0
        while (i < clean.length) {
          val cp = clean.codePointAt(i)
          nCp += 1
          if (cp <= 0x7f) ascii += 1
          else if (cp >= 0x80 && cp <= 0x24f) latinExt += 1
          else if (cp >= 0x400 && cp <= 0x4ff) cyr += 1
          else if (cp >= 0x4e00 && cp <= 0x9fff) cjk += 1
          i += Character.charCount(cp)
        }
        val other = nCp - ascii - latinExt - cyr - cjk
        // the gate's dominant fold: first class attaining the max in
        // the fixed order ascii/latin_ext/cyrillic/cjk/other
        val classes = Seq("ascii" -> ascii, "latin_ext" -> latinExt,
          "cyrillic" -> cyr, "cjk" -> cjk, "other" -> other)
        val best = classes.map(_._2).max
        val dominant = classes.find(_._2 == best).get._1
        IntakeRow(d.docId, nCp, nMoji, dominant,
          nMoji == 0 && dominant == "ascii" && nCp >= 20)
      }
    }
  }
}
