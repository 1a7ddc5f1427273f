package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Schemas
import graft.streaming.{BulkClient, EgvStreams, IdempotentBulkSink}

/** A row shaped like the Kafka source's output. */
final case class KafkaRow(key: Array[Byte], value: Array[Byte], topic: String,
                          partition: Int, offset: Long, timestamp: Timestamp,
                          timestampType: Int)

/** The EGV records the load generator sends: the `events` rows re-encoded
  * as Dexcom EGV JSON (`systemTime`, `value`, `trend`). Stream position
  * `i` carries base row `order(i % n)` under the unique key `salt-i`, so
  * a stream longer than the table replays it re-keyed. The seed fixes
  * the order and the salt. */
final class EgvInputs(systemTime: Array[String], glucose: Array[Int],
                      trend: Array[String], order: Array[Int]) {
  val n: Int = order.length
  private val rangesById = Schemas.fixtureRanges.sortBy(_.rangeId)
  private val json: Array[Array[Byte]] = Array.tabulate(n) { r =>
    s"""{"systemTime":"${systemTime(r)}","value":${glucose(r)},"trend":"${trend(r)}"}"""
      .getBytes(UTF_8)
  }

  def row(salt: String, i: Int, tsMillis: Long): KafkaRow = {
    val key = s"$salt-$i"
    KafkaRow(key.getBytes(UTF_8), json(order(i % n)), "egvs_topic", 0, i.toLong,
      new Timestamp(tsMillis), 0)
  }

  /** `(range_id, in_range)` of stream position `i`, recomputed here from
    * the range list without Spark: the first range (in id order) whose
    * closed seconds-of-day interval holds the reading's time of day. */
  def expected(i: Int): (Int, Boolean) = {
    val r = order(i % n)
    val hms = systemTime(r).substring(11).split(':').map(_.toInt)
    val tod = hms(0) * 3600 + hms(1) * 60 + hms(2)
    val g = rangesById.find(x => x.startSec <= tod && tod <= x.endSec)
      .getOrElse(sys.error(s"no range holds $tod s"))
    (g.rangeId, g.lowerBound <= glucose(r) && glucose(r) <= g.upperBound)
  }
}

object EgvInputs {
  /** `events.value` (0-560) shifted into a glucose-like 40-400 mg/dL. */
  def glucoseOf(v: Double): Int = math.min(400L, 40L + math.round(v)).toInt

  def load(spark: SparkSession, eventsPath: String, seed: Long): EgvInputs = {
    val rows = spark.read.parquet(eventsPath)
      .select(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), col("value"), col("event_type"))
      .orderBy(col("event_id")).collect()
    val st = rows.map(_.getString(0))
    val gl = rows.map(r => glucoseOf(r.getDouble(1)))
    val tr = rows.map(_.getString(2))
    val order = Array.range(0, rows.length)
    val rnd = new java.util.Random(seed)
    for (i <- order.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    new EgvInputs(st, gl, tr, order)
  }

  def salt(seed: Long, window: String): String =
    f"${new java.util.Random(seed * 7919 + window.hashCode).nextInt() & 0xffffff}%06x$window"
}

/** The benchmark's stand-in for Elasticsearch: an upserting store keyed
  * by doc id. It keeps, per stream position of the current window, what
  * the correctness check needs (the document's `range_id` and `in_range`,
  * last write wins) and when the document arrived, rather than the JSON
  * itself: retaining every document would put the stand-in's own
  * garbage collection into the timings. Runs on the driver (the sink
  * collects each batch there); the counter the generator reads is
  * volatile. */
final class BenchClient(spans: SpanRecorder) extends BulkClient {
  /** doc id -> stream position of the current window, -1 for others. */
  val ids = new java.util.HashMap[String, Integer]()
  @volatile var salt: String = ""
  @volatile var upsertNs: Array[Long] = Array.emptyLongArray
  var rangeId: Array[Int] = Array.emptyIntArray
  var inRange: Array[String] = Array.empty
  @volatile var upserted = 0L
  @volatile var parentSpan = -1
  var calls = 0L
  var docsSent = 0L
  var bulkNs = 0L

  def reset(newSalt: String, capacity: Int): Unit = synchronized {
    ids.clear(); salt = newSalt; upsertNs = new Array[Long](capacity)
    rangeId = Array.fill(capacity)(Int.MinValue); inRange = new Array[String](capacity)
    upserted = 0; calls = 0; docsSent = 0; bulkNs = 0
  }

  /** Stream position of a document of the current window, else -1. */
  private def position(doc: String): Int = {
    val k = Json.str(doc, "key")
    if (k == null || !k.startsWith(salt + "-")) -1
    else k.substring(salt.length + 1).toInt
  }

  override def bulkUpsert(docs: Seq[(String, String)]): Unit = synchronized {
    spans.timed(parentSpan, "sink.bulkUpsert") { _ =>
      val t0 = System.nanoTime()
      val pos = new Array[Int](docs.size)
      var k = 0
      docs.foreach { case (id, doc) =>
        val p = position(doc)
        ids.put(id, p)
        if (p >= 0 && p < rangeId.length) {
          rangeId(p) = Json.int(doc, "range_id")
          inRange(p) = Json.str(doc, "in_range")
        }
        pos(k) = p; k += 1
      }
      val t1 = System.nanoTime()
      val stamps = upsertNs
      var fresh = 0
      pos.foreach { p =>
        if (p >= 0 && p < stamps.length) {
          if (stamps(p) == 0) fresh += 1
          stamps(p) = t1
        }
      }
      calls += 1; docsSent += docs.size; bulkNs += t1 - t0
      upserted += fresh
    }
  }
}

/** Field extraction from the flat JSON documents `to_json` writes. */
object Json {
  def str(doc: String, field: String): String = {
    val tag = "\"" + field + "\":\""
    val a = doc.indexOf(tag)
    if (a < 0) null else { val b = a + tag.length; doc.substring(b, doc.indexOf('"', b)) }
  }

  /** The field's integer value, or Int.MinValue if absent. */
  def int(doc: String, field: String): Int = {
    val tag = "\"" + field + "\":"
    val a = doc.indexOf(tag)
    if (a < 0) Int.MinValue
    else {
      val b = a + tag.length
      var e = b
      while (e < doc.length && (doc(e).isDigit || doc(e) == '-')) e += 1
      if (e == b) Int.MinValue else doc.substring(b, e).toInt
    }
  }
}

/** What one measured window of an EGV stream yields. */
final case class EgvWindow(
    sent: Int, latencyMs: Seq[(Long, Double)], throughputRps: Double, sustainedRps: Double,
    wallSecs: Double,
    failed: Seq[String], failedCount: Int, lateMs: Seq[Double], backlogMax: Long,
    bulkCalls: Long, docsSent: Long, bulkMs: Double,
    distinctDocs: Int, failedBatches: Long, startNs: Long, endNs: Long)

/** The paper's pipeline as a Structured Streaming query: Kafka-shaped
  * rows from a `MemoryStream` → `EgvStreams.parseEgvs` →
  * `categorizeLookupTopology` over the fixture ranges → `foreachBatch`
  * into `IdempotentBulkSink.writeBatch` with the benchmark's client. */
final class EgvPipeline(spark: SparkSession, inputs: EgvInputs, spans: SpanRecorder,
                        checkpoint: String) {
  import EgvPipeline._

  val client = new BenchClient(spans)
  private val in = MemoryStream[KafkaRow](spark, Cores)(Encoders.product[KafkaRow])
  @volatile var failedBatches = 0L
  val writeBatchMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]

  private val sink: (DataFrame, Long) => Unit = (df, batchId) => {
    val batchSpan = spans.idFor(s"batch-$batchId")
    spans.timed(batchSpan, "sink.writeBatch") { id =>
      client.parentSpan = id
      val t0 = System.nanoTime()
      try IdempotentBulkSink.writeBatch(client, Seq("key", "systemTime"), BulkSize)(df, batchId)
      catch { case NonFatal(e) => failedBatches += 1; throw e }
      writeBatchMs.add((System.nanoTime() - t0) / 1e6)
    }
  }

  val query: StreamingQuery = {
    import spark.implicits._
    val ranges = Schemas.fixtureRanges
      .map(r => (r.rangeId, r.startSec, r.endSec, r.lowerBound, r.upperBound))
      .toDF("range_id", "start_sec", "end_sec", "lower_bound", "upper_bound")
    EgvStreams.categorizeLookupTopology(EgvStreams.parseEgvs(in.toDF()), ranges)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink)
      .start()
  }

  def stop(): Unit = query.stop()

  /** Untimed warm-up: push `batches` micro-batches of `perBatch`
    * records of a throwaway window through, one at a time. */
  def warmUp(seed: Long, batches: Int, perBatch: Int): Unit = {
    val salt = EgvInputs.salt(seed, "warm")
    client.reset(salt, batches * perBatch)
    val now = System.currentTimeMillis()
    for (b <- 0 until batches) {
      in.addData((b * perBatch until (b + 1) * perBatch).map(i => inputs.row(salt, i, now)))
      query.processAllAvailable()
    }
    require(client.upserted == batches * perBatch,
      s"warm-up upserted ${client.upserted} of ${batches * perBatch}")
  }

  /** Open loop: offer records at `rate`/s for `seconds`, whatever the
    * pipeline does, then wait for the backlog to drain. Like the
    * reference's producer (linger.ms = 20), the generator sends every
    * `LingerMs` all records due by then. Latency runs from each record's
    * due time, so neither the linger nor a late generator can hide
    * queueing; lateness is a send's delay past its scheduled tick.
    * `workload` is the span each send is charged to. */
  def runLive(seed: Long, window: String, seconds: Int, rate: Int, workload: Int): EgvWindow = {
    val total = seconds * rate
    val salt = EgvInputs.salt(seed, window)
    client.reset(salt, total)
    val late = mutable.ArrayBuffer[Double]()
    val pacing = Pacing(System.nanoTime() + LingerMs * 1000000L, rate)
    val ticks = Pacing(pacing.t0Nanos, 1000.0 / LingerMs)
    val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    var sent = 0
    var tick = 0L
    var backlogMax = 0L
    while (sent < total) {
      java.util.concurrent.locks.LockSupport.parkNanos(
        math.max(0L, ticks.dueNanos(tick) - System.nanoTime()))
      val due = pacing.dueBy(System.nanoTime(), total).toInt
      if (due > sent) {
        spans.timed(workload, "generator.feed") { _ =>
          in.addData((sent until due).map(i =>
            inputs.row(salt, i, epochOffsetMs + pacing.dueNanos(i) / 1000000L)))
        }
        late += ticks.lateMs(tick, System.nanoTime())
        sent = due
        backlogMax = math.max(backlogMax, sent - client.upserted)
      }
      tick = math.max(tick + 1, ticks.dueBy(System.nanoTime(), Long.MaxValue))
    }
    query.processAllAvailable()
    finish(total, late.toSeq, backlogMax, i => pacing.dueNanos(i), pacing.t0Nanos)
  }

  private def finish(sent: Int, late: Seq[Double], backlogMax: Long, offeredNs: Int => Long,
                     t0: Long): EgvWindow = {
    val stamps = client.upsertNs
    // (second of the window the record was offered in, latency ms)
    val lat = (0 until sent).filter(stamps(_) > 0).map(i =>
      ((offeredNs(i) - t0) / 1000000000L, (stamps(i) - offeredNs(i)) / 1e6))
    val lastNs = (0 until sent).map(stamps(_)).max
    val landed = (0 until sent).filter(stamps(_) > 0).map(i => (i.toLong, stamps(i)))
    val wall = (math.max(lastNs, t0 + 1) - t0) / 1e9
    // Correctness, untimed: every offered record must be in the store
    // under exactly one id, with the range and in-range flag recomputed
    // independently.
    val seen = new Array[Int](sent)
    client.ids.values().forEach(p => if (p >= 0 && p < sent) seen(p) += 1)
    val failed = mutable.ArrayBuffer[String]()
    for (i <- 0 until sent) {
      val (rid, ok) = inputs.expected(i)
      if (seen(i) != 1) failed += s"${client.salt}-$i: stored under ${seen(i)} ids"
      else if (client.rangeId(i) != rid || client.inRange(i) != ok.toString)
        failed += s"${client.salt}-$i: range_id=${client.rangeId(i)} in_range=${client.inRange(i)}, expected $rid/$ok"
    }
    EgvWindow(sent, lat, lat.size / wall,
      if (landed.size >= 2) Stats.sustainedRate(landed) else 0.0, wall, failed.take(20).toSeq, failed.size,
      late, backlogMax, client.calls, client.docsSent, client.bulkNs / 1e6,
      client.ids.size, failedBatches, t0, math.max(lastNs, t0 + 1))
  }
}

object EgvPipeline {
  val Cores = 4
  val BulkSize = 100
  /** The reference producer's linger.ms (ProducerDexcom). */
  val LingerMs = 20
}
