package graft

import java.net.InetSocketAddress
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{EgvStreams, HttpBulkClient, IdempotentBulkSink}

/** [[HttpBulkClient]] against a local stub of the ES bulk endpoint:
  * request shape, failure propagation, and the write-then-commit replay
  * guarantee end-to-end through a streaming checkpoint. */
class HttpBulkClientSpec extends SparkSpec {

  /** Stub document store speaking just enough of the _bulk contract:
    * NDJSON action/source pairs, upsert by _id, scriptable failures. */
  private class StubEs {
    val store = new ConcurrentHashMap[String, String]()
    @volatile var failNextRequests = 0
    @volatile var failOnRequestNumber = -1
    @volatile var itemErrorNext = false
    @volatile var lastContentType: String = ""
    @volatile var requestCount = 0
    private val idRe = """"_id":"((?:[^"\\]|\\.)*)"""".r
    private val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/_bulk", (exchange: HttpExchange) => {
      val body = new String(exchange.getRequestBody.readAllBytes(), "UTF-8")
      lastContentType = exchange.getRequestHeaders.getFirst("Content-Type")
      requestCount += 1
      val (code, resp) =
        if (failNextRequests > 0 || requestCount == failOnRequestNumber) {
          if (failNextRequests > 0) failNextRequests -= 1
          (500, "boom")
        }
        else if (itemErrorNext) {
          itemErrorNext = false
          (200, """{"errors": true, "items": [{"index": {"status": 429}}]}""")
        } else {
          body.split("\n").filter(_.nonEmpty).grouped(2).foreach {
            case Array(action, doc) =>
              val id = idRe.findFirstMatchIn(action).get.group(1)
                .replace("\\\"", "\"").replace("\\\\", "\\")
              store.put(id, doc)
            case _ => ()
          }
          (200, """{"errors": false}""")
        }
      val bytes = resp.getBytes("UTF-8")
      exchange.sendResponseHeaders(code, bytes.length.toLong)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    def endpoint: String = s"http://localhost:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  private def egvJson(value: Int, systemTime: String): String =
    s"""{"systemTime":"$systemTime","displayTime":"$systemTime","value":$value,
        "realtimeValue":$value,"smoothedValue":$value,"status":"ok",
        "trend":"flat","trendRate":0.5}""".replaceAll("\n\\s*", "")

  test("bulkUpsert posts the ES NDJSON contract and upserts by id") {
    val es = new StubEs
    try {
      val client = new HttpBulkClient(es.endpoint, "egvs")
      client.bulkUpsert(Seq("k1" -> """{"v":1}""", """k"2_x""" -> """{"v":2}"""))
      client.bulkUpsert(Seq("k1" -> """{"v":9}""")) // second write: upsert
      assert(es.lastContentType === "application/x-ndjson")
      assert(es.store.size() === 2)
      assert(es.store.get("k1") === """{"v":9}""")
      assert(es.store.get("""k"2_x""") === """{"v":2}""") // quote round-trips
    } finally es.stop()
  }

  test("non-2xx and per-item errors both fail the batch") {
    val es = new StubEs
    try {
      val client = new HttpBulkClient(es.endpoint, "egvs")
      es.failNextRequests = 1
      intercept[Exception] { client.bulkUpsert(Seq("a" -> "{}")) }
      es.itemErrorNext = true
      intercept[Exception] { client.bulkUpsert(Seq("a" -> "{}")) }
      assert(es.store.isEmpty)
    } finally es.stop()
  }

  test("checkpoint replay after an HTTP failure upserts, never duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val es = new StubEs
    try {
      val in = MemoryStream[(String, String, Timestamp)]
      val parsed = EgvStreams.parseEgvs(
          in.toDF().toDF("key", "value", "timestamp"))
        .select(col("key"), col("value"), col("systemTime"))
      val ckpt = tempDir("graft-http-ckpt").toString
      def start() = parsed.writeStream
        .foreachBatch(IdempotentBulkSink.writeBatch(
          new HttpBulkClient(es.endpoint, "egvs"),
          Seq("key", "systemTime"), bulkSize = 1) _)
        .option("checkpointLocation", ckpt)
        .start()
      // The SECOND bulk of the batch fails -> the batch fails AFTER a
      // partial write, offsets NOT committed (bulkSize=1 -> one doc per
      // request).
      in.addData(
        ("robert", egvJson(100, "2020-11-02T02:00:00"), new Timestamp(0)),
        ("robert", egvJson(265, "2020-11-02T02:05:00"), new Timestamp(1)))
      es.failOnRequestNumber = 2
      val q1 = start()
      intercept[Exception] { q1.processAllAvailable() }
      q1.stop()
      // Replay from the checkpoint: same deterministic ids -> upsert.
      val q2 = start()
      q2.processAllAvailable(); q2.stop()
      assert(es.store.size() === 2)
      assert(es.store.containsKey("6:robert_19:2020-11-02T02:00:00"))
      assert(es.store.containsKey("6:robert_19:2020-11-02T02:05:00"))
    } finally es.stop()
  }
}
