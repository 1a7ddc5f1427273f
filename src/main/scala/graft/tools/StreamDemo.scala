package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.streaming.{EgvStreams, IdempotentBulkSink, InMemoryBulkClient}

/** Drives the streaming topologies end-to-end on the live Structured
  * Streaming runtime (MemoryStream → StreamingQuery → sinks), printing
  * observable sink states. The runnable stand-in for the Kafka-edged
  * deployment (no broker in this environment).
  */
object StreamDemo {
  case class KafkaRec(key: String, value: String, timestamp: Timestamp)

  def egvJson(value: Int, systemTime: String): String =
    s"""{"systemTime":"$systemTime","value":$value,"trend":"flat"}"""

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(4)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // 1. filter-high topology on the live runtime
    val in1 = MemoryStream[KafkaRec]
    val q1 = EgvStreams.filterHighTopology(EgvStreams.parseEgvs(in1.toDF()))
      .writeStream.format("memory").queryName("high").outputMode("append").start()
    in1.addData(
      KafkaRec("robert", egvJson(65, "2020-11-02T02:00:00"), new Timestamp(0)),
      KafkaRec("robert", egvJson(265, "2020-11-02T02:10:00"), new Timestamp(1)))
    q1.processAllAvailable(); q1.stop()
    println("DEMO high_egvs: " + spark.table("high").select("value")
      .collect().map(_.getInt(0)).mkString(","))

    // 2. KTable-lookup topology with the fixture ranges
    val in2 = MemoryStream[KafkaRec]
    val ranges = Schemas.fixtureRanges
      .map(r => (r.rangeId, r.startSec, r.endSec, r.lowerBound, r.upperBound))
      .toDF("range_id", "start_sec", "end_sec", "lower_bound", "upper_bound")
    val q2 = EgvStreams.categorizeLookupTopology(
        EgvStreams.parseEgvs(in2.toDF()), ranges)
      .writeStream.format("memory").queryName("cat").outputMode("append").start()
    in2.addData(
      KafkaRec("robert", egvJson(75, "2020-11-02T02:00:00"), new Timestamp(0)),
      KafkaRec("robert", egvJson(100, "2020-11-02T12:00:00"), new Timestamp(1)),
      KafkaRec("robert", egvJson(265, "2020-11-02T19:00:00"), new Timestamp(2)))
    q2.processAllAvailable(); q2.stop()
    println("DEMO categorized: " + spark.table("cat")
      .select("value", "range_id", "in_range").collect()
      .map(r => s"${r.getInt(0)}→r${r.getInt(1)}:${r.getString(2)}").mkString(" "))

    // 3. windowed agg with watermark — includes a LATE record probe:
    //    watermark 30m; after advancing past 03:00, a 02:05 record is
    //    beyond the watermark and must be dropped from the aggregation.
    val in3 = MemoryStream[KafkaRec]
    val q3 = EgvStreams.windowedCounts(EgvStreams.parseEgvs(in3.toDF()))
      .writeStream.format("memory").queryName("win").outputMode("append").start()
    in3.addData(
      KafkaRec("r", egvJson(100, "2020-11-02T02:01:00"), new Timestamp(0)),
      KafkaRec("r", egvJson(110, "2020-11-02T02:09:00"), new Timestamp(1)))
    q3.processAllAvailable()
    in3.addData(KafkaRec("r", egvJson(120, "2020-11-02T03:30:00"), new Timestamp(2)))
    q3.processAllAvailable() // watermark advances to 03:00
    in3.addData(KafkaRec("r", egvJson(999, "2020-11-02T02:05:00"), new Timestamp(3))) // LATE
    q3.processAllAvailable()
    in3.addData(KafkaRec("r", egvJson(130, "2020-11-02T04:31:00"), new Timestamp(4)))
    q3.processAllAvailable() // watermark 04:01 closes the 02:00 windows
    q3.stop()
    println("DEMO windows(append, closed): " + spark.table("win")
      .select(col("window_start").cast("string"), col("n")).collect()
      .map(r => s"${r.getString(0).substring(11, 16)}=n${r.getLong(1)}")
      .sorted.mkString(" "))

    // 3b. streaming dedup within watermark: cross-batch duplicate dropped
    val in5 = MemoryStream[KafkaRec]
    val q5 = graft.streaming.EgvStreams.streamingDedup(
        EgvStreams.parseEgvs(in5.toDF())
          .select(col("key"), col("systemTime"), col("value"), col("systemTs")),
        Seq("key", "systemTime"), "systemTs", "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    in5.addData(
      KafkaRec("r", egvJson(100, "2020-11-02T02:00:00"), new Timestamp(0)),
      KafkaRec("r", egvJson(100, "2020-11-02T02:00:00"), new Timestamp(1)))
    q5.processAllAvailable()
    in5.addData(KafkaRec("r", egvJson(100, "2020-11-02T02:00:00"), new Timestamp(2)))
    q5.processAllAvailable(); q5.stop()
    println("DEMO streaming dedup rows: " + spark.table("dedup").count())

    // 4. idempotent bulk sink: injected failure then checkpoint replay
    InMemoryBulkClient.store.clear()
    val in4 = MemoryStream[KafkaRec]
    val parsed4 = EgvStreams.parseEgvs(in4.toDF())
      .select(col("key"), col("value"), col("systemTime"))
    val ckpt = java.nio.file.Files.createTempDirectory("demo-ckpt").toString
    def startSink() = parsed4.writeStream
      .foreachBatch(IdempotentBulkSink.writeBatch(
        InMemoryBulkClient, Seq("key", "systemTime")) _)
      .option("checkpointLocation", ckpt).start()
    InMemoryBulkClient.failNextBatches = 1
    in4.addData(
      KafkaRec("robert", egvJson(100, "2020-11-02T02:00:00"), new Timestamp(0)),
      KafkaRec("robert", egvJson(265, "2020-11-02T02:05:00"), new Timestamp(1)))
    val s1 = startSink()
    try s1.processAllAvailable() catch { case e: Exception =>
      println("DEMO sink batch failed as injected: " + e.getMessage.takeWhile(_ != '\n')) }
    s1.stop()
    println(s"DEMO store after failed batch: size=${InMemoryBulkClient.store.size()}")
    val s2 = startSink()
    s2.processAllAvailable(); s2.stop()
    println(s"DEMO store after replay: size=${InMemoryBulkClient.store.size()} ids=" +
      InMemoryBulkClient.store.keySet().toArray.map(_.toString).sorted.mkString(","))

    // 5. executor-side distributed sink: partition failure -> batch fails
    //    before checkpoint commit; replay converges, no duplicates.
    InMemoryBulkClient.store.clear()
    val in6 = MemoryStream[KafkaRec]
    val parsed6 = EgvStreams.parseEgvs(in6.toDF())
      .select(col("key"), col("value"), col("systemTime")).repartition(4)
    val ckpt6 = java.nio.file.Files.createTempDirectory("demo-dist-ckpt").toString
    def startDist() = parsed6.writeStream
      .foreachBatch(IdempotentBulkSink.writeBatchDistributed(
        () => InMemoryBulkClient, Seq("key", "systemTime"), bulkSize = 2) _)
      .option("checkpointLocation", ckpt6).start()
    InMemoryBulkClient.failNextBatches = 1
    in6.addData((1 to 8).map(i =>
      KafkaRec("u" + i % 2, egvJson(100 + i, f"2020-11-02T03:${i}%02d:00"), new Timestamp(i))): _*)
    val d1 = startDist()
    try d1.processAllAvailable() catch { case _: Exception =>
      println("DEMO dist-sink batch failed as injected") }
    d1.stop()
    val d2 = startDist()
    d2.processAllAvailable(); d2.stop()
    println(s"DEMO dist-sink after replay: size=${InMemoryBulkClient.store.size()} (expect 8)")

    spark.stop()
  }
}
