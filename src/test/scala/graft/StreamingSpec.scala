package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.Schemas
import graft.ops.EgvOps
import graft.plans.BoundStageExec
import graft.streaming.{BulkClient, EgvStreams, IdempotentBulkSink, InMemoryBulkClient,
  LocalCheckpointFileManager, StatefulOps}

/** A reading nested in [[PayloadRec]]. */
case class PayloadReading(unit: String, mgdl: Option[Double])

/** A row with every kind of value the sink's JSON payload must carry
  * through: timestamps, nulls, a decimal, a nested struct, non-ASCII text,
  * and keys holding the id separators `_` and `:`. */
case class PayloadRec(key: String, ts: Timestamp, note: Option[String], dose: BigDecimal,
                      reading: PayloadReading)

/** Records every bulk call with the partition of the task that made it
  * (-1 on the driver). */
object ChunkRecorder extends BulkClient {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[(String, String)])]()
  override def bulkUpsert(docs: Seq[(String, String)]): Unit =
    calls.add((Option(org.apache.spark.TaskContext.get()).fold(-1)(_.partitionId()), docs))
}

/** End-to-end streaming tests: MemoryStream in, memory/foreachBatch sink
  * out — the Spark analog of the reference's TopologyTestDriver pipe-in /
  * read-out pattern (SURVEY.md §5.2). */
class StreamingSpec extends SparkSpec {

  /** Kafka-source-shaped record: (key, value, timestamp). */
  case class KafkaRec(key: String, value: String, timestamp: Timestamp)

  /** [[KafkaRec]] with the `partition` column a Kafka source also
    * produces, which no topology reads. */
  case class PartitionedKafkaRec(key: String, value: String, timestamp: Timestamp, partition: Int)

  private def egvJson(value: Int, systemTime: String): String =
    s"""{"systemTime":"$systemTime","displayTime":"$systemTime","value":$value,
        "realtimeValue":$value,"smoothedValue":$value,"status":"ok",
        "trend":"flat","trendRate":0.5}""".replaceAll("\n\\s*", "")

  test("filter-high topology end-to-end: pipe 3 EGVs, only 265 survives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KafkaRec]
    val parsed = EgvStreams.parseEgvs(in.toDF())
    val out = EgvStreams.filterHighTopology(parsed)
    val q = out.writeStream.format("memory").queryName("high_egvs")
      .outputMode("append").start()
    in.addData(
      KafkaRec("robert", egvJson(65, "2020-11-02T02:00:00"), Timestamp.valueOf("2020-11-02 02:00:00")),
      KafkaRec("robert", egvJson(100, "2020-11-02T02:05:00"), Timestamp.valueOf("2020-11-02 02:05:00")),
      KafkaRec("robert", egvJson(265, "2020-11-02T02:10:00"), Timestamp.valueOf("2020-11-02 02:10:00")))
    q.processAllAvailable(); q.stop()
    val vals = spark.table("high_egvs").select("value").collect().map(_.getInt(0))
    assert(vals.toSeq === Seq(265))
  }

  private def rangesDf(rows: (Int, Option[Int], Int, Int, Int)*) = {
    import spark.implicits._
    rows.toSeq.toDF("range_id", "start_sec", "end_sec", "lower_bound", "upper_bound")
  }

  private def fixtureRangesDf = {
    import spark.implicits._
    Schemas.fixtureRanges
      .map(r => (r.rangeId, r.startSec, r.endSec, r.lowerBound, r.upperBound))
      .toDF("range_id", "start_sec", "end_sec", "lower_bound", "upper_bound")
  }

  /** The physical plan of `q`'s last micro-batch. */
  private def lastPlan(q: org.apache.spark.sql.streaming.StreamingQuery) =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan

  test("categorize-lookup topology end-to-end reproduces reference asserts") {
    import spark.implicits._
    val recs = Seq(
      KafkaRec("robert", egvJson(75, "2020-11-02T02:00:00"), new Timestamp(0)),
      KafkaRec("robert", egvJson(100, "2020-11-02T12:00:00"), new Timestamp(1)),
      KafkaRec("robert", egvJson(265, "2020-11-02T19:00:00"), new Timestamp(2)),
      KafkaRec("robert", egvJson(150, "2020-11-02T23:30:00"), new Timestamp(3)),
      // No time of day: no range holds it, so it is dropped.
      KafkaRec("robert", """{"systemTime":null,"value":120}""", new Timestamp(4)),
      // Not JSON: the decode yields nulls, and the row is dropped.
      KafkaRec("robert", """{"systemTime":"2020-11-02T03:00:00","value":""", new Timestamp(5)),
      // 21599 s and 21600 s: the last second of range 1, the first of 2.
      KafkaRec("ana", egvJson(150, "2020-11-02T05:59:59"), new Timestamp(6)),
      KafkaRec("ana", egvJson(150, "2020-11-02T06:00:00"), new Timestamp(7)))
    // Runs the topology as a stream in `s`, an empty batch first; returns
    // its rows, its schema as (name, type, nullable) in column order, and
    // the last batch's executed plan.
    def streamed(s: org.apache.spark.sql.SparkSession, ranges: org.apache.spark.sql.DataFrame,
                 name: String) = {
      val in = MemoryStream[KafkaRec](s)
      val out = EgvStreams.categorizeLookupTopology(EgvStreams.parseEgvs(in.toDF()), ranges)
      val q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
      in.addData(Nil)
      q.processAllAvailable()
      in.addData(recs: _*)
      q.processAllAvailable(); q.stop()
      val batches = q.recentProgress.map(p => (p.batchId, p.numInputRows)).toSeq
      assert(batches.contains((0L, 0L)) && batches.last === ((1L, recs.size.toLong)),
        s"$name: $batches")
      (s.table(name).collect().map(_.toSeq).toSeq,
        out.schema.map(f => (f.name, f.dataType, f.nullable)), lastPlan(q))
    }
    def joined(s: org.apache.spark.sql.SparkSession, ranges: org.apache.spark.sql.DataFrame) = {
      val out = EgvOps.categorizeWithLookup(
        EgvStreams.parseEgvs(s.createDataFrame(recs.map(r => (r.key, r.value, r.timestamp)))
          .toDF("key", "value", "timestamp")).withColumn("ts", col("systemTs")), ranges)
      (out.collect().map(_.toSeq).toSeq, out.schema.map(f => (f.name, f.dataType, f.nullable)))
    }
    def sorted(rows: Seq[Seq[Any]]) = rows.map(_.mkString("|")).sorted

    // Driver-local disjoint ranges are inlined and the stage is planned
    // once, so no batch broadcasts or generates code; the rows, names,
    // types, nullability and column order equal the broadcast join's,
    // also with a null-start range row (never matches), with no ranges at
    // all, and in a session whose time zone is not UTC.
    val kolkata = spark.newSession()
    kolkata.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    for ((s, name, ranges) <- Seq(
        (spark, "categorized", fixtureRangesDf),
        (spark, "categorized_null_start", rangesDf((1, Some(0), 43199, 80, 150),
          (2, None, 86399, 70, 180), (3, Some(43200), 86399, 90, 140))),
        (spark, "categorized_empty", rangesDf()),
        (kolkata, "categorized_kolkata", kolkata.createDataFrame(Schemas.fixtureRanges
          .map(r => (r.rangeId, r.startSec, r.endSec, r.lowerBound, r.upperBound)))
          .toDF("range_id", "start_sec", "end_sec", "lower_bound", "upper_bound")))) {
      val (sRows, sSchema, sPlan) = streamed(s, ranges, name)
      val (jRows, jSchema) = joined(s, ranges)
      assert(sSchema === jSchema, name)
      assert(sorted(sRows) === sorted(jRows), name)
      assert(sPlan.collectFirst { case b: BoundStageExec => b }.nonEmpty, s"$name:\n$sPlan")
      assert(!sPlan.toString.contains("BroadcastExchange") && !sPlan.toString.contains("Join"),
        s"$name:\n$sPlan")
    }
    val expected = Set((75, 1, "false"), (100, 2, "true"), (265, 2, "false"), (150, 3, "true"),
      (150, 1, "true"), (150, 2, "true"))
    for (s <- Seq(spark, kolkata)) {
      val got = s.table(if (s eq spark) "categorized" else "categorized_kolkata")
        .select("value", "range_id", "in_range")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
      assert(got === expected)
    }
    assert(spark.table("categorized").filter(col("key") === "ana")
      .select("systemTime", "range_id").as[(String, Int)].collect().sorted.toSeq ===
      Seq("2020-11-02T05:59:59" -> 1, "2020-11-02T06:00:00" -> 2))

    // Overlapping ranges keep the join: an event inside both emits both.
    val overlapping = rangesDf((1, Some(0), 43199, 80, 150), (2, Some(0), 86399, 70, 180))
    val (oRows, _, oPlan) = streamed(spark, overlapping, "categorized_overlap")
    assert(oPlan.toString.contains("BroadcastExchange"), oPlan)
    assert(sorted(oRows) === sorted(joined(spark, overlapping)._1))
    assert(spark.table("categorized_overlap").filter(col("value") === 75)
      .select("range_id").as[Int].collect().sorted.toSeq === Seq(1, 2))
  }

  test("a stateless topology runs as one bound stage over its source: no operator of it is " +
    "planned or code-generated per batch") {
    import spark.implicits._
    type Topology = org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame
    for ((name, topology) <- Seq[(String, Topology)](
        "bound_high" -> EgvStreams.filterHighTopology,
        "bound_simple" -> EgvStreams.categorizeSimpleTopology,
        "bound_lookup" -> (EgvStreams.categorizeLookupTopology(_, fixtureRangesDf)))) {
      val in = MemoryStream[PartitionedKafkaRec](spark)
      val q = topology(EgvStreams.parseEgvs(in.toDF()))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      for (v <- Seq(65, 265)) {
        in.addData(PartitionedKafkaRec("robert", egvJson(v, "2020-11-02T02:00:00"),
          new Timestamp(0), 7))
        q.processAllAvailable()
      }
      q.stop()
      val plan = lastPlan(q)
      val stage = plan.collect { case b: BoundStageExec => b }
      assert(stage.size === 1, s"$name:\n$plan")
      assert(stage.head.child.isInstanceOf[MicroBatchScanExec], s"$name:\n$plan")
      assert(plan.collect {
        case p @ (_: WholeStageCodegenExec | _: GenerateExec | _: ProjectExec | _: FilterExec) => p
      }.isEmpty, s"$name:\n$plan")
      assert(!stage.head.treeString.contains("!"), stage.head.treeString)
      // The decode at the bottom reads three of the source's four columns,
      // so the stage projects its rows first; filter-high's filter is
      // pushed below the decode and passes every column on.
      assert(stage.head.input.map(_.name) === (if (name == "bound_high")
        Seq("key", "value", "timestamp", "partition") else Seq("key", "value", "timestamp")), name)
      assert(spark.table(name).select("value").as[Int].collect().sorted.toSeq ===
        (if (name == "bound_high") Seq(265) else Seq(65, 265)), name)
    }
  }

  /** Three micro-batches of EGVs for the checkpointed lookup stream. */
  private val lookupBatches = Seq(
    Seq(KafkaRec("robert", egvJson(75, "2020-11-02T02:00:00"), new Timestamp(0)),
      KafkaRec("robert", egvJson(100, "2020-11-02T12:00:00"), new Timestamp(1))),
    Seq(KafkaRec("robert", egvJson(265, "2020-11-02T19:00:00"), new Timestamp(2)),
      KafkaRec("ana", egvJson(100, "2020-11-02T19:00:00"), new Timestamp(3))),
    Seq(KafkaRec("ana", egvJson(150, "2020-11-02T23:30:00"), new Timestamp(4))))

  /** Starts the categorize-lookup topology from `in` into the idempotent
    * in-memory bulk sink, checkpointed at `ckpt`. */
  private def startLookupSink(in: MemoryStream[KafkaRec], ckpt: String) =
    EgvStreams.categorizeLookupTopology(EgvStreams.parseEgvs(in.toDF()), fixtureRangesDf)
      .writeStream
      .foreachBatch(IdempotentBulkSink.writeBatch(
        InMemoryBulkClient, Seq("key", "systemTime")) _)
      .option("checkpointLocation", ckpt)
      .start()

  private def newCheckpoint(prefix: String): String =
    tempDir(prefix).toString

  /** Runs `op` over a MemoryStream fed `batches`, one micro-batch each,
    * and returns each batch's output from an uninterrupted run on the
    * session's (HDFS-backed) state store provider. It runs `op` a second
    * time on RocksDB, where batch `failAt` throws once after its rows were
    * computed (so its state version is written) and before they are
    * recorded; that run then restarts from the same checkpoint. The two
    * runs' per-batch outputs must be equal as multisets. */
  private def restartEquivalent[T: Encoder, U](batches: Seq[Seq[T]], mode: String,
      failAt: Int = 1)(op: Dataset[T] => Dataset[U]): Seq[Seq[U]] = {
    require(batches.indices.contains(failAt), s"no batch $failAt")
    def run(rocksDb: Boolean): Seq[Seq[U]] = {
      val in = MemoryStream[T](spark)
      val out = op(in.toDS())
      val got = new java.util.concurrent.ConcurrentHashMap[Long, Seq[U]]()
      val failNext = new java.util.concurrent.atomic.AtomicBoolean(rocksDb)
      val ckpt = newCheckpoint("graft-restart-ckpt")
      def start() = out.writeStream.outputMode(mode)
        .foreachBatch { (ds: Dataset[U], id: Long) =>
          val rows = ds.collect().toSeq
          if (id == failAt && failNext.getAndSet(false))
            throw new IllegalStateException(s"injected failure after batch $id ran")
          got.put(id, rows); ()
        }
        .option("checkpointLocation", ckpt).start()
      var q = start()
      for ((batch, i) <- batches.zipWithIndex) {
        in.addData(batch: _*)
        if (rocksDb && i == failAt) {
          intercept[Exception](q.processAllAvailable())
          q.stop()
          q = start()
        }
        q.processAllAvailable()
      }
      q.stop()
      assert(!failNext.get, "the injected failure never fired")
      // Each stateful operator ran on the provider this run asked for.
      for (s <- q.lastProgress.stateOperators)
        assert(s.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")) === rocksDb,
          s.customMetrics)
      batches.indices.map(i => Option(got.get(i.toLong)).getOrElse(fail(s"batch $i: no output")))
    }
    val uninterrupted = run(rocksDb = false)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val restarted =
      try run(rocksDb = true) finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // Arrays compare by reference; compare their elements.
    def deep(x: Any): Any = x match {
      case a: Array[_] => a.toSeq.map(deep)
      case p: Product => p.productIterator.map(deep).toList
      case v => v
    }
    def bag(rows: Seq[U]) = rows.groupMapReduce(deep)(_ => 1)(_ + _)
    for (i <- batches.indices)
      assert(bag(restarted(i)) === bag(uninterrupted(i)), s"batch $i after a restart on RocksDB")
    uninterrupted
  }

  /** `xs` cut into `n` consecutive batches, the last taking the rest. */
  private def inBatches[T](xs: Seq[T], n: Int): Seq[Seq[T]] = {
    val size = xs.length / n
    (0 until n).map(i => xs.slice(i * size, if (i == n - 1) xs.length else (i + 1) * size))
  }

  private def storeSnapshot(): Map[String, String] = {
    InMemoryBulkClient.store.asScala.toMap
  }

  /** The sink's store after every lookup batch ran through one stream. */
  private def uninterruptedLookup(): Map[String, String] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    InMemoryBulkClient.store.clear()
    val in = MemoryStream[KafkaRec]
    val q = startLookupSink(in, newCheckpoint("graft-lookup-ckpt"))
    lookupBatches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    storeSnapshot()
  }

  /** Names in the checkpoint's `log` directory. */
  private def logFiles(ckpt: String, log: String): Seq[String] = {
    Files.list(Paths.get(ckpt, log)).iterator.asScala.map(_.getFileName.toString).toSeq.sorted
  }

  test("categorize-lookup into the idempotent sink restarts from its checkpoint " +
    "with the output of an uninterrupted run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Runs every batch through one stream; `failAt` fails that batch's
    // bulk write once, then restarts from the same checkpoint.
    def run(failAt: Option[Int]): (Map[String, String], String) = {
      InMemoryBulkClient.store.clear()
      val in = MemoryStream[KafkaRec]
      val ckpt = newCheckpoint("graft-lookup-ckpt")
      var q = startLookupSink(in, ckpt)
      for ((batch, i) <- lookupBatches.zipWithIndex) {
        if (failAt.contains(i)) InMemoryBulkClient.failNextBatches = 1
        in.addData(batch: _*)
        if (failAt.contains(i)) {
          intercept[Exception] { q.processAllAvailable() }
          q.stop()
          q = startLookupSink(in, ckpt)
        }
        q.processAllAvailable()
      }
      q.stop()
      // The restarted query runs the stage planned once, as the first did.
      assert(lastPlan(q).collectFirst { case b: BoundStageExec => b }.nonEmpty, lastPlan(q))
      (storeSnapshot(), ckpt)
    }
    val (uninterrupted, _) = run(None)
    assert(uninterrupted.size === lookupBatches.flatten.size)
    val (restarted, ckpt) = run(Some(1))
    assert(restarted === uninterrupted)
    assert(InMemoryBulkClient.failNextBatches === 0)
    // The logs went through Graft's manager: Spark's default one leaves a
    // `.crc` sidecar next to every file it writes on a local disk.
    for (log <- Seq("offsets", "commits")) {
      assert(logFiles(ckpt, log).contains("2"), log)
      assert(!logFiles(ckpt, log).exists(_.endsWith(".crc")), s"$log: ${logFiles(ckpt, log)}")
    }
    assert(CheckpointFileManager.create(new Path(ckpt), spark.sessionState.newHadoopConf())
      .isInstanceOf[LocalCheckpointFileManager])
  }

  test("a crash after the sink wrote a batch but before its commit replays that batch " +
    "under the same doc ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val uninterrupted = uninterruptedLookup()
    InMemoryBulkClient.store.clear()
    val in = MemoryStream[KafkaRec]
    val ckpt = newCheckpoint("graft-crash-ckpt")
    val q1 = startLookupSink(in, ckpt)
    lookupBatches.foreach { b => in.addData(b: _*); q1.processAllAvailable() }
    q1.stop()
    // The crash: the last batch's output reached the sink, its commit
    // never reached the log.
    val last = lookupBatches.size - 1
    Files.delete(Paths.get(ckpt, "commits", last.toString))
    val q2 = startLookupSink(in, ckpt)
    q2.processAllAvailable(); q2.stop()
    assert(q2.recentProgress.exists(p =>
      p.batchId == last && p.numInputRows == lookupBatches.last.size),
      q2.recentProgress.map(p => (p.batchId, p.numInputRows)).mkString(", "))
    assert(logFiles(ckpt, "commits").contains(last.toString))
    // Each record sits under exactly one doc id, as after a run that
    // never crashed.
    assert(storeSnapshot() === uninterrupted)
    assert(InMemoryBulkClient.store.size === lookupBatches.flatten.size)
  }

  test("a restart ignores stale temp files in the offset and commit logs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val uninterrupted = uninterruptedLookup()
    InMemoryBulkClient.store.clear()
    val in = MemoryStream[KafkaRec]
    val ckpt = newCheckpoint("graft-stale-ckpt")
    val q1 = startLookupSink(in, ckpt)
    lookupBatches.init.foreach { b => in.addData(b: _*); q1.processAllAvailable() }
    q1.stop()
    // What a writer killed between its temp write and the link leaves:
    // one for a batch already in the log, one for the next batch.
    val next = lookupBatches.size - 1
    val planted = for {
      log <- Seq("offsets", "commits")
      n <- Seq(next - 1, next)
    } yield Files.writeString(Paths.get(ckpt, log, s".$n.${java.util.UUID.randomUUID}.tmp"),
      "torn write")
    val q2 = startLookupSink(in, ckpt)
    in.addData(lookupBatches.last: _*)
    q2.processAllAvailable(); q2.stop()
    assert(storeSnapshot() === uninterrupted)
    for (log <- Seq("offsets", "commits"))
      assert(logFiles(ckpt, log).filterNot(_.startsWith(".")) === Seq("0", "1", "2"), log)
    assert(planted.forall(Files.exists(_)))
  }

  test("LocalCheckpointFileManager: no-overwrite commit of an existing file fails and keeps " +
    "its bytes, cancel leaves no file, list matches Spark's default manager") {
    val dir = tempDir("graft-cfm")
    val root = new Path(dir.toString)
    val conf = spark.sessionState.newHadoopConf()
    val ours = new LocalCheckpointFileManager(root, conf)
    val sparks = new FileContextBasedCheckpointFileManager(root, conf)
    def write(fm: CheckpointFileManager, name: String, text: String,
              overwrite: Boolean = false): Unit = {
      val out = fm.createAtomic(new Path(root, name), overwrite)
      out.write(text.getBytes(UTF_8))
      out.close()
    }
    def read(fm: CheckpointFileManager, name: String): String = {
      val in = fm.open(new Path(root, name))
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }

    write(ours, "0", "old")
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] { write(ours, "0", "new") }
    assert(read(ours, "0") === "old")
    write(ours, "1", "a")
    write(ours, "1", "b", overwrite = true)
    assert(read(ours, "1") === "b")

    val cancelled = ours.createAtomic(new Path(root, "2"), overwriteIfPossible = false)
    cancelled.write("partial".getBytes(UTF_8))
    cancelled.cancel()
    assert(!ours.exists(new Path(root, "2")))
    assert(logFiles(dir.toString, ".") === Seq("0", "1"))

    // Spark's manager writes a file and its `.crc` sidecar; each manager
    // reads what the other wrote.
    write(sparks, "3", "spark")
    assert(logFiles(dir.toString, ".").contains(".3.crc"))
    assert(read(ours, "3") === "spark")
    write(ours, "3", "graft", overwrite = true)
    assert(read(sparks, "3") === "graft")
    ours.mkdirs(new Path(root, "sub/dir"))
    write(sparks, "4", "spark")
    Files.writeString(dir.resolve(s".5.${java.util.UUID.randomUUID}.tmp"), "stale")
    def listed(fm: CheckpointFileManager, filter: Path => Boolean) =
      fm.list(root, (p: Path) => filter(p)).map(s => (s.getPath.toString, s.isDirectory)).sorted.toSeq
    for (filter <- Seq((_: Path) => true, (p: Path) => p.getName.forall(_.isDigit))) {
      assert(listed(ours, filter) === listed(sparks, filter))
    }
    assert(listed(ours, _ => true).map(_._1).exists(_.startsWith("file:/")))
    assert(ours.exists(new Path(root, "sub/dir")) && ours.isLocal)

    ours.delete(new Path(root, "4"))
    ours.delete(new Path(root, "sub"))
    ours.delete(new Path(root, "missing"))
    assert(!logFiles(dir.toString, ".").exists(n => n == "4" || n == ".4.crc" || n == "sub"))
    intercept[java.io.FileNotFoundException] { ours.open(new Path(root, "missing")) }
    intercept[java.io.FileNotFoundException] { ours.list(new Path(root, "missing")) }

    // parseEgvs installs the manager on a session that never had it;
    // an explicit setting wins.
    val bare = spark.newSession()
    assert(bare.conf.getOption(LocalCheckpointFileManager.ClassKey).isEmpty)
    EgvStreams.parseEgvs(bare.createDataFrame(Seq(("k", "{}", new Timestamp(0))))
      .toDF("key", "value", "timestamp"))
    assert(bare.conf.get(LocalCheckpointFileManager.ClassKey) ===
      classOf[LocalCheckpointFileManager].getName)
    val explicit = spark.newSession()
    explicit.conf.set(LocalCheckpointFileManager.ClassKey,
      classOf[FileSystemBasedCheckpointFileManager].getName)
    graft.catalyst.GraftFunctions.register(explicit)
    assert(explicit.conf.get(LocalCheckpointFileManager.ClassKey) ===
      classOf[FileSystemBasedCheckpointFileManager].getName)
  }

  test("a checkpoint written by Spark's default manager resumes under Graft's, and back, " +
    "with the output of an uninterrupted run") {
    // A file stream of EGV rows, one file per batch, through the simple
    // categorizer into the idempotent sink. Nothing in it calls
    // `register`, so a bare session commits through Spark's manager.
    val files = Seq(
      Seq("""{"key":"robert","systemTime":"2020-11-02T02:00:00","value":65}""",
        """{"key":"robert","systemTime":"2020-11-02T02:05:00","value":100}"""),
      Seq("""{"key":"ana","systemTime":"2020-11-02T02:10:00","value":265}"""),
      Seq("""{"key":"ana","systemTime":"2020-11-02T02:15:00","value":180}"""))
    def addFile(src: java.nio.file.Path, i: Int): Unit = {
      val tmp = Files.writeString(src.resolve(s".$i.json.tmp"), files(i).mkString("\n"))
      Files.move(tmp, src.resolve(s"$i.json"))
    }
    def runOn(s: org.apache.spark.sql.SparkSession, src: java.nio.file.Path, ckpt: String) = {
      val q = EgvStreams.categorizeSimpleTopology(
          s.readStream.schema("key STRING, systemTime STRING, value INT")
            .option("maxFilesPerTrigger", "1").json(src.toString))
        .writeStream
        .foreachBatch(IdempotentBulkSink.writeBatch(
          InMemoryBulkClient, Seq("key", "systemTime")) _)
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable(); q.stop()
    }
    def crcs(ckpt: String) =
      Seq("offsets", "commits").flatMap(logFiles(ckpt, _)).count(_.endsWith(".crc"))

    InMemoryBulkClient.store.clear()
    val full = tempDir("graft-compat-src")
    files.indices.foreach(addFile(full, _))
    runOn(spark, full, newCheckpoint("graft-compat-ckpt"))
    val uninterrupted = storeSnapshot()
    assert(uninterrupted.size === files.flatten.size)

    val bare = spark.newSession()
    assert(bare.conf.getOption(LocalCheckpointFileManager.ClassKey).isEmpty)
    for ((first, second) <- Seq(bare -> spark, spark -> bare)) {
      InMemoryBulkClient.store.clear()
      val src = tempDir("graft-compat-src")
      val ckpt = newCheckpoint("graft-compat-ckpt")
      addFile(src, 0); addFile(src, 1)
      runOn(first, src, ckpt)
      // Spark's manager leaves `.crc` sidecars next to its files, Graft's
      // none: each side wrote the batches it ran.
      val before = crcs(ckpt)
      assert((before > 0) === (first eq bare))
      addFile(src, 2)
      runOn(second, src, ckpt)
      assert((crcs(ckpt) > before) === (second eq bare))
      assert(logFiles(ckpt, "commits").filterNot(_.startsWith(".")) === Seq("0", "1", "2"))
      assert(storeSnapshot() === uninterrupted)
    }
  }

  test("categorize-simple topology end-to-end reproduces the reference asserts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KafkaRec]
    val out = EgvStreams.categorizeSimpleTopology(EgvStreams.parseEgvs(in.toDF()))
    val q = out.writeStream.format("memory").queryName("categorized_simple")
      .outputMode("append").start()
    // CategorizeWithSimpleRuleTest: 65 -> false, 100 -> true, 265 -> false.
    in.addData(
      KafkaRec("robert", egvJson(65, "2020-11-02T02:00:00"), Timestamp.valueOf("2020-11-02 02:00:00")),
      KafkaRec("robert", egvJson(100, "2020-11-02T02:05:00"), Timestamp.valueOf("2020-11-02 02:05:00")),
      KafkaRec("robert", egvJson(265, "2020-11-02T02:10:00"), Timestamp.valueOf("2020-11-02 02:10:00")))
    q.processAllAvailable()
    // A second batch on the closed interval's edges, 75 <= v <= 180.
    in.addData(Seq(74, 75, 180, 181).map(v =>
      KafkaRec("robert", egvJson(v, "2020-11-02T03:00:00"), new Timestamp(0))): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("categorized_simple").select("key", "value", "in_range")
      .as[(String, Int, String)].collect().sortBy(_._2).toSeq
    assert(got === Seq(("robert", 65, "false"), ("robert", 74, "false"), ("robert", 75, "true"),
      ("robert", 100, "true"), ("robert", 180, "true"), ("robert", 181, "false"),
      ("robert", 265, "false")))
  }

  test("windowed counts with watermark aggregate per 10-minute window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KafkaRec]
    val out = EgvStreams.windowedCounts(EgvStreams.parseEgvs(in.toDF()))
    val q = out.writeStream.format("memory").queryName("windowed")
      .outputMode("complete").start()
    in.addData(
      KafkaRec("r", egvJson(100, "2020-11-02T02:01:00"), new Timestamp(0)),
      KafkaRec("r", egvJson(110, "2020-11-02T02:09:00"), new Timestamp(1)),
      KafkaRec("r", egvJson(120, "2020-11-02T02:11:00"), new Timestamp(2)))
    q.processAllAvailable(); q.stop()
    val got = spark.table("windowed")
      .select(col("window_start").cast("string"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === Map("2020-11-02 02:00:00" -> 2L, "2020-11-02 02:10:00" -> 1L))
  }

  test("streaming dedup within watermark drops cross-batch duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KafkaRec]
    val out = EgvStreams.streamingDedup(
      EgvStreams.parseEgvs(in.toDF()).select(col("key"), col("systemTime"), col("value"), col("systemTs")),
      Seq("key", "systemTime"), "systemTs", "1 hour")
    val q = out.writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    in.addData(
      KafkaRec("robert", egvJson(100, "2020-11-02T02:00:00"), new Timestamp(0)),
      KafkaRec("robert", egvJson(100, "2020-11-02T02:00:00"), new Timestamp(1))) // in-batch dup
    q.processAllAvailable()
    in.addData(
      KafkaRec("robert", egvJson(100, "2020-11-02T02:00:00"), new Timestamp(2)), // cross-batch dup
      KafkaRec("robert", egvJson(110, "2020-11-02T02:05:00"), new Timestamp(3))) // new reading
    q.processAllAvailable(); q.stop()
    val got = spark.table("deduped").select("systemTime").collect().map(_.getString(0))
    assert(got.sorted.toSeq === Seq("2020-11-02T02:00:00", "2020-11-02T02:05:00"))
  }

  test("distributed bulk sink: executor-side partitions write the same docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    InMemoryBulkClient.store.clear()
    val in = MemoryStream[KafkaRec]
    val parsed = EgvStreams.parseEgvs(in.toDF())
      .select(col("key"), col("value"), col("systemTime"))
      .repartition(4) // force multi-partition executor-side writes
    val ckpt = tempDir("graft-dist-ckpt").toString
    val q = parsed.writeStream
      .foreachBatch(IdempotentBulkSink.writeBatchDistributed(
        () => InMemoryBulkClient, Seq("key", "systemTime"), bulkSize = 2) _)
      .option("checkpointLocation", ckpt)
      .start()
    in.addData((1 to 10).map(i =>
      KafkaRec("u" + i % 3, egvJson(100 + i, f"2020-11-02T02:${i}%02d:00"), new Timestamp(i))): _*)
    q.processAllAvailable(); q.stop()
    assert(InMemoryBulkClient.store.size() === 10)
    assert(InMemoryBulkClient.store.containsKey("2:u1_19:2020-11-02T02:01:00"))
  }

  test("stream-stream interval join with watermark-bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Both sides watermarked + a time-range condition: Spark can bound the
    // join state store (drop left/right rows older than watermark+range)
    // instead of retaining both streams forever — the scale contract for
    // stream-stream joins.
    val alerts = MemoryStream[(String, Timestamp)]
    val readings = MemoryStream[(String, Timestamp, Int)]
    val a = alerts.toDF().toDF("a_user", "a_ts").withWatermark("a_ts", "10 minutes")
    val r = readings.toDF().toDF("r_user", "r_ts", "value").withWatermark("r_ts", "10 minutes")
    val joined = a.join(r, expr(
      "a_user = r_user AND r_ts BETWEEN a_ts - INTERVAL 5 MINUTES AND a_ts"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    def ts(m: Int) = Timestamp.valueOf(f"2020-11-02 02:$m%02d:00")
    alerts.addData(("robert", ts(10)))
    readings.addData(
      ("robert", ts(7), 101),  // within [02:05, 02:10] -> joins
      ("robert", ts(10), 102), // boundary inclusive -> joins
      ("robert", ts(2), 103),  // too early -> no
      ("robert", ts(12), 104), // after the alert -> no
      ("other", ts(8), 105))   // different key -> no
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssjoin").select("value").collect().map(_.getInt(0)).toSet
    assert(got === Set(101, 102))
  }

  test("gap-dedup streaming twin matches the gated batch query across micro-batches") {
    import spark.implicits._
    def ev(id: Long, hm: String) =
      StatefulOps.KeyedEvent("robert", Timestamp.valueOf(s"2020-11-02 $hm:00"), id)
    // 30-min horizon: e1 keep (no prev), e2 gap 600s drop, e3 gap 2400s
    // keep, e4 gap 900s drop — e3/e4 arrive in a LATER micro-batch so the
    // kept/dropped decision must flow through the per-key state.
    val batch1 = Seq(ev(1, "02:00"), ev(2, "02:10"))
    val batch2 = Seq(ev(3, "02:50"), ev(4, "03:05"))
    val streamed = restartEquivalent(Seq(batch1, batch2), "append")(
      StatefulOps.gapDedup(_, horizonSec = 1800)).flatten.map(_.eventId).toSet
    // The gated batch twin's expression over the same rows.
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("ts"), col("eventId"))
    val batched = (batch1 ++ batch2).toDS().toDF()
      .withColumn("__prev", lag(col("ts"), 1).over(byKey))
      .filter(col("__prev").isNull ||
        col("ts").cast("long") - col("__prev").cast("long") > 1800)
      .select("eventId").collect().map(_.getLong(0)).toSet
    assert(streamed === Set(1L, 3L))
    assert(streamed === batched)
  }

  test("span-dedup streaming twin: union of hits equals the batch rewrite's removal set") {
    import spark.implicits._
    val run = "one two three four five six seven eight" // SpanLen = 8 tokens
    val docsSeq = Seq(
      (0L, s"$run nine ten"),                // canonical holder
      (1L, s"zzz yyy $run extra tail here"), // cross-doc duplicate
      (9L, s"$run filler $run"))             // later batch; same-doc repeat
    val docs = docsSeq.toDF("doc_id", "text")
    // Derive the window rows exactly as the batch grams stage does.
    val grams = docs
      .withColumn("__toks", graft.ops.TextOps.tokens(col("text")))
      .select(col("doc_id"), posexplode(expr(
        """CASE WHEN size(__toks) < 8 THEN CAST(array() AS ARRAY<STRING>)
           ELSE transform(sequence(0, size(__toks) - 8),
             j -> concat_ws(' ', slice(__toks, j + 1, 8))) END""")))
      .select(col("doc_id"), col("pos"),
        graft.ops.TextOps.hash64(col("col")).as("h"))
      .collect()
      .map(r => StatefulOps.SpanWindow(r.getLong(0), r.getInt(1), r.getLong(2)))
    val byDoc = grams.groupBy(_.docId)
    // Docs arrive in id order (the documented parity contract), split so
    // the doc-9 verdicts must flow through cross-batch state; the third
    // batch is an at-least-once replay: the canonical must not move, no
    // self-hits — re-emitted dup hits are absorbed by the downstream
    // set-union.
    val out = restartEquivalent(Seq(byDoc(0L).toSeq ++ byDoc(1L).toSeq, byDoc(9L).toSeq,
      byDoc(9L).toSeq), "append")(StatefulOps.streamingSpanDedup).flatten
    val hits = out.map(h => (h.docId, h.pos)).toSet
    val streamedRemoved: Map[Long, Long] = hits.toSeq
      .flatMap { case (d, p) => (p until p + 8).map(d -> _) }
      .distinct.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      .withDefaultValue(0L)
    val batch = graft.ops.DedupOps.spanRewrite(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    docsSeq.foreach { case (id, _) =>
      assert(streamedRemoved(id) === batch(id), s"doc $id removal mismatch") }
    // The canonical holder lost nothing; the repeat doc lost both copies'
    // positions (0..7 and 9..16).
    assert(streamedRemoved(0L) === 0L && streamedRemoved(9L) === 16L)
    // Attribution parity with the GATED batch twin: the streamed hit
    // rows (with canonical sites) equal stream_span_marks exactly.
    val streamedFull = out.map(h => (h.docId, h.pos, h.canonDoc, h.canonPos)).toSet
    val marks = graft.ops.DedupOps.spanMarks(docs, "text", "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
    assert(streamedFull === marks)
  }

  test("stream-stream interval join emits exactly its gated batch twin's rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = Timestamp.valueOf(f"2020-11-02 02:$m%02d:00")
    // (user, ts, value, event_id) — alerts are value >= 200, the same
    // predicate + 10-minute preceding range as stream_interval_join.
    val rows = Seq(
      ("robert", ts(0), 210, 1L), ("robert", ts(5), 100, 2L),
      ("robert", ts(12), 250, 3L), ("robert", ts(15), 120, 4L),
      ("robert", ts(40), 130, 5L), ("other", ts(5), 300, 6L),
      ("other", ts(9), 90, 7L))
    val cond = expr("user_id = a_user AND a_ts <= ts AND a_ts >= ts - INTERVAL 10 MINUTES")
    def pairs(e: org.apache.spark.sql.DataFrame,
              a: org.apache.spark.sql.DataFrame) =
      e.join(a, cond).filter(col("event_id") =!= col("alert_id"))
        .select(col("event_id"), col("alert_id"))
    val ein = MemoryStream[(String, Timestamp, Int, Long)]
    val ain = MemoryStream[(String, Timestamp, Int, Long)]
    val es = ein.toDF().toDF("user_id", "ts", "value", "event_id")
      .withWatermark("ts", "20 minutes")
    val as = ain.toDF().toDF("a_user", "a_ts", "a_value", "alert_id")
      .filter(col("a_value") >= 200).withWatermark("a_ts", "20 minutes")
    val q = pairs(es, as).writeStream.format("memory").queryName("ssjoin_twin")
      .outputMode("append").start()
    ein.addData(rows: _*); ain.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssjoin_twin")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val eb = rows.toDF("user_id", "ts", "value", "event_id")
    val ab = rows.toDF("a_user", "a_ts", "a_value", "alert_id")
      .filter(col("a_value") >= 200)
    val batched = pairs(eb, ab)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batched)
    assert(streamed.nonEmpty && streamed.contains((2L, 1L)))
  }

  test("mid-stream range update takes effect for subsequent batches (KTable semantics)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The reference's ranges KTable is a changelog: an update consumed
    // mid-stream re-categorizes everything after it in offset order
    // (CategorizeWithKTableLookup.java:59-62). Batch-aligned here
    // (SURVEY §7.3.1): each micro-batch rebuilds the latest-by-key range
    // snapshot from the accumulated changelog via latestByKeyBatch and
    // joins against THAT, so an update lands exactly at a batch boundary.
    val in = MemoryStream[KafkaRec]
    val changelog = scala.collection.mutable.ArrayBuffer[(Int, Int, Int, Int, Int, Long)]()
    Schemas.fixtureRanges.zipWithIndex.foreach { case (r, i) =>
      changelog += ((r.rangeId, r.startSec, r.endSec, r.lowerBound, r.upperBound, i.toLong))
    }
    val results = scala.collection.mutable.ArrayBuffer[(Long, Int, String)]()
    val ckpt = tempDir("graft-ktable-ckpt").toString
    val q = EgvStreams.parseEgvs(in.toDF()).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val snapshot = EgvStreams.latestByKeyBatch(
          changelog.toSeq.toDF("range_id", "start_sec", "end_sec",
            "lower_bound", "upper_bound", "offset"),
          Seq("range_id"), "offset", "offset").drop("offset")
        EgvStreams.categorizeLookupTopology(batch, snapshot)
          .select("value", "in_range").collect()
          .foreach(r => results += ((batchId, r.getInt(0), r.getString(1))))
      }
      .option("checkpointLocation", ckpt)
      .start()
    // Batch 0: noon reading of 100 against fixture range 2 [70,180] -> true.
    in.addData(KafkaRec("robert", egvJson(100, "2020-11-02T12:00:00"), new Timestamp(0)))
    q.processAllAvailable()
    // Mid-stream update at offset 3: range 2 narrows to [110,180]
    // (latest offset wins in the KTable view).
    changelog += ((2, 6 * 3600, 22 * 3600 - 1, 110, 180, 3L))
    in.addData(KafkaRec("robert", egvJson(100, "2020-11-02T12:00:00"), new Timestamp(1)))
    q.processAllAvailable(); q.stop()
    val byBatch = results.groupBy(_._1).view.mapValues(_.map(x => (x._2, x._3)).toSeq).toMap
    assert(byBatch(0L) === Seq(100 -> "true"))
    assert(byBatch(1L) === Seq(100 -> "false"))
  }

  test("file stream with maxFilesPerTrigger bounds each micro-batch (backpressure)") {
    import org.apache.spark.sql.types._
    // The ingestion-rate knob a 100 TB backfill needs: without a per-batch
    // cap, the first trigger of a large directory becomes one giant batch.
    val dir = tempDir("graft-backfill").toString
    for (i <- 1 to 3)
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, s"f$i.json"),
        s"""{"id": $i}\n""".getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType)))
    val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = b.count(); if (n > 0) batchSizes.synchronized { batchSizes += n }
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(batchSizes.sum === 3)
    assert(batchSizes.forall(_ === 1L), s"expected 1 file per batch, got $batchSizes")
  }

  test("kafka sink options match the reference producer knobs") {
    // ProducerDexcom.java:66-89 — idempotence, acks=all, snappy
    // compression, linger.ms=20, batch.size=32768. format("kafka") cannot
    // resolve here (no connector jar), so the guard pins the options map
    // itself: drift from the reference's delivery contract fails this.
    assert(EgvStreams.kafkaProducerOptions === Map(
      "kafka.enable.idempotence" -> "true",
      "kafka.acks" -> "all",
      "kafka.compression.type" -> "snappy",
      "kafka.linger.ms" -> "20",
      "kafka.batch.size" -> "32768"))
  }

  test("docId: key values containing the separator cannot collide") {
    import spark.implicits._
    val ids = Seq(("a_b", "c"), ("a", "b_c")).toDF("k1", "k2")
      .select(IdempotentBulkSink.docId(Seq("k1", "k2")).as("id"))
      .collect().map(_.getString(0)).toSet
    assert(ids === Set("3:a_b_1:c", "1:a_3:b_c"))
  }

  test("idempotent bulk sink: batch replay after failure does not duplicate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    InMemoryBulkClient.store.clear()
    val in = MemoryStream[KafkaRec]
    val parsed = EgvStreams.parseEgvs(in.toDF())
      .select(col("key"), col("value"), col("systemTime"))
    val ckpt = tempDir("graft-sink-ckpt").toString
    def start() = parsed.writeStream
      .foreachBatch(IdempotentBulkSink.writeBatch(
        InMemoryBulkClient, Seq("key", "systemTime")) _)
      .option("checkpointLocation", ckpt)
      .start()

    // Batch 1 fails mid-write: offsets NOT committed.
    InMemoryBulkClient.failNextBatches = 1
    in.addData(
      KafkaRec("robert", egvJson(100, "2020-11-02T02:00:00"), new Timestamp(0)),
      KafkaRec("robert", egvJson(265, "2020-11-02T02:05:00"), new Timestamp(1)))
    val q1 = start()
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    // Restart from the same checkpoint: the SAME batch replays with the
    // SAME deterministic ids -> upsert, no duplicates.
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    assert(InMemoryBulkClient.store.size() === 2)
    assert(InMemoryBulkClient.store.containsKey("6:robert_19:2020-11-02T02:00:00"))
  }

  test("bulk sinks send the (id, doc) pairs select(docId, to_json).collect() gives, " +
    "byte for byte, in bulkSize chunks in collect order, per session time zone and " +
    "null-field setting") {
    val keys = Seq("key", "ts")
    val bulkSize = 3
    val rows = Seq(
      PayloadRec("a_b:c", Timestamp.valueOf("2020-11-02 02:00:00.125"), Some("ünïcødé 血糖 ✓"),
        BigDecimal("1.25"), PayloadReading("mg/dL", Some(101.5))),
      PayloadRec("a", Timestamp.valueOf("2020-11-02 02:05:00"), None, BigDecimal("-0.5"),
        PayloadReading("mmol/L", None)),
      PayloadRec(null, Timestamp.valueOf("2020-11-02 23:59:59.999"), Some("\"quoted\"\n"),
        BigDecimal("123456789.000000001"), null),
      PayloadRec("1:x_2:y", null, Some(""), BigDecimal("0"), PayloadReading("", Some(-1.0))),
      PayloadRec("ana", Timestamp.valueOf("2021-03-28 01:30:00"), Some("Ελληνικά"),
        BigDecimal("7"), PayloadReading("mg/dL", Some(Double.MaxValue))),
      PayloadRec("ana", Timestamp.valueOf("2021-03-28 03:30:00"), None, BigDecimal("7.1"),
        PayloadReading("mg/dL", Some(0.1))),
      PayloadRec("_", Timestamp.valueOf("1969-12-31 23:59:59"), Some("😀"), BigDecimal("2"),
        PayloadReading(":", Some(3.0))))
    def expected(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
      df.select(IdempotentBulkSink.docId(keys), to_json(struct(df.columns.map(col): _*)))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    def drain(): Seq[(Int, Seq[(String, String)])] = {
      val out = ChunkRecorder.calls.asScala.toSeq
      ChunkRecorder.calls.clear()
      out
    }
    // writeBatch sends collect order in global chunks; writeBatchDistributed
    // chunks each partition's rows, and its partitions concatenate to
    // collect order.
    def assertDriverChunks(want: Seq[(String, String)]): Unit = {
      val calls = drain()
      assert(calls.map(_._1).forall(_ == -1))
      assert(calls.map(_._2) === want.grouped(bulkSize).toSeq)
    }
    def assertPartitionChunks(want: Seq[(String, String)]): Unit = {
      val byPartition = drain().groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
      for (chunks <- byPartition)
        assert(chunks.init.forall(_.size == bulkSize) && chunks.last.size <= bulkSize, chunks)
      assert(byPartition.flatten.flatten === want)
    }
    def inSession(tz: String, ignoreNullFields: Boolean = true): Seq[(String, String)] = {
      val session = spark.newSession()
      session.conf.set("spark.sql.session.timeZone", tz)
      session.conf.set("spark.sql.jsonGenerator.ignoreNullFields", ignoreNullFields)
      import session.implicits._
      implicit val sqlCtx = session.sqlContext
      ChunkRecorder.calls.clear()
      val batch = rows.toDF()
      val want = expected(batch)
      assert(want.size === rows.size)
      IdempotentBulkSink.writeBatch(ChunkRecorder, keys, bulkSize)(batch, 0L)
      assertDriverChunks(want)
      IdempotentBulkSink.writeBatchDistributed(() => ChunkRecorder, keys, bulkSize)(batch, 0L)
      assertPartitionChunks(want)
      for (distributed <- Seq(false, true)) {
        val in = MemoryStream[PayloadRec]
        val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, String)]]()
        val q = in.toDF().writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame,
                                                     id: Long) =>
          seen.add(expected(df))
          if (distributed)
            IdempotentBulkSink.writeBatchDistributed(() => ChunkRecorder, keys, bulkSize)(df, id)
          else IdempotentBulkSink.writeBatch(ChunkRecorder, keys, bulkSize)(df, id)
        }.option("checkpointLocation", newCheckpoint("graft-payload-ckpt")).start()
        in.addData(rows: _*)
        q.processAllAvailable(); q.stop()
        val streamed = seen.asScala.toSeq.flatten
        assert(streamed.sorted === want.sorted)
        if (distributed) assertPartitionChunks(streamed) else assertDriverChunks(streamed)
      }
      want
    }
    val utc = inSession("UTC")
    val kolkata = inSession("Asia/Kolkata")
    val keepNulls = inSession("UTC", ignoreNullFields = false)
    // The same schema and keys under another session setting give other
    // ids or docs, so a payload bound for an earlier session cannot pass.
    assert(utc.map(_._1) !== kolkata.map(_._1))
    assert(utc.map(_._2) !== kolkata.map(_._2))
    assert(keepNulls.map(_._1) === utc.map(_._1))
    assert(keepNulls.exists(_._2.contains("\"note\":null")))
    assert(!utc.exists(_._2.contains("\"note\":null")))
  }

  test("a foreachBatch stream through writeBatch posts one SQL execution and runs one job " +
    "per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    // (job group, "execution" | "job") for every event, in arrival order.
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.add((Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull, "job"))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => events.add((s.jobGroupId.orNull, "execution"))
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      InMemoryBulkClient.store.clear()
      val in = MemoryStream[KafkaRec]
      val q = startLookupSink(in, newCheckpoint("graft-cost-ckpt"))
      lookupBatches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      q.stop()
      assert(InMemoryBulkClient.store.size === lookupBatches.flatten.size)
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches === lookupBatches.size)
      // Listener events arrive in order: once a marker job started after
      // the stream is seen, every event of the stream is.
      val marker = java.util.UUID.randomUUID.toString
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30000000000L
      while (!events.contains((marker, "job")) && System.nanoTime < deadline) Thread.sleep(10)
      assert(events.contains((marker, "job")), "marker job never reached the listener")
      val ofStream = events.asScala.toSeq.filter(_._1 == q.runId.toString).map(_._2)
      assert(ofStream.count(_ == "execution") === batches, ofStream)
      assert(ofStream.count(_ == "job") === batches, ofStream)
    } finally sc.removeSparkListener(listener)
  }

  test("streaming decontamination twin matches the batch contamination report") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Decontaminating a document STREAM is stateless per doc once the eval
    // set is fixed: the eval slice's distinct shingles (tiny by
    // construction) ship to every task and each arriving doc is scored as
    // a narrow map — no streaming state, no shuffle, any output mode. This
    // is the streaming shape of DedupOps.contamination's broadcast side.
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (0L, base),                                      // eval
      (1L, base.replace("today", "tonight")),          // train: near-dup
      (2L, "completely different words populate this other document entirely"),
      (3L, base),                                      // train: exact copy
      (4L, "more unrelated filler text that shares nothing with the eval slice"))
    val docsDF = docs.toDF("doc_id", "text")
    val evalPred = col("doc_id") % 2 === 0 && col("doc_id") < 1
    // Batch report (the gated operator) on the same data.
    val batch = graft.ops.DedupOps.contamination(docsDF, "text", "doc_id", evalPred)
      .select("doc_id", "n_sh", "n_shared")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // Streaming twin: eval shingles pinned once, stream scored statelessly.
    val evalSh = graft.ops.DedupOps.shingleInv(
        docsDF.filter(evalPred), "text", "doc_id")
      .select("h").distinct().as[Long].collect().sorted
    val in = MemoryStream[(Long, String)]
    val scored = graft.ops.DedupOps.shingleSets(
        in.toDF().toDF("doc_id", "text").filter(!evalPred), "text", "doc_id")
      .select(col("doc_id"),
        size(array_distinct(col("sh"))).cast("long").as("n_sh"),
        size(array_intersect(col("sh"), typedLit(evalSh))).cast("long")
          .as("n_shared"))
      .filter(col("n_shared") > 0)
    val q = scored.writeStream.format("memory").queryName("decontam_twin")
      .outputMode("append").start()
    in.addData(docs: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("decontam_twin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.map(_._1) === Set(1L, 3L)) // near-dup + copy, not 2/4
  }

  test("streaming funnel transitions match the gated batch funnel across batches") {
    import spark.implicits._
    import graft.streaming.StatefulOps.FunnelEvent
    val dir = "/root/testdata/sf0.001"
    // Batch truth: the gated query's per-user final stage + anchors.
    val batch = Catalog.queries("ref_funnel")(spark, dir).collect()
      .map(r => (r.getLong(0).toString, r.getInt(4))).toMap
    // Stream the same events in event-time order, split into 3 batches —
    // stage anchors must survive in state across the splits.
    val evs = graft.Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").cast("string"), col("ts"), col("event_type"))
      .orderBy("ts").collect()
      .map(r => FunnelEvent(r.getString(0), r.getTimestamp(1), r.getString(2)))
    val streamed = restartEquivalent(inBatches(evs.toSeq, 3), "append")(
      StatefulOps.streamingFunnel(_, windowMs = 6L * 3600 * 1000)).flatten
    // One transition per stage reached; max stage per user == batch stage.
    val perUser = streamed.groupBy(_.userId).view
      .mapValues(ts => ts.map(_.stage).max).toMap
    batch.foreach { case (u, stage) =>
      assert(perUser.getOrElse(u, 0) === stage, s"user $u")
    }
    assert(streamed.groupBy(t => (t.userId, t.stage)).forall(_._2.length == 1),
      "each stage must be reached exactly once per user")
    // Full-row parity against the twin's own gate: every transition the
    // stream emitted — (user, stage, anchor ts) — must equal the gated
    // stream_funnel_transitions rows exactly, anchors included.
    val gated = Catalog.queries("stream_funnel_transitions")(spark, dir)
      .collect()
      .map(r => (r.getLong(0).toString, r.getInt(1), r.getTimestamp(2))).toSet
    assert(streamed.map(t => (t.userId, t.stage, t.ts)).toSet === gated)
  }

  test("streaming as-of enrichment matches the batch as-of join across batches") {
    import spark.implicits._
    import graft.streaming.StatefulOps.AsofEvent
    // Interleaved changelog + lookups over 3 keys: dim updates every 70 s,
    // lookups every 60 s, including exact timestamp collisions (every
    // 420 s) where the inclusive-<= tie rule decides the answer, and
    // lookups before any dim row (NULL enrichment).
    val t0 = 1700000000000L
    val dims = for (k <- 0 until 3; i <- 0 until 20) yield
      AsofEvent(s"k$k", new java.sql.Timestamp(t0 + 30000L + i * 70000L + k * 7000L),
        isDim = true, eventId = -1L, dimValue = Some(k * 100 + i))
    val lookups = for (k <- 0 until 3; i <- 0 until 25) yield
      AsofEvent(s"k$k", new java.sql.Timestamp(t0 + i * 60000L + (k % 2) * 30000L),
        isDim = false, eventId = k * 1000L + i, dimValue = None)
    // Batch truth: the gated operator on the same two tables.
    val left = lookups.toSeq.toDF("key", "ts", "isDim", "eventId", "dimValue")
      .select("key", "ts", "eventId")
    val right = dims.toSeq.toDF("key", "ts", "isDim", "eventId", "dimValue")
      .select(col("key"), col("ts").as("dim_ts"), col("dimValue").as("value"))
    val batch = graft.ops.AsofOps.asofJoin(left, right, Seq("key"),
        "ts", "dim_ts", Seq("value", "dim_ts"))
      .collect().map(r => (r.getLong(2),
        (Option(r.get(3)).map(_.asInstanceOf[Int]),
         Option(r.getTimestamp(4))))).toMap
    // Stream the union in event-time order (dim first at equal ts), split
    // across 3 micro-batches — state must carry the last dim across splits.
    val evs = (dims ++ lookups).sortBy(e => (e.ts.getTime, !e.isDim, e.eventId))
    val streamed = restartEquivalent(inBatches(evs, 3), "append")(
      StatefulOps.streamingAsof).flatten
    assert(streamed.length === lookups.length) // one output row per lookup
    streamed.foreach { e =>
      val (bv, bt) = batch(e.eventId)
      assert(e.asofValue === bv, s"value for lookup ${e.eventId}")
      assert(e.asofTs === bt, s"ts for lookup ${e.eventId}")
    }
    // The fixture exercises both edges: some NULL (pre-dim) lookups and
    // at least one exact ts collision resolved by the inclusive rule.
    assert(streamed.exists(_.asofValue.isEmpty))
    assert(lookups.exists(l => dims.exists(d =>
      d.key == l.key && d.ts.getTime == l.ts.getTime)))
  }

  test("streaming near-dup flags arrivals against state from earlier batches") {
    import spark.implicits._
    import graft.streaming.StatefulOps.BucketDoc
    val base = "the quick brown fox jumps over the lazy dog again and again today ok"
    val docs = Seq(
      (0L, base),
      (1L, base + " indeed"),                              // near-dup of 0 (J≈0.92)
      (2L, "completely different words populate this other document entirely now"),
      (3L, base),                                          // exact copy of 0
      (4L, "more unrelated filler text that shares nothing with anything else here"))
    val (bands, rpb) = (4, 4)
    // Bucket rows prepared with the SAME signature/band math as the batch
    // operators (in a live topology this is a narrow per-doc map).
    val sigs = graft.ops.DedupOps.signatures(
      graft.ops.DedupOps.shingleInv(docs.toDF("doc_id", "text"), "text", "doc_id"),
      bands * rpb)
    val bucketRows = sigs
      .withColumn("bk", graft.ops.DedupOps.bandKeys(bands, rpb))
      .withColumn("sig", array((0 until bands * rpb).map(i => col(s"m$i")): _*))
      .select(col("doc_id"),
        posexplode(col("bk")).as(Seq("band", "key")), col("sig"))
      .collect()
      .map(r => BucketDoc(r.getInt(1), r.getLong(2), r.getLong(0),
        r.getSeq[Long](3)))
    // Expected: for docs a < b sharing any bucket, flag b if signature
    // agreement >= threshold (computed naively on the driver).
    val sigById = bucketRows.map(b => b.docId -> b.sig).toMap
    val expected = (for {
      a <- bucketRows; b <- bucketRows
      if a.band == b.band && a.key == b.key && a.docId < b.docId
      agree = sigById(a.docId).zip(sigById(b.docId))
        .count { case (x, y) => x == y }.toDouble / (bands * rpb)
      if agree >= 0.5
    } yield (b.docId, a.docId)).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    // Stream in two batches split mid-corpus: doc 3's duplicate-of-0 hit
    // can only come from bucket STATE carried over from batch 1.
    val got = restartEquivalent(Seq(bucketRows.filter(_.docId <= 2).toSeq,
        bucketRows.filter(_.docId >= 3).toSeq), "append")(
        StatefulOps.streamingNearDup(_, 0.5)).flatten
      .groupBy(_.docId).view.mapValues(_.map(_.dupOf).min).toMap
    assert(got === expected)
    assert(got.get(3L).contains(0L), "cross-batch exact copy must flag via state")
    assert(got.contains(1L) && !got.contains(2L) && !got.contains(4L))
  }

  test("Trigger.AvailableNow drains a backlog in bounded batches then stops itself") {
    import spark.implicits._
    // The backfill pattern: reprocess a historical table through the
    // SAME streaming topology, rate-limited by maxFilesPerTrigger, and
    // terminate when caught up — no manual stop, no always-on cluster.
    val dir = tempDir("graft-avnow").toString
    (0 until 4).foreach { i =>
      Seq.tabulate(25)(j => (i * 25L + j, s"v${i * 25 + j}"))
        .toDF("id", "v").coalesce(1).write.parquet(s"$dir/in/batch$i")
    }
    val in = spark.readStream
      .schema("id LONG, v STRING")
      .option("maxFilesPerTrigger", "1") // bounded work per micro-batch
      .parquet(s"$dir/in/*")
    val q = in.writeStream.format("memory").queryName("avnow")
      .option("checkpointLocation", s"$dir/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "AvailableNow must self-terminate")
    assert(spark.table("avnow").count() === 100)
    assert(q.recentProgress.length >= 4, // one micro-batch per file
      s"expected the backlog in multiple bounded batches, got ${q.recentProgress.length}")
  }

  test("streaming near-dup hot bucket saturates at maxPerBucket, comparisons continue") {
    import spark.implicits._
    import graft.streaming.StatefulOps.BucketDoc
    val sig = Seq(1L, 2L, 3L, 4L)
    val hits = restartEquivalent(Seq(Seq(BucketDoc(0, 5L, 1L, sig), BucketDoc(0, 5L, 2L, sig)),
        Seq(BucketDoc(0, 5L, 3L, sig))), "append")(
        StatefulOps.streamingNearDup(_, threshold = 0.5, maxPerBucket = 1)).flatten
      .map(h => (h.docId, h.dupOf)).toSet
    // doc 1 fills the bucket; docs 2 and 3 still compare against it, but
    // doc 2 was never STORED, so (3 -> 2) must not exist.
    assert(hits === Set((2L, 1L), (3L, 1L)))
  }

  test("streaming quality-filter twin matches the batch gopher rules") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The Gopher composite filter is a stateless narrow map, so its
    // streaming twin is the SAME QueryDef plan applied to a stream: no
    // state store, no watermark, append mode. Parity is checked against
    // the gated batch query on the real sf0.001 table.
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val batch = Catalog.queries("text_gopher_rules")(spark, dir)
      .select("doc_id", "keep").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    val in = MemoryStream[(Long, String, String, String, Long)]
    val tmp = tempDir("graft-gq").toString
    // Re-derive the same plan over the stream by writing the micro-batch
    // through the identical rule expressions (QueryDef.run needs a table
    // dir; the rule set lives in one place, so drive it via a parquet
    // round-trip of the streamed rows).
    val rows = docs.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    in.addData(rows.toSeq: _*)
    val streamedDF = in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = streamedDF.writeStream.format("parquet")
      .option("path", s"$tmp/documents.parquet")
      .option("checkpointLocation", s"$tmp/ck")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = Catalog.queries("text_gopher_rules")(spark, tmp.stripSuffix("/"))
      .select("doc_id", "keep").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(streamed === batch)
  }

  test("streaming heavy hitters match the gated batch sketch across batches") {
    import spark.implicits._
    import graft.streaming.StatefulOps.TermEvent
    val dir = "/root/testdata/sf0.001"
    // Batch truth: the gated SpaceSaving query (exact regime: capacity
    // 256 >> vocabulary).
    val batch = graft.Catalog.queries("text_top_terms")(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSet
    val evs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(graft.ops.TextOps.tokens(col("text"))).as("term"))
      .orderBy("doc_id").select("lang", "term").collect()
      .map(r => TermEvent(r.getString(0), r.getString(1)))
    // The per-group sketch state must carry across micro-batch splits;
    // each group's last snapshot is its result.
    def snapshots(out: Seq[Seq[StatefulOps.TopTermRow]]) =
      out.flatMap(_.groupBy(_.grp)).toMap.view.mapValues(_.map(t => (t.rk, t.term, t.cnt))).toMap
    val streamed = snapshots(restartEquivalent(inBatches(evs.toSeq, 3), "update")(
      StatefulOps.streamingTopTerms(_, 256, 5)))
    assert(streamed.toSeq.flatMap { case (g, rows) => rows.map(r => (g, r._1, r._2, r._3)) }
      .toSet === batch)
    // Two batches in which en's top term flips from alpha to beta: the
    // final top-2 is the exact count over both batches.
    val flip = Seq(
      Seq("en" -> "alpha", "en" -> "alpha", "en" -> "beta", "de" -> "eins", "de" -> "zwei"),
      Seq("en" -> "beta", "en" -> "beta", "en" -> "beta", "de" -> "eins", "de" -> "eins"))
      .map(_.map { case (g, t) => TermEvent(g, t) })
    val flipped = restartEquivalent(flip, "update")(StatefulOps.streamingTopTerms(_, 32, 2))
    assert(snapshots(flipped.take(1))("en").head === ((1, "alpha", 2L)))
    assert(snapshots(flipped) === Map(
      "en" -> Seq((1, "beta", 4L), (2, "alpha", 2L)),
      "de" -> Seq((1, "eins", 3L), (2, "zwei", 1L))))
  }

  test("streaming time-in-range converges to the batch clinical report across batches") {
    import spark.implicits._
    import graft.streaming.StatefulOps.GlucoseReading
    val dir = "/root/testdata/sf0.001"
    val batch = graft.Catalog.queries("ref_time_in_range")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    val evs = graft.Tables.events(spark, dir)
      .selectExpr("user_id", "CAST(ts AS LONG) AS sec", "event_id", "value")
      .orderBy("sec", "event_id").collect()
      .map(r => GlucoseReading(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val latest = restartEquivalent(inBatches(evs.toSeq, 3), "update")(
      StatefulOps.streamingTimeInRange).flatten.map(t => t.userId -> t).toMap
    val streamed = latest.view.mapValues(t => (t.totalSec, t.veryLowSec,
      t.lowSec, t.inRangeSec, t.highSec, t.veryHighSec, t.tirMicro)).toMap
    assert(streamed === batch)
  }

  test("streaming CMS sketch equals the batch UDAF bit-for-bit across batches") {
    import spark.implicits._
    import graft.streaming.StatefulOps.HashEvent
    val dir = "/root/testdata/sf0.001"
    // Batch truth: the same cms_counts UDAF the gated query runs,
    // per source group.
    val batch = graft.Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.ops.TextOps.tokens(col("text"))).as("term"))
      .select(col("source"), graft.ops.TextOps.hash64(col("term")).as("h"))
      .groupBy("source").agg(expr("cms_counts(h)").as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    val evs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(graft.ops.TextOps.tokens(col("text"))).as("term"))
      .select(col("doc_id"), col("source"),
        graft.ops.TextOps.hash64(col("term")).as("h"))
      .orderBy("doc_id").select("source", "h").collect()
      .map(r => HashEvent(r.getString(0), r.getLong(1)))
    val latest = restartEquivalent(inBatches(evs.toSeq, 3), "update")(
      StatefulOps.streamingCms).flatten.map(e => e.grp -> e).toMap
    assert(latest.keySet === batch.keySet)
    for ((g, sk) <- batch) {
      assert(java.util.Arrays.equals(latest(g).sketch, sk),
        s"sketch drift for group $g")
      assert(latest(g).total === evs.count(_.grp == g).toLong)
    }
  }

  test("streaming HLL distinct estimate matches the batch sketch across batches") {
    import spark.implicits._
    import graft.streaming.StatefulOps.IdEvent
    val dir = "/root/testdata/sf0.001"
    // Batch truth: Spark's own hll_sketch_agg at the same lgConfigK.
    val batch = graft.Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(doc_id, 12))").as("est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val evs = graft.Tables.documents(spark, dir)
      .select(col("source"), col("doc_id")).orderBy("doc_id").collect()
      .map(r => IdEvent(r.getString(0), r.getLong(1)))
    // The second batch replays the first in full (at-least-once): set
    // semantics mean the duplicates cannot move any estimate.
    val Seq(b1, b2, b3) = inBatches(evs.toSeq, 3)
    val latest = restartEquivalent(Seq(b1, b1, b2, b3), "update")(
      StatefulOps.streamingDistinct(_, 12)).flatten.map(e => e.grp -> e.est).toMap
    assert(latest === batch)
  }

  test("streaming trend arrows equal the batch classification across micro-batches") {
    import spark.implicits._
    import graft.streaming.StatefulOps.GlucoseReading
    val dir = "/root/testdata/sf0.001"
    val batch = Catalog.queries("ref_trend_arrows")(spark, dir)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
        ((Option(r.getAs[java.lang.Double]("rate")).map(_.toDouble),
          r.getAs[String]("arrow")))).toMap
    val evs = graft.Tables.events(spark, dir)
      .select(col("user_id"), expr("CAST(ts AS LONG)").as("sec"),
        col("event_id"), col("value"))
      .orderBy("sec", "event_id").collect()
      .map(r => GlucoseReading(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val got = restartEquivalent(inBatches(evs.toSeq, 3), "append")(
      StatefulOps.streamingTrendArrows).flatten
      .map(a => (a.userId, a.eventId) -> (a.rate, a.arrow)).toMap
    assert(got.size === batch.size)
    assert(got === batch)
  }

  test("streaming CDC classify equals the batch changelog across micro-batches") {
    import spark.implicits._
    import graft.streaming.StatefulOps.CdcUpdate
    val dir = "/root/testdata/sf0.001"
    val batch = Catalog.queries("stream_cdc_classify")(spark, dir)
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[String]("status")).toMap
    val evs = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("CAST(ts AS LONG)").as("sec"), col("event_id"), col("value"))
      .orderBy("sec", "event_id").collect()
      .map(r => CdcUpdate(r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val got = restartEquivalent(inBatches(evs.toSeq, 3), "append")(
      StatefulOps.streamingCdcClassify).flatten.map(c => c.eventId -> c.status).toMap
    assert(got.size === batch.size)
    assert(got === batch)
  }

  test("streaming discovery curve equals the batch cumulative distinct") {
    import spark.implicits._
    import graft.streaming.StatefulOps.TypeEvent
    val dir = "/root/testdata/sf0.001"
    val batch = Catalog.queries("q_cumulative_distinct")(spark, dir)
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[Long]("cum_distinct_types")).toMap
    val evs = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("CAST(ts AS LONG)").as("sec"), col("event_id"))
      .orderBy("sec", "event_id").collect()
      .map(r => TypeEvent(r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val got = restartEquivalent(inBatches(evs.toSeq, 3), "append")(
      StatefulOps.streamingDiscovery).flatten.map(r => r.eventId -> r.cumDistinct).toMap
    assert(got.size === batch.size)
    assert(got === batch)
  }

  test("streaming k-anonymity suppress-until-k equals the batch gate " +
    "across micro-batch splits") {
    import spark.implicits._
    import graft.streaming.StatefulOps.QiDoc
    val dir = "/root/testdata/sf0.001"
    val batch = Catalog.queries("stream_k_anon")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("qi"), r.getAs[Long]("released_by")))).toMap
    val docs = graft.Tables.documents(spark, dir)
      .select(concat_ws("|", col("source"), col("lang"),
        expr("n_chars div 1000")).as("qi"), col("doc_id"))
      .orderBy("doc_id").collect()
      .map(r => QiDoc(r.getString(0), r.getLong(1)))
    val got = restartEquivalent(inBatches(docs.toSeq, 3), "append")(
      StatefulOps.streamingKAnon(_, graft.queries.PipelineQueries.KAnon)).flatten
      .map(r => r.docId -> (r.qi, r.releasedBy)).toMap
    // Same published rows, same release attribution — and nothing from
    // a below-k class leaked.
    assert(got.size === batch.size)
    assert(got === batch)
  }

  test("streaming doubling-release DP counter equals the batch gate " +
    "across micro-batch splits") {
    import spark.implicits._
    import graft.streaming.StatefulOps.CatDoc
    val dir = "/root/testdata/sf0.001"
    val batch = Catalog.queries("stream_geo_dp")(spark, dir)
      .collect().map(r => (r.getAs[String]("qi"), r.getAs[Long]("true_n")) ->
        ((r.getAs[Long]("noise"), r.getAs[Long]("released_n"),
          r.getAs[Long]("released_at")))).toMap
    val docs = graft.Tables.documents(spark, dir)
      .select(col("lang").as("qi"), col("doc_id"))
      .orderBy("doc_id").collect()
      .map(r => CatDoc(r.getString(0), r.getLong(1)))
    val got = restartEquivalent(inBatches(docs.toSeq, 3), "append")(
      StatefulOps.streamingGeoDp).flatten
      .map(r => (r.qi, r.trueN) -> (r.noise, r.releasedN, r.releasedAt)).toMap
    assert(got.size === batch.size)
    assert(got === batch)
  }

  test("streaming binary-tree DP releases equal the batch gate at every " +
    "arrival across micro-batch splits") {
    import spark.implicits._
    import graft.streaming.StatefulOps.CatDoc
    val dir = "/root/testdata/sf0.001"
    val batch = Catalog.queries("stream_tree_dp")(spark, dir)
      .collect().map(r => (r.getAs[String]("qi"), r.getAs[Long]("true_n")) ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Long]("released_n")))).toMap
    val docs = graft.Tables.documents(spark, dir)
      .select(col("lang").as("qi"), col("doc_id"))
      .orderBy("doc_id").collect()
      .map(r => CatDoc(r.getString(0), r.getLong(1)))
    val got = restartEquivalent(inBatches(docs.toSeq, 3), "append")(
      StatefulOps.streamingTreeDp).flatten
      .map(r => (r.qi, r.trueN) -> (r.nNodes, r.releasedN)).toMap
    assert(got.size === batch.size) // one release per arrival, no extras
    assert(got === batch)
  }

  test("streaming Stupid-Backoff scoring equals the gated batch serve " +
    "rows across micro-batch splits") {
    import spark.implicits._
    import graft.streaming.StatefulOps.LmDoc
    val dir = "/root/testdata/sf0.001"
    // Batch truth: the gated serve view (non-train docs only).
    val batch = Catalog.queries("stream_lm_score")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getDouble(6), r.getBoolean(7)))).toMap
    // Train ONCE batch-side, broadcast the count tables as a driver
    // model (the Brants serving shape), stream the non-train docs.
    val model = graft.streaming.StatefulOps.trainSbModel(
      graft.Tables.documents(spark, dir), col("lang") === "en")
    // Same NULL semantics as the gate's NOT-predicate filter: a doc
    // whose lang is NULL is neither train nor served.
    val docs = graft.Tables.documents(spark, dir)
      .filter(!(col("lang") === "en"))
      .select(col("doc_id"), col("text")).collect()
      .map(r => LmDoc(r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1)))
    val got = restartEquivalent(inBatches(docs.toSeq, 3), "append")(
      StatefulOps.streamingLmScore(_, model)).flatten
      .map(r => r.docId -> (r.nTrigrams, r.nTriHit, r.nBiBack, r.nUniBack, r.nOov,
        r.sbScore, r.flagged)).toMap
    assert(got.size === batch.size)
    assert(got === batch)
    // the corpus must exercise the backoff ladder BELOW the trigram
    // level somewhere (the shared synthetic vocab means true OOV may
    // not exist; the scalar OOV branch is pinned separately below)
    val sums = got.values.foldLeft((0L, 0L, 0L, 0L)) { (a, v) =>
      (a._1 + v._2, a._2 + v._3, a._3 + v._4, a._4 + v._5) }
    assert(sums._1 > 0, "no trigram hits at all")
    assert(sums._2 + sums._3 + sums._4 > 0, "backoff never taken")
    // OOV branch: a doc of never-seen tokens scores 0 trigram mass
    // and flags.
    val oov = graft.streaming.StatefulOps.streamingLmScore(
      Seq(graft.streaming.StatefulOps.LmDoc(
        999999L, "zzq1 zzq2 zzq3 zzq4")).toDS(), model).collect()(0)
    assert(oov.nOov === 2L && oov.nTrigrams === 2L &&
      oov.sbScore === 0.0 && oov.flagged)
  }

  test("streaming Kneser-Ney scoring equals the gated batch serve rows " +
    "across micro-batch splits") {
    import spark.implicits._
    import graft.streaming.StatefulOps.LmDoc
    val dir = "/root/testdata/sf0.001"
    // Batch truth: the gated KN serve view (non-train docs only) —
    // rows derived from the same knBigram pipeline text_kneser_ney
    // gates, filtered to the serve slice.
    val batch = Catalog.queries("stream_kn_score")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getBoolean(6)))).toMap
    val model = graft.streaming.StatefulOps.trainKnModel(
      graft.Tables.documents(spark, dir), col("lang") === "en")
    val docs = graft.Tables.documents(spark, dir)
      .filter(!(col("lang") === "en"))
      .select(col("doc_id"), col("text")).collect()
      .map(r => LmDoc(r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1)))
    val got = restartEquivalent(inBatches(docs.toSeq, 3), "append")(
      StatefulOps.streamingKnScore(_, model)).flatten
      .map(r => r.docId -> (r.nBigrams, r.nKnHit, r.nContBack, r.nOov, r.knScore,
        r.flagged)).toMap
    assert(got.size === batch.size)
    assert(got === batch)
    // the ladder's levels must all be exercised somewhere: KN hits
    // and at least one continuation-backoff or OOV occurrence
    val sums = got.values.foldLeft((0L, 0L, 0L)) { (a, v) =>
      (a._1 + v._2, a._2 + v._3, a._3 + v._4) }
    assert(sums._1 > 0, "no KN bigram hits at all")
    assert(sums._2 + sums._3 > 0, "interpolation backoff never taken")
    // OOV branch: never-seen tokens score 0 and flag; the unseen-
    // CONTEXT branch (pcont without ctx) is covered by the corpus
    // parity above when a serve doc opens with a train-continuation.
    val oov = graft.streaming.StatefulOps.streamingKnScore(
      Seq(graft.streaming.StatefulOps.LmDoc(
        999999L, "zzq1 zzq2 zzq3")).toDS(), model).collect()(0)
    assert(oov.nOov === 2L && oov.nBigrams === 2L &&
      oov.knScore === 0.0 && oov.flagged)
  }

  test("streaming WordPiece tokenization equals the gated batch serve " +
    "rows across micro-batch splits (JVM max-munch vs the HOF fold)") {
    import spark.implicits._
    import graft.streaming.StatefulOps.LmDoc
    val dir = "/root/testdata/sf0.001"
    val batch = Catalog.queries("stream_wordpiece")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val vocab = graft.streaming.StatefulOps.trainWpVocab(
      graft.Tables.documents(spark, dir), col("lang") === "en")
    assert(vocab.size <= 2 * graft.ops.TextOps.WpVocabTop + 72,
      s"vocab not bounded: ${vocab.size}")
    val docs = graft.Tables.documents(spark, dir)
      .filter(!(col("lang") === "en"))
      .select(col("doc_id"), col("text")).collect()
      .map(r => LmDoc(r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1)))
    val got = restartEquivalent(inBatches(docs.toSeq, 2), "append")(
      StatefulOps.streamingWordPiece(_, vocab)).flatten
      .map(r => r.docId -> (r.nWords, r.nPieces, r.nUnk, r.docFp)).toMap
    assert(got.size === batch.size)
    assert(got === batch)
    // the serve slice must actually exercise tokenization (nonzero
    // words and multi-piece segmentations somewhere)
    assert(got.values.map(_._1).sum > 0L)
    assert(got.values.exists(v => v._2 > v._1),
      "no word ever split into multiple pieces")
    // long-word [UNK] rule through the streaming path
    val unk = graft.streaming.StatefulOps.streamingWordPiece(
      Seq(LmDoc(999999L, "abcdefghijklmnopq ok")).toDS(), vocab).collect()(0)
    assert(unk.nUnk === 1L && unk.nWords === 2L)
    // multilingual degrade through the streaming path: non-ASCII runs
    // are COUNTED [UNK] words (naïve = na/[UNK ï]/ve, Cyrillic and CJK
    // runs one [UNK] each), matching the widened batch extraction —
    // and the JVM twin agrees with the batch HOF fold on the same text
    val ms = graft.streaming.StatefulOps.streamingWordPiece(
      Seq(LmDoc(999998L, "naïve КОСМОС 漢字 ok")).toDS(), vocab).collect()(0)
    assert(ms.nWords === 6L, s"words counted, not dropped: $ms")
    assert(ms.nUnk >= 3L, s"non-ASCII runs degrade to [UNK]: $ms")
    val msBatch = graft.ops.TextOps.wordPieceServe(
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .limit(0)
        .unionAll(Seq((999998L, "naïve КОСМОС 漢字 ok"))
          .toDF("doc_id", "text"))
        .unionAll(graft.Tables.documents(spark, dir)
          .filter(col("lang") === "en")
          .select(col("doc_id"), col("text"))),
      col("doc_id") =!= 999998L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).find(_._1 == 999998L).get
    assert((msBatch._2, msBatch._3, msBatch._4, msBatch._5) ===
      ((ms.nWords, ms.nPieces, ms.nUnk, ms.docFp)),
      s"batch $msBatch vs stream $ms")
  }

  test("streaming crawl-intake equals the gated batch pipeline rows " +
    "across micro-batch splits (independent JVM regex chain vs the " +
    "codegen'd probe frames)") {
    import spark.implicits._
    import graft.streaming.StatefulOps.LmDoc
    val d = "/root/testdata/sf0.001"
    val batch = Catalog.queries("pipeline_crawl_intake")(spark, d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4))))
      .toMap
    val iq = graft.queries.IndexQueries
    // the gate's own raw-page derivation, composed in plain Scala
    val docs = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val t = if (r.isNullAt(1)) "" else r.getString(1)
        val suffix = if (r.getLong(0) % 3 == 0) " " + iq.MojibakeFix
                     else " " + iq.MultiScript
        LmDoc(r.getLong(0), iq.HtmlPre + t + suffix + iq.HtmlPost)
      }
    val got = restartEquivalent(inBatches(docs.toSeq, 2), "append")(
      StatefulOps.streamingCrawlIntake).flatten
      .map(r => r.docId -> (r.nClean, r.nMojibake, r.dominant, r.keep)).toMap
    assert(got.size === batch.size)
    assert(got === batch)
    // the fixture must exercise BOTH keep branches
    assert(got.values.exists(_._4) && got.values.exists(!_._4))
  }

  test("streaming EWMA snapshot is bit-equal to the batch fold across micro-batches") {
    import spark.implicits._
    import graft.streaming.StatefulOps.GlucoseReading
    val dir = "/root/testdata/sf0.001"
    val batch = Catalog.queries("ref_ewma_trend")(spark, dir)
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_readings"), r.getAs[Double]("ewma")))).toMap
    val evs = graft.Tables.events(spark, dir)
      .select(col("user_id"), expr("CAST(ts AS LONG)").as("sec"),
        col("event_id"), col("value"))
      .orderBy("sec", "event_id").collect()
      .map(r => GlucoseReading(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val latest = restartEquivalent(inBatches(evs.toSeq, 3), "update")(
      StatefulOps.streamingEwma).flatten.map(e => e.userId -> e).toMap
    assert(latest.keySet === batch.keySet)
    for ((u, (n, e)) <- batch) {
      assert(latest(u).n === n)
      assert(latest(u).ewma === e, s"ewma drift for user $u")
    }
  }

  test("streaming KMV sketch is byte-equal to the batch aggregator across batches and replays") {
    import spark.implicits._
    import graft.streaming.StatefulOps.IdEvent
    val dir = "/root/testdata/sf0.001"
    val k = 32
    // Batch truth: the SAME typed aggregator the gate query uses.
    val batch = graft.Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(graft.catalyst.KmvSketchAgg.kmvSketch(col("doc_id"), k).as("sk"))
      .collect().map(r => (r.getString(0), r.getSeq[Long](1).toSeq)).toMap
    val evs = graft.Tables.documents(spark, dir)
      .select(col("source"), col("doc_id")).orderBy("doc_id").collect()
      .map(r => IdEvent(r.getString(0), r.getLong(1)))
    val Seq(b1, b2, b3) = inBatches(evs.toSeq, 3)
    val latest = restartEquivalent(Seq(b1, b1, b2, b3), "update")( // b1 replayed
      StatefulOps.streamingKmv(_, k)).flatten.map(e => e.grp -> e).toMap
    assert(latest.keySet === batch.keySet)
    for ((g, sk) <- batch) {
      assert(latest(g).sketch === sk, s"kmv state drift for group $g")
      assert(latest(g).sketchN === sk.length)
    }
  }

  test("WARC -> WET extraction is stream-stateless: the SAME " +
    "warcHtmlText body over a readStream of segments equals the batch " +
    "rows across micro-batch splits, gzip and plain members mixed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.MultimodalOps
    import graft.sources.WarcCodec
    def blob(id: Long): (Long, Array[Byte]) = {
      val html = s"<p>page $id &#8217;</p>".getBytes("US-ASCII")
      (id, WarcCodec.buildWarc(Seq(
        ("warcinfo", "", Array.tabulate(7)(_.toByte)),
        ("response", s"https://s.org/$id", html)),
        gzipPerRecord = id % 2 == 1))
    }
    val blobs = (1L to 20L).map(blob)
    val batch = MultimodalOps.warcHtmlText(
        blobs.toDF("doc_id", "bytes"), "doc_id", "bytes")
      .collect().map(r => r.docId -> ((r.targetUri, r.text))).toMap
    val got = scala.collection.mutable.Map[Long, (String, String)]()
    val in = MemoryStream[(Long, Array[Byte])]
    val q = MultimodalOps.warcHtmlText(
        in.toDS().toDF("doc_id", "bytes"), "doc_id", "bytes")
      .writeStream.outputMode("append")
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[MultimodalOps.WetRow],
         _: Long) =>
          ds.collect().foreach(r => got(r.docId) = (r.targetUri, r.text))
      }.start()
    in.addData(blobs.take(9): _*); q.processAllAvailable()
    in.addData(blobs.drop(9): _*); q.processAllAvailable(); q.stop()
    assert(got.toMap === batch)
    assert(batch(3L)._2.contains("page 3"), "payload really extracted")
  }
}
