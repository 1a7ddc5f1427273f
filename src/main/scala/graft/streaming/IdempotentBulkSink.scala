package graft.streaming

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Expression,
  InterpretedProjection}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** S8 — the reference's effectively-once Elasticsearch delivery
  * (ElasticSearchConsumer.java:36-63) re-expressed as a foreachBatch sink:
  *
  *   reference                          | here
  *   -----------------------------------+--------------------------------
  *   doc id = topic_partition_offset    | doc id = deterministic key cols
  *   (ElasticSearchConsumer.java:45)    |   (or batchId_rowHash fallback)
  *   bulk write then commitSync (:53-56)| bulk write inside foreachBatch,
  *                                      |   offsets committed to the
  *                                      |   checkpoint AFTER success
  *
  * At-least-once replay (a batch re-run after failure) re-sends the same
  * doc ids → the store upserts → effectively once. The client is a trait
  * so tests inject an in-memory store; production supplies an HTTP bulk
  * client with the same contract.
  */
trait BulkClient extends Serializable {
  /** Upsert all (id, json) pairs atomically-enough; throw to fail the batch
    * BEFORE offsets are committed. */
  def bulkUpsert(docs: Seq[(String, String)]): Unit
}

/** In-memory BulkClient for tests and local runs: last write per id wins,
  * mirroring the idempotent-upsert semantics of a document store.
  * Static map so executor-side writes (local mode) are visible to the
  * driver-side test. */
object InMemoryBulkClient extends BulkClient {
  val store = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val failures = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Fails exactly the next `n` bulk calls, also when concurrent
    * partitions of [[IdempotentBulkSink.writeBatchDistributed]] race for
    * them: each call takes one failure only while some are left. */
  def failNextBatches: Int = failures.get
  def failNextBatches_=(n: Int): Unit = failures.set(n)

  override def bulkUpsert(docs: Seq[(String, String)]): Unit = {
    if (failures.getAndUpdate(n => if (n > 0) n - 1 else n) > 0)
      sys.error("injected bulk failure")
    docs.foreach { case (id, json) => store.put(id, json) }
  }
}

object IdempotentBulkSink {

  /** Deterministic doc id from key columns — the analog of the reference's
    * topic_partition_offset (ElasticSearchConsumer.java:45). Each component
    * is length-prefixed (`len:value`) so key values containing the '_'
    * separator cannot collide: ("a_b","c") → "3:a_b_1:c" vs ("a","b_c") →
    * "1:a_3:b_c". A null component encodes as the bare token "null", which
    * cannot collide with a prefixed part (those start with a digit).
    * MIGRATION NOTE: this scheme replaced a plain concat_ws("_") — a
    * store populated under the old format will see replayed docs under
    * NEW ids (duplicates, not upserts); reindex or clear before
    * upgrading a live deployment. */
  def docId(keyCols: Seq[String]): org.apache.spark.sql.Column =
    concat_ws("_", keyCols.map { c =>
      val s = col(c).cast("string")
      when(s.isNull, lit("null"))
        .otherwise(concat(length(s).cast("string"), lit(":"), s))
    }: _*)

  /** Each row as (`__id`, `__doc`): its deterministic doc id and the
    * whole row as JSON. */
  private def payload(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.select(docId(keyCols).as("__id"), to_json(struct(df.columns.map(col): _*)).as("__doc"))

  /** What a bound payload depends on: the batch schema, the key columns,
    * and the session settings `to_json` and the id's casts read. */
  private final case class Binding(schema: StructType, keyCols: Seq[String],
                                   timeZone: String, ignoreNullFields: Boolean)

  /** Bound payloads by [[Binding]], least recently used first. A stream
    * keeps one schema for its life, so this holds at most 3 entries. */
  private val MaxBindings = 3
  private val bindings = new java.util.LinkedHashMap[Binding, Seq[Expression]](4, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Binding, Seq[Expression]]): Boolean =
      size > MaxBindings
  }

  /** [[payload]] analyzed once per [[Binding]] over an empty frame of the
    * batch's schema, with its runtime-replaceable expressions (`to_json`)
    * replaced, bound to the schema's ordinals. */
  private def boundPayload(df: DataFrame, keyCols: Seq[String]): Seq[Expression] = {
    val conf = df.sparkSession.sessionState.conf
    val key = Binding(df.schema, keyCols, conf.sessionLocalTimeZone,
      conf.getConf(SQLConf.JSON_GENERATOR_IGNORE_NULL_FIELDS))
    bindings.synchronized(bindings.computeIfAbsent(key, _ => {
      val empty = df.sparkSession.createDataFrame(java.util.List.of[Row](), df.schema)
      val Project(exprs, child) =
        ReplaceExpressions(payload(empty, keyCols).queryExecution.analyzed): @unchecked
      BindReferences.bindReferences(exprs, AttributeSeq(child.output))
    }))
  }

  /** One Spark job over the batch's rows: `perPartition` gets each
    * partition's (id, doc) pairs, in row order, from the bound payload
    * evaluated as an interpreted projection. A `foreachBatch` batch is a
    * frame over a `LogicalRDD` of rows Spark has already planned; the job
    * runs over that RDD itself, so no second query is analyzed, planned,
    * code-generated or posted as an SQL execution. Any other frame runs
    * its own plan's RDD. */
  private def payloadJob[U: ClassTag](df: DataFrame, keyCols: Seq[String])
                                     (perPartition: Iterator[(String, String)] => U): Array[U] = {
    val exprs = boundPayload(df, keyCols)
    val rows = df.queryExecution.logical match {
      case batch: LogicalRDD => batch.rdd
      case _ => df.queryExecution.toRdd
    }
    val session = ClassicConversions.castToImpl(df.sparkSession)
    // `to_json` builds its generator in the task, from the session
    // settings the job's properties carry.
    SQLExecution.withSQLConfPropagated(session) {
      session.sparkContext.runJob(rows, (task: TaskContext, it: Iterator[InternalRow]) => {
        val project = new InterpretedProjection(exprs)
        project.initialize(task.partitionId())
        perPartition(it.map { r =>
          val out = project(r)
          (out.getUTF8String(0).toString, out.getUTF8String(1).toString)
        })
      })
    }
  }

  /** The foreachBatch body: serialize rows, bulk-upsert with deterministic
    * ids, bounded bulk size (the reference's max.poll.records=100 analog).
    * Runs on the driver per micro-batch after collecting the (small,
    * post-aggregation) batch — for large sinks use [[writeBatchDistributed]].
    *
    * The payload is bound once, not planned per batch: Spark's
    * `ForeachBatchSink` has already planned the micro-batch and hands over
    * a frame over a `LogicalRDD` of its rows, so a `select(...).collect()`
    * here would analyze, optimize, plan and code-generate a second query
    * every batch, post a second SQL execution, and have the closure
    * cleaner re-parse `RDD` and `SparkContext`. Instead one job, whose
    * function is declared here, runs over that RDD. */
  def writeBatch(client: BulkClient, keyCols: Seq[String], bulkSize: Int = 100)
                (df: DataFrame, batchId: Long): Unit =
    payloadJob(df, keyCols)(_.toArray).flatten
      .grouped(bulkSize)
      .foreach(chunk => client.bulkUpsert(chunk.toSeq))

  /** Executor-side variant — the at-scale contract: each partition bulks
    * its own rows through a client it obtains itself (serializable
    * factory, so connections are per-executor, never serialized from the
    * driver). A partition failure fails the batch BEFORE the checkpoint
    * commits; the replay re-upserts the same deterministic ids — the same
    * effectively-once guarantee as the driver-side form, with no
    * collect() bottleneck. It shares [[writeBatch]]'s payload path, bound
    * once for the same reason: the `LogicalRDD` batch Spark hands over is
    * already planned, and a `foreachPartition` over a second query would
    * plan it again and have the closure cleaner re-parse `RDD`'s closures
    * every batch. */
  def writeBatchDistributed(clientFactory: () => BulkClient, keyCols: Seq[String],
                            bulkSize: Int = 100)
                           (df: DataFrame, batchId: Long): Unit =
    payloadJob(df, keyCols) { docs =>
      val client = clientFactory()
      docs.grouped(bulkSize).foreach(chunk => client.bulkUpsert(chunk))
    }
}
