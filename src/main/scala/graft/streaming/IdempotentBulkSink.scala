package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

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
  var failNextBatches: Int = 0
  override def bulkUpsert(docs: Seq[(String, String)]): Unit = {
    if (failNextBatches > 0) { failNextBatches -= 1; sys.error("injected bulk failure") }
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

  /** The foreachBatch body: serialize rows, bulk-upsert with deterministic
    * ids, bounded bulk size (the reference's max.poll.records=100 analog).
    * Runs on the driver per micro-batch after collecting the (small,
    * post-aggregation) batch — for large sinks use [[writeBatchDistributed]]. */
  def writeBatch(client: BulkClient, keyCols: Seq[String], bulkSize: Int = 100)
                (df: DataFrame, batchId: Long): Unit = {
    payload(df, keyCols).collect()
      .map { case Row(id: String, doc: String) => (id, doc) }
      .grouped(bulkSize)
      .foreach(chunk => client.bulkUpsert(chunk.toSeq))
  }

  /** Executor-side variant — the at-scale contract: each partition bulks
    * its own rows through a client it obtains itself (serializable
    * factory, so connections are per-executor, never serialized from the
    * driver). A partition failure fails the batch BEFORE the checkpoint
    * commits; the replay re-upserts the same deterministic ids — the same
    * effectively-once guarantee as the driver-side form, with no
    * collect() bottleneck. */
  def writeBatchDistributed(clientFactory: () => BulkClient, keyCols: Seq[String],
                            bulkSize: Int = 100)
                           (df: DataFrame, batchId: Long): Unit = {
    payload(df, keyCols).foreachPartition { (rows: Iterator[Row]) =>
      val client = clientFactory()
      rows.map { case Row(id: String, doc: String) => (id, doc) }
        .grouped(bulkSize)
        .foreach(chunk => client.bulkUpsert(chunk.toSeq))
    }
  }
}
