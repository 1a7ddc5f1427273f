package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, DataStreamWriter, OutputMode}

import graft.model.Schemas
import graft.ops.EgvOps
import graft.plans.BoundStage

/** Streaming layer: the reference's Kafka topologies re-expressed on
  * Structured Streaming (SURVEY.md §2.1 S3-S7, §2.7 G1-G6).
  *
  * Design: every transform here is a `DataFrame => DataFrame` that works
  * identically on batch and streaming frames — the batch twins are what the
  * driver's oracle gate checks; these wrappers add only the source/sink
  * edges (Kafka options, watermarks, output modes, checkpointing).
  *
  * No Kafka broker exists in the test environment, and the
  * spark-sql-kafka connector jar is not in this Spark distribution
  * (`format("kafka")` resolves only on a deployment classpath that ships
  * it) — so the Kafka edges are exercised by schema-faithful unit tests
  * (the `key`/`value`/`timestamp` columns a Kafka source produces) and
  * MemoryStream end-to-end tests; the option wiring matches the
  * reference's delivery knobs (ProducerDexcom.java:66-89).
  */
object EgvStreams {

  /** S4/S5 — Kafka source (ConsumerDexcom.java:23-36,
    * StreamsFilterEgvs.java:27): subscribe from earliest; payload parsed
    * off the `value` column by [[parseEgvs]]. This and [[kafkaSink]] are
    * the production topic boundary. Nothing here calls them, because no
    * Kafka connector jar exists offline; they are kept so a deployment
    * that ships the connector wires the reference's topics unchanged. */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String,
                  startingOffsets: String = "earliest"): DataStreamReader =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)

  /** JSON value column → typed EGV columns (P4 decode,
    * ConsumerDexcom.java:38-45). Works on batch and streaming frames:
    * input needs `key: binary/string`, `value: binary/string`. Every EGV
    * topology starts here, so this is the stream boundary: it installs
    * Graft's session contract ([[graft.catalyst.GraftFunctions.register]])
    * on the frame's session, and a stream started from it commits its
    * logs through [[LocalCheckpointFileManager]]. */
  def parseEgvs(kafkaFrame: DataFrame): DataFrame = {
    graft.catalyst.GraftFunctions.register(kafkaFrame.sparkSession)
    kafkaFrame
      .select(col("key").cast("string").as("key"),
        from_json(col("value").cast("string"), Schemas.egv).as("egv"),
        col("timestamp"))
      .select(col("key"), col("timestamp"), col("egv.*"))
      .withColumn("systemTs", to_timestamp(col("systemTime")))
  }

  /** The reference's producer delivery knobs (ProducerDexcom.java:66-89):
    * idempotent producer, acks=all, snappy, linger 20 ms, 32 KB batches.
    * A constant so tests can guard against drift from the reference even
    * where `format("kafka")` itself cannot resolve (no connector jar in
    * the test environment). */
  val kafkaProducerOptions: Map[String, String] = Map(
    "kafka.enable.idempotence" -> "true",
    "kafka.acks" -> "all",
    "kafka.compression.type" -> "snappy",
    "kafka.linger.ms" -> "20",
    "kafka.batch.size" -> "32768")

  /** S3/S7 — Kafka sink with the reference's delivery knobs
    * ([[kafkaProducerOptions]]). `payload` rows are serialized to JSON.
    * The production topic boundary, kept though no Kafka connector jar
    * exists offline (see [[kafkaSource]]). */
  def kafkaSink[T](ds: Dataset[T], bootstrap: String, topic: String,
                   checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    ds.toDF()
      .select(to_json(struct(col("*"))).as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .options(kafkaProducerOptions)
      .option("checkpointLocation", checkpoint)

  /** The filter-high topology (StreamsFilterEgvs.java:24-32) as a
    * streaming transform: egvs_topic → value >= 200 → high_egvs. On a
    * stream the stage is planned once, here ([[graft.plans.BoundStage]]):
    * the reference builds its topology once and each record only runs
    * through its operators, where Spark would otherwise analyze, optimize,
    * plan and code-generate the same decode and filter on every trigger. */
  def filterHighTopology(parsed: DataFrame): DataFrame =
    BoundStage.wrap(EgvOps.filterHigh(parsed))

  /** The categorize-simple topology (CategorizeWithSimpleRule.java:47-70),
    * planned once on a stream for the reason [[filterHighTopology]]
    * gives. */
  def categorizeSimpleTopology(parsed: DataFrame): DataFrame =
    BoundStage.wrap(EgvOps.categorizeSimple(parsed))

  /** The KTable-lookup topology (CategorizeWithKTableLookup.java:47-79),
    * the Spark-native equivalent of the reference's fully-scanned local
    * state store (§3.2). Every trigger re-plans the query, and a join
    * rebuilds its static side's broadcast each time: one more Spark job
    * and a TorrentBroadcast per micro-batch. So when `ranges` is
    * driver-local (a `LocalRelation`, as `Seq(...).toDF` makes) and its
    * intervals are pairwise disjoint, its rows are read once, here, and
    * inlined as one CASE chain ([[EgvOps.inlineRangeLookup]]); on a
    * stream that stage is then planned once, here, as
    * [[filterHighTopology]]'s is, so a trigger neither re-optimizes nor
    * re-generates code for the decode and the chain. Any other ranges
    * frame (a table, a per-batch snapshot whose updates must land at the
    * next batch boundary, or overlapping intervals, where the join emits
    * every match) keeps the broadcast join of
    * [[EgvOps.categorizeWithLookup]], planned per batch. Both give the
    * same columns. */
  def categorizeLookupTopology(parsed: DataFrame, ranges: DataFrame): DataFrame = {
    val events = parsed.withColumn("ts", col("systemTs"))
    EgvOps.inlineRangeLookup(events, ranges).map(BoundStage.wrap)
      .getOrElse(EgvOps.categorizeWithLookup(events, ranges))
  }

  /** G5 — tumbling-window aggregation with explicit late-data policy
    * (the watermark the reference never had to choose). */
  def windowedCounts(parsed: DataFrame, window_ : String = "10 minutes",
                     watermark: String = "30 minutes"): DataFrame =
    parsed
      .withWatermark("systemTs", watermark)
      .groupBy(window(col("systemTs"), window_), col("trend"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
      .select(col("window.start").as("window_start"), col("trend"),
        col("n"), col("avg_value"))

  /** Streaming exact dedup with bounded state: duplicates arriving within
    * the watermark horizon are dropped; state for keys older than the
    * watermark is evicted (the unbounded-state hazard of plain
    * dropDuplicates on streams, solved the Spark-native way). */
  def streamingDedup(parsed: DataFrame, keyCols: Seq[String],
                     eventTimeCol: String, watermark: String): DataFrame =
    parsed
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** S6 — KTable upsert view per micro-batch: latest value per key in
    * offset order, for use inside foreachBatch (SURVEY.md §7.3.1). */
  def latestByKeyBatch(df: DataFrame, keyCols: Seq[String],
                       orderCol: String, tieCol: String): DataFrame =
    EgvOps.latestByKey(df, keyCols, orderCol, tieCol)
}
