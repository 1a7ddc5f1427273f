package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's parquet tables (TESTDATA.md).
  *
  * All loaders are thin `spark.read.parquet` wrappers so Catalyst keeps full
  * pushdown/pruning ability (PushedFilters / ReadSchema reach the scan).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Inferred schemas by (qualified path, modification time, length, the
    * session's parquet read settings). Bounded: at most `SchemaMemoSize`
    * entries, least recently used out first; an entry is one StructType
    * of the table's few columns. The catalog reads ten tables per scale
    * directory. */
  private val SchemaMemoSize = 64
  private val schemas =
    new java.util.LinkedHashMap[AnyRef, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[AnyRef, StructType]): Boolean =
        size > SchemaMemoSize
    }

  /** `spark.read.parquet(path)`, without the schema-inference job on a
    * repeat read: Spark reads a parquet footer in a one-task job every
    * time it infers a schema, and every catalog query reads its tables
    * anew. A single file's schema is inferred once per file version (one
    * `getFileStatus` names it) and per parquet read settings, so
    * `spark.sql.legacy.parquet.nanosAsLong` still changes what `events`
    * infers; later reads pass it with `.schema`. A directory, or a path
    * that does not exist, is read as is. */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val status =
      try Some(p.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status.filter(_.isFile) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val settings = spark.sessionState.conf.getAllConfs.toSeq.filter {
          case (k, _) => k.startsWith("spark.sql.parquet.") ||
            k.startsWith("spark.sql.legacy.parquet.")
        }.sorted
        val key = (st.getPath.toString, st.getModificationTime, st.getLen,
          settings)
        schemas.synchronized(Option(schemas.get(key))) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.synchronized(schemas.put(key, df.schema))
            df
        }
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Loads `events`, normalizing `ts` to session-TZ TIMESTAMP regardless of
    * how the upstream export typed it. Exports have shipped `ts` as either
    * parquet TIMESTAMP(NANOS) (which Spark can only read as raw long via the
    * `nanosAsLong` legacy flag) or native timestamp[us] (which Spark reads as
    * TIMESTAMP_NTZ when isAdjustedToUTC=false). Dispatch on the loaded
    * schema so both load identically:
    *   - LongType (nanos export): floor-truncate ns→µs with integer `div`
    *     (no double-precision loss at ~1e18) — byte-identical to how DuckDB
    *     surfaces ns parquet columns as µs TIMESTAMP.
    *   - TimestampNTZ (µs export): cast to TIMESTAMP; the session TZ is UTC
    *     everywhere in this project, so the wall-clock epoch is unchanged
    *     and oracle hashes match DuckDB exactly.
    * The nanos branch is reached only after a plain read fails on the NANOS
    * type, so the legacy flag is never set for modern exports.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val legacyFlag = "spark.sql.legacy.parquet.nanosAsLong"
    val df =
      try parquet(spark, path)
      catch {
        case e: Exception if e.getMessage != null && e.getMessage.contains("NANOS") =>
          // The flag must OUTLIVE this call: parquet conversion consults
          // it again at physical planning, i.e. at first action on the
          // returned (lazy) frame — restoring it here would break that
          // frame. Announce the session-level change instead of making
          // it silently: any other TIMESTAMP(NANOS) parquet read in
          // this session will now surface as raw LONG too.
          System.err.println(
            s"[graft.Tables] $path is a TIMESTAMP(NANOS) export; " +
              s"enabling $legacyFlag for the SESSION (nanos columns " +
              "elsewhere will read as LONG)")
          spark.conf.set(legacyFlag, "true")
          parquet(spark, path)
      }
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
}
