package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named engine query: the Spark implementation plus (when the semantics
  * are SQL-expressible) a DuckDB oracle twin run by the driver's
  * correctness gate. Column names/order are identical on both sides;
  * every floating-point output column is rounded on both sides so
  * partial-aggregation order cannot flip a hash.
  *
  * `presentOrder` lists output columns that make row order deterministic
  * for the oracle dump. Verify applies it before writing (the oracle SQL
  * carries the matching ORDER BY); Bench runs the query WITHOUT it —
  * a presentation sort is not part of the analytic work, and `count()`
  * does not eliminate a top-level Sort+Exchange (measured). Semantic
  * sorts (top-k) stay inside `run`.
  */
final case class QueryDef(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    presentOrder: Seq[String] = Seq.empty) {

  /** The query on session `s` over the tables in `d`. Installs Graft's
    * functions and rules first, so the result and the plan do not depend
    * on which queries ran earlier in the session or how it was built. */
  def run(s: SparkSession, d: String): DataFrame = {
    graft.catalyst.GraftFunctions.register(s)
    body(s, d)
  }

  /** The query with deterministic presentation order, for oracle dumps. */
  def runOrdered(s: SparkSession, d: String): DataFrame = {
    val df = run(s, d)
    if (presentOrder.isEmpty) df
    else df.orderBy(presentOrder.map(org.apache.spark.sql.functions.col): _*)
  }
}

/** Noop-sink materialization shared by Bench and Profile: fully
  * materializes every output column. A `count()` pass instead lets
  * Catalyst prune unreferenced projections, so narrow-map queries would
  * be timed as little more than pruned scans. */
object Materialize {
  def apply(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Catalog {
  def all: Seq[QueryDef] =
    graft.queries.EgvQueries.defs ++
    graft.queries.ClinicalQueries.defs ++
    graft.queries.RelQueries.defs ++
    graft.queries.RelQueries2.defs ++
    graft.queries.RelQueries3.defs ++
    graft.queries.MergeQueries.defs ++
    graft.queries.TextQueries.defs ++
    graft.queries.QualityQueries.defs ++
    graft.queries.IndexQueries.defs ++
    graft.queries.CrawlQueries.defs ++
    graft.queries.DedupQueries.defs ++
    graft.queries.SimQueries.defs ++
    graft.queries.StreamParityQueries.defs ++
    graft.queries.MultimodalQueries.defs ++
    graft.queries.SkewQueries.defs ++
    graft.queries.SketchQueries.defs ++
    graft.queries.SampleQueries.defs ++
    graft.queries.PipelineQueries.defs ++
    graft.queries.ProfileQueries.defs ++
    graft.queries.TimeSeriesQueries.defs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(d => d.name -> (d.run _)).toMap

  def ordered: Map[String, (SparkSession, String) => DataFrame] =
    all.map(d => d.name -> (d.runOrdered _)).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
