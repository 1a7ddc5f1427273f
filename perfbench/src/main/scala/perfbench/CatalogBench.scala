package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{BuildLedger, Catalog, Materialize, QueryDef}

/** One query's share of a pass: construct is `QueryDef.run` (including
  * the Spark jobs it launches before returning its DataFrame), execute
  * is the noop-sink materialization the repo's Bench times. */
final case class QueryTiming(name: String, constructSecs: Double, executeSecs: Double,
                             error: Option[String]) {
  def wallSecs: Double = constructSecs + executeSecs
}

final case class PassResult(queries: Seq[QueryTiming], wallSecs: Double, builds: Int)

/** Catalog queries timed from outside: each pass runs every listed
  * query once, in a seed-chosen order, against the target tables. */
final class CatalogBench(spark: SparkSession, names: Seq[String], spans: SpanRecorder) {
  private val defs: Seq[QueryDef] = {
    val byName = Catalog.all.map(d => d.name -> d).toMap
    names.map(n => byName.getOrElse(n, sys.error(s"no catalog query $n")))
  }

  /** Untimed warm-up at a small scale: codegen and JIT, not the timed work. */
  def warmUp(dir: String): Unit = defs.foreach(d => Materialize(d.run(spark, dir)))

  def pass(dir: String, order: Seq[Int], parent: Int): PassResult = {
    val sc = spark.sparkContext
    val mark = BuildLedger.mark()
    val t0 = System.nanoTime()
    val timings = spans.timed(parent, "pass") { passId =>
      order.map(defs(_)).map { d =>
        var c0, c1, c2 = 0L
        val error =
          try {
            sc.setJobGroup(s"construct:${d.name}", d.name)
            c0 = System.nanoTime()
            val df = spans.timed(passId, "query.construct")(_ => d.run(spark, dir))
            c1 = System.nanoTime()
            sc.setJobGroup(s"execute:${d.name}", d.name)
            spans.timed(passId, "query.execute")(_ => Materialize(df))
            c2 = System.nanoTime()
            None
          } catch {
            case NonFatal(e) =>
              val now = System.nanoTime()
              if (c1 == 0) c1 = now
              c2 = now
              Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          } finally sc.clearJobGroup()
        QueryTiming(d.name, (c1 - c0) / 1e9, (c2 - c1) / 1e9, error)
      }
    }
    PassResult(timings, (System.nanoTime() - t0) / 1e9, BuildLedger.mark() - mark)
  }

  /** Untimed result dump for the DuckDB oracle: each query with its
    * presentation order, as parquet. Returns the oracle SQL of every
    * dumped query that has one, and the queries whose dump failed. */
  def dump(dir: String, out: String): (Map[String, String], Map[String, String]) = {
    val failed = Map.newBuilder[String, String]
    val sql = defs.flatMap { d =>
      try {
        d.runOrdered(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/${d.name}")
        d.oracle.map(d.name -> _)
      } catch {
        case NonFatal(e) => failed += d.name -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300); None
      }
    }.toMap
    (sql, failed.result())
  }
}
