package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query-name filter (exact names),
    // for fast local iteration. The driver always runs the full dump.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // A filtered run rewrites oracle_sql.json with only the subset; any
    // result dirs left over from a previous full dump would then be
    // compared as rows-only. Make that state impossible to miss.
    only.foreach { names =>
      System.err.println(
        s"[verify] FILTERED RUN (${names.size} queries): $outDir is NOT a " +
          "full dump; oracle_sql.json covers only the filtered subset.")
    }
    val spark = GraftSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    // Ordered variants: deterministic row order for the DuckDB hash compare
    // (Bench runs the same queries without the presentation sort).
    val failed = Catalog.ordered
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // One summary line, and a non-zero exit, so a failed query cannot
    // pass unnoticed.
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
    System.err.println("[verify] 0 failed")
  }
}
