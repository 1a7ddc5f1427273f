package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.Catalog

/** Round-scoped plan snapshots: writes `plans/<tag>/<query>_<suffix>.txt`
  * with the `explain("formatted")` output for each named catalog query —
  * the before/after evidence files the optimization rounds commit.
  *
  * Usage: runMain graft.tools.PlanSnap <tag> <suffix> <q1,q2,...> [sfDir]
  * e.g.   runMain graft.tools.PlanSnap r14 before sim_topk_ivf,text_bm25_query
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "PlanSnap <tag> <suffix> <q1,q2,...> [sfDir]")
    val (tag, suffix) = (args(0), args(1))
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession(32)
    // Mirror Bench's shared-artifact stores so the captured plans are the
    // bench's warm-consume shapes (without them, knnEdgesCached & co.
    // plan their full inline builds — a shape the timed pass never runs).
    graft.Artifacts.setUp(spark)
    val dir = Paths.get(s"plans/$tag")
    Files.createDirectories(dir)
    names.foreach { n =>
      Catalog.queries.get(n) match {
        case None => println(s"PLANSNAP unknown query: $n")
        case Some(fn) =>
          val plan = fn(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          Files.write(dir.resolve(s"${n}_$suffix.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val exchanges = "(?m)^\\(\\d+\\) (Exchange|BroadcastExchange)".r
            .findAllIn(plan).size
          println(f"PLANSNAP $n%-30s exchanges=$exchanges%2d -> $dir/${n}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
