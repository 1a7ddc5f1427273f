package graft.tools

import graft.Catalog

/** Warm per-query profiler: two timed passes over every catalog query at
  * the given SF dir (arg 0, default sf0.1) — pass 1 ≈ codegen+JIT, pass 2
  * ≈ steady state. Sorted by warm time, worst first. Optional arg 1: a
  * comma-separated query-name filter (same convention as Verify). */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only: Option[Set[String]] =
      args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = graft.GraftSession(32)
    // Artifact stores default ON (the Bench defaults) so an isolated
    // Profile run measures the same amortized shared-artifact reality
    // the bench does — an unset dir made graph_diameter/graph_harmonic
    // pay a ~7 s k-NN rebuild in judge-isolated runs. With a fresh
    // store the FIRST timed query to touch a shared artifact pays its
    // one-off build inside its cold number — pin SPARK_GRAFT_ARTIFACT_DIR
    // to a pre-built store when that matters.
    graft.Artifacts.setUp(spark)
    def t(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val rows = Catalog.all.filter(q => only.forall(_(q.name))).map { q =>
      val cold = t(graft.Materialize(q.run(spark, sfDir)))
      val warm = t(graft.Materialize(q.run(spark, sfDir)))
      (q.name, cold, warm)
    }
    println(f"PROFILE ${"query"}%-30s ${"cold"}%8s ${"warm"}%8s   ($sfDir)")
    rows.sortBy(-_._3).foreach { case (n, c, w) =>
      println(f"PROFILE $n%-30s $c%8.2f $w%8.2f")
    }
    println(f"PROFILE TOTAL${""}%-25s ${rows.map(_._2).sum}%8.2f ${rows.map(_._3).sum}%8.2f")
    spark.stop()
  }
}
