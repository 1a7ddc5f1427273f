package graft.tools

import scala.util.control.NonFatal

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
    // Artifact caches default ON (the Bench defaults) so an isolated
    // Profile run measures the same amortized shared-artifact reality
    // the bench does — an unset dir made graph_diameter/graph_harmonic
    // pay a ~7 s k-NN rebuild in judge-isolated runs. The env vars pin
    // a PRE-BUILT dir across processes; process-local temp dirs are
    // deleted on exit (ADVICE r10: they leaked one dir per run).
    // NOTE: with a fresh (non-env) cache dir, the FIRST timed query to
    // touch a shared artifact pays its one-off build inside its cold
    // number — pass SPARK_GRAFT_KNN_DIR/SPARK_GRAFT_PAIRS_DIR pointing
    // at a pre-built dir when that matters.
    def tempDir(prefix: String): String = {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } catch { case NonFatal(_) => () }))
      p.toString
    }
    spark.conf.set("graft.knn.dir",
      sys.env.getOrElse("SPARK_GRAFT_KNN_DIR", tempDir("graft-knn")))
    spark.conf.set("graft.pairs.dir",
      sys.env.getOrElse("SPARK_GRAFT_PAIRS_DIR", tempDir("graft-pairs")))
    spark.conf.set("graft.bfs.dir",
      sys.env.getOrElse("SPARK_GRAFT_BFS_DIR", tempDir("graft-bfs")))
    spark.conf.set("graft.fixture.dir",
      sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR", tempDir("graft-fixture")))
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
