package graft.tools

import graft.Catalog

/** Post-execution plan inspector: materializes a catalog query and prints
  * the FINAL adaptive plan's scan/exchange/reuse skeleton — the static
  * `Explain` output shows the pre-AQE plan, which hides runtime exchange
  * reuse (`ReusedExchange`/`ReusedSubquery` only appear after execution).
  * `runMain graft.tools.ReuseCheck <queryName> [sfDir]`. */
object ReuseCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(32)
    // Ground truth beyond plan strings: count executed stages and shuffle
    // bytes written — a reused exchange materializes its stage ONCE.
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          shuffleWrite.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
      })
    val d = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val df = if (args(0) == "--demo") {
      // Reuse sanity probe: a self-joined aggregate whose two branches are
      // canonically identical — if ReusedExchange does not appear here,
      // exchange reuse is off globally, not blocked by one expression.
      import org.apache.spark.sql.functions._
      val c = spark.range(1000000L)
        .groupBy((org.apache.spark.sql.functions.col("id") % 1000).as("k"))
        .agg(count(lit(1)).as("n"))
      c.as("a").join(c.as("b"), "k")
        .select(col("k"), (col("a.n") + col("b.n")).as("s"))
    } else Catalog.queries(args(0))(spark, d)
    graft.Materialize(df)
    val skeleton = df.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Scan parquet") || l.contains("Exchange") ||
        l.contains("Reused") || l.contains("Aggregate"))
      .mkString("\n")
    println(s"REUSECHECK ${args(0)}\n$skeleton")
    Thread.sleep(2000) // let listener events drain
    println(s"REUSECHECK stages=${stages.get} shuffleWriteMB=" +
      f"${shuffleWrite.get / 1048576.0}%.1f")
    spark.stop()
  }
}
