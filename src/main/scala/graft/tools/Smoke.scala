package graft.tools

/** Mirrors the driver's t1 smoke: run SparkEntry.entry, require rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(4)
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    println(s"SMOKE entry rows=$n schema=${df.schema.map(_.name).mkString(",")}")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
