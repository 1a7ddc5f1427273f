package graft.tools

import graft.Catalog

/** Plan inspection for any catalog query:
  * `runMain graft.tools.Explain <queryName> [sfDir]` prints the
  * formatted plan (codegen spans, pushed filters, exchanges). The final
  * plan is not executed, but note that ITERATIVE queries
  * (dedup_clusters, pipeline_corpus_curation) run their driver-side
  * fixpoint loop during DataFrame construction — expect real Spark jobs
  * before the plan prints for those. No args lists the catalog. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(32)
    args.headOption match {
      case None =>
        println("EXPLAIN usage: Explain <queryName> [sfDir]; catalog:")
        Catalog.all.map(_.name).sorted.foreach(n => println(s"EXPLAIN   $n"))
      case Some(name) =>
        val d = args.lift(1).getOrElse("/root/testdata/sf0.001")
        Catalog.queries.get(name) match {
          case Some(fn) => fn(spark, d).explain("formatted")
          case None => println(s"EXPLAIN unknown query: $name")
        }
    }
    spark.stop()
  }
}
