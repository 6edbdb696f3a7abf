package graft

/** Plan inspection CLI: prints the formatted physical plan of one or
  * all SparkEntry queries — the loop used to audit pushdown, pruning,
  * broadcast choices, and codegen coverage.
  *
  *   runMain graft.Explain <queryName|all> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("all")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder(cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val targets =
      if (name == "all") SparkEntry.queries.toSeq.sortBy(_._1)
      else Seq(name -> SparkEntry.queries(name))
    for ((n, fn) <- targets) {
      println(s"\n========== $n ==========")
      try fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
