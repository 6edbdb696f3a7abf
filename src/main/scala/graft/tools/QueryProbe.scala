package graft.tools

/** Iteration scratch harness (not a test): steady-state timing of one
  * or more queries (comma-separated), N interleaved rounds in a warm
  * JVM. Run with
  * `sbt "runMain graft.tools.QueryProbe q74_edit1_join 4"`.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val names =
      (if (args.nonEmpty) args(0) else "q74_edit1_join").split(",").map(_.trim).toSeq
    val reps = if (args.length > 1) args(1).toInt else 4
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val builder = graft.GraftSession.builder()
    // ad-hoc conf overrides for hypothesis testing, e.g.
    // SPARK_GRAFT_CONF="spark.sql.adaptive.coalescePartitions.enabled=false"
    sys.env.get("SPARK_GRAFT_CONF").foreach { kvs =>
      kvs.split(";").filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k.trim, v.trim)
      }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobLog = sys.env.get("SPARK_GRAFT_JOBLOG").contains("1")
    if (jobLog) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(j.jobId, (System.nanoTime(), j.stageInfos.size))
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val (t0, nStages) = starts.remove(j.jobId)
            println(f"[job] id=${j.jobId} stages=$nStages " +
              f"dur=${(System.nanoTime() - t0) / 1e9}%.3f s")
          }
        })
    }
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))
    // codegen warm at the small scale
    fns.foreach { case (_, fn) =>
      fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    }
    for (i <- 1 to reps; (name, fn) <- fns) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[probe] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
