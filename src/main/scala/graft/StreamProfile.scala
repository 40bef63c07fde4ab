package graft
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Evidence tool (round 20, VERDICT r19 item 5): per-micro-batch duration
  * breakdown of the streaming drains — where each batch's wall-clock goes
  * (triggerExecution vs addBatch vs latestOffset/getBatch vs
  * queryPlanning vs walCommit/commitOffsets, plus state-store rows/bytes)
  * — the measurement the drain-floor audit needs before touching
  * anything. Not part of the graded surface.
  *
  * Usage: `sbt "runMain graft.StreamProfile q_stream_window[,q_x...]"`.
  */
object StreamProfile {
  val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  class ProgressTap extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      val dur = p.durationMs.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(" ")
      val state = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
        .map(s => s"rows=${s.numRowsTotal} updated=${s.numRowsUpdated} " +
          s"commitMs=${s.allUpdatesTimeMs + s.allRemovalsTimeMs + s.commitTimeMs}")
        .mkString(" | ")
      lines.add(f"batch ${p.batchId}%3d rows=${p.numInputRows}%6d " +
        s"durMs[$dur] state[$state]")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the drains run on s.newSession(), whose StreamingQueryManager does
    // not see spark.streams.addListener registrations; the static conf,
    // read from the system properties when the context starts,
    // instantiates [[ProgressTap]] in EVERY session
    sys.props("spark.sql.streaming.streamingQueryListeners") = classOf[ProgressTap].getName
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val names = args.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    names.foreach { name =>
      lines.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      println(s"==== $name total ${f"$total%.2f"} s ====")
      import scala.jdk.CollectionConverters._
      lines.asScala.foreach(l => println(s"  $l"))
      CachePool.releaseAll(); spark.catalog.clearCache()
    }
    spark.stop()
  }
}
