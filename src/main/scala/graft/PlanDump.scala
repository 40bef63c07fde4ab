package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `explain("formatted")` for a comma-separated list of queries to
  * one file per query — the per-query plan evidence the optimization
  * rounds commit as `plans/rN/<query>_{before,after}.txt`. The list
  * `all` dumps every query, the first 120 lines of each plan, into the
  * one file `<outDir>/<suffix>.md`: the plan-shape evidence
  * (PushedFilters, ReadSchema pruning, broadcast vs shuffle joins,
  * TakeOrderedAndProject, WholeStageCodegen spans) behind the scale claims
  * in SURVEY.md §5. Runs under [[GraftSession.local]], the config the
  * specs and the benchmark run under.
  *
  * Usage: `sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...|all> [sfDir]"`
  * e.g. `sbt "runMain graft.PlanDump plans/r19 before q_media_release"`
  * or `sbt "runMain graft.PlanDump . EXPLAIN all"` (writes EXPLAIN.md).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...|all> [sfDir]")
    val (outDir, suffix) = (args(0), args(1))
    val all = args(2) == "all"
    val names =
      if (all) SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.001")
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    // a failed explain still writes its plan text (the failure is itself
    // evidence worth inspecting) but the run EXITS NON-ZERO with the
    // failures named, so a contaminated plan dump cannot be committed
    // unnoticed as if it were a clean artifact (ADVICE r19)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    def explain(name: String): String = {
      val body =
        try SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable =>
          failed += name
          s"explain failed: ${e.getMessage}"
        }
      // building a frame executes its eager prefix (pins, staged builds);
      // release per query so a long dump list can't accumulate blocks
      CachePool.releaseAll(); spark.catalog.clearCache()
      body
    }
    Files.createDirectories(Paths.get(outDir))
    if (all) {
      val out = Paths.get(outDir, s"$suffix.md")
      val sb = new StringBuilder
      sb.append(s"# Physical plans (formatted explain, $sfDir)\n\n")
      sb.append(s"Regenerate: `sbt \"runMain graft.PlanDump $outDir $suffix all $sfDir\"`.\n")
      names.foreach { name =>
        val plan = explain(name).linesIterator.take(120).mkString("\n")
        sb.append(s"\n## $name\n\n```\n$plan\n```\n")
      }
      Files.writeString(out, sb.toString)
      println(s"[plandump] wrote $out")
    } else {
      names.foreach { name =>
        val out = Paths.get(outDir, s"${name}_$suffix.txt")
        Files.writeString(out, s"# $name ($suffix, $sfDir)\n${explain(name)}")
        println(s"[plandump] wrote $out")
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[plandump] FAILED explains: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
