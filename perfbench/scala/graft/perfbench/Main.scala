package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.{CachePool, GraftSession, SparkEntry}
import graft.analytics.Stats
import graft.etl.{Cleaning, GeoEstatePipeline}
import graft.sources.{BatchSink, ClickHouseSink, CsvSource}

/** The benchmark's JVM side: one session, one client thread, one operation
  * at a time. It runs an untimed warm-up pass over the workload's
  * operations at the small input, then the timed pass at the full input,
  * and writes raw timings, counters and answers to `<out>/result.json`
  * (spans to `<out>/spans.jsonl` when traced). `run.py` turns them into
  * metrics and checks the answers.
  *
  *   --workload etl_csv|batch_rows|rounds --trace 0|1 --out DIR
  *   --input DIR --warm-input DIR [--ops a,b,c] [--train 1]
  *   --op-limit-s S --budget-s B
  *
  * `--train 1` stops after the warm-up; run.py uses it to record the
  * classes a workload loads into a class-data sharing archive. An operation
  * gets at most `S` seconds, and none runs past `B` seconds after the JVM
  * started: at its deadline its Spark jobs, running and future, are
  * cancelled and the client thread is interrupted, so it ends with an error
  * and counts as failed; an operation left with no time is not started.
  */
object Main {

  /** One timed operation: builds its plan on `input` and materializes it,
    * writing any answer under `dest`; returns a JSON-ready answer or None.
    */
  final case class Op(name: String, run: (String, Path) => Option[Any])

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs(): Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  // seconds since JVM start, at nanosecond resolution
  private val base = System.nanoTime()
  private val baseUptime = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  private def now(): Double = baseUptime + (System.nanoTime() - base) / 1e9

  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private def span[T](name: String, stage: String, parent: Int)(body: => T): (T, Int) = {
    val id = spans.size
    spans += Map.empty
    val t0 = now()
    try (body, id)
    finally spans(id) = Map("id" -> id, "op" -> name, "stage" -> stage,
      "start" -> t0, "end" -> now(), "parent" -> parent)
  }

  private val timer = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "op-deadline")
    t.setDaemon(true)
    t
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opLimitS = opt.get("op-limit-s").map(_.toDouble).getOrElse(120.0)
    val budgetS = opt.get("budget-s").map(_.toDouble).getOrElse(Double.MaxValue)
    val workload = opt("workload")
    val traced = opt.get("trace").contains("1")
    val out = Paths.get(opt("out")).toAbsolutePath
    val input = Paths.get(opt("input")).toAbsolutePath.toString
    val warmInput = Paths.get(opt("warm-input")).toAbsolutePath.toString
    Files.createDirectories(out)
    val loadBefore = loadavg()

    val (spark, sessionId) = span("setup", "GraftSession.local", -1) {
      GraftSession.local(Runtime.getRuntime.availableProcessors())
    }
    val sc = spark.sparkContext
    val tap = new JobTap
    if (traced) sc.addSparkListener(tap)
    val (queries, queriesId) = span("setup", "SparkEntry.queries", -1)(SparkEntry.queries)

    val ops: Seq[Op] = workload match {
      case "etl_csv" => Etl.ops(spark, out)
      case _ =>
        opt("ops").split(",").toSeq.filter(_.nonEmpty).map { name =>
          val fn = queries(name)
          Op(name, (in, dest) => {
            fn(spark, in).write.mode("overwrite").parquet(dest.resolve(name).toString)
            None
          })
        }
    }

    def runOp(op: Op, in: String, dest: Path, group: String, parent: Int): Map[String, Any] = {
      val limitS = math.min(opLimitS, budgetS - now())
      sc.setJobGroup(group, op.name, interruptOnCancel = true)
      val persistent0 = sc.getPersistentRDDs.keySet
      val staging0 = SparkEntry.stagingNanos.get()
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val client = Thread.currentThread()
      var finished = false
      var timedOut = false
      val deadline = timer.schedule((() => client.synchronized {
        if (!finished) {
          timedOut = true
          sc.cancelJobGroupAndFutureJobs(group, s"operation deadline of $limitS s")
          client.interrupt()
        }
      }): Runnable, math.max(0L, (limitS * 1e3).toLong), java.util.concurrent.TimeUnit.MILLISECONDS)
      val (res, _) = span(op.name, "op", parent) {
        try {
          if (limitS <= 0) throw new java.util.concurrent.TimeoutException("not started: no time left")
          Right(op.run(in, dest))
        } catch { case e: Throwable => Left(e) }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val wall1 = System.currentTimeMillis()
      client.synchronized { finished = true }
      deadline.cancel(false)
      Thread.interrupted() // a deadline that fired as the operation ended
      sc.clearJobGroup()
      CachePool.releaseGroup(group)
      spark.catalog.clearCache()
      // persistent RDDs this operation made and left behind after its release
      val leaked = (sc.getPersistentRDDs.keySet -- persistent0).size
      org.apache.spark.BusDrain(sc)
      val error = res.swap.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(300))
      val base = Map[String, Any]("name" -> op.name, "wall_s" -> sec,
        "start_ms" -> wall0, "end_ms" -> wall1,
        "staging_s" -> (SparkEntry.stagingNanos.get() - staging0) / 1e9,
        "ok" -> res.isRight,
        "error" -> (if (timedOut) Some(s"timed out after $limitS s") else error),
        "answer" -> res.toOption.flatten,
        "leaked_rdds" -> leaked)
      if (!traced) base else base ++ tap.snapshot(group)
    }

    // Untimed warm-up over every operation at the small input: the timed pass
    // then measures steady-state engine cost, not first-call code generation.
    val warmDir = out.resolve("warm")
    val (warmRecords, warmId) = span("setup", "SparkEntry.warmup", -1) {
      ops.zipWithIndex.map { case (op, i) => runOp(op, warmInput, warmDir, s"warm-$i", -1) }
    }
    CachePool.releaseAll()
    spark.catalog.clearCache()
    StreamTap.batches.clear()
    if (opt.get("train").contains("1")) { // class-data archive training: warm-up only
      spark.stop()
      return
    }

    // ── timed pass ──
    val setupS = now()
    val staging0 = SparkEntry.stagingNanos.get()
    val cpu0 = osBean.getProcessCpuTime
    val gc0 = gcMs()
    val passStart = System.nanoTime()
    val dest = out.resolve("answers")
    val passId = spans.size
    val (records, _) = span(workload, "pass", -1) {
      ops.zipWithIndex.map { case (op, i) => runOp(op, input, dest, s"op-$i-${op.name}", passId) }
    }
    val wallS = (System.nanoTime() - passStart) / 1e9
    val cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
    val gcS = (gcMs() - gc0) / 1e3
    val stagingS = (SparkEntry.stagingNanos.get() - staging0) / 1e9
    val cachedPeak = tap.cachedPeakBytes

    // ── checks and traced extras, outside the timed pass ──
    val extra: Map[String, Any] =
      if (workload == "etl_csv") Etl.afterPass(spark, out, input, traced,
        (stage, body) => span("stages", stage, passId)(body()))
      else Map.empty

    org.apache.spark.BusDrain(sc)
    val streamBatches = StreamTap.batches.asScala.toSeq
    val conf = (sc.getConf.getAll.toMap ++ spark.conf.getAll).toSeq.sortBy(_._1).toMap
    val result = Map[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_conf" -> conf,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadavg(),
      "setup_s" -> setupS,
      "session_s" -> dur(sessionId), "queries_s" -> dur(queriesId), "warmup_s" -> dur(warmId),
      "wall_s" -> wallS, "cpu_s" -> cpuS, "gc_s" -> gcS, "staging_s" -> stagingS,
      "cached_peak_b" -> cachedPeak,
      "peak_rss_mb" -> vmHwmMb(),
      "ops" -> records,
      "warm_ops" -> warmRecords.map(r => Map("name" -> r("name"), "wall_s" -> r("wall_s"), "ok" -> r("ok"))),
      "stream_batches" -> streamBatches, "etl" -> extra)
    Files.writeString(out.resolve("result.json"), Json(result))
    if (traced)
      Files.writeString(out.resolve("spans.jsonl"), spans.map(Json(_)).mkString("", "\n", "\n"))
    spark.stop()
  }

  private def dur(id: Int): Double =
    spans(id)("end").asInstanceOf[Double] - spans(id)("start").asInstanceOf[Double]

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim catch { case _: Exception => "" }

  private def vmHwmMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  /** The reference DAG's steps over the generated CSV. Each operation
    * builds the full `fromCsv` plan (read, clean, validate, re-index, cast)
    * and then one step, as the composed Catalyst plan graft runs.
    */
  object Etl {
    val Table = "HOUSES"
    def jdbcUrl(out: Path): String = s"jdbc:derby:${out.resolve("derby").resolve("bench")};create=true"

    def ops(spark: SparkSession, out: Path): Seq[Op] = {
      def houses(in: String) = GeoEstatePipeline.fromCsv(spark, in)
      def rows(df: DataFrame): Option[Any] = Some(df.collect().toSeq.map(_.toSeq))
      val url = jdbcUrl(out)
      var provisioned = false
      Seq(
        Op("central_stats", (in, _) =>
          rows(Stats.centralStats(houses(in), year(col("maintenance_year"))))),
        Op("top_regions", (in, _) =>
          rows(Stats.topGroupsByCount(houses(in), col("region"), 10))),
        Op("top_cities", (in, _) =>
          rows(Stats.topGroupsByCount(houses(in), col("locality_name"), 10))),
        Op("minmax_square", (in, _) =>
          rows(Stats.minMaxByGroup(houses(in), col("region"), col("square")))),
        Op("decade_histogram", (in, _) =>
          rows(Stats.bucketHistogram(houses(in), year(col("maintenance_year")), 10, "decade"))),
        Op("topk_square60", (in, _) =>
          rows(Stats.topKFilter(houses(in), col("square") > 60, col("square"),
            Seq(col("house_id")), 25).select("house_id", "src_id", "square"))),
        Op("parquet_sink", (in, dest) => {
          BatchSink.writeParquetPartitioned(houses(in), dest.resolve("houses_parquet").toString,
            Seq("region"))
          None
        }),
        Op("jdbc_sink", (in, _) => {
          val h = houses(in)
          if (!provisioned) {
            ClickHouseSink.provisionTable(url, Table, h.schema, Nil, ClickHouseSink.AnsiDialect)
            provisioned = true
          }
          ClickHouseSink.load(h, Table, url, ClickHouseSink.AnsiDialect, batchSize = 2000)
          None
        }))
    }

    /** The CSV columns cleaned exactly as `GeoEstatePipeline.fromCsv` does. */
    private def prepared(spark: SparkSession, in: String): DataFrame = {
      import Cleaning._
      CsvSource.read(spark, in).select(
        col("house_id").cast(LongType).as("src_id"),
        cleanNumeric(col("square").cast(StringType), KeepNumericDot).as("square_s"),
        cleanNumeric(col("maintenance_year").cast(StringType), KeepDigits).as("year_s"),
        cleanNumeric(col("population").cast(StringType), KeepDigits).as("population_s"),
        cleanNumeric(col("latitude").cast(StringType), KeepSignedNumeric).as("latitude_s"),
        cleanNumeric(col("longitude").cast(StringType), KeepSignedNumeric).as("longitude_s"),
        col("region"), col("locality_name"), col("address"))
    }

    private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def afterPass(spark: SparkSession, out: Path, in: String, traced: Boolean,
                  stageSpan: (String, () => Unit) => Unit): Map[String, Any] = {
      val dest = out.resolve("answers").resolve("houses_parquet")
      val files = if (Files.isDirectory(dest))
        Files.walk(dest).iterator().asScala.filter(p => p.toString.endsWith(".parquet")).toSeq
      else Nil
      val parquetRows = try spark.read.parquet(dest.toString).count() catch { case _: Exception => -1L }
      val regions = try spark.read.parquet(dest.toString).select("region").distinct().count()
      catch { case _: Exception => -1L }
      val conn = java.sql.DriverManager.getConnection(jdbcUrl(out))
      val jdbc = try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT COUNT(*), SUM(house_id), SUM(CAST(population AS BIGINT)), " +
            s"SUM(CAST(YEAR(maintenance_year) AS BIGINT)), SUM(CAST(LENGTH(address) AS BIGINT)) FROM $Table")
        rs.next()
        (1 to 5).map(rs.getLong)
      } catch { case e: Exception => Seq(s"${e.getMessage}") } finally conn.close()
      val base = Map[String, Any](
        "parquet_files" -> files.size,
        "parquet_bytes" -> files.map(Files.size).sum,
        "parquet_rows" -> parquetRows,
        "parquet_regions" -> regions,
        "jdbc_checksum" -> jdbc,
        "csv_bytes" -> Files.list(Paths.get(in)).iterator().asScala
          .filter(_.toString.endsWith(".csv")).map(Files.size).sum)
      if (!traced) return base

      // Stage split: each stage materialized on its own, three times; the
      // median is kept, and self time is the difference from the stage before.
      def timed(stage: String)(df: => DataFrame): Double = {
        val runs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          stageSpan(stage, () => noop(df))
          (System.nanoTime() - t0) / 1e9
        }
        runs.sorted.apply(1)
      }
      val valid = GeoEstatePipeline.isValidHouse
      val read = timed("csv_read")(CsvSource.read(spark, in))
      val cleanValidate = timed("clean_validate")(prepared(spark, in).filter(valid))
      val cast = timed("cast")(GeoEstatePipeline.typedUnindexed(prepared(spark, in).filter(valid)))
      val reindex = timed("reindex")(GeoEstatePipeline.fromCsv(spark, in))
      import Cleaning._
      val rules = Seq(
        "square" -> validDouble(col("square_s")),
        "maintenance_year" -> validYear(col("year_s")),
        "population" -> validInt(col("population_s")),
        "latitude" -> validCoord(col("latitude_s")),
        "longitude" -> validCoord(col("longitude_s")),
        "region" -> isNotEmpty(col("region")),
        "locality_name" -> isNotEmpty(col("locality_name")),
        "address" -> isNotEmpty(col("address")))
      val counts = prepared(spark, in).agg(count(lit(1)),
        (rules.map { case (_, c) => sum(when(coalesce(c, lit(false)), 0).otherwise(1)) } :+
          sum(when(coalesce(valid, lit(false)), 1).otherwise(0))): _*).head()
      val perPartition = GeoEstatePipeline.fromCsv(spark, in).rdd
        .mapPartitions(it => Iterator(it.size.toLong)).collect()
      base ++ Map(
        "stage_s" -> Map("csv_read" -> read, "clean_validate" -> cleanValidate,
          "cast" -> cast, "reindex" -> reindex),
        "rows" -> counts.getLong(0),
        "valid_rows" -> counts.getLong(rules.size + 1),
        "rejects_by_rule" -> rules.indices.map(i => rules(i)._1 -> counts.getLong(i + 1)).toMap,
        "jdbc_batches" -> perPartition.map(n => (n + 1999) / 2000).sum)
    }
  }
}
