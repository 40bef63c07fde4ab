package graft.etl

import java.nio.file.Paths
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.analytics.Stats
import graft.sources.CsvSource

/** `CsvSource` → `GeoEstatePipeline.fromCsv` → `Stats` over a committed,
  * hand-built copy of the reference input's hazards
  * (src/test/resources/houses_fixture.csv): UTF-16 with a BOM, quoted
  * multi-line addresses and descriptions, `""`-escaped quotes, NBSP
  * thousands separators, junk in every numeric column, out-of-range years
  * and blank text. The pinned answers are DuckDB's, computed independently
  * over a UTF-8 transcoding of the same file by tools/csv_fixture_answers.py.
  */
class CsvFixtureSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = Paths.get(getClass.getResource("/houses_fixture.csv").toURI).toString

  test("fixture answers through fromCsv match DuckDB's") {
    val raw = CsvSource.read(spark, fixture, schema = Some(GeoEstatePipeline.CsvSchema))
    val cleaned = GeoEstatePipeline.cleaned(GeoEstatePipeline.csvDirty(raw))
    val rules = GeoEstatePipeline.validityRules
    val counts = cleaned.agg(count(lit(1)),
      rules.map { case (_, ok) => sum(when(coalesce(ok, lit(false)), 0).otherwise(1)) }: _*).head()
    assert(counts.getLong(0) === 46L) // multi-line fields did not split rows
    assert(rules.indices.map(i => rules(i)._1 -> counts.getLong(i + 1)).toMap === Map(
      "square" -> 4L, "maintenance_year" -> 4L, "population" -> 2L, "latitude" -> 1L,
      "longitude" -> 1L, "region" -> 3L, "locality_name" -> 1L, "address" -> 1L))

    val houses = GeoEstatePipeline.fromCsv(spark, fixture).cache()
    try {
      val (n, minId, maxId) = houses.agg(count(lit(1)), min("house_id"), max("house_id"))
        .as[(Long, Long, Long)].head()
      assert((n, minId, maxId) === ((31L, 1L, 31L)))

      val stats = Stats.centralStats(houses, year(col("maintenance_year"))).head()
      assert(math.abs(stats.getAs[Double]("avg_v") - 1974.225806451613) < 1e-9)
      assert(stats.getAs[Double]("median_v") === 1978.0)

      assert(Stats.topGroupsByCount(houses, col("region"), 5).as[(String, Long)].collect().toSeq ===
        Seq(("Московская область", 8L), ("Москва", 7L), ("Санкт-Петербург", 4L),
          ("Краснодарский край", 3L), ("Республика Татарстан", 3L)))

      val top = Stats.topKFilter(houses, col("square") > 60, col("square"), Seq(col("house_id")), 25)
        .select("house_id", "src_id", "square").as[(Long, Long, Double)].collect().toSeq
      assert(top === Seq(
        (4L, 240L, 12000000.0), (2L, 57L, 3078.3), (17L, 913L, 2450.0), (23L, 919L, 1200.0),
        (9L, 905L, 1005.5), (21L, 917L, 310.0), (10L, 906L, 220.0), (5L, 901L, 150.75),
        (6L, 902L, 150.75), (24L, 920L, 133.3), (11L, 907L, 118.4), (28L, 924L, 107.0),
        (27L, 923L, 106.0), (26L, 922L, 105.0), (20L, 916L, 99.9), (18L, 914L, 88.1),
        (19L, 915L, 88.1), (31L, 927L, 84.0), (30L, 926L, 83.0), (29L, 925L, 82.0),
        (25L, 921L, 77.7), (15L, 911L, 75.25), (16L, 912L, 75.25), (1L, 8L, 72.5),
        (14L, 910L, 68.8)))
    } finally houses.unpersist()
  }

  test("fromCsv builds its plan without a Spark job") {
    val sc = spark.sparkContext
    val (group, marker) = ("csv-fixture-plan", "csv-fixture-marker")
    val started = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "fromCsv plan only")
      GeoEstatePipeline.fromCsv(spark, fixture)
      sc.setJobGroup(marker, "listener bus marker")
      sc.parallelize(Seq(1), 1).count()
      // the bus delivers events in order: once the marker's start has
      // arrived, so has every job the plan build started
      val deadline = System.nanoTime() + 30e9.toLong
      while (!started.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.contains(marker))
      assert(started.asScala.count(_ == group) === 0)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("fromCsv equals the former inferring plan when every numeric column carries junk") {
    import Cleaning._
    val raw = CsvSource.read(spark, fixture)
    Seq("latitude", "longitude", "maintenance_year", "square", "population").foreach { c =>
      assert(raw.schema(c).dataType === StringType, c)
    }
    val former = GeoEstatePipeline.typed(raw.select(
      col("house_id").cast(LongType).as("src_id"),
      cleanNumeric(col("square").cast(StringType), KeepNumericDot).as("square_s"),
      cleanNumeric(col("maintenance_year").cast(StringType), KeepDigits).as("year_s"),
      cleanNumeric(col("population").cast(StringType), KeepDigits).as("population_s"),
      cleanNumeric(col("latitude").cast(StringType), KeepSignedNumeric).as("latitude_s"),
      cleanNumeric(col("longitude").cast(StringType), KeepSignedNumeric).as("longitude_s"),
      col("region"), col("locality_name"), col("address")
    ).filter(GeoEstatePipeline.isValidHouse))
    val houses = GeoEstatePipeline.fromCsv(spark, fixture)
    assert(houses.schema === former.schema)
    assert(houses.orderBy("house_id").collect().toSeq === former.orderBy("house_id").collect().toSeq)
  }
}
