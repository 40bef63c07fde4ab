package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

import graft.SparkSpec

class EtlSpec extends SparkSpec {
  import spark.implicits._

  private val csvHeader = GeoEstatePipeline.CsvSchema.fieldNames.toSeq

  /** One UTF-16 file (with a BOM, like the reference's) under `dir`. */
  private def utf16Csv(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_16))

  test("cleanNumeric strips everything but the kept character class") {
    val df = Seq(("  123.45 м²  ", " 1980 г. ", " -55.7558° ")).toDF("sq", "yr", "lat")
    val r = df.select(
      Cleaning.cleanNumeric(col("sq"), Cleaning.KeepNumericDot).as("sq"),
      Cleaning.cleanNumeric(col("yr"), Cleaning.KeepDigits).as("yr"),
      Cleaning.cleanNumeric(col("lat"), Cleaning.KeepSignedNumeric).as("lat")
    ).as[(String, String, String)].head()
    assert(r === (("123.45", "1980", "-55.7558")))
  }

  test("validators accept clean values and reject garbage") {
    val df = Seq(
      ("123.45", "1980", "42", true),
      ("12.3.4", "198", "", false),
      ("", "19800", "x1", false)
    ).toDF("dbl", "yr", "int", "expect")
    val got = df.select(
      (Cleaning.validDouble(col("dbl")) && Cleaning.validYear(col("yr")) &&
        (Cleaning.validInt(col("int")) || col("int") === "42")).as("ok"),
      col("expect")).as[(Boolean, Boolean)].collect()
    got.foreach { case (ok, expect) => assert(ok === expect) }
  }

  test("Sampling: deterministic, rate-accurate, and split partitions are disjoint+exhaustive") {
    val docs = table("documents")
    val s1 = Sampling.hashSample(docs, col("doc_id"), 0.3).select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.hashSample(docs, col("doc_id"), 0.3).select("doc_id").as[Long].collect().toSet
    assert(s1 === s2) // same decision every run
    val n = docs.count().toDouble
    assert(math.abs(s1.size / n - 0.3) < 0.08, s"rate ${s1.size / n}")

    val Seq(train, valid, test) = Sampling.split(docs, col("doc_id"), Seq(8, 1, 1))
    val (tr, va, te) = (train.select("doc_id").as[Long].collect().toSet,
      valid.select("doc_id").as[Long].collect().toSet,
      test.select("doc_id").as[Long].collect().toSet)
    assert((tr & va).isEmpty && (tr & te).isEmpty && (va & te).isEmpty)
    assert((tr ++ va ++ te).size.toLong === docs.count())
    assert(tr.size > va.size && tr.size > te.size)

    val rates = Map("src0" -> 1.0, "src1" -> 0.0)
    val strat = Sampling.stratifiedHashSample(docs, col("source"), col("doc_id"), rates)
    val bySrc = strat.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(!bySrc.contains("src1") && bySrc.keySet.subsetOf(Set("src0")))
    assert(bySrc("src0") === docs.filter(col("source") === "src0").count())
  }

  test("splitPortable: replayable bucket arithmetic, disjoint/exhaustive, band-tight sizes") {
    val docs = table("documents")
    val w = Seq(0.8, 0.1, 0.1)
    val Seq(tr, va, te) = Sampling.splitPortable(docs, col("doc_id"), w)
      .map(_.select("doc_id").as[Long].collect().toSet)
    assert((tr & va).isEmpty && (tr & te).isEmpty && (va & te).isEmpty)
    val n = docs.count()
    assert((tr ++ va ++ te).size.toLong === n)
    // the bucket is plain BIGINT arithmetic — recompute it OUTSIDE Spark
    // (the exact expression the DuckDB oracle inlines) and check every
    // membership; the bounds are the Scala-computed splitBounds
    val bounds = Sampling.splitBounds(w)
    def bucket(id: Long): Long =
      ((((id & 2147483647L) * 2654435761L) % 4294967296L & 2147483647L) *
        2246822519L) % 4294967296L % 1000000L
    def expected(id: Long): Int = {
      val b = bucket(id)
      if (b < bounds(1)) 0 else if (b < bounds(2)) 1 else 2
    }
    tr.foreach(id => assert(expected(id) === 0, s"doc $id"))
    va.foreach(id => assert(expected(id) === 1, s"doc $id"))
    te.foreach(id => assert(expected(id) === 2, s"doc $id"))
    // two-round mixing keeps sequential-id splits far inside the 4-sigma
    // binomial band (the q_split_gate invariant)
    Seq((tr, 0.8), (va, 0.1), (te, 0.1)).foreach { case (s, wi) =>
      assert(math.abs(s.size - wi * n) <=
        4.0 * math.sqrt(wi * (1 - wi) * n) + 2.0, s"w=$wi size=${s.size}")
    }
    // splitByClusterPortable: clusters land whole on the rep's bucket
    val comp = spark.range(0, 100, 2).select(
      (col("id") + 1).as("id"), col("id").as("comp"))
    val byId = Sampling.splitByClusterPortable(docs, col("doc_id"), comp, w)
      .select("doc_id", "split").as[(Long, Int)].collect().toMap
    (0L until 100L by 2).foreach { even =>
      if (byId.contains(even) && byId.contains(even + 1))
        assert(byId(even) === byId(even + 1), s"pair ($even,${even + 1}) straddles")
      if (byId.contains(even)) assert(byId(even) === expected(even))
    }
    byId.filterNot { case (id, _) => id < 100 && id % 2 == 1 }.foreach {
      case (id, s) => assert(s === expected(id), s"singleton $id moved")
    }
  }

  test("splitByCluster: clusters land whole, singletons land exactly where split() puts them") {
    val docs = table("documents")
    // synthetic component map: pair up neighbouring ids (0,1), (10,11), …
    // — every even id in 0..98 represents itself and its successor
    val comp = spark.range(0, 100, 2).select(
        (col("id") + 1).as("id"), col("id").as("comp"))
    val w = Seq(0.8, 0.1, 0.1)
    val out = Sampling.splitByCluster(docs, col("doc_id"), comp, w)
    // exhaustive: every row kept, every row assigned
    assert(out.count() === docs.count())
    assert(out.filter(col("split").isNull || col("split") < 0 || col("split") > 2).count() === 0)
    // no cluster straddles: both members of each planted pair share a split
    val bySplit = out.select("doc_id", "split").as[(Long, Int)].collect().toMap
    (0L until 100L by 2).foreach { even =>
      if (bySplit.contains(even) && bySplit.contains(even + 1))
        assert(bySplit(even) === bySplit(even + 1), s"pair ($even, ${even + 1}) straddles")
    }
    // singleton rows (not in comp) get the SAME assignment as plain split()
    val plain = Sampling.split(docs, col("doc_id"), w).zipWithIndex
      .map { case (df, i) => df.select("doc_id").as[Long].collect().toSet.map((_: Long) -> i) }
      .reduce(_ ++ _).toMap
    bySplit.filterNot { case (id, _) => id < 100 && id % 2 == 1 }.foreach {
      case (id, s) => assert(plain(id) === s, s"singleton $id moved")
    }
  }

  test("stratifiedExactK keeps exactly min(k, n) per stratum, deterministically") {
    val docs = table("documents").select("doc_id", "source", "lang")
    val k = 4
    val sampled = Sampling.stratifiedExactK(docs, col("source"), col("doc_id"), k)
    // schema passes through untouched (helper columns dropped)
    assert(sampled.columns.toSeq === Seq("doc_id", "source", "lang"))
    val perSrc = sampled.groupBy("source").count().as[(String, Long)].collect().toMap
    val full = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(perSrc.keySet === full.keySet)
    perSrc.foreach { case (s, n) => assert(n === math.min(k.toLong, full(s))) }
    // deterministic: identical membership across runs
    val a = sampled.select("doc_id").as[Long].collect().toSet
    val b = Sampling.stratifiedExactK(docs, col("source"), col("doc_id"), k)
      .select("doc_id").as[Long].collect().toSet
    assert(a === b)
    // membership = the k smallest multiplicative hashes per stratum
    val h = docs.select(col("source"), col("doc_id"),
        ((col("doc_id").bitwiseAND(lit(2147483647L)) * 2654435761L) % 4294967296L).as("h"))
      .as[(String, Long, Long)].collect()
    val expect = h.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(r => (r._3, r._2)).take(k).map(_._2).toSeq
    }.toSet
    assert(a === expect)
    // a stratum smaller than k survives whole
    val tiny = Seq((1L, "only")).toDF("doc_id", "source")
    assert(Sampling.stratifiedExactK(tiny, col("source"), col("doc_id"), 5)
      .count() === 1L)
  }

  test("normalizeYearToDate: bare year → jan 1; full date parses; garbage → null") {
    val df = Seq("1985", "2001-07-15", "built", "").toDF("y")
    val got = df.select(Cleaning.normalizeYearToDate(col("y")).cast("string")).as[String]
      .collect().toSeq
    assert(got === Seq("1985-01-01", "2001-07-15", null, null))
  }

  test("reindexScalable assigns the same dense ids as the window reindex") {
    val df = table("orders").limit(500)
    val viaWindow = Cleaning.reindex(df, col("o_orderkey"), "rid")
      .select("rid", "o_orderkey").as[(Long, Long)].collect().sorted.toSeq
    val viaZip = Cleaning.reindexScalable(df, col("o_orderkey"), "rid")
      .select("rid", "o_orderkey").as[(Long, Long)].collect().sorted.toSeq
    assert(viaZip === viaWindow)
  }

  test("fromCsv runs the reference's REAL UTF-16 CSV end to end") {
    val houses = GeoEstatePipeline.fromCsv(
      spark, "/root/reference/data/russian_houses_slice.csv")
    val r = houses.agg(
      count(lit(1)), min("house_id"), max("house_id"),
      sum(when(col("square").isNull || col("maintenance_year").isNull ||
        col("latitude").isNull, 1).otherwise(0)),
      min(year(col("maintenance_year"))), max(year(col("maintenance_year")))
    ).as[(Long, Long, Long, Long, Int, Int)].head()
    val (n, minId, maxId, nulls, minYear, maxYear) = r
    // 7120 rows in the slice; 5333 pass the reference's validation
    // predicate (confirmed independently in DuckDB: 66 bad years, 497 bad
    // squares, 1466 bad populations, overlapping).
    assert(n === 5333L, s"$n valid rows from the reference CSV")
    assert(minId === 1L && maxId === n) // dense reindex
    assert(nulls === 0L)                // every survivor fully typed
    assert(minYear >= 1000 && maxYear <= 2025, s"years [$minYear, $maxYear]")
    // spot semantics: thousands separators stripped, decimals kept
    val sq = houses.filter(col("src_id") === 256).select("square").as[Double].head()
    assert(sq === 3078.30)
  }

  test("reference DAG answers on the REAL CSV match independent DuckDB computation") {
    // Expected values computed OUTSIDE Spark (DuckDB over the same CSV,
    // same validation predicate) — pinned here as the reference results.
    val houses = GeoEstatePipeline.fromCsv(
      spark, "/root/reference/data/russian_houses_slice.csv").cache()

    // avg + median maintenance year (reference task 4)
    val stats = graft.analytics.Stats.centralStats(houses, year(col("maintenance_year"))).head()
    assert(math.abs(stats.getAs[Double]("avg_v") - 1970.710856928558) < 1e-9)
    assert(stats.getAs[Double]("median_v") === 1971.0)

    // top regions by object count (reference task 5)
    val top3 = graft.analytics.Stats.topGroupsByCount(houses, col("region"), 3)
      .as[(String, Long)].collect().toSeq
    assert(top3 === Seq(("Москва", 305L), ("Московская область", 282L),
      ("Свердловская область", 238L)))

    // top-25 by square over 60 m² (reference task 11)
    val top = graft.analytics.Stats.topKFilter(houses, col("square") > 60,
        col("square"), Seq(col("house_id")), 25)
      .select("src_id", "square").as[(Long, Double)].collect().toSeq
    assert(top.length === 25)
    assert(top.take(3).map(_._1) === Seq(301445L, 528953L, 523014L))
    assert(top.head._2 === 270929.0)
  }

  test("fromCsv keeps an all-numeric column's digits (no double round-trip before the regex)") {
    val dir = Files.createTempDirectory("graft_csv_numeric")
    utf16Csv(dir, "h.csv", Seq(csvHeader.mkString(","),
      "1,55.755800,37.617300,1985,12000000,120,Москва,Москва,ул. Ленина,Москва,1,дом",
      "2,55.751200,37.618400,1972,54.5,45,Москва,Москва,ул. Мира,Москва,2,дом"))
    val squares = GeoEstatePipeline.fromCsv(spark, dir.toString)
      .orderBy("src_id").select("square").as[Double].collect().toSeq
    // Under the former inferring read, every value of `square` parsed, so the
    // column was inferred as double and went back to text through
    // cast(StringType) before the regex: 12000000 was re-spelled "1.2E7" and
    // cleaned to "1.27", so the row came back with square = 1.27.
    assert(squares === Seq(12000000.0, 54.5))
  }

  test("fromCsv fails on a file whose header swaps two columns instead of mislabeling it") {
    val dir = Files.createTempDirectory("graft_csv_drift")
    utf16Csv(dir, "a.csv", Seq(csvHeader.mkString(","),
      "1,55.755800,37.617300,1985,54.20,120,Москва,Химки,ул. Ленина,Москва,1,дом"))
    val swapped = csvHeader.updated(6, "locality_name").updated(7, "region")
    utf16Csv(dir, "b.csv", Seq(swapped.mkString(","),
      "2,55.755800,37.617300,1985,54.20,120,Химки,Москва,ул. Ленина,Москва,1,дом"))
    // the well-formed file alone reads fine
    assert(GeoEstatePipeline.fromCsv(spark, dir.resolve("a.csv").toString)
      .select("region").as[String].collect().toSeq === Seq("Москва"))
    // read by position, b.csv would put "Химки" under region; the header check refuses it
    val e = intercept[SparkException](GeoEstatePipeline.fromCsv(spark, dir.toString).collect())
    assert(e.getMessage.contains("FAILED_READ_FILE"), e.getMessage)
  }

  test("GeoEstatePipeline: every valid row survives with usable types") {
    val houses = GeoEstatePipeline.houses(spark, Sf)
    assert(houses.count() > 0)
    val r = houses.agg(
      min("house_id"), max("house_id"), count(lit(1)),
      sum(when(col("square").isNull || col("population").isNull, 1).otherwise(0))
    ).as[(Long, Long, Long, Long)].head()
    assert(r._1 === 1L)       // dense ids start at 1
    assert(r._2 === r._3)     // ...and are contiguous
    assert(r._4 === 0L)       // no nulls survive validation
  }
}
