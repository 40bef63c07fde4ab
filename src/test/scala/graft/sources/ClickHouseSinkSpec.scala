package graft.sources

import java.sql.{Date, DriverManager}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the ClickHouse-dialect loader two ways: the generated statement
  * TEXT is character-for-character the reference's
  * (/root/reference/dags/main.py:415,420,422), and the same load path —
  * bare-year date normalization, truncate-if-exists, 2000-row batches —
  * round-trips through a real JDBC engine (embedded Derby, ANSI dialect
  * spelling of the same statements).
  */
class ClickHouseSinkSpec extends SparkSpec {
  import spark.implicits._

  System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))

  private val geoColumns = graft.etl.GeoEstatePipeline.CsvSchema.fieldNames.toSeq

  test("ClickHouse statement text matches the reference loader exactly") {
    val d = ClickHouseSink.ClickHouseDialect
    assert(d.countSql("geo_estate_data") === "SELECT count() FROM geo_estate_data")
    assert(d.truncateSql("geo_estate_data") ===
      "ALTER TABLE geo_estate_data DELETE WHERE 1=1")
    assert(d.insertSql("geo_estate_data", geoColumns) ===
      "INSERT INTO geo_estate_data (house_id, latitude, longitude, " +
        "maintenance_year, square, population, region, locality_name, " +
        "address, full_address, communal_service_id, description) VALUES")
    assert(d.insertPreparedSql("t", Seq("a", "b")) ===
      "INSERT INTO t (a, b) VALUES (?, ?)")
  }

  test("normalizeYearToDate repairs bare years and nulls garbage, like the reference") {
    val got = ClickHouseSink.normalizeYearToDate(
        Seq(("1985"), ("2001-07-15"), ("19x5"), ("n/a"), (null: String))
          .toDF("maintenance_year"),
        "maintenance_year")
      .as[Option[Date]].collect().toSeq
    assert(got === Seq(Some(Date.valueOf("1985-01-01")),
      Some(Date.valueOf("2001-07-15")), None, None, None))
  }

  test("load round-trips through Derby at batch=2000 with truncate-if-exists") {
    val db = s"graft_ch_${System.nanoTime()}"
    val url = s"jdbc:derby:$db;create=true"
    val setup = DriverManager.getConnection(url)
    setup.createStatement().execute(
      "CREATE TABLE geo_t (house_id BIGINT, maintenance_year DATE, square DOUBLE)")
    setup.close()

    // 4503 rows over 5 partitions: each partition fills zero full 2000-row
    // batches plus a ragged one, exercising both executeBatch paths.
    val df = ClickHouseSink.normalizeYearToDate(
      spark.range(0, 4503)
        .select(col("id").as("house_id"),
          concat(lit("19"), lpad((col("id") % 100).cast("string"), 2, "0"))
            .as("maintenance_year"),
          (col("id") * 1.5).as("square"))
        .repartition(5),
      "maintenance_year")

    def count(): Long = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          ClickHouseSink.AnsiDialect.countSql("geo_t"))
        rs.next(); rs.getLong(1)
      } finally c.close()
    }

    // first load: table empty, truncate is a no-op
    ClickHouseSink.load(df, "geo_t", url, ClickHouseSink.AnsiDialect)
    assert(count() === 4503L)
    // re-load with truncate-if-exists: count stays, not doubles
    ClickHouseSink.load(df, "geo_t", url, ClickHouseSink.AnsiDialect)
    assert(count() === 4503L)
    // append mode doubles
    ClickHouseSink.load(df, "geo_t", url, ClickHouseSink.AnsiDialect,
      truncateIfExists = false)
    assert(count() === 9006L)

    // the normalized dates landed as real DATEs: id 7 → year 1907-01-01
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT maintenance_year FROM geo_t WHERE house_id = 7 FETCH FIRST ROW ONLY")
      rs.next()
      assert(rs.getDate(1) === Date.valueOf("1907-01-01"))
    } finally c.close()
  }

  test("ClickHouse deleteWhereSql uses the MergeTree mutation idiom, synchronously") {
    // mutations_sync = 1: the epoch wipe must be visible before the
    // replacement insert, or a reader between the two sees both copies
    assert(ClickHouseSink.ClickHouseDialect.deleteWhereSql("t", "epoch_id = 3") ===
      "ALTER TABLE t DELETE WHERE epoch_id = 3 SETTINGS mutations_sync = 1")
    assert(ClickHouseSink.AnsiDialect.deleteWhereSql("t", "epoch_id = 3") ===
      "DELETE FROM t WHERE epoch_id = 3")
  }

  test("streamLoad round-trips through Derby exactly-once per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val db = s"graft_chs_${System.nanoTime()}"
    val url = s"jdbc:derby:$db;create=true"
    val setup = DriverManager.getConnection(url)
    setup.createStatement().execute(
      "CREATE TABLE ev_t (event_id BIGINT, val DOUBLE, epoch_id BIGINT)")
    setup.close()

    def q(sql: String): Long = {
      val c = DriverManager.getConnection(url)
      try { val rs = c.createStatement().executeQuery(sql); rs.next(); rs.getLong(1) }
      finally c.close()
    }

    // two real micro-batches through the writeStream face
    val input = MemoryStream[Long](spark)
    input.addData(1L to 120L: _*)
    val stream = input.toDF()
      .select(col("value").as("event_id"), (col("value") * 0.5).as("val"))
    val query = ClickHouseSink.streamLoad(stream, "ev_t", url,
      ClickHouseSink.AnsiDialect, batchSize = 50,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      query.processAllAvailable()
      input.addData(121L to 200L: _*)
      query.processAllAvailable()
    } finally query.stop()
    assert(q("SELECT COUNT(*) FROM ev_t") === 200L)
    assert(q("SELECT COUNT(DISTINCT epoch_id) FROM ev_t") >= 2L) // epochs stamped
    assert(q("SELECT CAST(SUM(event_id) AS BIGINT) FROM ev_t") === (200L * 201L) / 2)

    // replay of an epoch rewrites it in place — the exactly-once pin
    val epochs = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT DISTINCT epoch_id FROM ev_t ORDER BY epoch_id")
        val b = Seq.newBuilder[Long]
        while (rs.next()) b += rs.getLong(1)
        b.result()
      } finally c.close()
    }
    val replayEpoch = epochs.head
    val replayRows = spark.range(1, 121)
      .select(col("id").as("event_id"), (col("id") * 0.5).as("val"))
    ClickHouseSink.loadEpoch(replayRows, "ev_t", url, replayEpoch,
      ClickHouseSink.AnsiDialect, batchSize = 50)
    assert(q("SELECT COUNT(*) FROM ev_t") === 200L) // no duplication
    assert(q("SELECT CAST(SUM(event_id) AS BIGINT) FROM ev_t") === (200L * 201L) / 2)
  }

  // the reference geo_estate_data schema (main.py:114-126), declared
  // non-null exactly as its DDL does
  private def geoSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("house_id", IntegerType, nullable = false),
      StructField("latitude", DoubleType, nullable = false),
      StructField("longitude", DoubleType, nullable = false),
      StructField("maintenance_year", DateType, nullable = false),
      StructField("square", DoubleType, nullable = false),
      StructField("population", IntegerType, nullable = false),
      StructField("region", StringType, nullable = false),
      StructField("locality_name", StringType, nullable = false),
      StructField("address", StringType, nullable = false),
      StructField("full_address", StringType, nullable = false),
      StructField("communal_service_id", IntegerType, nullable = false),
      StructField("description", StringType, nullable = false)))
  }

  test("admin DDL text matches the reference provisioning task (main.py:95-137)") {
    val d = ClickHouseSink.ClickHouseDialect
    // main.py:113-130, whitespace-normalized: same identifiers, same
    // ClickHouse types in the same order, same engine + sort key
    assert(d.createTableSql("geo_estate_data", geoSchema, Seq("house_id")) ===
      "CREATE TABLE IF NOT EXISTS geo_estate_data (house_id Int32, " +
        "latitude Float64, longitude Float64, maintenance_year Date, " +
        "square Float64, population Int32, region String, " +
        "locality_name String, address String, full_address String, " +
        "communal_service_id Int32, description String) " +
        "ENGINE = MergeTree() ORDER BY house_id")
    assert(d.describeSql("geo_estate_data") === "DESCRIBE TABLE geo_estate_data")
    assert(d.createUserSql("airflow_user") ===
      "CREATE USER IF NOT EXISTS airflow_user IDENTIFIED WITH no_password")
    assert(d.grantSql("airflow_user",
        Seq("SELECT", "INSERT", "CREATE", "ALTER", "DROP"), "default.*") ===
      "GRANT SELECT, INSERT, CREATE, ALTER, DROP ON default.* TO airflow_user")
    // nullable fields wrap Nullable(T); unmappable types are rejected
    import org.apache.spark.sql.types._
    assert(d.columnType(LongType, nullable = true) === "Nullable(Int64)")
    intercept[IllegalArgumentException] {
      d.columnType(ArrayType(IntegerType), nullable = false)
    }
  }

  test("provisionTable creates from the Spark schema and describes, Derby round trip") {
    val db = s"graft_ddl_${System.nanoTime()}"
    val url = s"jdbc:derby:$db;create=true"
    val described = ClickHouseSink.provisionTable(url, "prov_t",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("house_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("square",
          org.apache.spark.sql.types.DoubleType, nullable = true),
        org.apache.spark.sql.types.StructField("region",
          org.apache.spark.sql.types.StringType, nullable = true))),
      orderBy = Seq("house_id"), dialect = ClickHouseSink.AnsiDialect)
    // the zero-row ANSI probe surfaces the created schema via metadata
    assert(described.map(_._1.toLowerCase) === Seq("house_id", "square", "region"))
    assert(described.map(_._2.toUpperCase) === Seq("BIGINT", "DOUBLE", "VARCHAR"))

    // the provisioned table accepts the full load path immediately
    val df = spark.range(0, 250)
      .select(col("id").as("house_id"), (col("id") * 1.5).as("square"),
        concat(lit("r"), (col("id") % 5).cast("string")).as("region"))
      .repartition(3)
    ClickHouseSink.load(df, "prov_t", url, ClickHouseSink.AnsiDialect, batchSize = 100)
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM prov_t")
      rs.next(); assert(rs.getLong(1) === 250L)
    } finally c.close()

    // describeTable on the existing table agrees with the provision-time view
    assert(ClickHouseSink.describeTable(url, "prov_t",
      ClickHouseSink.AnsiDialect) === described)

    // injection-shaped identifiers never reach the connection
    intercept[IllegalArgumentException] {
      ClickHouseSink.describeTable(url, "prov_t; DROP TABLE prov_t",
        ClickHouseSink.AnsiDialect)
    }
  }
}
