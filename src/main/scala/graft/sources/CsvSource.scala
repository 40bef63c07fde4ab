package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Hardened CSV ingestion (reference task 1, /root/reference/dags/main.py:149-168):
  * header, UTF-16, quoted multi-line fields, `"`-escape.
  *
  * Scale note: the reference relies on `inferSchema`, which is a second full
  * pass over the data — at 100 TB that doubles the scan — and it runs
  * eagerly, when the plan is built. Callers should pass an explicit schema:
  * then building the plan starts no Spark job and each action reads the
  * input once. Inference stays only as the no-schema default.
  *
  * With a schema the header is checked, not trusted: `enforceSchema=false`
  * makes every file's header name the schema's columns in order, so a file
  * whose header differs (e.g. two columns swapped) fails the read with
  * `FAILED_READ_FILE` instead of being read by position, mislabeled.
  *
  * UTF-16 + multiLine both force non-splittable file reads, so at scale the
  * input should be many files (parallelism = #files, not #blocks).
  */
object CsvSource {

  def read(
      spark: SparkSession,
      path: String,
      schema: Option[StructType] = None,
      encoding: String = "UTF-16",
      multiLine: Boolean = true,
      header: Boolean = true,
      escape: String = "\""
  ): DataFrame = {
    val base = spark.read
      .option("header", header.toString)
      .option("encoding", encoding)
      .option("multiLine", multiLine.toString)
      .option("escape", escape)
    schema match {
      case Some(s) => base.option("enforceSchema", "false").schema(s).csv(path)
      case None    => base.option("inferSchema", "true").csv(path)
    }
  }
}
