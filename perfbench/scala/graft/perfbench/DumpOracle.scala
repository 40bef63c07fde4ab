package graft.perfbench

/** Writes `SparkEntry.oracleSql` and the sorted `SparkEntry.queries` names
  * as JSON to the file named by the first argument; `perfbench/oracle.py`
  * reads it to compute the expected answers.
  */
object DumpOracle {
  def main(args: Array[String]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), Json(Map(
      "queries" -> graft.SparkEntry.queries.keys.toSeq.sorted,
      "oracle_sql" -> graft.SparkEntry.oracleSql)))
}
