package perfbench

/** Writes `SparkEntry.oracleSql` (bare table names) as JSON to the path in
  * the first argument; `oracle_digests.py` runs it in DuckDB. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val json = Json.obj(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1): _*)
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)), json.getBytes("UTF-8"))
  }
}
