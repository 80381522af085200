package perfbench

import java.nio.file.{Files, Paths}

/** Writes `SparkEntry.oracleSql` for the named queries as one JSON object:
  *   perfbench.DumpOracle <out.json> <query>...
  * The checks run each statement in DuckDB on the same parquet files. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sql = graft.SparkEntry.oracleSql
    val json = args.tail.filter(sql.contains)
      .map(q => str(q) + ": " + str(sql(q))).mkString("{", ",\n", "}")
    Files.write(Paths.get(args.head), json.getBytes("UTF-8"))
  }
}
