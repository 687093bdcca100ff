package graft.tools
import java.nio.file.{Files, Paths}
/** Debug/tooling: print one query's oracle SQL to a file, or with name=ALL
  * a JSON map of every oracle (for tools/bench_duckdb.py). */
object DumpOracle {
  def main(args: Array[String]): Unit =
    if (args(0) == "ALL") graft.SparkEntry.writeOracleJson(args(1))
    else Files.writeString(Paths.get(args(1)), graft.SparkEntry.oracleSql(args(0)))
}
