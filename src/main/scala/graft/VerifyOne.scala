package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dev tool: Verify for a SUBSET of queries — same parquet + oracle_sql
  * dump contract as [[Verify]] so tools/check.py works unchanged, but
  * only for the named queries (fast inner loop when adding an operator).
  * Usage: runMain graft.VerifyOne <sfDir> <outDir> <name> [name ...]
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: runMain graft.VerifyOne <sfDir> <outDir> <name...>")
      sys.exit(2)
    }
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSet
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = Tuning(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => names(kv._1)).foreach { case (name, fn) =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => names(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
