package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bounded-state object aggregates: hash agg at any group count
      // (see Bench.scala — avoids the 128-group sort-based fallback)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in an entry's SQL would otherwise make a reader's
    // json.load fail and silently zero the whole correctness check.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for fast local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // entries.json lists what this run was asked for, and each entry's
    // previous result dir goes before it runs: tools/check.py compares
    // only the listed entries and reports one without a result as
    // MISSING, so no stale dir of an earlier run reads as a pass
    Files.writeString(Paths.get(s"$outDir/entries.json"),
      selected.map { case (name, _) => q(name) }.mkString("[", ",", "]"))
    selected.foreach { case (name, fn) =>
      GraftFs.delete(spark.sparkContext.hadoopConfiguration, s"$outDir/$name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
