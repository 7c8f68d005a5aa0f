package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Audit-trail counts, regenerated from code rather than maintained by hand
  * (VERDICT r7 item 6). Run: `sbt "runMain graft.Counts"`. */
object Counts {
  def main(args: Array[String]): Unit = {
    println(s"queries=${SparkEntry.queries.size}")
    println(s"oracles=${SparkEntry.oracleSql.size}")
    println(s"no_oracle=${(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).toSeq.sorted.mkString(",")}")
  }
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failed query must stay VISIBLE: r7's testdata-schema drift broke 14
    // queries, and because failures only went to stderr they vanished from
    // the driver's correctness file instead of showing red (VERDICT r7 §2).
    // Record every failure in an errors.json sidecar next to oracle_sql.json.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (empty = clean run) so "no errors.json" is itself a
    // detectable staleness signal rather than ambiguous with success.
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
