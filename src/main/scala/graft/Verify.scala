package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.engine.Engine.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b — re-dump a subset into an existing outDir when
    // iterating; the driver never sets it, so contract runs stay full.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    // `__EXPORT__` in an oracle resolves to this checkout's export root and
    // `__SF__` to the scale-factor directory's basename at dump time —
    // export-path oracles (c01/j01/h01) then point at THIS checkout's and
    // THIS rung's derived fixtures, so the sf1 stress gate covers the full
    // inventory instead of carving them out. The unresolved templates land
    // beside the oracles for selfcheck's absolute-path lint.
    val sfBase = new java.io.File(sfDir).getName
    val oracles = SparkEntry.oracleSql.filter { case (n, _) => only.forall(_.contains(n)) }
    def json(resolve: String => String): String =
      oracles.map { case (k, v) => s"${q(k)}: ${q(resolve(v))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(
      _.replace("__EXPORT__", queries.FormatQueries.exportBase).replace("__SF__", sfBase)))
    Files.writeString(Paths.get(s"$outDir/oracle_templates.json"), json(identity))
    spark.stop()
  }
}
