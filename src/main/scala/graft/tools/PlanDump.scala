package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump plans for named SparkEntry queries to files — the plan evidence an
  * optimization or refactor commits (run once from the pre-change tree for
  * the "before" set, once from the change for "after"):
  *   - `<query>_<suffix>.txt`: `.explain("formatted")` of the frame the
  *     query returns, normalised like the actions below;
  *   - `<query>_<suffix>_actions.txt`: the optimized plan of every action
  *     the query ran while it was built (a MERGE's stats collect and its
  *     writes, which the returned read never shows). Expression ids and
  *     temp paths are normalised and the actions sorted by text (writes
  *     that run concurrently finish in any order), so two trees' dumps
  *     compare with a plain `diff`.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, list) = args.take(4)
    val names = list.split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = graft.engine.Engine.defaultParallelism
    val spark = graft.engine.Engine.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    try graft.queries.FormatQueries.ensureExports(spark, sfDir)
    catch { case _: Throwable => () }
    val all = graft.SparkEntry.queries
    def write(file: String, text: String): Unit = {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, file), text)
      println(s"[plandump] wrote $outDir/$file")
    }
    names.foreach { name =>
      try {
        val (df, actions) =
          org.apache.spark.graft.ActionPlans.capture(spark)(all(name)(spark, sfDir))
        write(s"${name}_$suffix.txt", normalise(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode), sfDir))
        write(s"${name}_${suffix}_actions.txt", actions
          .map { case (fn, qe) =>
            s"== $fn ==\n${normalise(qe.optimizedPlan.treeString, sfDir)}"
          }
          .sorted.mkString("\n"))
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** Expression ids, plan and query-stage ids, the data, temp and checkout
    * directories, and the random or order-dependent parts of file names
    * (uuids, stamps, part numbers, fixture suffixes such as
    * `delta_upsert_x19-7e498888`, truncated scan locations, temp
    * directory numbers), the names of JVM lambda classes, object identity
    * hashes and commit-time literals vary run to run; plans do not. */
  def normalise(plan: String, sfDir: String): String = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath
    val checkout = new java.io.File(".").getCanonicalPath
    plan
      .replace(new java.io.File(sfDir).getCanonicalPath, "<sf>")
      .replace(tmp, "<tmp>")
      .replace(checkout + "/", "<checkout>/")
      .replaceAll("#\\d+L?", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("QueryStage \\d+", "QueryStage N")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}[0-9a-f-]*", "<uuid>")
      .replaceAll("part-\\d+-", "part-N-")
      .replaceAll("-[0-9a-f]{8}-part-N-", "-<stamp>-part-N-")
      .replaceAll("_graft_tmp_[a-z]*-?[0-9a-f]{8}", "_graft_tmp_<stamp>")
      .replaceAll("-[0-9a-f]{8}(?=[/,\\]\\s]|$)", "-<id>")
      .replaceAll("(Location: \\w+\\(\\d+ paths?\\))\\[[^\\s,\\]]*", "$1[<loc>")
      .replaceAll("Lambda\\$?\\d*/0x[0-9a-f]+@[0-9a-f]+", "Lambda<id>")
      .replaceAll("(\\w)@[0-9a-f]{4,8}\\b", "$1@<obj>")
      .replaceAll("-\\d{9,}(?=/)", "-<n>")
      .replaceAll("\\d{4}-\\d\\d-\\d\\d \\d\\d:\\d\\d:\\d\\d(\\.\\d+)?", "<ts>")
  }
}
