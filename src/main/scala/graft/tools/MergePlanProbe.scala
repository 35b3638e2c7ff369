package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Planning-cost probe for the MERGE clause-classification arithmetic
  * (VERDICT r15 "wrong #1"): on a WIDE table the r15 rewrite re-derived
  * the first-match classification per FIELD as prefix-negated gate
  * chains, so the projection tree grew O(F × C²) in clause count C over
  * F fields — invisible at the fixture's 4 columns, real analysis/codegen
  * time on a 300-column CDC table. r16 computes the claiming clause ONCE
  * as a small-int column and branches each field on the int (O(F + C)).
  *
  * Methodology = the r14 8-pass same-JVM stage probe: the same statement
  * shape runs 8 times against a fresh copy of the same wide table, and
  * the per-pass minimum is the statement's fixed cost (data volume is
  * deliberately tiny — 2 000 rows — so wall time IS plan/analysis/codegen
  * time plus constant job overhead). Flat minima across clause counts =
  * the fixed cost no longer grows with the clause surface.
  *
  * Usage: runMain graft.tools.MergePlanProbe [nCols] [outDir]
  * Prints one JSON line: {"cols":N,"clauses":{"1":minSec,"3":…,"5":…}}
  */
object MergePlanProbe {

  private def mkWide(spark: SparkSession, root: String, nCols: Int): Unit = {
    val base = spark.range(0, 2000).toDF("id")
    val wide = (1 until nCols).foldLeft(base) { (df, i) =>
      df.withColumn(s"c$i", (col("id") * i % 97).cast("double"))
    }
    graft.catalog.Sinks.copyTo(wide, root, "delta", Map.empty)
  }

  private def mergeOnce(spark: SparkSession, root: String, src: DataFrame,
      nClauses: Int): Double = {
    val clauses = (0 until nClauses).map { i =>
      graft.catalog.MergeMatchedClause(Some(s"s.op = $i"),
        Some(Map("c1" -> s"s.c1 + $i")))
    }
    val t0 = System.nanoTime()
    graft.catalog.DeltaSink.mergeInto(spark, root, src, "t.id = s.id",
      matchedClauses = clauses)
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val nCols = if (args.length > 0) args(0).toInt else 300
    val out = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("mergeprobe").toString
    val spark = graft.engine.Engine.session()
    import spark.implicits._
    val src = (0 until 500).map(i => (i.toLong * 4, 1.0 * i, i % 6))
      .toDF("id", "c1", "op")
    val results = Seq(1, 3, 5).map { c =>
      val times = (0 until 8).map { pass =>
        val root = s"$out/wide_${c}_$pass"
        mkWide(spark, root, nCols)
        mergeOnce(spark, root, src, c)
      }
      c -> times.min
    }
    val json = results.map { case (c, t) => s""""$c":${f"$t%.3f"}""" }
      .mkString(",")
    println(s"""{"cols":$nCols,"clauses":{$json}}""")
    spark.stop()
  }
}
