package graft.catalog

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
import org.apache.spark.sql.types.StructField

/** One `WHEN MATCHED [AND <cond>] THEN UPDATE SET …` (`set` Some: table
  * column → expression) or `… THEN DELETE` (`set` None) clause; the same
  * shape serves `WHEN NOT MATCHED BY SOURCE`. See [[MergePlan]]. */
final case class MergeMatchedClause(cond: Option[String],
    set: Option[Map[String, String]])

/** One `WHEN NOT MATCHED [AND <cond>] THEN INSERT` clause: `proj` None is
  * the identity insert, Some a projection. See [[MergePlan]]. */
final case class MergeInsertClause(cond: Option[String],
    proj: Option[Map[String, String]])

/** The format-independent half of MERGE INTO, shared by
  * [[DeltaSink.mergeInto]] (copy-on-write) and [[IcebergSink.mergeInto]]
  * (merge-on-read): clause validation, first-match classification, SET
  * and INSERT projections, the fused stats job and the statement's pins.
  * Each sink keeps only its apply step — which files or positions to
  * replace and how to commit.
  *
  * The clause contract. `condSql` joins target and source, referenced as
  * `t.` and `s.`; a target row matching more than one source row rejects
  * the statement (the SQL MERGE cardinality rule) before anything is
  * written. Three ordered clause lists follow:
  *   - matched clauses (UPDATE SET / DELETE) act on joined pairs, and may
  *     reference both sides; SET expressions see the PRE-update row;
  *   - by-source clauses (`WHEN NOT MATCHED BY SOURCE`) act on target rows
  *     that match no source row, so their conditions and SET expressions
  *     see `t.` only — there is no source side;
  *   - insert clauses act on source rows that match no target row, and see
  *     `s.` only.
  *
  * Within each list a row takes the FIRST clause whose condition it
  * satisfies (SQL first-match order); a row satisfying none is left
  * alone — a matched or by-source row carries unchanged, an unmatched
  * source row does not insert. A condition that evaluates to NULL is NOT
  * satisfied: the row falls through to the next clause and is never
  * dropped out of both sides of a split. An absent condition always holds.
  *
  * An identity insert (`proj` None: `INSERT *`, or a column list mapping
  * every table column to the same-named source column) takes the source
  * row's own columns, cast to the table's types, so the source must carry
  * every table column; columns the table lacks (CDC metadata such as
  * `_change_type`) stay visible to the conditions and are projected
  * away. A projection insert (`INSERT (cols) VALUES (exprs)`) maps table
  * columns to expressions over the source row and NULL-fills the columns
  * it omits; the source then needs only the columns its expressions and
  * the conditions reference. */
private[catalog] final class MergePlan private (source: DataFrame, condSql: String,
    matchedClauses: Seq[MergeMatchedClause], bySourceClauses: Seq[MergeMatchedClause],
    insertClauses: Seq[MergeInsertClause], tableCols: Seq[String],
    fail: String => Exception) {
  import MergePlan._

  ((matchedClauses ++ bySourceClauses).flatMap(_.set) ++ insertClauses.flatMap(_.proj))
    .flatMap(_.keys).find(k => !tableCols.contains(k)).foreach { k =>
      throw fail(s"SET column `$k` is not in the table schema")
    }
  private val identityInsert = insertClauses.exists(_.proj.isEmpty)
  if (identityInsert)
    tableCols.find(c => !source.schema.fieldNames.contains(c)).foreach { c =>
      throw fail(s"MERGE source lacks table column `$c` (insert needs the full row)")
    }

  val matched = new Family(matchedClauses, "__mc")
  val bySource = new Family(bySourceClauses, "__bsc")
  val inserting: Boolean = insertClauses.nonEmpty
  val cond: Column = expr(condSql)

  /** The source side every join reads: an identity insert orders the
    * table's columns first; otherwise the source passes as it is. */
  val sourceRows: DataFrame =
    if (!identityInsert) source
    else source.select((tableCols ++
      source.schema.fieldNames.toSeq.filterNot(tableCols.contains)).map(col): _*)

  private val pinned = ArrayBuffer.empty[DataFrame]

  /** Persist `df` for the statement: a frame several consumers read (the
    * stats job, constraint checks, data and change writes) would re-run
    * its join once per consumer. Released when the statement ends. */
  def pin(df: DataFrame): DataFrame = {
    pinned += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** Matched pairs, classified by `__mc` — pinned. */
  def matchedPairs(target: DataFrame, src: DataFrame): DataFrame =
    pin(target.alias("t").join(src.alias("s"), cond, "inner")
      .withColumn("__mc", matched.classify))

  /** Target rows no source row matches, classified by `__bsc` — pinned;
    * null when there is no by-source clause. */
  def bySourceRows(target: DataFrame, src: DataFrame): DataFrame =
    if (!bySource.active) null
    else pin(target.alias("t").join(src.alias("s"), cond, "left_anti")
      .withColumn("__bsc", bySource.classify))

  /** Source rows no target row matches. */
  def unmatched(target: DataFrame, src: DataFrame): DataFrame =
    src.alias("s").join(target.alias("t"), cond, "left_anti")

  /** The inserted rows: each unmatched source row taken by its first
    * satisfied insert clause (`__ic`, computed once per row) and projected
    * per that clause onto `fields`; rows no clause takes drop out. */
  def insertRows(unmatched: DataFrame, fields: Seq[StructField]): DataFrame = {
    def value(f: StructField, i: Int): Column = insertClauses(i).proj match {
      case None => col(f.name).cast(f.dataType)
      case Some(p) => p.get(f.name).map(e => expr(e).cast(f.dataType))
        .getOrElse(lit(null).cast(f.dataType))
    }
    def insVal(f: StructField): Column =
      if (insertClauses.length == 1) value(f, 0)
      else insertClauses.indices.tail
        .foldLeft(when(col("__ic") === lit(0), value(f, 0))) {
          (acc, i) => acc.when(col("__ic") === lit(i), value(f, i))
        }
        .otherwise(lit(null).cast(f.dataType)) // unreachable under the filter
    unmatched.withColumn("__ic", clauseIdx(insertClauses.map(c => gate(c.cond))))
      .filter(col("__ic") >= 0)
      .select(fields.map(f => insVal(f).as(f.name)): _*)
  }

  /** ONE aggregation job for every family: the per-family one-row
    * aggregates union into a single collect, so each pinned frame
    * materializes inside one job whose independent stages run
    * concurrently. A target row is identified by its file plus `rowKey`
    * (an aliased column over `t.`). `withFiles` also collects the files
    * holding claimed rows; `inserts` adds the insert count. The ambiguity
    * check throws here, before anything is written. */
  def stats(pairs: DataFrame, rowKey: Column, bsRows: DataFrame,
      inserts: Option[DataFrame], withFiles: Boolean): MergeStats = {
    import org.apache.spark.sql.{functions => F}
    def counts(c: Column, fam: Family): Seq[Column] = Seq(
      F.sum(F.when(hit(c, fam.delIdx), 1L).otherwise(0L)).as("__ndel"),
      F.sum(F.when(hit(c, fam.updIdx), 1L).otherwise(0L)).as("__nupd"))
    def files(c: Column, file: String): Seq[Column] =
      if (withFiles) Seq(F.collect_set(F.when(c >= 0, col(file))).as("__files")) else Nil
    def row(kind: String, maxn: Column, ndel: Column, nupd: Column): Seq[Column] =
      Seq(lit(kind).as("__kind"), maxn, ndel, nupd) ++
        (if (withFiles) Seq(col("__files")) else Nil)
    val nullLong = lit(null).cast("long")
    val keyed = pairs.select(col("t.__file").as("__f"), rowKey, col("__mc"))
    val mStats = keyed.groupBy(keyed.columns.init.map(col).toSeq: _*)
      .agg(F.count(lit(1)).as("__n"), F.max(col("__mc")).as("__c"))
      .agg(F.max(col("__n")).as("__maxn"),
        counts(col("__c"), matched) ++ files(col("__c"), "__f"): _*)
      .select(row("m", col("__maxn"), col("__ndel"), col("__nupd")): _*)
    val bsStats =
      if (!bySource.active) Nil
      else {
        val aggs = counts(col("__bsc"), bySource) ++ files(col("__bsc"), "__file")
        Seq(bsRows.agg(aggs.head, aggs.tail: _*)
          .select(row("b", nullLong.as("__maxn"), col("__ndel"), col("__nupd")): _*))
      }
    val insStats = inserts.toSeq.map(_.agg(F.count(lit(1)).as("__n"))
      .select(Seq(lit("i").as("__kind"), nullLong.as("__maxn"),
        col("__n").as("__ndel"), nullLong.as("__nupd")) ++
        (if (withFiles) Seq(lit(null).cast("array<string>").as("__files")) else Nil): _*))
    val rows = (Seq(mStats) ++ bsStats ++ insStats).reduce(_ unionByName _)
      .collect().map(r => r.getString(0) -> r).toMap
    def long(r: org.apache.spark.sql.Row, i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    def fileSet(r: org.apache.spark.sql.Row) =
      if (withFiles) Option(r.getSeq[String](4)).getOrElse(Nil) else Nil
    val m = rows("m")
    if (long(m, 1) > 1) throw fail(
      "MERGE is ambiguous — multiple source rows match one target row")
    val b = rows.get("b")
    MergeStats(long(m, 2), long(m, 3), fileSet(m),
      b.map(long(_, 2)).getOrElse(0L), b.map(long(_, 3)).getOrElse(0L),
      b.map(fileSet).getOrElse(Nil), rows.get("i").map(long(_, 2)).getOrElse(0L))
  }

  private def release(): Unit = pinned.foreach(_.unpersist(blocking = false))
}

/** Per-statement row counts (and, for copy-on-write, the files holding
  * claimed rows) from [[MergePlan.stats]]. */
private[catalog] final case class MergeStats(deleted: Long, updated: Long,
    files: Seq[String], bsDeleted: Long, bsUpdated: Long, bsFiles: Seq[String],
    inserted: Long) {
  def changed: Boolean = deleted + updated + bsDeleted + bsUpdated + inserted > 0
}

private[catalog] object MergePlan {

  /** Validate the clauses against `tableCols`, run `body` with the plan and
    * release every frame it pinned, whether `body` returns or throws.
    * `fail` builds the sink's own exception from a message. */
  def run[T](source: DataFrame, condSql: String,
      matchedClauses: Seq[MergeMatchedClause], bySourceClauses: Seq[MergeMatchedClause],
      insertClauses: Seq[MergeInsertClause], tableCols: Seq[String],
      fail: String => Exception)(body: MergePlan => T): T = {
    val plan = new MergePlan(source, condSql, matchedClauses, bySourceClauses,
      insertClauses, tableCols, fail)
    try body(plan) finally plan.release()
  }

  /** A clause condition as a NULL-free gate (NULL ⇒ not satisfied). */
  def gate(cond: Option[String]): Column =
    cond.map(c => coalesce(expr(c), lit(false))).getOrElse(lit(true))

  /** First-match classification: the index of the first true gate, else
    * -1. Computed once per row as a small int, every later filter and
    * projection branches on it: O(F + C) expression nodes for F fields and
    * C clauses, where re-deriving prefix-negated gates per field grew
    * O(F × C²). Gates are NULL-free, so a chained `when` is exactly the
    * prefix-negated expansion. */
  def clauseIdx(gates: Seq[Column]): Column =
    if (gates.isEmpty) lit(-1)
    else gates.zipWithIndex.tail
      .foldLeft(when(gates.head, lit(0))) { case (acc, (g, i)) => acc.when(g, lit(i)) }
      .otherwise(lit(-1))

  /** `classified` claimed by one of `idxs` (a clause-kind membership test). */
  def hit(classified: Column, idxs: Seq[Int]): Column =
    if (idxs.isEmpty) lit(false)
    else if (idxs.length == 1) classified === lit(idxs.head)
    else classified.isin(idxs.map(Int.box): _*)

  /** One UPDATE/DELETE clause list (matched or by-source) and the column
    * `tag` that carries its classification. */
  final class Family(val clauses: Seq[MergeMatchedClause], val tag: String) {
    val updIdx: Seq[Int] = clauses.indices.filter(clauses(_).set.isDefined)
    val delIdx: Seq[Int] = clauses.indices.filter(clauses(_).set.isEmpty)
    val active: Boolean = clauses.nonEmpty
    /** False for the plain unconditional single-clause family, which keeps
      * its flat plan: no classification column, no CASE chain. The extra
      * nodes would constant-fold, but still cost ~0.1 s of analysis and
      * planning on every plain MERGE (the r14 A/B in BASELINE.md). */
    val condActive: Boolean = clauses.exists(_.cond.isDefined) || clauses.length > 1
    lazy val classify: Column = clauseIdx(clauses.map(c => gate(c.cond)))
    def updates: Column = hit(col(tag), updIdx)
    def deletes: Column = hit(col(tag), delIdx)

    /** The post-SET value of `f` for a row this family's UPDATE clauses
      * claim: one branch per update clause on the classification int, and
      * the bare SET expression for the flat family. */
    def setValue(f: StructField): Column = {
      def value(i: Int) = clauses(i).set.get.get(f.name)
        .map(e => expr(e).cast(f.dataType)).getOrElse(col(s"t.${f.name}"))
      if (updIdx.isEmpty) col(s"t.${f.name}")
      else if (!condActive) value(updIdx.head)
      else updIdx.tail
        .foldLeft(when(col(tag) === lit(updIdx.head), value(updIdx.head))) {
          (acc, i) => acc.when(col(tag) === lit(i), value(i))
        }
        .otherwise(col(s"t.${f.name}"))
    }
  }
}
