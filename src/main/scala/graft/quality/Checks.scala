package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** One validation outcome — the engine's analogue of a line in the
  * reference's validation report (dags/etl_pipeline.py:296–449, :453–458). */
final case class CheckResult(
    check: String,
    table: String,
    severity: String, // "CRITICAL" | "WARNING" | "INFO"
    passed: Boolean,
    detail: String) {
  def render: String = {
    val status = if (passed) "PASS" else s"FAIL [$severity]"
    f"$status%-16s $table%-14s $check%-22s $detail"
  }
}

/** Raised when any critical check fails — the analogue of the reference's
  * `raise` that fails the validate task (etl_pipeline.py:465–466). */
final class ValidationFailure(val results: Seq[CheckResult])
    extends RuntimeException(
      s"${results.count(r => !r.passed)} critical validation check(s) failed:\n" +
        results.filterNot(_.passed).map(_.render).mkString("\n"))

/** Data-quality checks — SURVEY.md §2.4–§2.6 (A1–A4, J1, B1–B9).
  *
  * Each aggregate is a single-pass Spark plan; scalar threshold
  * comparisons (B1–B8) happen on the driver against the collected
  * aggregate row — the same shape as the reference's client-side
  * comparisons on BigQuery results. Where the reference sends one query
  * per aggregate, pipeline validation runs two table passes
  * ([[tableProfile]]: counts, nulls, orphans and minimums of one table)
  * plus two duplicate-key probes; the per-aggregate functions stay for
  * callers that need one aggregate alone.
  */
object Checks {

  // ── aggregates ────────────────────────────────────────────────────────

  /** A1 — table row count (SELECT COUNT(*), etl_pipeline.py:283–291). */
  def rowCount(df: DataFrame): Long = df.count()

  /** A2 — per-column null counts in ONE pass over the table
    * (COUNTIF(col IS NULL) ×N, etl_pipeline.py:327–334, :344–350).
    * Output columns are named `null_<col>`. */
  def nullCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = cols.map(nullCount)
    df.agg(aggs.head, aggs.tail: _*)
  }

  private def nullCount(c: String): Column =
    count(when(col(c).isNull, lit(1))).as(s"null_$c")

  /** A3 — duplicate-key detection (GROUP BY keys HAVING COUNT(*)>1,
    * etl_pipeline.py:364–369, :378–383). Hash aggregate; partial
    * (map-side) aggregation keeps the shuffle small at scale. */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dupes"))
      .where(col("dupes") > 1)

  /** J1 — orphaned-foreign-key rows: child rows whose key has no match in
    * the parent (LEFT JOIN … WHERE parent.key IS NULL,
    * etl_pipeline.py:396–402). Written as a left-anti join directly — the
    * form Catalyst rewrites the reference's literal SQL into.
    *
    * Broadcast policy: a dimension-sized parent is broadcast so the fact
    * side never shuffles, but the hint is CONDITIONAL — an unconditional
    * broadcast of a fact-sized parent's keys would OOM the driver on a
    * fact⋈fact FK check. `broadcastParent = None` (default) decides from
    * the optimizer's size estimate vs `autoBroadcastJoinThreshold`
    * (pre-action file statistics — no job runs); `Some(true)` forces the
    * hint (the reference-shaped pipeline path, where the parent is a
    * known dimension table); `Some(false)` leaves the strategy entirely
    * to AQE's runtime sizes. */
  def orphanRows(child: DataFrame, parent: DataFrame, childKey: String, parentKey: String,
      broadcastParent: Option[Boolean] = None): DataFrame = {
    val keys = parent.select(col(parentKey).as(childKey)).distinct()
    val doBroadcast = broadcastParent.getOrElse {
      val threshold = parent.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      threshold > 0 &&
        parent.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(threshold)
    }
    child.join(if (doBroadcast) broadcast(keys) else keys, Seq(childKey), "left_anti")
  }

  /** J1 + B8 — orphan count. */
  def orphanCount(child: DataFrame, parent: DataFrame, childKey: String, parentKey: String,
      broadcastParent: Option[Boolean] = None): Long =
    orphanRows(child, parent, childKey, parentKey, broadcastParent).count()

  /** A foreign key from a child table to a dimension-sized parent table. */
  final case class ForeignKey(parent: DataFrame, childKey: String, parentKey: String)

  /** A1 + A2 + J1 + the A4 minimums of one table in ONE pass: a single
    * row with `rows`, then `null_<col>` for each of `nullCols`, then
    * `orphans` when `fk` is given, then `min_<col>` for each of `minCols`
    * (null on an empty table).
    *
    * The orphan count left-joins the child to the parent's DISTINCT keys,
    * so a parent key listed twice neither doubles a child row (`rows`)
    * nor hides an orphan. A null child key matches nothing and counts as
    * an orphan, as in [[orphanRows]]'s left-anti join. The key set is
    * always broadcast: `fk.parent` must be dimension-sized (for a
    * fact-sized parent, use [[orphanCount]] with its size-based policy). */
  def tableProfile(df: DataFrame, nullCols: Seq[String], minCols: Seq[String],
      fk: Option[ForeignKey] = None): Row = {
    val parentKey = "__parent_key"
    val scanned = fk.fold(df) { k =>
      val keys = k.parent.select(col(k.parentKey).as(parentKey)).distinct()
      df.join(broadcast(keys), df(k.childKey) === keys(parentKey), "left")
    }
    val aggs: Seq[Column] = Seq(count(lit(1)).as("rows")) ++
      nullCols.map(nullCount) ++
      fk.map(_ => count(when(col(parentKey).isNull, lit(1))).as("orphans")) ++
      minCols.map(c => min(col(c)).as(s"min_$c"))
    scanned.agg(aggs.head, aggs.tail: _*).head()
  }

  /** A numeric aggregate field of a collected row as a double; None when
    * the aggregate is null (MIN over an empty table). */
  def minOf(row: Row, field: String): Option[Double] =
    Option(row.getAs[Number](field)).map(_.doubleValue)

  /** A4 — multi-column MIN/MAX range extraction in one pass
    * (etl_pipeline.py:414–421, :438–443). Output: `min_<col>`, `max_<col>`. */
  def valueRanges(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs: Seq[Column] = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.agg(aggs.head, aggs.tail: _*)
  }

  // ── threshold checks (B1–B9) ──────────────────────────────────────────

  /** B4 — empty-table check (etl_pipeline.py:294–304). */
  def checkNotEmpty(table: String, actual: Long): CheckResult =
    CheckResult("not_empty", table, "CRITICAL", actual > 0, s"rows=$actual")

  /** B5 — actual vs expected row count (etl_pipeline.py:307–321). */
  def checkRowCount(table: String, actual: Long, expected: Long): CheckResult =
    CheckResult("row_count", table, "CRITICAL", actual == expected,
      s"actual=$actual expected=$expected")

  /** B6 — any null count > 0 is critical (etl_pipeline.py:336–342, :352–358).
    * Reads the `null_`-prefixed fields of the row and ignores the rest, so
    * a [[tableProfile]] row is passed as it is. */
  def checkNoNulls(table: String, nullCountRow: Row): Seq[CheckResult] =
    nullCountRow.schema.fieldNames.toSeq.filter(_.startsWith("null_")).map { f =>
      val n = nullCountRow.getAs[Long](f)
      CheckResult(f, table, "CRITICAL", n == 0, s"nulls=$n")
    }

  /** B7 — any duplicate group is critical; offenders logged like the
    * reference's head() of the duplicate frame (etl_pipeline.py:371–390). */
  def checkNoDuplicates(table: String, dupes: DataFrame, sample: Int = 5): CheckResult = {
    val offenders = dupes.limit(sample + 1).collect()
    val pass = offenders.isEmpty
    val detail =
      if (pass) "duplicates=0"
      else s"duplicate keys (first $sample): " +
        offenders.take(sample).map(_.toString).mkString(", ")
    CheckResult("no_duplicate_keys", table, "CRITICAL", pass, detail)
  }

  /** B8 — orphaned FK count must be 0 (etl_pipeline.py:404–408). */
  def checkNoOrphans(table: String, orphans: Long): CheckResult =
    CheckResult("referential_integrity", table, "CRITICAL", orphans == 0,
      s"orphans=$orphans")

  /** B1/B2 — non-negative range rule (min >= 0; etl_pipeline.py:424–435).
    * A missing minimum (empty table) passes: no row breaks the rule, and
    * `not_empty` is the check that fails. */
  def checkNonNegative(table: String, column: String, minValue: Option[Double]): CheckResult =
    CheckResult(s"range_$column", table, "CRITICAL", minValue.forall(_ >= 0),
      s"min=${minValue.fold("null")(_.toString)} (must be >= 0)")

  /** B3 — strictly-positive range rule (min > 0; etl_pipeline.py:445–449 —
    * note the deliberate `<= 0` asymmetry vs B1/B2). A missing minimum
    * passes, as in [[checkNonNegative]]. */
  def checkStrictlyPositive(table: String, column: String, minValue: Option[Double]): CheckResult =
    CheckResult(s"range_$column", table, "CRITICAL", minValue.forall(_ > 0),
      s"min=${minValue.fold("null")(_.toString)} (must be > 0)")

  // ── report (B9 / O5) ─────────────────────────────────────────────────

  /** B9 — render the aggregate report (etl_pipeline.py:453–458). */
  def renderReport(results: Seq[CheckResult]): String = {
    val failed = results.count(r => !r.passed)
    val header =
      s"=== DATA QUALITY VALIDATION REPORT ===\n" +
        s"checks=${results.size} passed=${results.size - failed} failed=$failed\n"
    header + results.map(_.render).mkString("\n")
  }

  /** B9 — fail on any critical failure (etl_pipeline.py:465–466). */
  def assertAllPassed(results: Seq[CheckResult]): Seq[CheckResult] = {
    val criticalFailures = results.filter(r => !r.passed && r.severity == "CRITICAL")
    if (criticalFailures.nonEmpty) throw new ValidationFailure(criticalFailures)
    results
  }
}
