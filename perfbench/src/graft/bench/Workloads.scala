package graft.bench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Warehouse
import graft.pipeline.{CorpusPipeline, Pipeline}
import graft.quality.CheckResult
import graft.sources.Sources

/** One timed run: its wall time, the latency of each unit of work in it
  * (the whole run, or each delta) and every way its output disagreed
  * with the truth. */
final case class RunResult(seconds: Double, units: Seq[Double], errors: Seq[String]) {
  def ok: Boolean = errors.isEmpty
}

/** A workload: inputs are on disk before [[setup]]; [[run]] is what the
  * timed window repeats. `tr` wraps each call into an engine layer. */
trait Workload {
  def setup(): Unit = ()
  def beforeRun(): Unit = ()
  def run(tr: Tracer): RunResult
  /** Untimed runs between the warm-up and the timed window. The first
    * runs after the warm-up are still fast-changing as JIT compilation
    * catches up; each settle run moves the window to a flatter part of
    * that curve. */
  def settleRuns: Int = 1
  /** Total size of the raw input files one run reads (the deltas, for a merge). */
  def rawBytes: Long
  /** Directories the run writes its outputs to. */
  def outputDirs: Seq[File]
}

object Workloads {
  val Db = "staging_dataset"

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The reference DAG at scale: `Pipeline.run` over a CSV and a JSON
  * array with planted defects; every check must report the planted truth. */
final class FullLoad(spark: SparkSession, in: Gen.FullLoadInputs, warehouse: File)
    extends Workload {
  import Workloads._

  def rawBytes: Long = in.salesCsv.length() + in.productsJson.length()
  def outputDirs: Seq[File] = Seq(warehouse)
  // its first two runs after the warm-up are still 15-50% slower than
  // the ones after
  override def settleRuns: Int = 2

  /** The traced run wraps `Pipeline.run` in one span; the layers inside it
    * are told apart by the call site of each Spark job it submits. */
  def run(tr: Tracer): RunResult = {
    val (results, secs) = time {
      tr("pipeline.run") {
        Pipeline.run(spark, in.salesCsv.getPath, in.productsJson.getPath, Db,
          failOnCritical = false)
      }
    }
    RunResult(secs, Seq(secs), check(results))
  }

  private val dupRow = """\[([^,\]]+),(\d{4}-\d{2}-\d{2})[^,\]]*,(\d+)\]""".r

  /** Every check result against the planted truth. The duplicate-key
    * detail lists an arbitrary five offenders, so it is checked as a
    * subset of the planted keys. */
  private def check(got: Seq[CheckResult]): Seq[String] = {
    val s = in.sales
    val p = in.products
    def cr(check: String, table: String, passed: Boolean, detail: String) =
      CheckResult(check, table, "CRITICAL", passed, detail)
    val expected = Seq(
      cr("not_empty", "store_sales", s.kept > 0, s"rows=${s.kept}"),
      cr("not_empty", "products", p.kept > 0, s"rows=${p.kept}"),
      cr("row_count", "store_sales", true, s"actual=${s.kept} expected=${s.kept}"),
      cr("row_count", "products", true, s"actual=${p.kept} expected=${p.kept}")) ++
      Seq("date", "product_id", "units_sold", "sales_amount").map(c =>
        cr(s"null_$c", "store_sales", true, "nulls=0")) ++
      Seq("product_id", "product_name", "price").map(c =>
        cr(s"null_$c", "products", true, "nulls=0")) ++ Seq(
      cr("no_duplicate_keys", "store_sales", s.dupKeys.isEmpty, "<planted>"),
      cr("no_duplicate_keys", "products", true, "duplicates=0"),
      cr("referential_integrity", "store_sales", s.orphans == 0, s"orphans=${s.orphans}"),
      cr("range_sales_amount", "store_sales", s.minAmount >= 0,
        s"min=${s.minAmount} (must be >= 0)"),
      cr("range_units_sold", "store_sales", s.minUnits >= 0,
        s"min=${s.minUnits.toDouble} (must be >= 0)"),
      cr("range_price", "products", p.minPrice > 0, s"min=${p.minPrice} (must be > 0)"))
    if (got.size != expected.size)
      return Seq(s"expected ${expected.size} check results, got ${got.size}")
    got.zip(expected).flatMap { case (g, e) =>
      if (e.detail == "<planted>") {
        val listed = dupRow.findAllMatchIn(g.detail).map(m => (m.group(1), m.group(2), m.group(3))).toSeq
        val bad = listed.filterNot { case (pid, d, n) => s.dupKeys.contains((pid, d)) && n == "2" }
        if (g.copy(detail = "") != e.copy(detail = "") ||
            listed.size != math.min(5, s.dupKeys.size) || bad.nonEmpty)
          Some(s"${g.render} does not match planted duplicate keys")
        else None
      } else if (g != e) Some(s"got '${g.render}', planted '${e.render}'")
      else None
    }
  }
}

/** Small daily deltas beside full-table reads: each delta is read,
  * transformed, upserted into the months it touches, staged, written back
  * with dynamic partition overwrite and validated. Each run starts from
  * the base table (reset untimed) and applies the whole sequence. */
final class DailyMerge(spark: SparkSession, in: Gen.MergeInputs, work: File, warehouse: File)
    extends Workload {
  import Workloads._
  private val table = s"$Db.merge_sales"
  private val productsTable = s"$Db.merge_products"
  private val pristine = new File(work, "pristine").getPath
  private val stageRoot = new File(work, "stage")

  def rawBytes: Long = in.deltas.map(_.bytes).sum
  def outputDirs: Seq[File] = Seq(work, warehouse)

  private def withMonth(df: DataFrame): DataFrame =
    df.withColumn("month", date_format(col("date"), "yyyy-MM"))

  override def setup(): Unit = {
    Warehouse.ensureDatabase(spark, Db)
    Warehouse.overwriteTable(
      Pipeline.transformProducts(Sources.json(spark, in.productsJson.getPath)), productsTable)
    val base = withMonth(Pipeline.transformSales(Sources.tabular(spark, in.baseCsv.getPath)))
    base.write.mode("overwrite").parquet(pristine)
  }

  override def beforeRun(): Unit =
    Warehouse.overwritePartitionedTable(spark.read.parquet(pristine), table, Seq("month"))

  def run(tr: Tracer): RunResult = {
    val errors = Seq.newBuilder[String]
    val ((lat, got), total) = time {
      val lat = in.deltas.zipWithIndex.map { case (d, i) =>
        val (_, secs) = time {
          val raw = tr("sources.tabular") { Sources.tabular(spark, d.csv.getPath) }
          val delta = tr("etl.transformSales") { withMonth(Pipeline.transformSales(raw)) }
          // a daily file carries its day plus late rows for the 30 days before it
          val months = (0 to 30).map(k => Gen.day(d.day - k).take(7)).distinct
          val current = spark.table(table).where(col("month").isin(months: _*))
          val merged = tr("etl.mergeUpsert") {
            Warehouse.mergeUpsert(current, delta, Seq("product_id", "date"))
          }
          val staged = new File(stageRoot, s"d$i").getPath
          tr("etl.stageParquet") { Warehouse.stageParquet(merged, staged) }
          tr("etl.overwriteIncrementalPartitions") {
            Warehouse.overwriteIncrementalPartitions(spark.read.parquet(staged), table, Seq("month"))
          }
          val results = tr("quality.validate") {
            Pipeline.validate(spark.table(table), spark.table(productsTable),
              d.expectedRows, in.nProducts)
          }
          results.filterNot(_.passed).foreach(r => errors += s"delta $i: ${r.render}")
        }
        secs
      }
      val row = spark.table(table).agg(count(lit(1)),
        sum(substring(col("product_id"), 2, 6).cast("long") * 100000L +
          datediff(col("date"), lit(Gen.KeyEpoch.toString))).cast("long"),
        sum(round(col("sales_amount") * 100)).cast("long")).head()
      (lat, (row.getLong(0), row.getLong(1), row.getLong(2)))
    }
    if (got != ((in.finalRows, in.keySum, in.amountSum)))
      errors += s"final (rows, key sum, amount sum) $got, planted ${(in.finalRows, in.keySum, in.amountSum)}"
    RunResult(total, lat, errors.result())
  }
}

/** `CorpusPipeline.prepare` with the q_corpus_pipeline configuration over
  * a crawl corpus with planted defects, then the documents, chunks and
  * stats actions. */
final class CorpusPrep(spark: SparkSession, val in: Gen.CorpusInputs) extends Workload {
  // steady from its first timed run on (quartile spread under 0.1 over
  // ten seeds); a settle run would add ~7 s to every invocation
  override def settleRuns: Int = 0
  def rawBytes: Long = in.corpusDir.listFiles().map(_.length()).sum
  def outputDirs: Seq[File] = Nil

  val cfg = CorpusPipeline.Config(
    stripHtml = true, gopherRules = true,
    langs = Set("en"), minTokens = 10, maxTokens = 100000,
    minAlphaRatio = 0.4, lineDedupMinDocs = Some(2),
    dedupThreshold = 0.5, shingleN = 3, decontaminateN = 8,
    chunkTokens = 64, overlapTokens = 16,
    splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
    materializeDocuments = true)

  private val dropped: Set[Long] = in.planted.values.flatten.toSet
  /** (stage counts, survivor id sum, chunks, chunk tokens) of the first run. */
  private var digest: Option[(Seq[(String, Long)], Long, Long, Long)] = None
  /** Per-stage kept counts of the latest run. */
  var lastCounts: Seq[(String, Long)] = Nil

  def run(tr: Tracer): RunResult = {
    val (d, secs) = Workloads.time {
      val corpus = tr("sources.json") { Sources.json(spark, in.corpusDir.getPath) }
      val bench = tr("sources.json") { Sources.json(spark, in.benchDir.getPath) }
      val p = tr("corpus.prepare") { CorpusPipeline.prepare(corpus, Some(bench), cfg) }
      val ids = tr("corpus.documents") {
        p.documents.select(col(cfg.idCol)).collect().map(_.getLong(0))
      }
      val chunks = tr("corpus.chunks") {
        p.chunks.agg(count(lit(1)), sum(col("n_chunk_tokens")).cast("long")).head()
      }
      val counts = tr("corpus.stats") { p.observedCounts }
      (counts, ids, chunks.getLong(0), chunks.getLong(1))
    }
    val (counts, ids, nChunks, chunkTokens) = d
    lastCounts = counts
    val errors = Seq.newBuilder[String]
    if (counts != in.expectedKept) errors += s"stage counts $counts, planted ${in.expectedKept}"
    val survived = ids.filter(dropped.contains)
    if (survived.nonEmpty)
      errors += s"${survived.length} planted duplicates/leaks/rejects survived, e.g. ${survived.take(5).mkString(",")}"
    if (ids.sum != in.survivorIdSum)
      errors += s"survivor id sum ${ids.sum}, planted ${in.survivorIdSum}"
    val mine = (counts, ids.sum, nChunks, chunkTokens)
    digest match {
      case None => digest = Some(mine)
      case Some(first) if first != mine => errors += s"digest $mine differs from first run's $first"
      case _ =>
    }
    RunResult(secs, Seq(secs), errors.result())
  }
}
