package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.{Transforms, Warehouse}
import graft.quality.{CheckResult, Checks}
import graft.sources.Sources

/** Pipeline runner — SURVEY.md §2.7 (O1–O5) and §3.1.
  *
  * The reference's Airflow DAG (dags/etl_pipeline.py:534–543) —
  * `create_dataset >> [extract → transform → load]×2 >> validate` —
  * restated as plain function composition: each branch is one lazy
  * LogicalPlan ending in saveAsTable, the "barrier" is simply evaluating
  * validation after both loads return, and XCom scalars become ordinary
  * return values. There is no scheduler, SMTP, or metadata DB here by
  * design (SURVEY §1.5, §7.4).
  */
object Pipeline {

  /** O2 — a stage's data plus its logged row count (replaces XCom counts,
    * etl_pipeline.py:77–78). `count` is computed once and reused (O4). */
  final case class StageResult(df: DataFrame, count: Long)

  /** O3 — the reference's retry budget (retries=3, delay, :21–22) as a
    * local combinator; scheduling/e-mail stay out of engine scope.
    * Retries NonFatal failures only — OutOfMemoryError, interrupts, and
    * other fatal errors propagate immediately — and logs each suppressed
    * attempt so transient-vs-persistent failures stay distinguishable. */
  def retry[T](attempts: Int, delayMs: Long = 0L)(f: => T): T =
    try f
    catch {
      case scala.util.control.NonFatal(e) if attempts > 1 =>
        System.err.println(
          s"[graft.retry] attempt failed (${attempts - 1} left): $e")
        if (delayMs > 0) Thread.sleep(delayMs)
        retry(attempts - 1, delayMs)(f)
    }

  /** The canonical sales-branch transform (transform_excel_data,
    * etl_pipeline.py:110–160): layout-sniff/normalize → coerce casts →
    * drop nulls. One narrow pipelined stage, no shuffle. */
  def transformSales(raw: DataFrame): DataFrame = {
    val names = Seq("date", "store_id", "product_id", "units_sold", "sales_amount")
    val named = Transforms.normalizeDelimited(raw, names)
    val typed = Transforms.coerceSchema(named, Map(
      "date"         -> "timestamp",
      "store_id"     -> "string",
      "product_id"   -> "string",
      "units_sold"   -> "long",
      "sales_amount" -> "double"))
    Transforms.dropNullRows(typed)
  }

  /** The canonical products-branch transform (transform_json_data,
    * etl_pipeline.py:162–198): coerce price → exact dedup → drop nulls. */
  def transformProducts(raw: DataFrame): DataFrame = {
    val typed = Transforms.coerceSchema(
      raw.select("product_id", "product_name", "price"),
      Map("product_id" -> "string", "product_name" -> "string", "price" -> "double"))
    Transforms.dropNullRows(Transforms.dedupExact(typed))
  }

  /** Post-load validation (validate_data, etl_pipeline.py:261–473): the
    * reference's nine queries as two table passes plus two duplicate-key
    * probes (four actions). The sales pass counts rows, nulls, orphans
    * against the products' keys and the range minimums; the products pass
    * counts rows and nulls and takes the price minimum. Returned as
    * results rather than raised (callers choose `Checks.assertAllPassed`). */
  def validate(
      sales: DataFrame,
      products: DataFrame,
      expectedSales: Long,
      expectedProducts: Long): Seq[CheckResult] = {

    val salesProfile = Checks.tableProfile(sales,
      Seq("date", "product_id", "units_sold", "sales_amount"),
      Seq("sales_amount", "units_sold"),
      Some(Checks.ForeignKey(products, "product_id", "product_id")))
    val productsProfile = Checks.tableProfile(products,
      Seq("product_id", "product_name", "price"), Seq("price"))
    val salesCount = salesProfile.getAs[Long]("rows")
    val productsCount = productsProfile.getAs[Long]("rows")

    val salesDupes = Checks.duplicateKeys(sales, Seq("product_id", "date"))
    val productDupes = Checks.duplicateKeys(products, Seq("product_id"))

    Seq(
      Checks.checkNotEmpty("store_sales", salesCount),
      Checks.checkNotEmpty("products", productsCount),
      Checks.checkRowCount("store_sales", salesCount, expectedSales),
      Checks.checkRowCount("products", productsCount, expectedProducts)) ++
      Checks.checkNoNulls("store_sales", salesProfile) ++
      Checks.checkNoNulls("products", productsProfile) ++ Seq(
      Checks.checkNoDuplicates("store_sales", salesDupes),
      Checks.checkNoDuplicates("products", productDupes),
      Checks.checkNoOrphans("store_sales", salesProfile.getAs[Long]("orphans")),
      Checks.checkNonNegative("store_sales", "sales_amount",
        Checks.minOf(salesProfile, "min_sales_amount")),
      Checks.checkNonNegative("store_sales", "units_sold",
        Checks.minOf(salesProfile, "min_units_sold")),
      Checks.checkStrictlyPositive("products", "price",
        Checks.minOf(productsProfile, "min_price")))
  }

  /** O1 — the whole DAG as one driver program. Returns the validation
    * results (and throws [[graft.quality.ValidationFailure]] on critical
    * failures when `failOnCritical`). */
  def run(
      spark: SparkSession,
      salesCsvPath: String,
      productsJsonPath: String,
      database: String = "staging_dataset",
      failOnCritical: Boolean = true): Seq[CheckResult] = {

    Warehouse.ensureDatabase(spark, database)

    // Two parallel branches — independent lazy plans (the parallelism the
    // DAG models at process level is free here).
    val sales = StageResult(
      transformSales(Sources.tabular(spark, salesCsvPath)), -1L) match {
      case s => s.copy(count = s.df.count())
    }
    val products = StageResult(
      transformProducts(Sources.json(spark, productsJsonPath)), -1L) match {
      case s => s.copy(count = s.df.count())
    }

    Warehouse.overwriteTable(sales.df, s"$database.store_sales")
    Warehouse.overwriteTable(products.df, s"$database.products")

    // Barrier: validation reads the *loaded* tables (the reference
    // deliberately re-counts what load already knew, SURVEY §4.1).
    val loadedSales = Sources.table(spark, s"$database.store_sales")
    val loadedProducts = Sources.table(spark, s"$database.products")
    val results = validate(loadedSales, loadedProducts, sales.count, products.count)
    if (failOnCritical) Checks.assertAllPassed(results) else results
  }
}
