package graft.pipeline

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSparkSession
import graft.quality.{CheckResult, ValidationFailure}

/** End-to-end pipeline test with planted defects (SURVEY §5.2.2,
  * FIXTURES.md §A): the transform must drop exactly the malformed rows and
  * validation must flag exactly the planted defects. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark

  private def write(path: String, content: String): String = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
    path
  }

  // Planted defects (FIXTURES.md A1): bad date, bad units, duplicate
  // (product_id, date) key, orphan product, negative amount.
  private lazy val salesCsv = write("target/fixtures/store_sales.csv",
    """dt,store,product,units,amount
      |2024-01-05,S01,P001,3,29.97
      |2024-01-05,S01,P002,1,9.99
      |bad-date,S01,P001,2,19.98
      |2024-01-06,S02,P001,xx,10.00
      |2024-01-07,S02,P002,2,19.98
      |2024-01-07,S02,P002,5,-5.00
      |2024-01-08,S03,P999,1,5.00
      |""".stripMargin)

  // Planted defects (FIXTURES.md A2): exact duplicate record, null name,
  // zero price.
  private lazy val productsJson = write("target/fixtures/products.json",
    """[
      |  {"product_id": "P001", "product_name": "Widget", "price": 9.99},
      |  {"product_id": "P002", "product_name": "Gadget", "price": 19.99},
      |  {"product_id": "P002", "product_name": "Gadget", "price": 19.99},
      |  {"product_id": "P003", "product_name": "Free",   "price": 0.0},
      |  {"product_id": "P004", "product_name": null,     "price": 5.0}
      |]""".stripMargin)

  test("E2E: transform drops exactly the malformed rows") {
    val sales = Pipeline.transformSales(graft.sources.Sources.csv(spark, salesCsv))
    // 7 rows - bad date - bad units = 5
    assert(sales.count() == 5)
    val products = Pipeline.transformProducts(graft.sources.Sources.json(spark, productsJson))
    // 5 records - 1 exact duplicate - 1 null name = 3
    assert(products.count() == 3)
  }

  test("E2E: validation flags exactly the planted defects") {
    val e = intercept[ValidationFailure] {
      Pipeline.run(spark, salesCsv, productsJson, database = "test_e2e")
    }
    val failed = e.results.map(r => s"${r.table}/${r.check}").toSet
    assert(failed == Set(
      "store_sales/no_duplicate_keys",    // (P002, 2024-01-07) ×2
      "store_sales/referential_integrity", // P999 orphan
      "store_sales/range_sales_amount",    // -5.00
      "products/range_price"))             // price 0.0 (strict > 0)
  }

  private def critical(check: String, table: String, passed: Boolean, detail: String) =
    CheckResult(check, table, "CRITICAL", passed, detail)

  test("validate: every result on the planted fixture, in order, with its detail") {
    val results = Pipeline.run(spark, salesCsv, productsJson, database = "test_pin",
      failOnCritical = false)
    assert(results == Seq(
      critical("not_empty", "store_sales", true, "rows=5"),
      critical("not_empty", "products", true, "rows=3"),
      critical("row_count", "store_sales", true, "actual=5 expected=5"),
      critical("row_count", "products", true, "actual=3 expected=3"),
      critical("null_date", "store_sales", true, "nulls=0"),
      critical("null_product_id", "store_sales", true, "nulls=0"),
      critical("null_units_sold", "store_sales", true, "nulls=0"),
      critical("null_sales_amount", "store_sales", true, "nulls=0"),
      critical("null_product_id", "products", true, "nulls=0"),
      critical("null_product_name", "products", true, "nulls=0"),
      critical("null_price", "products", true, "nulls=0"),
      critical("no_duplicate_keys", "store_sales", false,
        "duplicate keys (first 5): [P002,2024-01-07 00:00:00.0,2]"),
      critical("no_duplicate_keys", "products", true, "duplicates=0"),
      critical("referential_integrity", "store_sales", false, "orphans=1"),
      critical("range_sales_amount", "store_sales", false, "min=-5.0 (must be >= 0)"),
      critical("range_units_sold", "store_sales", true, "min=1.0 (must be >= 0)"),
      critical("range_price", "products", false, "min=0.0 (must be > 0)")))
  }

  test("validate: a product id under two names and a null sales key") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val sales = Seq(
      (ts("2024-01-05 00:00:00"), "S01", Some("P1"), 3L, 29.97),
      (ts("2024-01-06 00:00:00"), "S01", None: Option[String], 1L, 9.99),
      (ts("2024-01-07 00:00:00"), "S02", Some("P9"), 2L, 19.98))
      .toDF("date", "store_id", "product_id", "units_sold", "sales_amount")
    val products = Seq(("P1", "Widget", 9.99), ("P1", "Widget v2", 10.99), ("P2", "Gadget", 1.5))
      .toDF("product_id", "product_name", "price")
    val results = Pipeline.validate(sales, products, expectedSales = 3, expectedProducts = 3)
    assert(results == Seq(
      critical("not_empty", "store_sales", true, "rows=3"),
      critical("not_empty", "products", true, "rows=3"),
      critical("row_count", "store_sales", true, "actual=3 expected=3"),
      critical("row_count", "products", true, "actual=3 expected=3"),
      critical("null_date", "store_sales", true, "nulls=0"),
      critical("null_product_id", "store_sales", false, "nulls=1"),
      critical("null_units_sold", "store_sales", true, "nulls=0"),
      critical("null_sales_amount", "store_sales", true, "nulls=0"),
      critical("null_product_id", "products", true, "nulls=0"),
      critical("null_product_name", "products", true, "nulls=0"),
      critical("null_price", "products", true, "nulls=0"),
      critical("no_duplicate_keys", "store_sales", true, "duplicates=0"),
      critical("no_duplicate_keys", "products", false, "duplicate keys (first 5): [P1,2]"),
      // the null key and P9 have no parent; P1's two parent rows must
      // neither double its sales row nor hide an orphan
      critical("referential_integrity", "store_sales", false, "orphans=2"),
      critical("range_sales_amount", "store_sales", true, "min=9.99 (must be >= 0)"),
      critical("range_units_sold", "store_sales", true, "min=1.0 (must be >= 0)"),
      critical("range_price", "products", true, "min=1.5 (must be > 0)")))
  }

  test("validate: one call starts at most 10 Spark jobs (two table passes, two probes)") {
    Pipeline.run(spark, salesCsv, productsJson, database = "test_jobs", failOnCritical = false)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    // jobs are told apart by job group: AQE and broadcast threads inherit
    // the caller's local properties; the marker job's start is delivered
    // after every event posted before it
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some("validate-jobs") => jobs.incrementAndGet(): Unit
          case Some("validate-drain") => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("validate-jobs", "validate")
      Pipeline.validate(spark.table("test_jobs.store_sales"), spark.table("test_jobs.products"),
        expectedSales = 5, expectedProducts = 3)
      sc.setJobGroup("validate-drain", "listener drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    assert(jobs.get() > 0 && jobs.get() <= 10, s"validate started ${jobs.get()} jobs")
  }

  test("E2E: clean inputs validate green and report renders") {
    val cleanSales = write("target/fixtures/clean_sales.csv",
      """dt,store,product,units,amount
        |2024-01-05,S01,P001,3,29.97
        |2024-01-06,S01,P002,1,9.99
        |""".stripMargin)
    val cleanProducts = write("target/fixtures/clean_products.json",
      """[
        |  {"product_id": "P001", "product_name": "Widget", "price": 9.99},
        |  {"product_id": "P002", "product_name": "Gadget", "price": 19.99}
        |]""".stripMargin)
    val results = Pipeline.run(spark, cleanSales, cleanProducts, database = "test_clean")
    assert(results.forall(_.passed))
    val report = graft.quality.Checks.renderReport(results)
    assert(report.contains("failed=0"))
    // loaded tables are readable back from the warehouse by name (S4/K2)
    assert(spark.table("test_clean.store_sales").count() == 2)
  }

  test("O3: retry combinator retries then succeeds") {
    var attempts = 0
    val out = Pipeline.retry(3) { attempts += 1; if (attempts < 3) sys.error("flaky") else 42 }
    assert(out == 42 && attempts == 3)
    intercept[RuntimeException](Pipeline.retry(2)(sys.error("always")))
  }

  test("O3: retry does NOT swallow fatal errors (NonFatal only)") {
    var attempts = 0
    intercept[InterruptedException] {
      Pipeline.retry(3) { attempts += 1; throw new InterruptedException("stop") }
    }
    Thread.interrupted() // clear the flag for later tests
    assert(attempts == 1, "a fatal error must not be retried")
  }
}
