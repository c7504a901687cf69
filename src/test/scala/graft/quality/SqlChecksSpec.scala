package graft.quality

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSparkSession
import graft.pipeline.Pipeline

/** The literal-SQL validation suite must agree with the DataFrame form
  * check-for-check on the same loaded tables (SURVEY §3.3). */
class SqlChecksSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark

  private def write(path: String, content: String): String = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
    path
  }

  test("spark.sql validation suite flags the same defects as the DataFrame form") {
    val sales = write("target/fixtures/sqlchecks_sales.csv",
      """dt,store,product,units,amount
        |2024-01-05,S01,P001,3,29.97
        |2024-01-07,S02,P002,2,19.98
        |2024-01-07,S02,P002,5,-5.00
        |2024-01-08,S03,P999,1,5.00
        |""".stripMargin)
    val products = write("target/fixtures/sqlchecks_products.json",
      """[{"product_id": "P001", "product_name": "Widget", "price": 9.99},
        |{"product_id": "P002", "product_name": "Gadget", "price": 0.0}]""".stripMargin)

    val dfResults = Pipeline.run(spark, sales, products,
      database = "test_sqlchecks", failOnCritical = false)
    val sqlResults = SqlChecks.runAll(spark,
      "test_sqlchecks.store_sales", "test_sqlchecks.products",
      expectedSales = 4, expectedProducts = 2)

    // the literal SQL keeps the reference's null-count aliases
    // (etl_pipeline.py:329–332, :345–348) and qualified table names
    val referenceAlias = Map(
      "null_dates" -> "null_date", "null_product_ids" -> "null_product_id",
      "null_units" -> "null_units_sold", "null_amounts" -> "null_sales_amount",
      "null_names" -> "null_product_name", "null_prices" -> "null_price")
    val normalized = sqlResults.map(r => r.copy(
      check = referenceAlias.getOrElse(r.check, r.check),
      table = r.table.stripPrefix("test_sqlchecks.")))
    assert(normalized.size == dfResults.size)
    normalized.zip(dfResults).foreach { case (q, d) =>
      assert((q.check, q.table, q.passed, q.detail) == ((d.check, d.table, d.passed, d.detail)),
        s"SQL '${q.render}' vs DataFrame '${d.render}'")
    }
    // same defects detected: dup key, orphan FK, negative amount, zero price
    assert(sqlResults.filterNot(_.passed).map(_.check).sorted == Seq(
      "no_duplicate_keys", "range_price", "range_sales_amount",
      "referential_integrity"))
  }
}
