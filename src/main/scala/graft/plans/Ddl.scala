package graft.plans

import org.apache.spark.sql.SparkSession

/** S6/P11 — catalog layer: idempotent DDL bootstrap + schema-qualified
  * name resolution.
  *
  * The reference bootstraps a `dw` schema with CREATE TABLE IF NOT EXISTS
  * (reference: postgres/00_ddl_dw.sql:1-70) and prefixes unqualified table
  * names with the schema (reference: flink/stream_to_star.py:96-97,
  * `_ensure_schema_prefix`). Spark equivalent: a `dw` database in the
  * session catalog with external parquet tables over the table store's
  * output, so the star is queryable via plain `spark.sql("... dw.fact_sales
  * ...")`. Types mirror the reference DDL (BIGINT keys, STRING attributes,
  * INT parts, DECIMAL money/rating, DATE).
  */
object Ddl {

  val schema = "dw"

  /** P11 — prefix `dw.` unless the name is already qualified. */
  def ensureSchemaPrefix(name: String): String =
    if (name.contains(".")) name else s"$schema.$name"

  private def ddl(location: String): Seq[(String, String)] = Seq(
    "dim_customer" ->
      """customer_sk BIGINT, source_customer_id BIGINT, customer_name STRING,
        |country STRING, age INT, email STRING""".stripMargin,
    "dim_seller" ->
      """seller_sk BIGINT, source_seller_id BIGINT, seller_name STRING,
        |country STRING, email STRING""".stripMargin,
    "dim_product" ->
      """product_sk BIGINT, source_product_id BIGINT, product_name STRING,
        |category STRING, price DECIMAL(12,2), rating DECIMAL(3,1), reviews INT""".stripMargin,
    "dim_store" ->
      "store_sk BIGINT, store_name STRING, city STRING, country STRING, email STRING",
    "dim_supplier" ->
      "supplier_sk BIGINT, supplier_name STRING, country STRING, email STRING",
    "dim_date" ->
      "date_sk BIGINT, sale_date DATE, year INT, month INT, day INT",
    "fact_sales" ->
      """source_sale_id BIGINT, customer_key BIGINT, seller_key BIGINT,
        |product_key BIGINT, store_key BIGINT, supplier_key BIGINT,
        |date_key BIGINT, sale_quantity INT,
        |sale_total_price DECIMAL(14,2)""".stripMargin)

  /** S6 — create the `dw` database + 7 external parquet star tables at
    * `location` (idempotent: IF NOT EXISTS throughout, safe to re-run —
    * same contract as the reference's psql bootstrap). */
  def bootstrap(spark: SparkSession, location: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $schema")
    ddl(location).foreach { case (table, cols) =>
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS ${ensureSchemaPrefix(table)} ($cols)
           |USING PARQUET LOCATION '$location/$table'""".stripMargin)
    }
  }

  /** Point the catalog tables at a table store's live versions:
    * registers temp-view aliases resolving each table's manifest (a
    * catalog view per star table, so `spark.sql` queries read the latest
    * merged state). */
  def registerCurrent(spark: SparkSession, store: TableStore,
                      tables: Seq[String]): Unit =
    tables.foreach { t =>
      if (store.exists(t)) store.read(t).createOrReplaceTempView(t)
    }
}
