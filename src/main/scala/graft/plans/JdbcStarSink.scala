package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** S4 optional — JDBC upsert mirror of the reference's physical sink
  * (reference: postgres/00_ddl_dw.sql + the per-record
  * `INSERT … ON CONFLICT … DO UPDATE` statements in
  * flink/stream_to_star.py:99-282), re-expressed the way a Spark job
  * should talk to an RDBMS:
  *
  *   - statements are generated ONCE per table (not string-built per
  *     record) and executed as JDBC parameter batches per PARTITION —
  *     executors stream their partitions through `addBatch/executeBatch`
  *     instead of the reference's 7 synchronous round-trips per record;
  *   - the star tables keep living in the engine's own store
  *     ([[BucketedMergeWriter]]); the JDBC sink is a
  *     MIRROR for downstream consumers that want the warehouse in
  *     Postgres, fed from the already-merged tables (so the upsert is
  *     idempotent by construction — replaying a mirror push converges).
  *
  * Execution goes through [[JdbcStarSink.SqlExecutor]]: the production
  * implementation opens a JDBC connection per partition (driver jar +
  * reachable database required — neither exists in this sandbox, exactly
  * like the Kafka broker, so that path is config-gated); tests inject an
  * in-memory executor and verify the upsert SEMANTICS (insert-or-update on
  * the conflict key) and the batching shape.
  */
object JdbcStarSink {

  /** One prepared-statement batch: executors call this once per partition.
    * Implementations must be serializable (shipped to executors). */
  trait SqlExecutor extends Serializable {
    /** Execute `sql` once per row, binding `params` in order. */
    def executeBatch(sql: String, rows: Iterator[Seq[Any]]): Unit
  }

  /** Production executor: one connection + prepared statement per
    * partition, `addBatch` per row, `executeBatch` per `batchSize`.
    * Requires a JDBC driver on the classpath (absent in this sandbox). */
  final class JdbcExecutor(url: String, props: Map[String, String],
                           batchSize: Int = 1000) extends SqlExecutor {
    def executeBatch(sql: String, rows: Iterator[Seq[Any]]): Unit = {
      val p = new java.util.Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      val conn = java.sql.DriverManager.getConnection(url, p)
      try {
        val st = conn.prepareStatement(sql)
        var n = 0
        rows.foreach { r =>
          r.zipWithIndex.foreach { case (v, i) => st.setObject(i + 1, v) }
          st.addBatch(); n += 1
          if (n % batchSize == 0) st.executeBatch()
        }
        if (n % batchSize != 0) st.executeBatch()
      } finally conn.close()
    }
  }

  /** Upsert spec per table: conflict key + updatable attribute columns
    * (mirrors the reference's ON CONFLICT targets — dims keyed by source
    * id or natural name, fact by source_sale_id). */
  case class Upsert(table: String, keyCols: Seq[String], attrCols: Seq[String])

  val starUpserts: Seq[Upsert] = Seq(
    Upsert("dw.dim_customer", Seq("source_customer_id"),
      Seq("customer_name", "country", "age", "email")),
    Upsert("dw.dim_seller", Seq("source_seller_id"),
      Seq("seller_name", "country", "email")),
    Upsert("dw.dim_product", Seq("source_product_id"),
      Seq("product_name", "category", "price", "rating", "reviews")),
    Upsert("dw.dim_store", Seq("store_name"), Seq("city", "country", "email")),
    Upsert("dw.dim_supplier", Seq("supplier_name"), Seq("country", "email")),
    Upsert("dw.dim_date", Seq("sale_date"), Seq("year", "month", "day")),
    Upsert("dw.fact_sales", Seq("source_sale_id"),
      Seq("customer_key", "seller_key", "product_key", "store_key",
        "supplier_key", "date_key", "sale_quantity", "sale_total_price")))

  /** `INSERT … ON CONFLICT (key) DO UPDATE SET attrs` — the reference's
    * statement shape (flink/stream_to_star.py:116-120 et al.), emitted
    * once per table with positional parameters. */
  def upsertSql(u: Upsert): String = {
    val cols = u.keyCols ++ u.attrCols
    val sets = u.attrCols.map(c => s"$c = EXCLUDED.$c").mkString(", ")
    s"INSERT INTO ${u.table} (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")}) " +
      s"ON CONFLICT (${u.keyCols.mkString(", ")}) DO UPDATE SET $sets"
  }

  /** Push one merged table to the mirror: partition-parallel batched
    * upserts. Idempotent (same rows → same end state), so checkpoint
    * replays converge exactly like the parquet stores. */
  def push(df: DataFrame, u: Upsert, executor: SqlExecutor): Unit = {
    val cols = (u.keyCols ++ u.attrCols).map(col)
    val sql = upsertSql(u)
    df.select(cols: _*).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        executor.executeBatch(sql, rows.map(_.toSeq))
    }
  }

  /** Mirror the whole star from a TableStore (dims first so the fact's FK
    * references resolve, like the reference's DDL ordering). */
  def pushStar(store: TableStore, executor: SqlExecutor): Unit = {
    val tableOf = Map(
      "dw.dim_customer" -> "dim_customer", "dw.dim_seller" -> "dim_seller",
      "dw.dim_product" -> "dim_product", "dw.dim_store" -> "dim_store",
      "dw.dim_supplier" -> "dim_supplier", "dw.dim_date" -> "dim_date",
      "dw.fact_sales" -> "fact_sales")
    starUpserts.foreach(u => push(store.read(tableOf(u.table)), u, executor))
  }
}
