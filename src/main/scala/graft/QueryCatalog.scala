package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Cleanse, Dedup, HeavyHitters, Joins, Multimodal, Similarity, TextAnalysis}
import graft.plans.{Integrity, StarSchema}
import graft.Materialize.MaterializeOps

/** The driver-contract query inventory: one entry per implemented operator
  * from SURVEY.md §2 plus the training-data-pipeline operators, each with a
  * DuckDB-runnable oracle over the same parquet tables.
  *
  * Engine-parity rules used throughout (so the driver's hash compare is
  * exact, not approximately-equal):
  *   - money/discount sums go through DECIMAL(18,2) (exact, order-
  *     independent) and only the final scalar is cast to DOUBLE;
  *   - whole-valued doubles (l_quantity) sum exactly in double/bigint;
  *   - every integer output is BIGINT, never INT (dtype-stable);
  *   - hashes are md5 hex (canonical in both engines);
  *   - cosines are ranked and emitted as round(x, 6) so a last-ulp
  *     difference in float summation order cannot flip a rank;
  *   - all rows of a result are deterministic as a SET; the driver sorts
  *     before hashing.
  */
object QueryCatalog {

  /** Testdata loader. [[Tables.load]] normalizes `events.ts` to a µs
    * timestamp whichever parquet flavor the generator emitted (nanos-long
    * or native TIMESTAMP) — the same value DuckDB sees via
    * `CAST(ts AS TIMESTAMP)`, so both engines agree bit-for-bit. */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** DECIMAL(18,2) view of a 2-dp double column: exact, associative sum. */
  private def dec2(c: Column): Column = c.cast("decimal(18,2)")

  // =========================================================================
  // Relational core (SURVEY.md §2.2-§2.5: P*, J*, A*)
  // =========================================================================

  /** A1/A5-adjacent pricing summary (hash-agg, map-side partial agg). */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (sum(dec2(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        avg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
      |  avg(l_quantity) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  /** J1-style star join: fact joins two broadcast dims (supplier→nation),
    * revenue per nation. At 100 TB: dims broadcast, fact never shuffles
    * before the aggregate. */
  def q02RevenueByNation(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  val q02Sql: String =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2""".stripMargin

  /** Fact→dim join + multi-metric agg by segment. */
  def q03SegmentSales(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        sum(dec2(col("o_totalprice"))).cast("double").as("total_price"))

  val q03Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  count(DISTINCT o_custkey) AS n_customers,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  /** Window/top-k: top-3 orders per customer (rank ties broken on key so
    * the result is a deterministic set). */
  def q04TopOrdersPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
  }

  val q04Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
      |FROM orders
      |QUALIFY rn <= 3""".stripMargin

  /** A1/A2 — plain and distinct counts. */
  def q05OrderCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").agg(
      count(lit(1)).as("n_orders"),
      countDistinct(col("o_custkey")).as("n_customers"))

  val q05Sql: String =
    "SELECT count(*) AS n_orders, count(DISTINCT o_custkey) AS n_customers FROM orders"

  /** A4 — conditional aggregation (SUM CASE WHEN). */
  def q06ConditionalAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("n_returned"),
      sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("n_discounted"),
      sum(when(col("l_shipdate").isNull, 1).otherwise(0)).as("n_null_ship"))

  val q06Sql: String =
    """SELECT
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
      |  CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
      |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_ship
      |FROM lineitem""".stripMargin

  /** Set ops — customers that never placed an order (EXCEPT = distinct). */
  def q07CustomersWithoutOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey"))
      .except(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")))

  val q07Sql: String =
    "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey AS c_custkey FROM orders"

  /** Rollup (grouping sets): subtotal rows coalesced to 'ALL'. */
  def q08RollupCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("qty"))

  val q08Sql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
      |  count(*) AS n, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  /** Grouping sets — full cube over two dims (rollup's sibling; closes the
    * grouping-sets family with q08). */
  def q40CubeCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))

  val q40Sql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin

  /** Global sort + limit (top-k): TakeOrderedAndProject in the plan — a
    * per-partition top-k + tiny driver merge, never a full global sort. */
  def q41TopOrders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  val q41Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  /** A5 — last-write-wins collapse over the events stream table: one row
    * per user, attributes from the highest event_id. Exercises the exact
    * operator the star pipeline uses (max_by(struct, seq): one shuffle,
    * map-side partial agg). */
  def q09LatestEventPerUser(s: SparkSession, dir: String): DataFrame =
    StarSchema.lastWriteWins(t(s, dir, "events"), Seq("user_id"), "event_id")

  val q09Sql: String =
    """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value, props
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id
      |  ORDER BY event_id DESC) = 1""".stripMargin
  // ^ whole-ROW pick, not per-column arg_max: arg_max skips NULL arguments,
  // so a winning row carrying a NULL attribute would inherit the previous
  // row's value — max_by(struct) takes ALL attributes from the one winner

  /** P10 — date-part extraction + counts per day. */
  def q10EventsByDay(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        dayofmonth(col("ts")).cast("long").as("d"))
      .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).cast("double").as("total_value"))

  val q10Sql: String =
    """SELECT CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS m,
      |  CAST(day(ts) AS BIGINT) AS d, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** P2 — lossy int coercion over real columns rendered as strings:
    * "20.0"→20, garbage→NULL, overflow→NULL (never a crash: ANSI-safe). */
  def q11IntCoercion(s: SparkSession, dir: String): DataFrame =
    // pre-project the string forms once: the coercion chain references its
    // input across CASE branches where subexpr elimination doesn't reach,
    // so an inlined double→string format would re-execute per reference
    // (same fix as q14 — attribute reads are free, Casts are not)
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("string").as("_qty"),
        col("l_returnflag").as("_flag"),
        concat(col("l_extendedprice").cast("string"), lit("e290")).as("_over"))
      .select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        Cleanse.toIntLossy(col("_qty")).as("qty_int"),
        Cleanse.toIntLossy(col("_flag")).as("flag_int"),
        Cleanse.toIntLossy(col("_over")).as("overflow_int"))

  val q11Sql: String =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |  TRY_CAST(trunc(TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE)) AS BIGINT) AS qty_int,
      |  TRY_CAST(trunc(TRY_CAST(l_returnflag AS DOUBLE)) AS BIGINT) AS flag_int,
      |  TRY_CAST(trunc(TRY_CAST(CAST(l_extendedprice AS VARCHAR) || 'e290' AS DOUBLE)) AS BIGINT) AS overflow_int
      |FROM lineitem""".stripMargin

  /** P4 — 3-format date parse: render each ts in one of the reference's
    * three formats by row, parse back through the coalesce chain. */
  def q12MultiFormatDateParse(s: SparkSession, dir: String): DataFrame = {
    val f = when(col("event_id") % 3 === 0, date_format(col("ts"), "M/d/yyyy"))
      .when(col("event_id") % 3 === 1, date_format(col("ts"), "yyyy-MM-dd"))
      .otherwise(date_format(col("ts"), "d.M.yyyy"))
    // pre-project: parseDateMulti tries three formats against its input —
    // inlined, the date_format CASE would re-render up to 3× per row
    t(s, dir, "events")
      .select(col("event_id"), f.as("_raw"))
      .select(col("event_id"), Cleanse.parseDateMulti(col("_raw")).as("parsed"))
  }

  val q12Sql: String =
    """WITH f AS (SELECT event_id,
      |  CASE CAST(event_id % 3 AS INT)
      |    WHEN 0 THEN strftime(ts, '%-m/%-d/%Y')
      |    WHEN 1 THEN strftime(ts, '%Y-%m-%d')
      |    ELSE strftime(ts, '%-d.%-m.%Y') END AS fs
      |  FROM events)
      |SELECT event_id,
      |  CAST(coalesce(try_strptime(fs, '%-m/%-d/%Y'), try_strptime(fs, '%Y-%m-%d'),
      |                try_strptime(fs, '%-d.%-m.%Y')) AS DATE) AS parsed
      |FROM f""".stripMargin

  /** P5/P6 — trim-to-null + name concat over part names. */
  def q13NameConcat(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("p_name"), " ")
    t(s, dir, "part").select(
      col("p_partkey"),
      Cleanse.fullName(element_at(words, 1), element_at(words, 2)).as("short_name"),
      Cleanse.trimToNull(col("p_brand")).as("brand"))
  }

  val q13Sql: String =
    """SELECT p_partkey,
      |  nullif(trim(concat_ws(' ', trim(coalesce(string_split(p_name, ' ')[1], '')),
      |                             trim(coalesce(string_split(p_name, ' ')[2], '')))), '') AS short_name,
      |  nullif(trim(p_brand), '') AS brand
      |FROM part""".stripMargin

  /** P7 — field-alias coalesce: first alias is genuinely missing (absent
    * JSON key), falls through to the second. */
  def q14AliasCoalesce(s: SparkSession, dir: String): DataFrame =
    // two Projects on purpose: aliasKey's coercion chain references its
    // input several times across CASE branches, where codegen subexpr
    // elimination does NOT apply — inlined, the get_json_object JSON parse
    // re-executed per reference (~5× q16's cost for the same scan).
    // Materializing the coalesce as a named column first makes every
    // downstream reference a free attribute read; CollapseProject keeps
    // the split (it never re-inlines non-cheap expressions).
    t(s, dir, "events")
      .select(col("event_id"),
        coalesce(
          Cleanse.trimToNull(get_json_object(col("props"), "$.missing")),
          Cleanse.trimToNull(col("user_id").cast("string"))).as("_raw"))
      .select(col("event_id"), Cleanse.toIntLossy(col("_raw")).as("resolved_key"))

  val q14Sql: String =
    """SELECT event_id,
      |  TRY_CAST(trunc(TRY_CAST(coalesce(
      |    nullif(trim(json_extract_string(props, '$.missing')), ''),
      |    nullif(trim(CAST(user_id AS VARCHAR)), '')) AS DOUBLE)) AS BIGINT) AS resolved_key
      |FROM events""".stripMargin

  /** P9 — default-on-null measures. */
  def q15DefaultZero(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_discount").cast("string").as("_disc")) // format once (see q14)
      .select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        Cleanse.defaultZeroLong(col("l_returnflag")).as("garbage_to_zero"),
        Cleanse.defaultZeroDouble(col("_disc")).as("roundtrip_discount"))

  val q15Sql: String =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |  coalesce(TRY_CAST(trunc(TRY_CAST(l_returnflag AS DOUBLE)) AS BIGINT), 0) AS garbage_to_zero,
      |  coalesce(TRY_CAST(CAST(l_discount AS VARCHAR) AS DOUBLE), 0.0) AS roundtrip_discount
      |FROM lineitem""".stripMargin

  /** P1 — JSON field extraction from the events props column. */
  def q16JsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").try_cast("long").as("k"))

  val q16Sql: String =
    "SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events"

  /** J2/A4 — referential-integrity audit of the testdata star. */
  def q17IntegrityAudit(s: SparkSession, dir: String): DataFrame =
    Integrity.auditDf(t(s, dir, "lineitem"), Seq(
      ("part", t(s, dir, "part"), "l_partkey", "p_partkey"),
      ("supplier", t(s, dir, "supplier"), "l_suppkey", "s_suppkey"),
      ("orders", t(s, dir, "orders"), "l_orderkey", "o_orderkey")))

  val q17Sql: String =
    """SELECT
      |  CAST(sum(CASE WHEN l_partkey IS NOT NULL AND p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_part,
      |  CAST(sum(CASE WHEN l_suppkey IS NOT NULL AND s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_supplier,
      |  CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_orders
      |FROM lineitem
      |LEFT JOIN part ON l_partkey = p_partkey
      |LEFT JOIN supplier ON l_suppkey = s_suppkey
      |LEFT JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  /** A2/A3 — uniqueness invariant on the events stream table. */
  def q18EventUniqueness(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("event_id")).as("n_ids"))

  val q18Sql: String =
    "SELECT count(*) AS n_rows, count(DISTINCT event_id) AS n_ids FROM events"

  /** P8-style filter + projection, pushdown-friendly. */
  def q19PurchaseFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_type") === "purchase" && col("value") > 100.0)
      .select(col("event_id"), col("user_id"), col("value"))

  val q19Sql: String =
    "SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase' AND value > 100.0"

  // =========================================================================
  // Training-data pipeline: text analysis, dedup, similarity, multimodal
  // =========================================================================

  /** Normalized-text SQL fragment (mirror of TextAnalysis.fingerprint's
    * normalization; DuckDB regexp_replace needs the 'g' flag — Spark
    * replaces all matches by default). */
  private val normSql = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

  /** (doc_id, shingle) distinct-pairs CTE prefix, n-gram size `n`. */
  private def shingleCte(n: Int): String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS words FROM documents),
       |sdup AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(words) - ${n - 1}, 0) + 1),
       |  i -> array_to_string(list_slice(words, i, i + ${n - 1}), ' '))) AS shingle FROM w),
       |s AS (SELECT DISTINCT doc_id, shingle FROM sdup)""".stripMargin

  /** Text profile: token counts, quality score, lang-ID, fingerprint —
    * one scan, all codegen'd Column expressions. */
  def q20TextProfile(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.profile(t(s, dir, "documents"))

  /** SQL mirror of TextAnalysis.qualityScore (shared by q20 and q83). */
  private val qualitySqlExpr: String = {
    val stop = "len(regexp_extract_all(text, '(?i)\\b(the|a|of|and|or|in|to)\\b'))"
    val sym = "len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))"
    s"""CAST((CASE WHEN n_chars BETWEEN 200 AND 2000 THEN 40
       |             WHEN n_chars BETWEEN 50 AND 5000 THEN 20 ELSE 0 END)
       |    + least($stop * 5, 30) + 30 - least($sym * 2, 30) AS BIGINT)""".stripMargin
  }

  val q20Sql: String = {
    def hits(ws: String) = s"len(regexp_extract_all(text, '(?i)\\b($ws)\\b'))"
    val en = hits("the|and|of|to|in"); val de = hits("der|die|das|und|ist")
    val fr = hits("le|la|les|et|est"); val es = hits("el|los|las|es|y")
    s"""SELECT doc_id, lang, source,
       |  CAST((CASE WHEN text IS NULL OR regexp_replace(text, '\\s', '', 'g') = '' THEN 0 ELSE len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) END) AS BIGINT) AS n_tokens,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
       |  $qualitySqlExpr AS quality,
       |  CASE WHEN greatest($en, $de, $fr, $es) = 0 THEN 'und'
       |       WHEN $en = greatest($en, $de, $fr, $es) THEN 'en'
       |       WHEN $de = greatest($en, $de, $fr, $es) THEN 'de'
       |       WHEN $fr = greatest($en, $de, $fr, $es) THEN 'fr'
       |       ELSE 'es' END AS lang_pred,
       |  md5($normSql) AS fp
       |FROM documents""".stripMargin
  }

  /** Exact dedup by content fingerprint (one hash-aggregate). */
  def q21DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"))

  val q21Sql: String =
    s"""SELECT md5($normSql) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
       |FROM documents WHERE text IS NOT NULL GROUP BY 1""".stripMargin

  /** Shingle statistics: distinct 5-gram count per doc. */
  def q22ShingleStats(s: SparkSession, dir: String): DataFrame =
    Dedup.shinglePairs(t(s, dir, "documents"), 5)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))

  val q22Sql: String =
    s"""${shingleCte(5)}
       |SELECT doc_id, count(*) AS n_shingles FROM s GROUP BY doc_id""".stripMargin

  /** N-gram Jaccard near-dup pairs (the quadratic-candidate baseline the
    * LSH path is verified against). */
  def q23JaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(t(s, dir, "documents"), 5, 0.5)

  private def jaccardTailSql(candidateJoin: String): String =
    s"""sz AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
       |common AS ($candidateJoin),
       |j AS (SELECT doc_a, doc_b, CAST(common AS DOUBLE) / (x.sz + y.sz - common) AS jaccard
       |  FROM common JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b)
       |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin

  val q23Sql: String =
    s"""${shingleCte(5)},
       |${jaccardTailSql(
            """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
              |  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2""".stripMargin)}""".stripMargin

  /** MinHash + LSH banding dedup — the 100 TB near-dup path: constant
    * shuffles per doc, hot-bucket capped, candidates verified by exact
    * Jaccard. k=12 hashes, 4 bands × 3 rows. */
  def q24MinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(t(s, dir, "documents"), n = 5, k = 12, bands = 4,
      threshold = 0.5, maxBucket = 100)

  /** CTE chain from `documents` to LSH candidate pairs `cand` (+ the
    * shingle set `s`): shingleCte(n) → double-hash → k minhashes →
    * banded buckets → hot-bucket cap → distinct candidate pairs. Shared
    * by the Jaccard (q24) and containment (q112) mirrors. */
  private def lshCandCteSql(n: Int, k: Int, bands: Int, maxBucket: Int): String = {
    val prime = "4294967291"
    val rowsPer = k / bands
    val mhDefs = (0 until k).map(i =>
      s"min((h1 + $i * h2) % $prime) AS mh$i").mkString(", ")
    val bandRows = (0 until bands).map { b =>
      val parts = (b * rowsPer until (b + 1) * rowsPer)
        .map(i => s"'$i=' || CAST(mh$i AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(array_to_string(list_sort([$parts]), '|')) AS bucket FROM agg"
    }.mkString("\n  UNION ALL ")
    s"""${shingleCte(n)},
       |hs AS (SELECT doc_id,
       |  CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) % $prime AS h1,
       |  CAST(('0x' || substring(md5('s:' || shingle), 1, 15)) AS BIGINT) % $prime AS h2
       |  FROM s),
       |agg AS (SELECT doc_id, $mhDefs FROM hs GROUP BY doc_id),
       |banded AS ($bandRows),
       |ok_buckets AS (SELECT band, bucket FROM banded GROUP BY 1, 2 HAVING count(*) <= $maxBucket),
       |capped AS (SELECT banded.* FROM banded JOIN ok_buckets USING (band, bucket)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM capped a JOIN capped b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin
  }

  val q24Sql: String =
    s"""${lshCandCteSql(5, 12, 4, 100)},
       |${jaccardTailSql(
            """SELECT doc_a, doc_b, count(*) AS common
              |  FROM cand JOIN s sa ON sa.doc_id = doc_a
              |  JOIN s sb ON sb.doc_id = doc_b AND sa.shingle = sb.shingle GROUP BY 1, 2""".stripMargin)}""".stripMargin

  /** 64-bit SimHash signatures. */
  def q25Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(t(s, dir, "documents"))

  val q25Sql: String = {
    val bitDefs = (0 until Dedup.simhashBits).map { bit =>
      val digit = bit / 4; val sub = bit % 4
      s"(((position(substring(h, ${digit + 1}, 1) IN '0123456789abcdef') - 1) >> $sub) & 1) AS b$bit"
    }.mkString(",\n  ")
    val sums = (0 until Dedup.simhashBits).map(b => s"sum(b$b) AS s$b").mkString(", ")
    val chars = (0 until Dedup.simhashBits)
      .map(b => s"CASE WHEN s$b * 2 >= n THEN '1' ELSE '0' END").mkString(", ")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok FROM documents),
       |hs AS (SELECT doc_id, md5(tok) AS h FROM toks),
       |bits AS (SELECT doc_id,
       |  $bitDefs
       |FROM hs),
       |votes AS (SELECT doc_id, count(*) AS n, $sums FROM bits GROUP BY doc_id)
       |SELECT doc_id, concat($chars) AS simhash FROM votes""".stripMargin
  }

  // ---- similarity search ----

  /** Cosine SQL over DOUBLE[] exprs — same sequential fold + 6-dp rounding
    * as Similarity.score, so ranks can never diverge between engines. */
  /** `+ 0` canonicalizes DuckDB's signed zero (round keeps -0.0 there;
    * Spark's normalizes) — mirrors Stats.canonZero on the Spark leg. */
  /** Zero-norm guard mirrors Similarity's NULL score: without the
    * nullif, DuckDB computes 0/0 = NaN, and NaN sorts ABOVE every real
    * double under ORDER BY cos DESC and passes >= thresholds — one
    * all-zero embedding would become every query's rank-1 neighbor in
    * the oracle while Spark's NULL sorts last (the r12 zero-norm lesson,
    * applied to the SQL side). */
  private def cosSql(a: String, b: String): String =
    s"""(round(list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) /
       | nullif(sqrt(list_sum(list_transform($a, x -> x * x))) *
       |  sqrt(list_sum(list_transform($b, x -> x * x))), 0), 6) + 0)""".stripMargin.replace("\n", "")

  /** Brute-force top-5 cosine kNN for 16 query vectors — the exact
    * baseline every ANN path is measured against. */
  def q26KnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.knnBruteForce(emb.filter(col("vec_id") < 16), emb, 5)
  }

  val q26Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id < 16),
       |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
       |scored AS (SELECT query_id, neighbor_id, ${cosSql("qv", "cv")} AS cos
       |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank FROM scored)
       |WHERE rank <= 5""".stripMargin

  /** ANN via random-hyperplane LSH (4 planes): one shuffle on the bucket
    * key instead of a cross join — the scale path. */
  def q27AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.annLsh(emb.filter(col("vec_id") < 16), emb, k = 5, dims = 64, planes = 4)
  }

  private def planeLitSql(p: Int, dims: Int): String =
    (0 until dims).map(d => Similarity.planeComponent(p, d).toString).mkString("[", ", ", "]")

  val q27Sql: String = {
    val bits = (0 until 4).map { p =>
      s"CASE WHEN list_sum(list_transform(list_zip(v, ${planeLitSql(p, 64)}), x -> x[1] * x[2])) >= 0 THEN '1' ELSE '0' END"
    }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, v, concat($bits) AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 16),
       |c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM b),
       |scored AS (SELECT query_id, neighbor_id, ${cosSql("qv", "cv")} AS cos
       |  FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank FROM scored)
       |WHERE rank <= 5""".stripMargin
  }

  /** Embedding near-dup pairs above a cosine threshold (brute baseline,
    * restricted id range; the LSH path above is the scale story). */
  def q28EmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDup(t(s, dir, "embeddings").filter(col("vec_id") < 512), 0.4)

  val q28Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < 512)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.v", "b.v")} AS cos
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE ${cosSql("a.v", "b.v")} >= 0.4""".stripMargin

  // ---- multimodal ----

  /** Multimodal asset wrapping: opaque binary payload + typed metadata
    * (byte length, md5 checksum) — the Spark-side plumbing is real; only
    * codec decode is stubbed (no media libs in the sandbox). */
  def q29MultimodalAssets(s: SparkSession, dir: String): DataFrame =
    Multimodal.toAssets(t(s, dir, "documents"), "doc_id", "text", "text")
      .select(col("asset_id"), col("media_type"), col("n_bytes"), col("checksum"))

  val q29Sql: String =
    """SELECT doc_id AS asset_id, 'text' AS media_type,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      |  md5(text) AS checksum
      |FROM documents""".stripMargin

  /** Batch decode through the Decoder trait (mapPartitions shape) + frame
    * sampling. The stub decoder's outputs are pure md5-byte arithmetic
    * (Multimodal.StubDecoder), so the oracle replays the same arithmetic on
    * DuckDB's md5 hex digits — the one formerly rows-only entry, now
    * hash-checked. */
  def q30MultimodalDecode(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.toAssets(t(s, dir, "documents"), "doc_id", "text", "text")
    Multimodal.sampleFrames(
      Multimodal.decodeAll(assets, Multimodal.StubDecoder).toDF(), 2)
      .select(col("asset_id"), col("width").cast("long"), col("height").cast("long"),
        col("n_frames").cast("long"),
        size(col("sampled_frames")).cast("long").as("n_sampled"))
  }

  /** StubDecoder mirror: byte i of md5 = 16*hexval(char 2i+1) +
    * hexval(char 2i+2); width = (byte0<<4 | byte1&0x0f) + 16, height the
    * same from bytes 2/3, n_frames = (byte4 & 0x7f) + 1, and the stride-2
    * frame sample has (n_frames-1)/2 + 1 elements. */
  val q30Sql: String = {
    def hx(i: Int) = s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1)"
    s"""WITH h AS (SELECT doc_id, md5(text) AS m FROM documents),
       |b AS (SELECT doc_id,
       |  ${hx(1)} * 16 + ${hx(2)} AS b0, ${hx(4)} AS n1,
       |  ${hx(5)} * 16 + ${hx(6)} AS b2, ${hx(8)} AS n3,
       |  ${hx(9)} * 16 + ${hx(10)} AS b4
       |FROM h)
       |SELECT doc_id AS asset_id,
       |  CAST(b0 * 16 + n1 + 16 AS BIGINT) AS width,
       |  CAST(b2 * 16 + n3 + 16 AS BIGINT) AS height,
       |  CAST((b4 % 128) + 1 AS BIGINT) AS n_frames,
       |  CAST((b4 % 128) // 2 + 1 AS BIGINT) AS n_sampled
       |FROM b""".stripMargin
  }

  // ---- star pipeline as a query (LWW + alias-coalesce + cleanse e2e) ----

  /** The star pipeline's dim_customer builder run over a sales feed derived
    * from `orders` (stringly-typed, with blank keys, "NaN" ages and
    * untrimmed names injected deterministically): exercises
    * aliasKey fallback → cleanse → lastWriteWins exactly as the streaming
    * pipeline does, with a SQL-checkable result. */
  def q31StarCustomerDim(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val feed = o.select(
      col("o_orderkey").cast("string").as("id"),
      when(col("o_custkey") % 7 === 0, lit(""))
        .otherwise(col("o_custkey").cast("string")).as("sale_customer_id"),
      concat(lit(" First"), (col("o_custkey") % 50).cast("string")).as("customer_first_name"),
      concat(lit("Last"), (col("o_custkey") % 50).cast("string"), lit(" ")).as("customer_last_name"),
      when(col("o_orderkey") % 5 === 0, lit("NaN"))
        .otherwise(concat((col("o_custkey") % 60 + 18).cast("string"), lit(".0"))).as("customer_age"),
      when(col("o_custkey") % 3 === 0, lit(""))
        .otherwise(concat(lit("u"), col("o_custkey").cast("string"), lit("@x.com"))).as("customer_email"),
      concat(lit("C"), (col("o_custkey") % 5).cast("string")).as("customer_country"),
      struct(lit(0L).as("f"), col("o_orderkey").as("k")).as("_seq"))
    StarSchema.lastWriteWins(
      StarSchema.customerRows(feed), Seq("source_customer_id"), "_seq")
      .withColumn("age", col("age").cast("long"))
  }

  val q31Sql: String =
    """WITH feed AS (SELECT o_orderkey,
      |  CASE WHEN o_custkey % 7 = 0 THEN o_orderkey ELSE o_custkey END AS k,
      |  nullif(trim(concat_ws(' ',
      |    trim(' First' || CAST(o_custkey % 50 AS VARCHAR)),
      |    trim('Last' || CAST(o_custkey % 50 AS VARCHAR) || ' '))), '') AS customer_name,
      |  'C' || CAST(o_custkey % 5 AS VARCHAR) AS country,
      |  CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_custkey % 60 + 18 END AS age,
      |  CASE WHEN o_custkey % 3 = 0 THEN NULL
      |       ELSE 'u' || CAST(o_custkey AS VARCHAR) || '@x.com' END AS email
      |  FROM orders)
      |SELECT k AS source_customer_id, customer_name, country, CAST(age AS BIGINT) AS age, email
      |FROM (SELECT *, row_number() OVER (PARTITION BY k ORDER BY o_orderkey DESC) AS rn FROM feed)
      |WHERE rn = 1""".stripMargin

  /** IVF-style ANN: deterministic seed centroids, broadcast assignment,
    * multi-probe (4 nearest cells per query, distance-ordered) — the
    * inverted-file trade-off. 32 cells / 4 probes is the measured recall
    * optimum at the 1/8-corpus candidate budget (AnnTune: 0.79 vs 0.56 for
    * 16/2 on sf0.01); see AnnRecallSpec for the measured recall frontier. */
  def q33AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.annIvf(emb.filter(col("vec_id") < 16), emb, k = 5, nCells = 32, nProbe = 4)
  }

  val q33Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cell, v AS cvec FROM e ORDER BY vec_id LIMIT 32),
       |ca AS (SELECT neighbor_id, cv, cell_id FROM (
       |  SELECT e.vec_id AS neighbor_id, e.v AS cv, cents.cell AS cell_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "cents.cvec")} DESC, cents.cell ASC) AS rnk
       |  FROM e CROSS JOIN cents) WHERE rnk <= 1),
       |qp AS (SELECT query_id, qv, cell_id FROM (
       |  SELECT e.vec_id AS query_id, e.v AS qv, cents.cell AS cell_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "cents.cvec")} DESC, cents.cell ASC) AS rnk
       |  FROM e CROSS JOIN cents WHERE e.vec_id < 16) WHERE rnk <= 4),
       |scored AS (SELECT query_id, neighbor_id, max(${cosSql("qv", "cv")}) AS cos
       |  FROM qp JOIN ca USING (cell_id) WHERE query_id <> neighbor_id GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, cos, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank FROM scored)
       |WHERE rank <= 5""".stripMargin

  /** T4 extension — tumbling event-time windows (6 h) over the events
    * stream table: Spark `window()` aligns buckets to the epoch, mirrored
    * with integer epoch math in the oracle. */
  def q34TumblingWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"), col("total_value"))

  val q34Sql: String =
    """WITH b AS (SELECT
      |  CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600) * 21600)
      |    AT TIME ZONE 'UTC' AS TIMESTAMP) AS window_start,
      |  value FROM events WHERE ts IS NOT NULL)
      |SELECT window_start, window_start + INTERVAL 6 HOUR AS window_end,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM b GROUP BY 1""".stripMargin

  /** T4 extension — session windows (30 min gap) per user: Spark
    * `session_window` vs the classic gaps-and-islands formulation. A new
    * session starts when the gap is >= the timeout (Spark's window end is
    * exclusive). */
  def q35SessionWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  val q35Sql: String =
    """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      |  WHERE ts IS NOT NULL),
      |m AS (SELECT user_id, ts,
      |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
      |       THEN 1 ELSE 0 END AS brk FROM o),
      |g AS (SELECT user_id, ts,
      |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS grp FROM m)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
      |FROM g GROUP BY user_id, grp""".stripMargin

  /** Embedding near-dup via multi-table LSH — the scale path (narrow
    * bucket-join candidates, exact-cosine verification) mirrored in SQL
    * table by table. */
  def q36EmbeddingNearDupLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupLsh(t(s, dir, "embeddings"), threshold = 0.3,
      dims = 64, planes = 6, tables = 2)

  val q36Sql: String = {
    def bucketSql(table: Int): String = (0 until 6).map { p =>
      s"CASE WHEN list_sum(list_transform(list_zip(v, ${planeLitSql(table * 6 + p, 64)}), x -> x[1] * x[2])) >= 0 THEN '1' ELSE '0' END"
    }.mkString("concat(", ", ", ")")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, v, 0 AS tbl, ${bucketSql(0)} AS bucket FROM e
       |      UNION ALL
       |      SELECT vec_id, v, 1 AS tbl, ${bucketSql(1)} AS bucket FROM e),
       |cand AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       |    any_value(a.v) AS va, any_value(b2.v) AS vb
       |  FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket
       |    AND a.vec_id < b2.vec_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, ${cosSql("va", "vb")} AS cos FROM cand
       |WHERE ${cosSql("va", "vb")} >= 0.3""".stripMargin
  }

  /** T8 — error channel over a feed with deterministically-injected
    * garbage ids: uncoercible-but-present keys are rejected with a
    * reference-style "error: ..." message, never silently nulled. */
  def q32ErrorChannel(s: SparkSession, dir: String): DataFrame = {
    val feed = t(s, dir, "orders").select(
      when(col("o_orderkey") % 13 === 0,
        concat(lit("id_"), col("o_orderkey").cast("string")))
        .otherwise(col("o_orderkey").cast("string")).as("id"),
      col("o_custkey").cast("string").as("sale_customer_id"))
    val (_, errors) = graft.streaming.ErrorChannel.split(feed, Seq("id"))
    errors.select(col("id"), col("_error"))
  }

  val q32Sql: String =
    """SELECT 'id_' || CAST(o_orderkey AS VARCHAR) AS id,
      |  'error: ValueError: invalid int for ''id'': id_' || CAST(o_orderkey AS VARCHAR) AS _error
      |FROM orders WHERE o_orderkey % 13 = 0""".stripMargin

  /** SimHash near-dup pairs: pigeonhole-banded candidates (4 16-bit chunk
    * joins) verified by exact hamming distance — integer ops end to end. */
  def q39SimhashNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDup(t(s, dir, "documents"), maxHamming = 3)

  val q39Sql: String = {
    val bitDefs = (0 until Dedup.simhashBits).map { bit =>
      val digit = bit / 4; val sub = bit % 4
      s"(((position(substring(h, ${digit + 1}, 1) IN '0123456789abcdef') - 1) >> $sub) & 1) AS b$bit"
    }.mkString(",\n  ")
    val sums = (0 until Dedup.simhashBits).map(b => s"sum(b$b) AS s$b").mkString(", ")
    val chunks = (0 until 4).map { j =>
      (0 until 16).map { i =>
        val b = 16 * j + i
        s"(CASE WHEN s$b * 2 >= n THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ") + s" AS c$j"
    }.mkString(",\n  ")
    val bandRows = (0 until 4).map(j =>
      s"SELECT doc_id, $j AS band, c$j AS chunk FROM sig").mkString("\n  UNION ALL ")
    val ham = (0 until 4).map(j => s"bit_count(xor(sa.c$j, sb.c$j))").mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok FROM documents),
       |hs AS (SELECT doc_id, md5(tok) AS h FROM toks),
       |bits AS (SELECT doc_id,
       |  $bitDefs
       |FROM hs),
       |votes AS (SELECT doc_id, count(*) AS n, $sums FROM bits GROUP BY doc_id),
       |sig AS (SELECT doc_id,
       |  $chunks
       |FROM votes),
       |banded AS ($bandRows),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST($ham AS BIGINT) AS hamming
       |FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
       |WHERE $ham <= 3""".stripMargin
  }

  /** As-of join: for every error event, the same user's latest purchase
    * at-or-before it (union + partitioned-window formulation — one key
    * shuffle, no per-row probing). Mirrored by DuckDB's native ASOF JOIN. */
  def q37AsOfJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    // right side unique per (user_id, ts): collapse by max event_id
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("p_event_id"),
        max_by(col("value"), col("event_id")).as("p_value"))
    graft.operators.Joins.asOf(errors, purch, Seq("user_id"), "ts", "ts", "p_")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("p_p_event_id").as("last_purchase_id"),
        col("p_ts").as("last_purchase_ts"),
        col("p_p_value").as("last_purchase_value"))
  }

  val q37Sql: String =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
      |err AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'error'),
      |p AS (SELECT user_id, ts, event_id AS p_event_id, value AS p_value
      |      FROM e WHERE event_type = 'purchase'
      |      QUALIFY row_number() OVER (PARTITION BY user_id, ts
      |        ORDER BY event_id DESC) = 1)
      |SELECT err.event_id, err.user_id, err.ts,
      |  p.p_event_id AS last_purchase_id,
      |  p.ts AS last_purchase_ts,
      |  p.p_value AS last_purchase_value
      |FROM err ASOF LEFT JOIN p ON err.user_id = p.user_id AND p.ts <= err.ts""".stripMargin

  /** Banded range join: purchases within ±30 min of each error event per
    * user — bucketed equi-join (3× right-side expansion) instead of a
    * theta join. */
  def q38RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val pairs = graft.operators.Joins.rangeJoin(
      errors, purchases, Seq("user_id"), "ts", "p_ts", "30 minutes")
    val counts = pairs.groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_nearby"))
    errors.join(counts, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n_nearby"), lit(0L)).as("n_nearby"))
  }

  val q38Sql: String =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      |err AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'error'),
      |p AS (SELECT user_id, ts FROM e WHERE event_type = 'purchase')
      |SELECT err.event_id, err.user_id,
      |  CAST(count(p.ts) AS BIGINT) AS n_nearby
      |FROM err LEFT JOIN p ON err.user_id = p.user_id
      |  AND abs(epoch_us(err.ts) - epoch_us(p.ts)) <= 30 * 60 * 1000000
      |GROUP BY 1, 2""".stripMargin

  /** Skew-salted two-phase aggregation (operators/Skew): phase 1 groups by
    * (key, salt) spreading any hot key over 32 reducers, phase 2
    * re-aggregates the tiny partial frame by key. The oracle is the plain
    * GROUP BY — the whole point is that salting never changes the answer. */
  def q42SaltedAgg(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedAgg(
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_quantity")),
      Seq("l_returnflag"), saltBuckets = 32,
      Seq(
        ("n", count(lit(1)), (p: String) => sum(col(p))),
        ("total_qty", sum(col("l_quantity").cast("long")), (p: String) => sum(col(p)))))

  val q42Sql: String =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      |FROM lineitem GROUP BY 1""".stripMargin

  /** The SQL function registry (functions/GraftExtensions, attached when
    * the session is built): the native DotProduct expression invoked
    * through `spark.sql` text, not the Column API. Same sequential-fold
    * cosine as q26, so the oracle reuses the list_zip fold. */
  def q43SqlDotProduct(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "embeddings").filter(col("vec_id") < 40)
      .createOrReplaceTempView("graft_q43_emb")
    s.sql("""
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(dot_product(a.embedding, b.embedding) /
          (sqrt(dot_product(a.embedding, a.embedding)) *
           sqrt(dot_product(b.embedding, b.embedding))), 6) AS cos
      FROM graft_q43_emb a JOIN graft_q43_emb b ON a.vec_id < b.vec_id""")
  }

  val q43Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < 40)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.v", "b.v")} AS cos
       |FROM e a JOIN e b ON a.vec_id < b.vec_id""".stripMargin

  /** Deterministic stratified sampling (operators/Sampling): content-hash
    * buckets, no RNG, no shuffle — the reproducible-split primitive every
    * training pipeline needs. Fractions are binary-exact (0.5/0.25/...) so
    * threshold arithmetic is identical across engines. */
  def q44Sampling(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      "lang", "doc_id",
      Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.125, "zh" -> 0.0625))

  val q44Sql: String =
    """SELECT doc_id, lang FROM documents
      |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
      |    % 1000000 <
      |  CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
      |            WHEN 'fr' THEN 125000 WHEN 'zh' THEN 62500 ELSE NULL END""".stripMargin

  /** Train/val/test split stability: disjoint + exhaustive hash-range
    * split, summarized as per-split counts. A row's split never changes
    * across runs/engines — the test-set-hygiene property. */
  def q45Split(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.threeWaySplit(
      t(s, dir, "orders").select(col("o_orderkey")),
      "o_orderkey", trainFrac = 0.75, valFrac = 0.125)
      .groupBy(col("split")).agg(count(lit(1)).as("n"))

  val q45Sql: String =
    """WITH b AS (SELECT CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))
      |    AS BIGINT) % 1000000 AS bk FROM orders)
      |SELECT CASE WHEN bk IS NULL THEN NULL
      |            WHEN bk < 750000 THEN 'train'
      |            WHEN bk < 875000 THEN 'val' ELSE 'test' END AS split,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM b GROUP BY 1""".stripMargin

  /** Window frame specs (§2.5, ABSENT in reference): rolling 3-row spend
    * per customer — partitioned, ordered, framed window; sums in
    * DECIMAL(18,2) so the frame arithmetic is order-exact cross-engine. */
  def q46RollingWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, Window.currentRow)
    t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
      sum(dec2(col("o_totalprice"))).over(w).cast("double").as("rolling_spend"))
  }

  val q46Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_spend
      |FROM orders""".stripMargin

  /** TF-IDF-style salient terms: tf per (doc, term) and df per term over
    * the WHOLE corpus (the inverted-index shape — one shuffle on the term),
    * top-3 per doc ranked by the integer-exact key (tf DESC, df ASC, term)
    * — rarer-but-frequent terms first, with no floating-point log in the
    * ranking so the result is bit-deterministic in any engine. */
  def q47TfidfTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t(s, dir, "documents").select(col("doc_id"),
      explode(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term").filter(col("doc_id") < 50)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rank"))
  }

  val q47Sql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
       |SELECT doc_id, term, tf, df, rank FROM (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    CAST(row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS BIGINT) AS rank
       |  FROM tf JOIN df USING (term) WHERE tf.doc_id < 50)
       |WHERE rank <= 3""".stripMargin

  /** Corpus profiling per language: counts, totals, mean/stddev/median of
    * document length. All statistics derive from EXACT integer sums (the
    * stddev uses the n·Σx²−(Σx)² identity over longs, one IEEE division +
    * sqrt at the end; the median averages the two middle integers), so
    * every value is bit-identical cross-engine with no rounding crutch. */
  def q48CorpusStats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("lang"), col("n_chars").cast("long").as("c"))
    val n = count(lit(1)); val sm = sum(col("c")); val ssq = sum(col("c") * col("c"))
    d.groupBy(col("lang")).agg(
      n.as("n_docs"),
      sm.as("total_chars"),
      (sm.cast("double") / n).as("mean_chars"),
      sqrt((n * ssq - sm * sm).cast("double") / (n * n).cast("double")).as("stddev_chars"),
      expr("percentile(c, 0.5)").as("median_chars"))
  }

  val q48Sql: String =
    """WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS c FROM documents),
      |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
      |        CAST(sum(c * c) AS BIGINT) AS ssq, median(c) AS med
      |      FROM d GROUP BY 1)
      |SELECT lang, n AS n_docs, s AS total_chars,
      |  CAST(s AS DOUBLE) / n AS mean_chars,
      |  sqrt(CAST(n * ssq - s * s AS DOUBLE) / CAST(n * n AS DOUBLE)) AS stddev_chars,
      |  med AS median_chars
      |FROM a""".stripMargin

  /** Custom typed Aggregator (functions/TopKAggregator): exact top-3
    * orders by price per priority, with the k-bounded buffer partial-
    * aggregating map-side — at most k rows per group per partition reach
    * the shuffle (vs the window formulation's full per-group sort). */
  def q49TopkAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.{ScoredId, TopKAggregator}
    val rows = t(s, dir, "orders").select(
        col("o_orderpriority").as("prio"),
        dec2(col("o_totalprice")).cast("double").as("score"),
        col("o_orderkey").as("id"))
      .as[(String, Double, Long)]
    rows.groupByKey(_._1)
      .mapValues(r => ScoredId(r._2, r._3))
      .agg(new TopKAggregator(3).toColumn.name("top"))
      .flatMap { case (prio, top) =>
        top.zipWithIndex.map { case (t, i) => (prio, t.id, t.score, (i + 1).toLong) }
      }
      .toDF("prio", "id", "score", "rank")
  }

  val q49Sql: String =
    """SELECT prio, id, score, rank FROM (
      |  SELECT o_orderpriority AS prio, o_orderkey AS id,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS score,
      |    CAST(row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey ASC)
      |      AS BIGINT) AS rank
      |  FROM orders)
      |WHERE rank <= 3""".stripMargin

  /** Pivot (§2.4 widening): daily event counts spread into one column per
    * event type. With the pivot values enumerated, Catalyst rewrites this
    * to per-type conditional counts inside ONE aggregate — a single
    * shuffle, no per-type passes; the DuckDB mirror is the same CASE
    * formulation. */
  def q50Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))

  val q50Sql: String =
    """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |  CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
      |  CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view,
      |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
      |  CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
      |  CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error
      |FROM events GROUP BY 1""".stripMargin

  /** Explicit LEFT SEMI join (§2.3 widening; q07 is the anti twin):
    * customers with at least one order — the probe side streams through a
    * broadcast/hash semi join, never duplicating matches. */
  def q51SemiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))

  val q51Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  /** INTERSECT set op (§2.5 widening; q07 covers EXCEPT semantics):
    * nation keys present among BOTH customers and suppliers. */
  def q52Intersect(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").cast("long").as("nationkey"))
      .intersect(
        t(s, dir, "supplier").select(col("s_nationkey").cast("long").as("nationkey")))

  val q52Sql: String =
    """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
      |INTERSECT
      |SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier""".stripMargin

  /** GROUPING SETS (§2.4 widening beyond rollup/cube): per-(priority),
    * per-(status), and grand-total counts in ONE aggregation pass — the
    * general form q08/q40 specialize. Expressed through spark.sql (the
    * Dataset API exposes only rollup/cube). */
  def q53GroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_q53_orders")
    s.sql("""
      SELECT o_orderpriority, o_orderstatus, count(*) AS n
      FROM graft_q53_orders
      GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""")
  }

  val q53Sql: String =
    """SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin

  /** Explicit EXCEPT set op (§2.5; the dataflow twin of q07's anti join):
    * nation keys that have customers but no suppliers. */
  def q54Except(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").cast("long").as("nationkey"))
      .except(
        t(s, dir, "supplier").select(col("s_nationkey").cast("long").as("nationkey")))

  val q54Sql: String =
    """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
      |EXCEPT
      |SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier""".stripMargin

  /** The composed corpus-dedup pipeline (exact + MinHash-LSH greedy drop):
    * the surviving doc_id set a training pipeline would keep. Oracle nests
    * the q24 LSH query as a CTE and mirrors the fingerprint collapse. */
  def q55DedupPipeline(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dedupCorpus(t(s, dir, "documents"),
      n = 5, k = 12, bands = 4, threshold = 0.5, maxBucket = 100)

  val q55Sql: String =
    s"""WITH pairs AS ($q24Sql),
       |f AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
       |keepers AS (SELECT fp, min(doc_id) AS k FROM f GROUP BY 1),
       |drops AS (SELECT doc_id FROM f JOIN keepers USING (fp) WHERE doc_id <> k
       |          UNION SELECT doc_b AS doc_id FROM pairs)
       |SELECT doc_id FROM documents
       |EXCEPT SELECT doc_id FROM drops""".stripMargin

  /** Resize planning over the decoded assets: fit each (width, height)
    * into a 224×224 box, aspect preserved, never upscaled — the metadata
    * half of a batch resize, computed (and oracle-checked) without any
    * codec. Extends q30's md5-arithmetic oracle with one IEEE division +
    * floor per side. */
  def q56ResizePlan(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.toAssets(t(s, dir, "documents"), "doc_id", "text", "text")
    Multimodal.resizePlan(
        Multimodal.decodeAll(assets, Multimodal.StubDecoder).toDF(), 224)
      .select(col("asset_id"), col("width").cast("long"), col("height").cast("long"),
        col("out_width"), col("out_height"))
  }

  val q56Sql: String = {
    def hx(i: Int) = s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1)"
    s"""WITH h AS (SELECT doc_id, md5(text) AS m FROM documents),
       |b AS (SELECT doc_id,
       |  ${hx(1)} * 16 + ${hx(2)} AS b0, ${hx(4)} AS n1,
       |  ${hx(5)} * 16 + ${hx(6)} AS b2, ${hx(8)} AS n3
       |FROM h),
       |d AS (SELECT doc_id,
       |  CAST(b0 * 16 + n1 + 16 AS BIGINT) AS width,
       |  CAST(b2 * 16 + n3 + 16 AS BIGINT) AS height
       |FROM b)
       |SELECT doc_id AS asset_id, width, height,
       |  GREATEST(1, CAST(floor(width * least(224.0 / width, 224.0 / height, 1.0)) AS BIGINT)) AS out_width,
       |  GREATEST(1, CAST(floor(height * least(224.0 / width, 224.0 / height, 1.0)) AS BIGINT)) AS out_height
       |FROM d""".stripMargin
  }

  /** lag/lead analytics (§2.5): day-over-day event-count delta — an
    * ordered window per (single) series; at scale the partition key would
    * be the series id, keeping every window bounded. */
  def q57DayOverDay(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    // 30 distinct days: a single-partition window over a tiny aggregate is
    // the correct plan (the heavy lifting happened in the partial agg)
    val w = Window.orderBy(col("day"))
    daily.withColumn("delta", col("n") - lag(col("n"), 1).over(w))
  }

  val q57Sql: String =
    """WITH daily AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1)
      |SELECT day, n, n - lag(n, 1) OVER (ORDER BY day NULLS FIRST) AS delta
      |FROM daily""".stripMargin
  // ^ NULLS FIRST: Spark's asc places NULL first, DuckDB's default last —
  // a NULL-ts day group would otherwise shift every lag by one

  /** HLL sketch cardinality (§2.7 sketch aggregates): approximate distinct
    * parts per return flag next to the exact count — the profiling query a
    * 100 TB pass runs with sketches instead of value shuffles. The oracle
    * CTE replays the identical md5-register HLL (see
    * [[graft.functions.HllSketchAgg]] for the determinism contract);
    * round(…, 2) absorbs the one libm (`ln`) difference allowed. */
  def q58HllDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(graft.functions.Sketches.hllApproxCountDistinct(col("l_partkey")), 2)
          .as("approx_nd"),
        countDistinct(col("l_partkey")).as("exact_nd"))

  val q58Sql: String =
    """WITH h AS (
      |  SELECT l_returnflag,
      |    CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
      |    CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
      |  FROM lineitem),
      |r AS (
      |  SELECT l_returnflag, h1 // 8388608 AS idx,
      |    (h1 % 8388608) * 4294967296 + h2 AS w
      |  FROM h),
      |regs AS (
      |  SELECT l_returnflag, idx,
      |    MAX(CASE WHEN w = 0 THEN 56 ELSE 56 - length(format('{:b}', w)) END) AS rho
      |  FROM r GROUP BY 1, 2),
      |sums AS (
      |  SELECT l_returnflag,
      |    SUM(CAST(power(2.0, 64 - rho) AS HUGEINT)) AS s_present,
      |    COUNT(*) AS present
      |  FROM regs GROUP BY 1),
      |fin AS (
      |  SELECT l_returnflag,
      |    s_present + (512 - present) * CAST(18446744073709551616 AS HUGEINT) AS s,
      |    512 - present AS zeros
      |  FROM sums),
      |exact AS (
      |  SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_nd
      |  FROM lineitem GROUP BY 1)
      |SELECT f.l_returnflag,
      |  round(CASE WHEN 0.7213 / (1.0 + 1.079 / 512.0) * 512 * 512 * 18446744073709551616.0
      |                   / CAST(f.s AS DOUBLE) <= 1280.0 AND f.zeros > 0
      |    THEN 512 * ln(512.0 / f.zeros)
      |    ELSE 0.7213 / (1.0 + 1.079 / 512.0) * 512 * 512 * 18446744073709551616.0
      |         / CAST(f.s AS DOUBLE) END, 2) AS approx_nd,
      |  e.exact_nd
      |FROM fin f JOIN exact e USING (l_returnflag)""".stripMargin

  /** Exact continuous quantiles (corpus-stats surface a profiling pass
    * needs; `percentile` in Spark is the EXACT aggregator, mirrored by
    * DuckDB's `quantile_cont`). l_quantity is whole-valued, so the only
    * float step is the standard R-7 interpolation — round(…, 6) absorbs
    * any last-ulp formula difference between engines. */
  def q59Quantiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
        round(expr("percentile(l_quantity, 0.99)"), 6).as("p99"))

  val q59Sql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
      |  round(quantile_cont(l_quantity, 0.9), 6) AS p90,
      |  round(quantile_cont(l_quantity, 0.99), 6) AS p99
      |FROM lineitem GROUP BY 1""".stripMargin

  /** ntile bucketing (§2.5 window surface): quartiles of customers by
    * account balance within each market segment, reduced to per-quartile
    * stats. ntile is SQL-standard (identical bucket-size distribution in
    * both engines); the deterministic (balance, key) ordering makes bucket
    * membership reproducible. */
  def q60Ntile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    t(s, dir, "customer")
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy(col("c_mktsegment"), col("quartile"))
      .agg(count(lit(1)).as("n"),
        min(col("c_acctbal")).as("min_bal"), max(col("c_acctbal")).as("max_bal"))
  }

  val q60Sql: String =
    """WITH q AS (
      |  SELECT c_mktsegment, c_acctbal,
      |    CAST(ntile(4) OVER (PARTITION BY c_mktsegment
      |      ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS quartile
      |  FROM customer)
      |SELECT c_mktsegment, quartile, CAST(count(*) AS BIGINT) AS n,
      |  min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
      |FROM q GROUP BY 1, 2""".stripMargin

  /** Int8 embedding quantization summary (the 4× storage cut a vector
    * corpus takes before indexing): per-vector absmax scale + max
    * reconstruction error. Explicit floor-rounding and order-independent
    * aggregates make the DuckDB mirror exact. */
  def q61Quantize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantize.int8Stats(t(s, dir, "embeddings"))

  val q61Sql: String =
    """WITH e AS (
      |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings),
      |s AS (SELECT vec_id, max(abs(x)) AS scale FROM e GROUP BY 1),
      |q AS (
      |  SELECT e.vec_id, scale,
      |    coalesce(floor(x / nullif(scale, 0.0) * 127 + 0.5), 0.0) AS q, x
      |  FROM e JOIN s USING (vec_id))
      |SELECT vec_id, round(max(scale), 6) AS scale,
      |  round(max(abs(x - q * scale / 127)), 6) AS max_err,
      |  CAST(count(*) AS BIGINT) AS n_dims
      |FROM q GROUP BY 1""".stripMargin

  /** Sliding-window document chunking (size 256, stride 224 — 32-char
    * overlap), the pre-tokenization step of a training pipeline; chunk
    * identity checked via md5. Map-only in Spark (one small sequence
    * explode per doc, no shuffle). */
  def q62DocChunks(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.chunk(t(s, dir, "documents"))

  val q62Sql: String =
    """WITH n AS (
      |  SELECT doc_id, text,
      |    CAST(floor((greatest(length(text) - 256, 0) + 223) / 224.0) AS BIGINT) + 1 AS nc
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(0, CAST(nc - 1 AS INT))) AS ix
      |  FROM n)
      |SELECT doc_id, CAST(ix AS BIGINT) AS chunk_ix,
      |  CAST(length(substring(text, ix * 224 + 1, 256)) AS BIGINT) AS chunk_len,
      |  md5(substring(text, ix * 224 + 1, 256)) AS chunk_md5
      |FROM k""".stripMargin

  /** T4 — SLIDING event-time windows (6 h width, 3 h slide): every event
    * lands in width/slide overlapping windows. The oracle enumerates the
    * same windows arithmetically — start_k = slide·floor(ts/slide) − k·slide
    * for k in 0..width/slide−1 (each event is in exactly width/slide
    * epoch-aligned windows, matching Spark's alignment). */
  def q63SlidingWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "6 hours", "3 hours"))
      .agg(count(lit(1)).as("n"), sum(dec2(col("value"))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"), col("total_value"))

  val q63Sql: String =
    """WITH b AS (SELECT
      |  CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 10800) * 10800
      |      - k.k * 10800)
      |    AT TIME ZONE 'UTC' AS TIMESTAMP) AS window_start,
      |  value
      |  FROM events CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k) k
      |  WHERE ts IS NOT NULL)
      |SELECT window_start, window_start + INTERVAL 6 HOUR AS window_end,
      |  count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM b GROUP BY 1""".stripMargin

  /** Z-order interleave (the multi-dimension data-skipping key behind
    * [[graft.plans.Layout.writeZOrdered]]): Morton code of
    * (c_custkey mod 4096, c_nationkey). The oracle replays the bit
    * interleave as div/mod arithmetic — identical for non-negative ints. */
  def q64ZOrder(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey"),
      graft.functions.ZOrder.morton16(
        pmod(col("c_custkey"), lit(4096)).cast("int"),
        col("c_nationkey").cast("int")).cast("long").as("z"))

  val q64Sql: String = {
    val terms = (0 until 16).map { i =>
      s"((x // ${1L << i}) % 2) * ${1L << (2 * i)} + ((y // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")
    s"""WITH b AS (SELECT c_custkey, c_custkey % 4096 AS x, c_nationkey AS y FROM customer)
       |SELECT c_custkey, CAST($terms AS BIGINT) AS z FROM b""".stripMargin
  }

  /** Connected-components duplicate clustering: near-dup pairs (the
    * verified Jaccard set) as edges, iterated min-label propagation to a
    * fixpoint → every node labeled with the smallest reachable doc_id.
    * Greedy pairwise dropping over-deletes on transitive chains; a cluster
    * keeps exactly one survivor per component. Oracle: recursive CTE
    * transitive closure (min over reachable set). */
  def q65DuplicateClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(Dedup.jaccardPairs(t(s, dir, "documents"), 5, 0.5))

  val q65Sql: String = {
    val tail =
      """p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |      UNION ALL SELECT doc_b AS src, doc_a AS dst FROM p),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
        |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin
    s"""${shingleCte(5).replaceFirst("WITH ", "WITH RECURSIVE ")},
       |sz AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
       |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |j AS (SELECT doc_a, doc_b, CAST(common AS DOUBLE) / (x.sz + y.sz - common) AS jaccard
       |  FROM common JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b),
       |$tail""".stripMargin
  }

  /** SCD2 dimension history from the event log: type-2 validity intervals
    * per user over the tracked state, deterministic under ts ties. */
  def q66Scd2History(s: SparkSession, dir: String): DataFrame =
    graft.plans.Scd2.history(t(s, dir, "events"), "user_id", "event_type", "ts", "event_id")

  // NULLS FIRST on ts everywhere: Spark's asc places NULL first, DuckDB's
  // default last — a NULL-ts event would otherwise shift lag/lead/version
  val q66Sql: String =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
      |c AS (SELECT *, lag(event_type) OVER
      |  (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS prev FROM e),
      |ch AS (SELECT user_id, event_type, ts, event_id FROM c WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id, event_type AS state, ts AS effective_from,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS effective_to,
      |  CAST(row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts NULLS FIRST, event_id) AS BIGINT) AS version,
      |  (lead(ts) OVER (PARTITION BY user_id
      |    ORDER BY ts NULLS FIRST, event_id) IS NULL) AS is_current
      |FROM ch""".stripMargin

  /** Heavy hitters: Misra-Gries per-partition candidates + ONE exact
    * recount — exact output (count × k > N), never shuffling the full
    * vocabulary. k=30 over the token stream. */
  def q67HeavyHitters(s: SparkSession, dir: String): DataFrame =
    HeavyHitters.heavyHitters(
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("item")),
      "item", 30)

  val q67Sql: String =
    s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS item FROM documents),
       |tot AS (SELECT count(*) AS n FROM toks)
       |SELECT item, count(*) AS cnt FROM toks, tot GROUP BY item, n
       |HAVING count(*) * 30 > n""".stripMargin

  /** Gopher-style quality gate: per-rule verdicts + combined pass, all
    * integer cross-multiplied comparisons (engine-exact). */
  def q68QualityFilter(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherFilter(t(s, dir, "documents"))

  val q68Sql: String = {
    val words = "(CASE WHEN text IS NULL OR regexp_replace(text, '\\s', '', 'g') = '' THEN 0 ELSE len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) END)"
    val chars = "length(regexp_replace(text, '\\s', '', 'g'))"
    val sym = "len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))"
    val stop = "len(regexp_extract_all(text, '(?i)\\b(the|a|of|and|or|in|to)\\b'))"
    s"""SELECT doc_id,
       |  CAST($words AS BIGINT) AS n_words,
       |  CAST($chars AS BIGINT) AS n_chars_nospace,
       |  CAST($sym AS BIGINT) AS n_symbols,
       |  CAST($stop AS BIGINT) AS n_stopwords,
       |  ($words BETWEEN 30 AND 10000) AS ok_words,
       |  ($chars >= 2 * $words AND $chars <= 10 * $words) AS ok_mean_len,
       |  ($sym * 10 <= $words) AS ok_symbols,
       |  ($stop >= 2) AS ok_stopwords,
       |  (($words BETWEEN 30 AND 10000) AND ($chars >= 2 * $words AND $chars <= 10 * $words)
       |   AND ($sym * 10 <= $words) AND ($stop >= 2)) AS pass
       |FROM documents""".stripMargin
  }

  /** Sequence packing (concat-and-chunk): per-shard token cumsum →
    * pack id + offset at capacity 2048, integer-exact. */
  def q69SequencePacking(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packSequences(t(s, dir, "documents"), 2048)

  val q69Sql: String =
    s"""WITH d AS (SELECT doc_id, source AS shard,
      |  CAST(CASE WHEN text IS NULL OR regexp_replace(text, '\\s', '', 'g') = '' THEN 0 ELSE len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) END AS BIGINT) AS n_tokens FROM documents),
      |c AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before_ FROM d)
      |SELECT doc_id, shard, n_tokens, before_ // 2048 AS pack_id,
      |  before_ % 2048 AS pack_offset FROM c""".stripMargin

  /** Boilerplate segments: 5-gram shingles present in ≥10 distinct docs
    * are template content; per-doc counts of boilerplate vs retained. */
  def q70Boilerplate(s: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateStats(t(s, dir, "documents"), 5, 10)

  val q70Sql: String =
    s"""${shingleCte(5)},
       |df_ AS (SELECT shingle, count(*) AS df FROM s GROUP BY shingle),
       |b AS (SELECT shingle FROM df_ WHERE df >= 10)
       |SELECT s.doc_id, count(*) AS n_shingles, count(b.shingle) AS n_boiler,
       |  count(*) - count(b.shingle) AS retained
       |FROM s LEFT JOIN b ON s.shingle = b.shingle GROUP BY s.doc_id""".stripMargin

  /** Count-Min sketch frequency estimates vs exact counts: one CMS
    * aggregate over the stream (depth 4 × width 64, so collisions are
    * real), estimates read off the broadcast sketch with Column math.
    * est ≥ exact always; both engines replay the exact counter table. */
  def q71CmsFrequency(s: SparkSession, dir: String): DataFrame = {
    val items = t(s, dir, "events").select(col("user_id").cast("string").as("item"))
    val sk = items.agg(graft.functions.Sketches.cmsSketch(col("item"), 4, 64).as("sk"))
    items.groupBy(col("item")).agg(count(lit(1)).as("exact_cnt"))
      .crossJoin(broadcast(sk))
      .select(col("item"),
        graft.functions.Sketches.cmsEstimate(col("sk"), col("item"), 4, 64).as("est_cnt"),
        col("exact_cnt"))
      .withColumn("overcount", col("est_cnt") - col("exact_cnt"))
  }

  val q71Sql: String =
    """WITH items AS (SELECT CAST(user_id AS VARCHAR) AS item FROM events),
      |buckets AS (
      |  SELECT t.r, CAST(('0x' || substring(md5(t.r || ':' || item), 1, 15)) AS BIGINT) % 64 AS bkt,
      |         count(*) AS c
      |  FROM items CROSS JOIN range(4) t(r)
      |  GROUP BY 1, 2),
      |probes AS (SELECT item, count(*) AS exact_cnt FROM items GROUP BY item),
      |est AS (
      |  SELECT p.item, p.exact_cnt, min(b.c) AS est_cnt
      |  FROM probes p CROSS JOIN range(4) t(r)
      |  JOIN buckets b ON b.r = t.r
      |   AND b.bkt = CAST(('0x' || substring(md5(t.r || ':' || p.item), 1, 15)) AS BIGINT) % 64
      |  GROUP BY 1, 2)
      |SELECT item, est_cnt, exact_cnt, est_cnt - exact_cnt AS overcount FROM est""".stripMargin

  /** Source-mixture rebalancing: cap every source at ~100 docs via the
    * integer-exact hash threshold, then audit kept counts per source. */
  def q72SourceCap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.capPerGroup(t(s, dir, "documents"), "source", "doc_id", 100)
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))

  val q72Sql: String =
    """WITH n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      |t AS (SELECT source, least(1000000, (100 * 1000000) // n_docs) AS thr FROM n),
      |k AS (SELECT d.source FROM documents d JOIN t ON d.source = t.source
      |      WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
      |            % 1000000 < t.thr)
      |SELECT source, count(*) AS n_kept FROM k GROUP BY source""".stripMargin

  /** Benchmark decontamination: docs sharing an 8-gram with the held-out
    * set (doc_id % 10 == 0) are flagged with their overlap count. */
  def q73Decontamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.decontaminate(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0), 8)
  }

  val q73Sql: String =
    s"""${shingleCte(8)},
       |bench AS (SELECT DISTINCT shingle FROM s WHERE doc_id % 10 = 0)
       |SELECT s.doc_id, count(*) AS n_contaminated FROM s JOIN bench USING (shingle)
       |WHERE s.doc_id % 10 <> 0 GROUP BY s.doc_id""".stripMargin

  /** Repetition detection: top-2-gram share per doc, integer-exact
    * verdict at the 20% threshold. */
  def q74Repetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(t(s, dir, "documents"), 2)

  val q74Sql: String =
    s"""${shingleCte(2)},
       |per AS (SELECT doc_id, shingle, count(*) AS c FROM sdup GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, CAST(max(c) AS BIGINT) AS max_gram,
       |  (max(c) * 5 > sum(c)) AS repetitive
       |FROM per GROUP BY doc_id""".stripMargin

  /** Duplicate clustering over the SCALE-PATH edge set: connected
    * components on the MinHash-LSH pair graph (banded, hot-bucket-capped —
    * never all-pairs), so the 100 TB composition itself is oracle-checked,
    * not just the quadratic baseline of q65. */
  def q75DuplicateClustersLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.minhashLsh(t(s, dir, "documents"), n = 5, k = 12, bands = 4,
        threshold = 0.5, maxBucket = 100))

  /** q24's pair pipeline verbatim, with the final pair SELECT folded into
    * a CTE and the recursive-CTE closure from q65 appended. */
  val q75Sql: String = {
    val pairSelect = "SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5"
    assert(q24Sql.endsWith(pairSelect), "q75Sql tracks q24Sql's pair tail")
    q24Sql.replaceFirst("WITH ", "WITH RECURSIVE ")
      .dropRight(pairSelect.length).stripTrailing() + ",\n" +
      """p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
        |      UNION ALL SELECT doc_b AS src, doc_a AS dst FROM p),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM e
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
        |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin
  }

  /** PII redaction audit (TextAnalysis.redactPii): per-doc match counts +
    * the redacted-text fingerprint. The corpus text is synthetic words, so
    * the fixture plants PII deterministically from doc_id (2/3 of docs get
    * an email + IP + phone appended, identically in both engines) — the
    * OPERATOR is generic; only the fixture is synthetic. */
  def q76PiiRedaction(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val aug = concat(col("text"),
      when(pmod(col("doc_id"), lit(3)) =!= 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com from 10.0."),
          pmod(col("doc_id"), lit(200)).cast("string"),
          lit(".7 or +1 555 0"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0")))
        .otherwise(lit("")))
    TextAnalysis.piiProfile(d.select(col("doc_id"), aug.as("text")))
  }

  val q76Sql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\+\\d{1,3} \\d{3} \\d{4}"
    s"""WITH aug AS (SELECT doc_id, text || CASE WHEN doc_id % 3 <> 0 THEN
       |  ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com from 10.0.' ||
       |  CAST(((doc_id % 200) + 200) % 200 AS VARCHAR) || '.7 or +1 555 0' ||
       |  lpad(CAST(((doc_id % 1000) + 1000) % 1000 AS VARCHAR), 3, '0')
       |  ELSE '' END AS text FROM documents)
       |SELECT doc_id,
       |  CAST(length(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
       |  CAST(length(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
       |  CAST(length(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$phone', '<PHONE>', 'g')) AS redacted_md5
       |FROM aug""".stripMargin
  }

  /** BM25 relevance (TextAnalysis.bm25, k1=1.2/b=0.75) for a fixed query
    * term set — tf/df/dl exact longs, per-term scores rounded to 6 then
    * summed in DECIMAL so accumulation order cannot move the total. */
  def q77Bm25(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25(t(s, dir, "documents"), Seq("table", "stream", "vector"))

  val q77Sql: String =
    s"""WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       |b2 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM base),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM b2),
       |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM b2)
       |       WHERE term IN ('table', 'stream', 'vector') GROUP BY 1, 2, 3),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT tf.doc_id,
       |   round(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |     * (CAST(tf AS DOUBLE) * 2.2)
       |     / (CAST(tf AS DOUBLE) + 0.3 + 0.9 * (CAST(dl * n_docs AS DOUBLE) / CAST(total_dl AS DOUBLE))), 6) AS s
       |   FROM tf JOIN dfq USING (term) CROSS JOIN stats)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |  CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS score
       |FROM sc GROUP BY doc_id""".stripMargin

  /** Daily gap-fill + forward fill (TimeSeries.gapFillDaily) over a
    * sparse event slice — dense per-series daily grid, imputed points
    * flagged. Values ride DECIMAL(18,2) through the fill; the window is
    * partitioned by series (the scale dimension). */
  def q78GapFill(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .filter(pmod(col("user_id"), lit(50)) === 0)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(dec2(col("value"))).as("v"))
    operators.TimeSeries.gapFillDaily(daily, "event_type", "day", "v")
      .select(col("event_type"), col("day"), col("was_gap"),
        col("v").cast("double").as("value"))
  }

  val q78Sql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
      |      FROM events WHERE user_id % 50 = 0 GROUP BY 1, 2),
      |b AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
      |spine AS (SELECT s.event_type,
      |          CAST(unnest(generate_series(CAST(b.mn AS TIMESTAMP), CAST(b.mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |          FROM (SELECT DISTINCT event_type FROM daily) s, b),
      |j AS (SELECT sp.event_type, sp.day, d.v FROM spine sp LEFT JOIN daily d USING (event_type, day))
      |SELECT event_type, day, v IS NULL AS was_gap,
      |  CAST(last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS value
      |FROM j""".stripMargin

  /** Temperature-based mixture rebalancing (Sampling.temperatureRebalance,
    * α=0.5) over the skewed `lang` mixture: `en` is 2.9× the smallest
    * source by count but only gets its √-flattened share of the 200-doc
    * budget. Audit = kept docs per language. */
  def q79MixtureTemperature(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureRebalance(
      t(s, dir, "documents"), "lang", "doc_id", 200)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))

  val q79Sql: String =
    """WITH n AS (SELECT lang, count(*) AS n_docs FROM documents
      |      WHERE doc_id IS NOT NULL GROUP BY 1),
      |w AS (SELECT lang, CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS wt FROM n),
      |t AS (SELECT lang, wt, (200 * wt) // (SELECT sum(wt) FROM w) AS target FROM w),
      |r AS (SELECT d.lang, row_number() OVER (PARTITION BY d.lang
      |        ORDER BY CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 1000000, d.doc_id) AS rn
      |      FROM documents d WHERE d.doc_id IS NOT NULL)
      |SELECT r.lang, CAST(count(*) AS BIGINT) AS n_kept
      |FROM r JOIN t USING (lang) WHERE rn <= t.target GROUP BY 1""".stripMargin

  /** q73's decontamination through the Bloom-filter scale path
    * (Dedup.decontaminateBloom): benchmark shingles collapse into one
    * broadcast bit-set, the corpus stream is pre-filtered map-side, and
    * the exact verify join kills the false-positive tail — so the result
    * is IDENTICAL to the plain exact formulation, which is what the
    * oracle runs (6-grams here vs q73's 8-grams, so the two rows differ). */
  def q80DecontaminationBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.decontaminateBloom(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0), 6)
  }

  val q80Sql: String =
    s"""${shingleCte(6)},
       |bench AS (SELECT DISTINCT shingle FROM s WHERE doc_id % 10 = 0)
       |SELECT s.doc_id, count(*) AS n_contaminated FROM s JOIN bench USING (shingle)
       |WHERE s.doc_id % 10 <> 0 GROUP BY s.doc_id""".stripMargin

  /** Ordered funnel with a 24 h conversion window (Events.funnel):
    * view → click → purchase, each stage strictly after and within 24 h
    * of the previous stage's entry. Exact integers end to end. */
  def q81Funnel(s: SparkSession, dir: String): DataFrame =
    operators.Events.funnel(t(s, dir, "events"),
      Seq("view", "click", "purchase"), maxGapHours = Some(24))

  val q81Sql: String =
    """WITH ev AS (SELECT * FROM events
      |       WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |s0 AS (SELECT user_id, min(ts) AS t FROM ev WHERE event_type = 'view' GROUP BY 1),
      |s1 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e JOIN s0 ON e.user_id = s0.user_id
      |       WHERE e.event_type = 'click' AND e.ts > s0.t AND e.ts <= s0.t + INTERVAL 24 HOUR GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL 24 HOUR GROUP BY 1)
      |SELECT CAST(0 AS BIGINT) AS stage_ix, 'view' AS stage, count(*) AS n_users FROM s0
      |UNION ALL SELECT CAST(1 AS BIGINT), 'click', count(*) FROM s1
      |UNION ALL SELECT CAST(2 AS BIGINT), 'purchase', count(*) FROM s2""".stripMargin

  /** Cohort retention triangle (Events.cohortRetention): users bucketed
    * by first-seen day, counted at each day offset. */
  def q82CohortRetention(s: SparkSession, dir: String): DataFrame =
    operators.Events.cohortRetention(t(s, dir, "events"))

  val q82Sql: String =
    """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |       WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |coh AS (SELECT user_id, min(day) AS cohort FROM days GROUP BY 1)
      |SELECT coh.cohort AS cohort_day, CAST(date_diff('day', coh.cohort, days.day) AS BIGINT) AS day_offset,
      |  count(*) AS n_users
      |FROM days JOIN coh USING (user_id) GROUP BY 1, 2""".stripMargin

  /** Canonical-document selection: within each duplicate cluster (CC over
    * the LSH pair graph — the q75 scale path), keep the highest-quality
    * member (ties on doc_id). This is the step a dedup pipeline actually
    * ships: not just "find the clusters" but "pick the survivor". */
  def q83ClusterRepresentatives(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cc = Dedup.connectedComponents(
      Dedup.minhashLsh(docs, n = 5, k = 12, bands = 4, threshold = 0.5, maxBucket = 100))
    val ql = docs.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text"), col("n_chars")).cast("long").as("quality"))
    val byCluster = Window.partitionBy(col("cluster_id"))
    val w = byCluster.orderBy(col("quality").desc, col("doc_id").asc)
    cc.join(ql, "doc_id")
      .select(col("cluster_id"), col("doc_id"), col("quality"),
        row_number().over(w).as("_rn"),
        count(lit(1)).over(byCluster).as("n_members"))
      .filter(col("_rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_id"), col("quality"),
        col("n_members"))
  }

  /** q75's recursive closure with the final SELECT folded into a CTE and
    * the quality arg-max appended. */
  val q83Sql: String = {
    val ccSelect = "SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id"
    assert(q75Sql.endsWith(ccSelect), "q83Sql tracks q75Sql's closure tail")
    q75Sql.dropRight(ccSelect.length).stripTrailing() + ",\n" +
      s"""cc AS ($ccSelect),
         |ql AS (SELECT doc_id, $qualitySqlExpr AS quality FROM documents),
         |jrep AS (SELECT cc.cluster_id, cc.doc_id, ql.quality,
         |        row_number() OVER (PARTITION BY cc.cluster_id
         |          ORDER BY ql.quality DESC, cc.doc_id ASC) AS rn,
         |        count(*) OVER (PARTITION BY cc.cluster_id) AS n_members
         |      FROM cc JOIN ql USING (doc_id))
         |SELECT cluster_id, doc_id AS rep_id, quality,
         |  CAST(n_members AS BIGINT) AS n_members FROM jrep WHERE rn = 1""".stripMargin
  }

  /** Unigram LM quality score (TextAnalysis.unigramLogProb): corpus-wide
    * token log-probabilities, per-doc mean — the CCNet-style fluency
    * proxy, deterministic via the tf·round(ln p, 6) DECIMAL sum. */
  def q84UnigramLogprob(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLogProb(t(s, dir, "documents"))

  val q84Sql: String =
    s"""WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       |b2 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM base),
       |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM b2) GROUP BY 1, 2, 3),
       |lm AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM lm),
       |sc AS (SELECT tf.doc_id, tf.dl,
       |         CAST(tf.tf AS DECIMAL(18,6)) * CAST(round(ln(CAST(lm.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp
       |       FROM tf JOIN lm USING (term) CROSS JOIN tot)
       |SELECT doc_id, dl AS n_tokens, CAST(sum(lp) AS DOUBLE) / CAST(dl AS DOUBLE) AS avg_logprob
       |FROM sc GROUP BY doc_id, dl""".stripMargin

  /** Rolling anomaly detection (TimeSeries.rollingAnomalies): daily event
    * counts vs their trailing-7-day band, the |x−μ| > 2σ test cross-
    * multiplied into pure BIGINT arithmetic — verdicts bit-identical in
    * any engine, no float μ/σ. */
  def q85RollingAnomalies(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    operators.TimeSeries.rollingAnomalies(daily, "event_type", "day", "n")
  }

  val q85Sql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
      |               FROM events GROUP BY 1, 2),
      |f AS (SELECT event_type, day, n,
      |        CAST(count(n) OVER w AS BIGINT) AS m,
      |        CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS s,
      |        CAST(coalesce(sum(n * n) OVER w, 0) AS BIGINT) AS q
      |      FROM daily
      |      WINDOW w AS (PARTITION BY event_type ORDER BY day
      |                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, day, n,
      |  CASE WHEN m < 2 THEN false
      |    ELSE (m * n - s) * (m * n - s) > 4 * (m * q - s * s) END AS anomaly
      |FROM f""".stripMargin

  /** Winsorized robust aggregation (Cleanse.winsorize): per-flag
    * [p05, p95] clamp of the price tail, raw vs winsorized means — the
    * heavy-tail trim before aggregate features. Thresholds round(…,6);
    * clamped values sum in DECIMAL(18,6). */
  def q86Winsorize(s: SparkSession, dir: String): DataFrame =
    operators.Cleanse.winsorize(t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        (sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("mean_raw"),
        (sum(col("l_extendedprice_w").cast("decimal(18,6)")).cast("double") / count(lit(1)))
          .as("mean_winsorized"))

  val q86Sql: String =
    """WITH b AS (SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
      |                  round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
      |           FROM lineitem GROUP BY 1),
      |w AS (SELECT l.l_returnflag AS l_returnflag, l.l_extendedprice,
      |        CASE WHEN l.l_extendedprice IS NULL THEN NULL
      |          ELSE least(greatest(l.l_extendedprice, b.lo), b.hi) END AS xw
      |      FROM lineitem l JOIN b
      |        ON l.l_returnflag IS NOT DISTINCT FROM b.l_returnflag)
      |SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean_raw,
      |  CAST(sum(CAST(xw AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean_winsorized
      |FROM w GROUP BY 1""".stripMargin

  /** Histogram-sketch quantiles (ApproxQuantile.histogramQuantiles): the
    * scale path next to q59's exact percentile — fixed 256-counter state
    * per group instead of a per-group sort, estimate = covering bucket's
    * upper edge (error ≤ range/256). */
  def q87HistogramQuantiles(s: SparkSession, dir: String): DataFrame =
    operators.ApproxQuantile.histogramQuantiles(
      t(s, dir, "lineitem"), "l_returnflag", "l_quantity",
      Seq("p50_est" -> 0.5, "p90_est" -> 0.9, "p99_est" -> 0.99))

  val q87Sql: String =
    """WITH mm AS (SELECT l_returnflag AS g, min(l_quantity) AS mn, max(l_quantity) AS mx,
      |                   CAST(count(l_quantity) AS BIGINT) AS n FROM lineitem GROUP BY 1),
      |b AS (SELECT l.l_returnflag AS g,
      |        least(CAST(floor((l.l_quantity - mm.mn) * 256 / (mm.mx - mm.mn)) AS BIGINT), 255) AS bkt
      |      FROM lineitem l JOIN mm ON l.l_returnflag IS NOT DISTINCT FROM mm.g
      |      WHERE mm.mx > mm.mn AND l.l_quantity IS NOT NULL),
      |h AS (SELECT g, bkt, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
      |cum AS (SELECT g, bkt, sum(c) OVER (PARTITION BY g ORDER BY bkt
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc FROM h),
      |pick AS (SELECT cum.g,
      |    min(CASE WHEN cc >= ceil(0.5 * n) THEN bkt END) AS b50,
      |    min(CASE WHEN cc >= ceil(0.9 * n) THEN bkt END) AS b90,
      |    min(CASE WHEN cc >= ceil(0.99 * n) THEN bkt END) AS b99
      |  FROM cum JOIN mm ON cum.g = mm.g GROUP BY 1)
      |SELECT pick.g AS l_returnflag,
      |  round(mm.mn + (b50 + 1) * (mm.mx - mm.mn) / 256, 6) AS p50_est,
      |  round(mm.mn + (b90 + 1) * (mm.mx - mm.mn) / 256, 6) AS p90_est,
      |  round(mm.mn + (b99 + 1) * (mm.mx - mm.mn) / 256, 6) AS p99_est
      |FROM pick JOIN mm ON pick.g = mm.g""".stripMargin

  /** Blocked fuzzy join (Joins.blockedFuzzyJoin): entity resolution
    * against a deterministically-perturbed mirror — half the names lose
    * one char PAST the 6-char blocking prefix, so blocking recall is
    * exact by construction and every planted pair is recovered at
    * Levenshtein ≤ 1. */
  def q88FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val named = t(s, dir, "documents").select(col("doc_id"),
      concat(substring(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 1, 14),
        lit("#"), col("doc_id").cast("string")).as("name"))
    val dirty = named.select(col("doc_id").as("d_key"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(substring(col("name"), 1, 9), expr("substring(name, 11)")))
        .otherwise(col("name")).as("d_name"))
    operators.Joins.blockedFuzzyJoin(named, dirty, "name", "d_name", maxDist = 1)
      .select(col("doc_id"), col("d_key"), col("dist"))
  }

  val q88Sql: String =
    s"""WITH named AS (SELECT doc_id,
       |        substring($normSql, 1, 14) || '#' || CAST(doc_id AS VARCHAR) AS name
       |      FROM documents),
       |dirty AS (SELECT doc_id AS d_key,
       |        CASE WHEN doc_id % 2 = 0 THEN substring(name, 1, 9) || substring(name, 11) ELSE name END AS d_name
       |      FROM named),
       |blocked AS (SELECT n.doc_id, d.d_key, n.name, d.d_name
       |            FROM named n JOIN dirty d ON substring(n.name, 1, 6) = substring(d.d_name, 1, 6))
       |SELECT doc_id, d_key, CAST(levenshtein(name, d_name) AS BIGINT) AS dist
       |FROM blocked WHERE levenshtein(name, d_name) <= 1""".stripMargin

  /** Batch sessionization (Events.sessionize): gap > 30 min splits a
    * user's stream; one row per session. Timestamps exported as exact
    * epoch-µs BIGINTs (never float epoch or engine-local timestamp
    * dtypes); gap tests and durations are integer µs arithmetic. */
  def q89Sessionize(s: SparkSession, dir: String): DataFrame =
    operators.Events.sessionize(t(s, dir, "events"), gapMinutes = 30)
      .select(col("user_id"), col("session_ix"), col("n_events"),
        operators.Times.epochMicros(col("session_start")).as("start_us"),
        operators.Times.epochMicros(col("session_end")).as("end_us"),
        col("duration_sec"))

  val q89Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |l AS (SELECT user_id, event_id, us,
      |        CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |x AS (SELECT user_id, us,
      |        CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_ix
      |      FROM l)
      |SELECT user_id, session_ix, CAST(count(*) AS BIGINT) AS n_events,
      |  min(us) AS start_us, max(us) AS end_us,
      |  (max(us) - min(us)) // 1000000 AS duration_sec
      |FROM x GROUP BY 1, 2""".stripMargin

  /** Deterministic weighted sampling (Sampling.weightedSample): top-10
    * docs per language by the A-ES priority u^(1/w) with w = n_chars —
    * longer docs proportionally likelier, selection content-hash-
    * deterministic and engine-exact (round(ln(u)/w, 6), ties on id). */
  def q90WeightedSample(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.weightedSample(
      t(s, dir, "documents"), "lang", "doc_id", "n_chars", k = 10)
      .select(col("lang"), col("doc_id"), col("n_chars"))

  val q90Sql: String =
    """WITH p AS (SELECT lang, doc_id, n_chars,
      |    round(ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 1.0)
      |             / 281474976710656.0) / CAST(n_chars AS DOUBLE), 12) AS pri
      |  FROM documents WHERE n_chars > 0 AND doc_id IS NOT NULL),
      |r AS (SELECT lang, doc_id, n_chars,
      |        row_number() OVER (PARTITION BY lang ORDER BY pri DESC, doc_id) AS rn FROM p)
      |SELECT lang, doc_id, n_chars FROM r WHERE rn <= 10""".stripMargin

  /** Bigram LM fluency score (TextAnalysis.bigramLogProb): mean
    * conditional transition log-prob per doc, add-one smoothed over the
    * corpus vocabulary — the word-ORDER quality signal q84's unigram
    * score cannot see. */
  def q91BigramLogprob(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLogProb(t(s, dir, "documents"))

  val q91Sql: String =
    s"""WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks FROM base),
       |bg AS (SELECT doc_id, toks[i] AS a, toks[i + 1] AS b FROM g),
       |tf AS (SELECT doc_id, a, b, CAST(count(*) AS BIGINT) AS tf FROM bg GROUP BY 1, 2, 3),
       |big AS (SELECT a, b, CAST(sum(tf) AS BIGINT) AS cab FROM tf GROUP BY 1, 2),
       |pre AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM big GROUP BY 1),
       |vc AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v
       |       FROM (SELECT a AS t FROM tf UNION ALL SELECT b AS t FROM tf)),
       |sc AS (SELECT tf.doc_id, tf.tf,
       |    CAST(tf.tf AS DECIMAL(18,6)) *
       |    CAST(round(ln((CAST(cab AS DOUBLE) + 1.0) / (CAST(ca AS DOUBLE) + CAST(vc.v AS DOUBLE))), 6) AS DECIMAL(18,6)) AS lp
       |  FROM tf JOIN big USING (a, b) JOIN pre USING (a) CROSS JOIN vc)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_transitions,
       |  CAST(sum(lp) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) AS avg_logprob
       |FROM sc GROUP BY doc_id""".stripMargin

  /** Cross-source overlap matrix (Dedup.sourceOverlap): estimated
    * shingle-set Jaccard between every source pair from one union-MinHash
    * signature per source (k=16, 3-grams) — dataset-level contamination
    * audit, never compares documents. */
  def q92SourceOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.sourceOverlap(t(s, dir, "documents"), n = 3, k = 16)

  val q92Sql: String = {
    val k = 16
    val mins = (0 until k).map(i =>
      s"min((h1 + $i * h2) % 4294967291) AS mh$i").mkString(", ")
    val agree = (0 until k).map(i =>
      s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH w AS (SELECT source, string_split($normSql, ' ') AS words FROM documents),
       |sdup AS (SELECT source, unnest(list_transform(range(1, greatest(len(words) - 2, 0) + 1),
       |  i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS shingle FROM w),
       |s AS (SELECT DISTINCT source, shingle FROM sdup),
       |hs AS (SELECT source,
       |    CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) % 4294967291 AS h1,
       |    CAST(('0x' || substring(md5('s:' || shingle), 1, 15)) AS BIGINT) % 4294967291 AS h2
       |  FROM s),
       |sig AS (SELECT source, $mins FROM hs GROUP BY source)
       |SELECT a.source AS src_a, b.source AS src_b,
       |  CAST($agree AS BIGINT) AS n_agree,
       |  CAST($agree AS DOUBLE) / $k.0 AS est_jaccard
       |FROM sig a JOIN sig b ON (a.source < b.source
       |  OR (a.source IS NULL AND b.source IS NOT NULL))""".stripMargin
  }

  /** Length-bucketed batching (TextAnalysis.lengthBucketedBatches): the
    * inference layout that bounds padding waste — audit = per-(bucket,
    * batch) size and padded length, plus the exact padding-waste token
    * count the layout pays. */
  def q93LengthBatches(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lengthBucketedBatches(t(s, dir, "documents"),
      bucketWidth = 16, batchSize = 8)
      .groupBy(col("bucket"), col("batch_ix"))
      .agg(count(lit(1)).as("n_docs"), max(col("padded_len")).as("padded_len"),
        (max(col("padded_len")) * count(lit(1)) - sum(col("n_tokens"))).as("waste_tokens"))

  val q93Sql: String =
    s"""WITH d AS (SELECT doc_id, CAST(CASE WHEN text IS NULL OR regexp_replace(text, '\\s', '', 'g') = '' THEN 0 ELSE len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) END AS BIGINT) AS n_tokens
       |           FROM documents),
       |b AS (SELECT doc_id, n_tokens, n_tokens // 16 AS bucket FROM d),
       |r AS (SELECT doc_id, n_tokens, bucket,
       |        (row_number() OVER (PARTITION BY bucket
       |           ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 1000000,
       |                    doc_id) - 1) // 8 AS batch_ix
       |      FROM b)
       |SELECT bucket, batch_ix, CAST(count(*) AS BIGINT) AS n_docs,
       |  max(n_tokens) AS padded_len,
       |  CAST(max(n_tokens) * count(*) - sum(n_tokens) AS BIGINT) AS waste_tokens
       |FROM r GROUP BY 1, 2""".stripMargin

  /** Data-quality column profile (Integrity.columnProfile): the
    * per-ingest audit — null rates, cardinality, numeric ranges — in one
    * pass, here over the orders slice a pipeline would gate on. */
  def q94ColumnProfile(s: SparkSession, dir: String): DataFrame =
    Integrity.columnProfile(t(s, dir, "orders"),
      numCols = Seq("o_custkey", "o_totalprice"),
      strCols = Seq("o_orderstatus", "o_orderpriority"))

  val q94Sql: String = {
    def num(c: String) =
      s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(CASE WHEN $c IS NULL THEN 1 END) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num
         |FROM orders""".stripMargin
    def str(c: String) =
      s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(CASE WHEN $c IS NULL OR trim($c) = '' THEN 1 END) AS BIGINT) AS n_null,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num
         |FROM orders""".stripMargin
    Seq(num("o_custkey"), num("o_totalprice"),
      str("o_orderstatus"), str("o_orderpriority")).mkString("\nUNION ALL\n")
  }

  /** Vocabulary induction + tokenize-to-ids (TextAnalysis.tokenizeToIds):
    * top-64 corpus vocabulary, OOV → 0 — the text → id-sequence step
    * before packing. The library returns the id ARRAY (the shape a packing
    * stage consumes); the catalog query joins it to a space-separated
    * string because the grading comparator cannot hash array cells —
    * BIGINT→string formatting is engine-identical, so the check stays
    * element-exact. Element-wise array assertions live in OperatorsSpec. */
  def q95TokenizeIds(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenizeToIds(t(s, dir, "documents"), vocabSize = 64)
      .select(col("doc_id"),
        expr("array_join(transform(ids, x -> CAST(x AS STRING)), ' ')").as("ids_str"),
        col("n_tokens"), col("n_oov"))

  val q95Sql: String =
    s"""WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       |t AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks FROM base),
       |tok AS (SELECT doc_id, pos, toks[pos] AS tok FROM t),
       |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
       |v AS (SELECT tok, CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS id
       |      FROM (SELECT * FROM tf ORDER BY cnt DESC, tok LIMIT 64)),
       |m AS (SELECT tok.doc_id, tok.pos, coalesce(v.id, 0) AS id
       |      FROM tok LEFT JOIN v USING (tok))
       |SELECT doc_id,
       |  string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos, id) AS ids_str,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
       |FROM m GROUP BY doc_id""".stripMargin

  /** Per-label embedding centroids (functions.VectorSumAgg): mean pooling
    * in ONE aggregation pass — the shuffle carries a single double[64]
    * per (label, partition), never the members and never a ×dims row
    * explosion. Centroid components round(Σ/n, 6) as all float ranks do.
    * The catalog query emits one (label, n_vecs, d, component) row per
    * dimension — the grading comparator cannot hash array cells — and
    * posexplode of a NULL sum array drops an all-NULL-embedding label
    * exactly like the mirror's unnest does, so row membership agrees. */
  def q96Centroids(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .groupBy(col("label").cast("long").as("label"))
      .agg(
        graft.functions.VectorSumAgg.vectorSum(col("embedding"), 64).as("_s"),
        count(lit(1)).as("n_vecs"))
      .select(col("label"), col("n_vecs"),
        posexplode(expr("transform(_s, x -> round(x / n_vecs, 6))"))
          .as(Seq("_d", "component")))
      .select(col("label"), col("n_vecs"),
        (col("_d") + 1).cast("long").as("d"), col("component"))

  val q96Sql: String =
    """WITH n AS (SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n_vecs
      |           FROM embeddings GROUP BY 1),
      |e AS (SELECT CAST(label AS BIGINT) AS label,
      |        generate_subscripts(embedding, 1) AS d,
      |        unnest(CAST(embedding AS DOUBLE[])) AS v
      |      FROM embeddings),
      |s AS (SELECT label, d, sum(v) AS sv FROM e GROUP BY 1, 2)
      |SELECT s.label, n.n_vecs, CAST(s.d AS BIGINT) AS d,
      |  round(sv / n_vecs, 6) AS component
      |FROM s JOIN n USING (label)""".stripMargin

  /** Group-wise Pearson correlation with an exact strength verdict
    * (Stats.corrVerdict): value-cents vs hour-of-day per event type —
    * the |corr| > ½ decision cross-multiplied into DECIMAL(38,0)/HUGEINT,
    * no float threshold; the displayed corr is round(…, 6). */
  def q97CorrVerdict(s: SparkSession, dir: String): DataFrame =
    operators.Stats.corrVerdict(
      t(s, dir, "events").select(col("event_type"),
        (dec2(col("value")) * 100).cast("long").as("cents"),
        hour(col("ts")).cast("long").as("hr")),
      "event_type", col("cents"), col("hr"))

  val q97Sql: String =
    """WITH b AS (SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
      |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS y FROM events
      |  WHERE value IS NOT NULL AND ts IS NOT NULL),
      |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM b GROUP BY 1),
      |h AS (SELECT event_type, n,
      |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS denx,
      |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny
      |  FROM a)
      |SELECT event_type, n,
      |  CASE WHEN denx > 0 AND deny > 0 THEN
      |    round(CAST(num AS DOUBLE) / (sqrt(CAST(denx AS DOUBLE)) * sqrt(CAST(deny AS DOUBLE))), 6) + 0
      |  END AS corr,
      |  (denx > 0 AND deny > 0 AND num * num * 4 > denx * deny) AS strong
      |FROM h""".stripMargin

  /** PMI collocation mining (TextAnalysis.collocations): adjacent-pair
    * phrases scoring far above chance co-occurrence — the phrase-mining
    * pass before vocabulary decisions. Counts exact; pmi round(…, 6). */
  def q98Collocations(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.collocations(t(s, dir, "documents"), minCount = 5)

  val q98Sql: String =
    s"""WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks FROM base),
       |bg AS (SELECT toks[i] AS a, toks[i + 1] AS b FROM g),
       |big AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM bg GROUP BY 1, 2
       |        HAVING count(*) >= 5),
       |ua AS (SELECT a, CAST(count(*) AS BIGINT) AS ca FROM bg GROUP BY 1),
       |ub AS (SELECT b, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY 1),
       |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bg)
       |SELECT a, b, cab,
       |  round(ln(CAST(cab AS DOUBLE) * CAST(t AS DOUBLE) /
       |           (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))), 6) AS pmi
       |FROM big JOIN ua USING (a) JOIN ub USING (b) CROSS JOIN tt""".stripMargin

  /** Sketch-bounds winsorization (Cleanse.winsorize bounds="sketch"): the
    * corpus-scale twin of q86 — clamp thresholds from the 256-bucket
    * histogram sketch (fixed-size state) instead of the exact per-group
    * percentile's value→count map. Error envelope: each bound is its
    * covering bucket's UPPER edge, i.e. within range/256 above the exact
    * percentile; deterministic, so the DuckDB mirror reproduces it bit-
    * for-bit rather than tolerance-matching. */
  def q99WinsorizeSketch(s: SparkSession, dir: String): DataFrame =
    operators.Cleanse.winsorize(t(s, dir, "lineitem"), "l_returnflag",
        "l_extendedprice", bounds = "sketch")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        (sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("mean_raw"),
        (sum(col("l_extendedprice_w").cast("decimal(18,6)")).cast("double") / count(lit(1)))
          .as("mean_winsorized"))

  val q99Sql: String =
    """WITH mm AS (SELECT l_returnflag AS g, min(l_extendedprice) AS mn,
      |                   max(l_extendedprice) AS mx,
      |                   CAST(count(l_extendedprice) AS BIGINT) AS n FROM lineitem GROUP BY 1),
      |b AS (SELECT l.l_returnflag AS g,
      |        least(CAST(floor((l.l_extendedprice - mm.mn) * 256 / (mm.mx - mm.mn)) AS BIGINT), 255) AS bkt
      |      FROM lineitem l JOIN mm ON l.l_returnflag IS NOT DISTINCT FROM mm.g
      |      WHERE mm.mx > mm.mn AND l.l_extendedprice IS NOT NULL),
      |h AS (SELECT g, bkt, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
      |cum AS (SELECT g, bkt, sum(c) OVER (PARTITION BY g ORDER BY bkt
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc FROM h),
      |pick AS (SELECT cum.g,
      |    min(CASE WHEN cc >= ceil(0.05 * n) THEN bkt END) AS blo,
      |    min(CASE WHEN cc >= ceil(0.95 * n) THEN bkt END) AS bhi
      |  FROM cum JOIN mm USING (g) GROUP BY 1),
      |bounds AS (SELECT pick.g AS l_returnflag,
      |    round(mn + (blo + 1) * (mx - mn) / 256, 6) AS lo,
      |    round(mn + (bhi + 1) * (mx - mn) / 256, 6) AS hi
      |  FROM pick JOIN mm USING (g)),
      |w AS (SELECT l.l_returnflag AS l_returnflag, l.l_extendedprice,
      |        CASE WHEN l.l_extendedprice IS NULL THEN NULL
      |          ELSE least(greatest(l.l_extendedprice, coalesce(b.lo, l.l_extendedprice)),
      |              coalesce(b.hi, l.l_extendedprice)) END AS xw
      |      FROM lineitem l LEFT JOIN bounds b
      |        ON l.l_returnflag IS NOT DISTINCT FROM b.l_returnflag)
      |SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean_raw,
      |  CAST(sum(CAST(xw AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean_winsorized
      |FROM w GROUP BY 1""".stripMargin

  /** Store CDC diff (BucketedMergeWriter.diffVersions over readAsOf):
    * commit orders minus every 7th key, merge a batch that updates every
    * 5th key's price (+1) — inserting the keys divisible by both — then
    * diff the two committed versions through the commit-parent chain.
    * The oracle derives the same insert/update classification from the
    * raw table; a wrong time-travel resolution (phantom rows, wrong
    * parent) would misclassify. Merge semantics never delete, so no
    * 'delete' rows can appear. */
  /** Run `body` against a throwaway store root, eagerly localCheckpoint
    * the result (pinning it off the store's files), then DELETE the
    * directory — catalog queries run inside Bench/Verify loops and must
    * not leak a parquet copy into /tmp per invocation. */
  private def withTempStore(prefix: String)(body: String => DataFrame): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(root).materialized
    finally {
      val p = java.nio.file.Paths.get(root)
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close()
    }
  }

  def q100StoreCdcDiff(s: SparkSession, dir: String): DataFrame =
    withTempStore("graft-q100") { root =>
      val base = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"),
        dec2(col("o_totalprice")).as("o_totalprice"),
        col("o_orderstatus"))
      val store = new graft.plans.BucketedMergeWriter(s, root, nBuckets = 8)
      store.mergeFact("orders_cdc", base.filter(col("o_orderkey") % 7 =!= 0),
        Seq("o_orderkey"))
      store.mergeFact("orders_cdc",
        base.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice",
            (col("o_totalprice") + lit(1)).cast("decimal(18,2)")),
        Seq("o_orderkey"))
      val vs = store.committedVersions("orders_cdc")
      store.diffVersions("orders_cdc", vs.head, vs.last, Seq("o_orderkey"))
    }

  val q100Sql: String =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
      |  CASE WHEN o_orderkey % 7 = 0 THEN 'insert' ELSE 'update' END AS _change
      |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin

  /** Zone-map range read (BucketedMergeWriter.readRange): write orders
    * with min/max stats on o_totalprice, then aggregate a price band —
    * readRange drops whole buckets at MANIFEST resolution before any
    * parquet IO and applies the exact predicate on the survivors. The
    * oracle computes the same band from the raw table, so a zone map
    * that over-prunes (dropping a bucket it shouldn't) breaks the hash. */
  def q101StoreRangeRead(s: SparkSession, dir: String): DataFrame =
    withTempStore("graft-q101") { root =>
      val base = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        dec2(col("o_totalprice")).as("o_totalprice"))
      val store = new graft.plans.BucketedMergeWriter(s, root, nBuckets = 8,
        statsColumns = Seq("o_totalprice"))
      store.mergeFact("orders_zm", base, Seq("o_orderkey"))
      store.readRange("orders_zm", "o_totalprice", 0.0, 50000.0)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice")).cast("double").as("total"))
    }

  val q101Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) BETWEEN 0 AND 50000""".stripMargin

  /** Cluster-aware train/val/test split: hash-split on the DUPLICATE
    * CLUSTER key (CC over the q24 LSH pair graph; singletons key on their
    * own doc_id) instead of the doc id, so near-duplicate documents can
    * never straddle splits — the test-set-hygiene property a plain
    * per-doc split silently violates (a paraphrase of a training doc
    * landing in test inflates eval). Same md5 hash-bucket scheme as q45,
    * so a doc's split replays in any engine; summarized per split as doc
    * and group counts. */
  def q102ClusterSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cc = operators.Dedup.connectedComponents(
      operators.Dedup.minhashLsh(docs, n = 5, k = 12, bands = 4,
        threshold = 0.5, maxBucket = 100))
    val keyed = docs.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("group_key", coalesce(col("cluster_id"), col("doc_id")))
    operators.Sampling.threeWaySplit(keyed, "group_key", 0.75, 0.125)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("group_key")).as("n_groups"))
  }

  /** q75's recursive closure with the q45 hash-split appended on the
    * cluster key. */
  val q102Sql: String = {
    val ccSelect = "SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id"
    assert(q75Sql.endsWith(ccSelect), "q102Sql tracks q75Sql's closure tail")
    q75Sql.dropRight(ccSelect.length).stripTrailing() + ",\n" +
      """cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |k AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS group_key
        |      FROM documents d LEFT JOIN cc USING (doc_id)),
        |bk AS (SELECT doc_id, group_key,
        |        CAST(('0x' || substring(md5(CAST(group_key AS VARCHAR)), 1, 12)) AS BIGINT)
        |          % 1000000 AS b
        |       FROM k)
        |SELECT CASE WHEN b < 750000 THEN 'train'
        |            WHEN b < 875000 THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT group_key) AS BIGINT) AS n_groups
        |FROM bk GROUP BY 1""".stripMargin
  }

  /** Near-dup decontamination (Dedup.decontaminateNearDup): flag corpus
    * docs whose MinHash signature agrees ≥ 50% with a benchmark item's —
    * the PARAPHRASE-contamination catch q73/q80's exact n-gram overlap
    * misses. Fixture benchmark = every 97th doc with a token appended
    * (near-dup of its source but not exact, ids offset 1e6), derived
    * identically in both engines — the operator is generic. */
  def q103NearDupDecontamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" eval item suffix")).as("text"))
    operators.Dedup.decontaminateNearDup(docs, bench,
      n = 5, k = 12, bands = 4, threshold = 0.5, maxBucket = 100)
  }

  val q103Sql: String = {
    val prime = "4294967291"
    val mhDefs = (0 until 12).map(i =>
      s"min((h1 + $i * h2) % $prime) AS mh$i").mkString(", ")
    val bandRows = (0 until 4).map { b =>
      val parts = (b * 3 until (b + 1) * 3)
        .map(i => s"'$i=' || CAST(mh$i AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(array_to_string(list_sort([$parts]), '|')) AS bucket FROM agg"
    }.mkString("\n  UNION ALL ")
    val agree = (0 until 12).map(i =>
      s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH allsrc AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text || ' eval item suffix' AS text
       |  FROM documents WHERE doc_id % 97 = 0),
       |w AS (SELECT doc_id, string_split($normSql, ' ') AS words FROM allsrc),
       |sdup AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(words) - 4, 0) + 1),
       |  i -> array_to_string(list_slice(words, i, i + 4), ' '))) AS shingle FROM w),
       |s AS (SELECT DISTINCT doc_id, shingle FROM sdup),
       |hs AS (SELECT doc_id,
       |  CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) % $prime AS h1,
       |  CAST(('0x' || substring(md5('s:' || shingle), 1, 15)) AS BIGINT) % $prime AS h2
       |  FROM s),
       |agg AS (SELECT doc_id, $mhDefs FROM hs GROUP BY doc_id),
       |banded AS ($bandRows),
       |cb AS (SELECT doc_id, band, bucket FROM banded WHERE doc_id < 1000000),
       |bb AS (SELECT doc_id AS bench_id, band, bucket FROM banded WHERE doc_id >= 1000000),
       |ok_buckets AS (SELECT band, bucket FROM cb GROUP BY 1, 2 HAVING count(*) <= 100),
       |cand AS (SELECT DISTINCT cb.doc_id, bb.bench_id
       |  FROM cb JOIN ok_buckets USING (band, bucket) JOIN bb USING (band, bucket)),
       |ag AS (SELECT cand.doc_id, cand.bench_id, ($agree) AS agree
       |  FROM cand JOIN agg a ON a.doc_id = cand.doc_id
       |  JOIN agg b ON b.doc_id = cand.bench_id)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminating,
       |  round(max(agree / 12.0), 6) AS max_est_jaccard
       |FROM ag WHERE agree / 12.0 >= 0.5 GROUP BY doc_id""".stripMargin
  }

  /** Uniform-budget frame sampling plan (Multimodal.uniformFramePlan):
    * ≤ 8 frames per clip, centers of 8 equal segments, timestamps at
    * 30 fps — integer-exact `⌊(2j+1)·n / 2K⌋`, so the decode schedule
    * for a video corpus is computable from metadata alone. n_frames
    * replays StubDecoder's md5 arithmetic as in q30. */
  def q104FramePlan(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.toAssets(t(s, dir, "documents"), "doc_id", "text", "text")
    Multimodal.uniformFramePlan(
      Multimodal.decodeAll(assets, Multimodal.StubDecoder).toDF(),
      maxFrames = 8, fps = 30)
      .select(col("asset_id"), col("n_frames"), col("sample_ix"),
        col("frame_ix"), col("ts_ms"))
  }

  val q104Sql: String = {
    def hx(i: Int) = s"(strpos('0123456789abcdef', substr(m, $i, 1)) - 1)"
    s"""WITH h AS (SELECT doc_id, md5(text) AS m FROM documents),
       |f AS (SELECT doc_id AS asset_id,
       |  CAST((((${hx(9)} * 16 + ${hx(10)}) % 128) + 1) AS BIGINT) AS n_frames FROM h),
       |k AS (SELECT asset_id, n_frames, least(8, n_frames) AS kk FROM f),
       |j AS (SELECT asset_id, n_frames, kk,
       |        unnest(generate_series(0, kk - 1)) AS sample_ix FROM k)
       |SELECT asset_id, n_frames, CAST(sample_ix AS BIGINT) AS sample_ix,
       |  CAST(((2 * sample_ix + 1) * n_frames) // (2 * kk) AS BIGINT) AS frame_ix,
       |  CAST((((2 * sample_ix + 1) * n_frames) // (2 * kk)) * 1000 // 30 AS BIGINT) AS ts_ms
       |FROM j""".stripMargin
  }

  /** Vocabulary coverage curve (TextAnalysis.vocabCoverageCurve): token
    * coverage of the top-{64, 256, 1024} types — the tokenizer-sizing
    * analysis. One tf aggregate + three tree top-ks; no global rank
    * window. */
  def q105VocabCoverage(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabCoverageCurve(t(s, dir, "documents"), Seq(64, 256, 1024))

  val q105Sql: String = {
    def leg(v: Int) =
      s"""SELECT CAST($v AS BIGINT) AS v, CAST(sum(cnt) AS BIGINT) AS covered_tokens
         |FROM (SELECT cnt FROM tf ORDER BY cnt DESC, tok LIMIT $v)""".stripMargin
    s"""WITH toks AS (SELECT unnest(string_split($normSql, ' ')) AS tok FROM documents),
       |tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
       |               CAST(count(*) AS BIGINT) AS n_types FROM tf),
       |legs AS (${Seq(64, 256, 1024).map(leg).mkString("\nUNION ALL\n")})
       |SELECT v, n_types, total_tokens, covered_tokens,
       |  round(CAST(covered_tokens AS DOUBLE) / total_tokens, 6) AS coverage
       |FROM legs CROSS JOIN tot""".stripMargin
  }

  /** Character-class profile (TextAnalysis.charClassProfile): per-doc
    * ascii-letter/digit/whitespace/other counts — the binary-junk and
    * markup-dump QA scan; class counts by length difference against a
    * class-stripped regexp_replace, identical in both engines. */
  def q106CharClasses(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.charClassProfile(t(s, dir, "documents"))

  val q106Sql: String =
    """WITH b AS (SELECT doc_id, lower(text) AS t FROM documents),
      |c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
      |  CAST(length(t) - length(regexp_replace(t, '[a-z]', '', 'g')) AS BIGINT) AS n_alpha,
      |  CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
      |  CAST(length(t) - length(regexp_replace(t, '\s', '', 'g')) AS BIGINT) AS n_space
      |  FROM b)
      |SELECT doc_id, n_chars, n_alpha, n_digit, n_space,
      |  n_chars - n_alpha - n_digit - n_space AS n_other,
      |  CASE WHEN n_chars > 0 THEN round(CAST(n_alpha AS DOUBLE) / n_chars, 6) END AS alpha_frac
      |FROM c""".stripMargin

  /** Label-centroid cosine similarity matrix: dataset-level similarity in
    * EMBEDDING space (which labels/sources are semantically close),
    * complementing q92's lexical MinHash overlap. One VectorSumAgg pass
    * pools per-label centroids (shuffle = one double[64] per
    * label-partition); the pairwise stage is a join over one row per
    * label — labels², never vectors². Centroid components round(…,6)
    * before the cosine so both engines fold identical inputs. */
  def q107LabelCentroidSim(s: SparkSession, dir: String): DataFrame = {
    val cents = t(s, dir, "embeddings")
      .groupBy(col("label").cast("long").as("label"))
      .agg(graft.functions.VectorSumAgg.vectorSum(col("embedding"), 64).as("_s"),
        count(lit(1)).as("_n"))
      .select(col("label"), expr("transform(_s, x -> round(x / _n, 6))").as("c"))
      .filter(col("c").isNotNull)
    val a = cents.select(col("label").as("label_a"), col("c").as("ca"))
    val b = cents.select(col("label").as("label_b"), col("c").as("cb"))
    a.join(b, col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        round(expr("aggregate(zip_with(ca, cb, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
          / (sqrt(expr("aggregate(ca, 0D, (acc, x) -> acc + x * x)")) *
             sqrt(expr("aggregate(cb, 0D, (acc, x) -> acc + x * x)"))), 6)
          .as("cos_sim"))
  }

  val q107Sql: String =
    """WITH n AS (SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS nv
      |           FROM embeddings GROUP BY 1),
      |e AS (SELECT CAST(label AS BIGINT) AS label,
      |        generate_subscripts(embedding, 1) AS d,
      |        unnest(CAST(embedding AS DOUBLE[])) AS v
      |      FROM embeddings),
      |s AS (SELECT label, d, sum(v) AS sv FROM e GROUP BY 1, 2),
      |c AS (SELECT s.label, d, round(sv / n.nv, 6) AS cv FROM s JOIN n USING (label)),
      |p AS (SELECT a.label AS label_a, b.label AS label_b,
      |        sum(a.cv * b.cv) AS dot,
      |        sum(a.cv * a.cv) AS na, sum(b.cv * b.cv) AS nb
      |      FROM c a JOIN c b ON a.d = b.d AND a.label < b.label
      |      GROUP BY 1, 2)
      |SELECT label_a, label_b, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_sim
      |FROM p""".stripMargin

  /** SemDeDup (Similarity.semDedup): embedding dedup inside k-means cells —
    * nearest-centroid assignment (16 seed cells, broadcast), then drop any
    * vector with a lower-id cell-mate at cosine ≥ 0.3. The cell geometry is
    * the point: candidates are bounded by Σ|cell|², adapted to the data
    * distribution, vs q36's data-oblivious hyperplane buckets. Seed
    * centroids (first 16 by vec_id, as q33) keep the oracle exact; real
    * runs pass Lloyd-trained centroids. */
  def q108SemDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(t(s, dir, "embeddings"), nCells = 16, threshold = 0.3)

  val q108Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS cell, v AS cvec FROM e ORDER BY vec_id LIMIT 16),
       |a AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, cents.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "cents.cvec")} DESC, cents.cell ASC) AS rnk
       |  FROM e CROSS JOIN cents) WHERE rnk <= 1),
       |d AS (SELECT DISTINCT hi.vec_id FROM a lo JOIN a hi
       |  ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id
       |  WHERE ${cosSql("lo.v", "hi.v")} >= 0.3)
       |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM a LEFT JOIN d USING (vec_id)""".stripMargin

  /** Exact-substring duplicate spans (Dedup.duplicateSpans): every 8-token
    * window occurring ≥ 2 times anywhere in the corpus marks its range;
    * overlapping/adjacent ranges merge into maximal per-document spans with
    * 1-based token offsets a rewrite stage can cut. Total-occurrence
    * trigger (within-doc repeats count), unlike q70's doc-frequency
    * boilerplate rate. */
  def q109DuplicateSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(t(s, dir, "documents"), n = 8)

  val q109Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS words FROM documents),
       |g AS (SELECT doc_id, unnest(generate_series(0, len(words) - 8)) AS pos, words
       |      FROM w WHERE len(words) >= 8),
       |gr AS (SELECT doc_id, pos,
       |    CAST(('0x' || substring(md5(array_to_string(words[pos+1 : pos+8], ' ')), 1, 15)) AS BIGINT) AS h
       |  FROM g),
       |c AS (SELECT h FROM gr GROUP BY h HAVING count(*) >= 2),
       |d AS (SELECT doc_id, pos FROM gr JOIN c USING (h)),
       |m AS (SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
       |         THEN 1 ELSE 0 END AS brk FROM d),
       |i AS (SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM m)
       |SELECT doc_id, CAST(min(pos) + 1 AS BIGINT) AS span_start,
       |  CAST(max(pos) + 8 AS BIGINT) AS span_end,
       |  CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_tokens
       |FROM i GROUP BY doc_id, grp""".stripMargin

  /** Naive Bayes self-classification audit (TextAnalysis.naiveBayesClassify):
    * add-one-smoothed multinomial NB over the source labels, every doc
    * labeled with its argmax class — the deterministic core of the
    * fastText-style domain/quality gates. Scores are order-free DECIMAL
    * sums of round(ln·,6) factors, so the argmax replays exactly. */
  def q110NaiveBayes(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.naiveBayesClassify(t(s, dir, "documents"))

  val q110Sql: String =
    s"""WITH base AS (SELECT doc_id, source AS actual, string_split($normSql, ' ') AS toks FROM documents),
       |d AS (SELECT doc_id, actual, CAST(len(toks) AS BIGINT) AS dl FROM base),
       |tok AS (SELECT doc_id, unnest(toks) AS term FROM base),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       |cst AS (SELECT d.actual AS cand, tf.term, sum(tf.tf) AS cst
       |        FROM tf JOIN d USING (doc_id) GROUP BY 1, 2),
       |cs AS (SELECT cand, sum(cst) AS cs FROM cst GROUP BY 1),
       |vc AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM tf),
       |nd AS (SELECT actual AS cand, CAST(count(*) AS BIGINT) AS nd FROM d GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
       |consts AS (SELECT cand,
       |    CAST(round(ln(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS prior_r,
       |    CAST(round(ln(CAST(cs AS DOUBLE) + CAST(v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS floor_r
       |  FROM nd CROSS JOIN nn JOIN cs USING (cand) CROSS JOIN vc),
       |lmst AS (SELECT cand, term,
       |    CAST(round(ln(CAST(cst AS DOUBLE) + 1.0), 6) AS DECIMAL(18,6)) AS lp1_r FROM cst),
       |part AS (SELECT tf.doc_id, lmst.cand,
       |    sum(CAST(tf.tf AS DECIMAL(18,6)) * lp1_r) AS part
       |  FROM tf JOIN lmst USING (term) GROUP BY 1, 2),
       |sc AS (SELECT d.doc_id, d.actual, c.cand,
       |    c.prior_r - CAST(d.dl AS DECIMAL(18,6)) * c.floor_r
       |      + coalesce(part, CAST(0 AS DECIMAL(38,12))) AS score
       |  FROM d CROSS JOIN consts c
       |  LEFT JOIN part ON part.doc_id = d.doc_id AND part.cand = c.cand),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, cand ASC) AS rnk FROM sc)
       |SELECT doc_id, actual, cand AS predicted, CAST(score AS DOUBLE) AS score,
       |  CAST(CASE WHEN cand = actual THEN 1 ELSE 0 END AS BIGINT) AS correct
       |FROM r WHERE rnk = 1""".stripMargin

  /** CCNet head/middle/tail perplexity bands (TextAnalysis.perplexityBuckets):
    * per-source ntile(3) over the bigram-LM fluency score — relative
    * banding keeps every source's best instead of emptying off-register
    * sources. The oracle nests q91's full mirror as the score subquery. */
  def q111PerplexityBands(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.perplexityBuckets(t(s, dir, "documents"), nBuckets = 3)

  val q111Sql: String =
    s"""WITH banded AS (SELECT b.doc_id, b.avg_logprob,
       |    CAST(ntile(3) OVER (PARTITION BY d.source
       |      ORDER BY b.avg_logprob DESC, b.doc_id) AS BIGINT) AS bucket,
       |    CASE ntile(3) OVER (PARTITION BY d.source
       |      ORDER BY b.avg_logprob DESC, b.doc_id)
       |      WHEN 1 THEN 'head' WHEN 3 THEN 'tail' ELSE 'middle' END AS band
       |  FROM ($q91Sql) b JOIN documents d USING (doc_id))
       |SELECT d.doc_id, d.source, banded.avg_logprob, banded.bucket,
       |  banded.band
       |FROM documents d LEFT JOIN banded USING (doc_id)""".stripMargin

  /** Asymmetric near-dup by shingle containment (Dedup.containmentPairs):
    * |A∩B| / min(|A|,|B|) over the q24 banded-LSH candidates — catches
    * expanded reposts and page+boilerplate supersets whose Jaccard the
    * size ratio dilutes. Threshold 0.6 vs q24's Jaccard 0.5 on the same
    * candidate machinery, so the diff between the two result sets IS the
    * asymmetric-dup report. */
  def q112ContainmentPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(t(s, dir, "documents"), n = 5, k = 12, bands = 4,
      minContainment = 0.6, maxBucket = 100)

  val q112Sql: String =
    s"""${lshCandCteSql(5, 12, 4, 100)},
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM s GROUP BY doc_id),
       |common AS (SELECT doc_a, doc_b, count(*) AS common
       |  FROM cand JOIN s sa ON sa.doc_id = doc_a
       |  JOIN s sb ON sb.doc_id = doc_b AND sa.shingle = sb.shingle GROUP BY 1, 2),
       |c AS (SELECT doc_a, doc_b, x.sz AS sz_a, y.sz AS sz_b,
       |    round(CAST(common AS DOUBLE) / least(x.sz, y.sz), 6) AS containment
       |  FROM common JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b)
       |SELECT doc_a, doc_b, sz_a, sz_b, containment FROM c
       |WHERE containment >= 0.6""".stripMargin

  /** Embedding-space label outliers (Similarity.labelOutliers): cosine to
    * the vector's own label centroid, z-scored against the label's cosine
    * distribution — the mislabel/contamination QA pass over labeled
    * embeddings. Mean/std from exact DECIMAL sums of round(cos,6);
    * singleton/degenerate labels emit NULL z and never flag. */
  def q113LabelOutliers(s: SparkSession, dir: String): DataFrame =
    Similarity.labelOutliers(
      t(s, dir, "embeddings").withColumn("label", col("label").cast("long")),
      dims = 64, zCut = 2.0)

  val q113Sql: String =
    """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |        CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |      WHERE embedding IS NOT NULL),
      |x AS (SELECT vec_id, label, generate_subscripts(v, 1) AS d, unnest(v) AS xv FROM e),
      |nv AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
      |c AS (SELECT x.label, d, round(sum(xv) / n, 6) + 0 AS cv
      |      FROM x JOIN nv USING (label) GROUP BY x.label, d, n),
      |cs AS (SELECT vec_id, x.label,
      |    CASE WHEN sum(xv * xv) > 0 AND sum(cv * cv) > 0
      |         THEN round(sum(xv * cv) / (sqrt(sum(xv * xv)) * sqrt(sum(cv * cv))), 6) + 0
      |    END AS cos_sim
      |  FROM x JOIN c ON x.label = c.label AND x.d = c.d
      |  GROUP BY 1, 2),
      |st AS (SELECT label,
      |    sum(CAST(cos_sim AS DECIMAL(18,6))) AS s1,
      |    sum(CAST(cos_sim AS DECIMAL(18,6)) * CAST(cos_sim AS DECIMAL(18,6))) AS s2,
      |    CAST(count(cos_sim) AS BIGINT) AS nc
      |  FROM cs GROUP BY 1),
      |zz AS (SELECT vec_id, cs.label, cos_sim,
      |    CAST(s1 AS DOUBLE) / nc AS m,
      |    sqrt(greatest(CAST(s2 AS DOUBLE) / nc - (CAST(s1 AS DOUBLE) / nc) * (CAST(s1 AS DOUBLE) / nc), 0)) AS sd
      |  FROM cs JOIN st ON cs.label = st.label)
      |SELECT vec_id, label, cos_sim,
      |  CASE WHEN sd > 0 THEN round((cos_sim - m) / sd, 6) + 0 END AS z,
      |  CAST(CASE WHEN sd > 0 AND round((cos_sim - m) / sd, 6) <= -2.0
      |       THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
      |FROM zz""".stripMargin

  /** Token-budget waterfilling (Sampling.budgetAllocation): allocate a
    * 25k-token budget across sources proportionally to weight = ⌊√avail⌋
    * with hard caps at availability — the closed-form fair-share prefix
    * test, cross-multiplied so capping decisions are exact integer math.
    * At sf0.01 the two smallest sources cap and their surplus
    * redistributes; the oracle replays the identical window algebra. */
  def q114BudgetAllocation(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "documents").groupBy(col("source"))
      .agg(sum(size(graft.operators.TextAnalysis.tokens(col("text")))).cast("long").as("avail"))
      .withColumn("weight", floor(sqrt(col("avail").cast("double"))).cast("long"))
    graft.operators.Sampling.budgetAllocation(per, budget = 25000L)
      .select(col("source"), col("avail"), col("weight"),
        col("capped").cast("long").as("capped"), col("allocated"))
  }

  val q114Sql: String =
    s"""WITH per AS (SELECT source,
       |    CAST(sum(len(string_split($normSql, ' '))) AS BIGINT) AS avail
       |  FROM documents GROUP BY 1),
       |pw AS (SELECT source, avail,
       |    CAST(floor(sqrt(CAST(avail AS DOUBLE))) AS BIGINT) AS weight FROM per),
       |o AS (SELECT *,
       |    coalesce(sum(avail) OVER (ORDER BY CAST(avail AS DOUBLE) / weight, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a_prev,
       |    coalesce(sum(weight) OVER (ORDER BY CAST(avail AS DOUBLE) / weight, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS w_prev,
       |    sum(weight) OVER () AS w_tot
       |  FROM pw),
       |c AS (SELECT *,
       |    weight > 0 AND (CAST(avail AS DECIMAL(18,0)) * (w_tot - w_prev)) <=
       |      (CAST(weight AS DECIMAL(18,0)) * (25000 - a_prev)) AS capped
       |  FROM o),
       |f AS (SELECT *,
       |    coalesce(sum(CASE WHEN capped THEN avail END) OVER (), 0) AS a_cap,
       |    w_tot - coalesce(sum(CASE WHEN capped THEN weight END) OVER (), 0) AS w_rest
       |  FROM c)
       |SELECT source, avail, weight, CAST(capped AS BIGINT) AS capped,
       |  CASE WHEN capped THEN avail
       |       ELSE coalesce(CAST(
       |         greatest(weight * (25000 - a_cap), 0)
       |           // nullif(w_rest, 0) AS BIGINT), 0)
       |  END AS allocated
       |FROM f""".stripMargin

  /** Unicode-robust exact dedup (Dedup.exactBy ∘ fingerprintNfc): NFC
    * canonical composition before the fingerprint, via the native
    * codegen'd NfcNormalize expression — composed and decomposed
    * encodings of the same text collapse to one class. The ASCII fixture
    * makes NFC an identity here (result ≡ q21 — itself a useful pin);
    * the composed/decomposed collapse is exercised with real unicode in
    * OperatorsSpec. */
  def q115DedupNfc(s: SparkSession, dir: String): DataFrame =
    Dedup.exactBy(t(s, dir, "documents"),
      graft.operators.TextAnalysis.fingerprintNfc(col("text")))

  val q115Sql: String =
    """SELECT md5(regexp_replace(lower(trim(nfc_normalize(text))), '\s+', ' ', 'g')) AS fp,
      |  min(doc_id) AS keep_id, count(*) AS n_dups
      |FROM documents WHERE text IS NOT NULL GROUP BY 1""".stripMargin

  /** DSIR importance resampling (TextAnalysis.dsirSample,
    * arXiv:2302.03169): target model = the lang='en' docs, raw pool =
    * everything else; hashed-unigram bucket models (2048 cells, add-one),
    * per-doc log importance weight as an exact decimal sum of
    * once-rounded bucket log-ratios, then deterministic Gumbel-top-k
    * (noise from md5("g:"++doc_id)) keeps the 120 best — weighted
    * sampling without replacement ∝ exp(logw), replayable bit-for-bit. */
  def q116DsirSample(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dsirSample(t(s, dir, "documents"),
      isTarget = col("lang") === "en", buckets = 2048, k = 120)

  val q116Sql: String =
    s"""WITH base AS (SELECT doc_id, lang = 'en' AS t,
       |    string_split($normSql, ' ') AS toks FROM documents),
       |tok AS (SELECT doc_id, t, unnest(toks) AS term FROM base),
       |tf AS (SELECT doc_id, t,
       |    CAST(('0x' || substring(md5(term), 1, 15)) AS BIGINT) % 2048 AS bucket,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM tok GROUP BY 1, 2, 3),
       |tp AS (SELECT bucket, sum(c) AS tp FROM tf WHERE t GROUP BY 1),
       |tq AS (SELECT bucket, sum(c) AS tq FROM tf WHERE NOT t GROUP BY 1),
       |tot AS (SELECT sum(CASE WHEN t THEN c ELSE 0 END) AS t_tot,
       |    sum(CASE WHEN NOT t THEN c ELSE 0 END) AS q_tot FROM tf),
       |ratio AS (SELECT bucket,
       |    CAST(round(ln((CAST(coalesce(tp, 0) AS DOUBLE) + 1.0) /
       |        (CAST(t_tot AS DOUBLE) + 2048.0))
       |      - ln((CAST(tq AS DOUBLE) + 1.0) /
       |        (CAST(q_tot AS DOUBLE) + 2048.0)), 6) AS DECIMAL(18,6)) AS lr_r
       |  FROM tq LEFT JOIN tp USING (bucket) CROSS JOIN tot),
       |raw AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks
       |  FROM base WHERE NOT t),
       |part AS (SELECT doc_id, sum(CAST(c AS DECIMAL(18,6)) * lr_r) AS w
       |  FROM tf JOIN ratio USING (bucket) WHERE NOT t GROUP BY 1),
       |sc AS (SELECT raw.doc_id, raw.n_toks,
       |    coalesce(w, CAST(0 AS DECIMAL(38,12))) AS logw,
       |    CAST(round(-ln(-ln(
       |      (CAST(CAST(('0x' || substring(md5('g:' || CAST(raw.doc_id AS VARCHAR)), 1, 15))
       |          AS BIGINT) AS DOUBLE) + 1.0) / (power(2, 60) + 2.0))), 6)
       |      AS DECIMAL(18,6)) AS gumbel_r
       |  FROM raw LEFT JOIN part ON part.doc_id = raw.doc_id)
       |SELECT doc_id, n_toks, CAST(logw AS DOUBLE) AS logw,
       |  CAST(logw + gumbel_r AS DOUBLE) AS gkey
       |FROM sc ORDER BY logw + gumbel_r DESC, doc_id LIMIT 120""".stripMargin

  /** Interval-overlap join (Joins.intervalOverlap): concurrent-shipment
    * pairs per supplier — each lineitem is "in transit" for
    * [shipdate, shipdate + ceil(quantity/10) days], and every same-supplier
    * pair of overlapping transit windows counts toward that supplier's
    * concurrency load. Exercises the bucketized interval-to-interval join
    * (equi-join on (key, 7-day bucket), exactly-once pair attribution to
    * the overlap's first bucket — no theta join, no distinct). */
  def q117ConcurrentShipments(s: SparkSession, dir: String): DataFrame = {
    val day = unix_date(to_date(col("l_shipdate"))).cast("long")
    val iv = t(s, dir, "lineitem").select(col("l_suppkey"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("uid"),
      day.as("s_day"),
      (day + ceil(col("l_quantity") / 10).cast("long")).as("e_day"))
    Joins.intervalOverlap(iv, iv, Seq("l_suppkey"),
        "s_day", "e_day", "s_day", "e_day", bucketWidth = 7)
      .filter(col("uid") < col("right_uid"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(least(col("e_day"), col("right_e_day")) -
          greatest(col("s_day"), col("right_s_day")) + 1).as("overlap_days"))
  }

  val q117Sql: String =
    """WITH iv AS (SELECT l_suppkey, l_orderkey*10 + l_linenumber AS uid,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS s_day,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT)
      |      + CAST(ceil(l_quantity / 10) AS BIGINT) AS e_day
      |  FROM lineitem)
      |SELECT a.l_suppkey, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(least(a.e_day, b.e_day) - greatest(a.s_day, b.s_day) + 1) AS BIGINT) AS overlap_days
      |FROM iv a JOIN iv b ON a.l_suppkey = b.l_suppkey AND a.uid < b.uid
      |  AND a.s_day <= b.e_day AND b.s_day <= a.e_day
      |GROUP BY 1""".stripMargin

  /** Tokenizer fertility / encoding efficiency per (source, lang) slice
    * (TextAnalysis.tokenizerFertility): subword-per-word fertility,
    * chars/token, UTF-8 bytes/token — the corpus-budget numbers. One scan
    * + one tiny partial-agg shuffle. */
  def q118TokenizerFertility(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenizerFertility(t(s, dir, "documents"))

  val q118Sql: String =
    """WITH m AS (SELECT source, lang,
      |    (CASE WHEN text IS NULL OR regexp_replace(text, '\s', '', 'g') = '' THEN 0 ELSE len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) END) AS ws,
      |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe,
      |    len(text) AS ch, strlen(text) AS bt
      |  FROM documents)
      |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(ws) AS BIGINT) AS n_words,
      |  CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
      |  CAST(sum(ch) AS BIGINT) AS n_chars,
      |  CAST(sum(bt) AS BIGINT) AS n_bytes,
      |  round(CAST(sum(ch) AS DOUBLE) / nullif(CAST(sum(bpe) AS DOUBLE), 0), 6) AS chars_per_token,
      |  round(CAST(sum(bt) AS DOUBLE) / nullif(CAST(sum(bpe) AS DOUBLE), 0), 6) AS bytes_per_token,
      |  round(CAST(sum(bpe) AS DOUBLE) / nullif(CAST(sum(ws) AS DOUBLE), 0), 6) AS fertility
      |FROM m GROUP BY 1, 2""".stripMargin

  /** Declared-vs-detected language confusion matrix
    * (TextAnalysis.langConfusion): doc counts per (declared, predicted)
    * cell — the metadata QA pass over the lang column. */
  def q119LangConfusion(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langConfusion(t(s, dir, "documents"))

  val q119Sql: String = {
    def hits(ws: String) = s"len(regexp_extract_all(text, '(?i)\\b($ws)\\b'))"
    val en = hits("the|and|of|to|in"); val de = hits("der|die|das|und|ist")
    val fr = hits("le|la|les|et|est"); val es = hits("el|los|las|es|y")
    s"""WITH p AS (SELECT lang,
       |    CASE WHEN greatest($en, $de, $fr, $es) = 0 THEN 'und'
       |         WHEN $en = greatest($en, $de, $fr, $es) THEN 'en'
       |         WHEN $de = greatest($en, $de, $fr, $es) THEN 'de'
       |         WHEN $fr = greatest($en, $de, $fr, $es) THEN 'fr'
       |         ELSE 'es' END AS lang_pred
       |  FROM documents)
       |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END AS BIGINT) AS is_match
       |FROM p GROUP BY 1, 2""".stripMargin
  }

  /** Truncated EWMA trend smoothing (TimeSeries.ewmaSmooth): daily event
    * counts per type, smoothed by an exponentially weighted mean over the
    * trailing 14 observed days (α=0.3), computed scatter-style — each
    * observation explodes to the days it influences with once-rounded
    * decimal weights, one (series, day) shuffle, no window, no per-series
    * sort. Gap days contribute nothing (weights renormalize over what's
    * present). */
  def q120EwmaSmooth(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        unix_date(to_date(col("ts"))).cast("long").as("day"))
      .agg(count(lit(1)).as("n"))
    graft.operators.TimeSeries.ewmaSmooth(daily, "event_type", "day", "n",
      alpha = 0.3, horizonDays = 14)
  }

  val q120Sql: String =
    """WITH daily AS (SELECT event_type,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |sc AS (SELECT d.event_type, d.day + s.r AS day,
      |    CAST(round(CAST(d.n AS DOUBLE), 6) AS DECIMAL(18,6))
      |      * CAST(round(power(0.7, s.r), 9) AS DECIMAL(12,9)) AS wx,
      |    CAST(round(power(0.7, s.r), 9) AS DECIMAL(12,9)) AS w
      |  FROM daily d CROSS JOIN range(14) s(r)),
      |agg AS (SELECT event_type, day, sum(wx) AS num, sum(w) AS den
      |  FROM sc GROUP BY 1, 2)
      |SELECT d.event_type, d.day, d.n,
      |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) + 0 AS ewma
      |FROM daily d JOIN agg USING (event_type, day)""".stripMargin

  /** Poisson-bootstrap confidence interval (Stats.poissonBootstrap):
    * ±1.96·SE interval on each source's mean document length from 32
    * deterministic Poisson(1) resamples — multiplicities inverted from
    * md5-derived uniforms so the "random" bootstrap replays bit-for-bit
    * in both engines. */
  def q121BootstrapCi(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.poissonBootstrap(t(s, dir, "documents"),
      "source", "doc_id", col("n_chars"), replicas = 32)

  val q121Sql: String =
    """WITH base AS (SELECT source, doc_id,
      |    CAST(round(CAST(n_chars AS DOUBLE), 6) AS DECIMAL(18,6)) AS x
      |  FROM documents WHERE n_chars IS NOT NULL),
      |pt AS (SELECT source, CAST(count(x) AS BIGINT) AS n,
      |    round(CAST(sum(x) AS DOUBLE) / count(x), 6) AS mean FROM base GROUP BY 1),
      |f AS (SELECT source, b.r AS b, x,
      |    CAST(CAST(('0x' || substring(md5('p:' || CAST(b.r AS VARCHAR) || ':'
      |      || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE) / power(2, 60) AS u
      |  FROM base CROSS JOIN range(32) b(r)),
      |c AS (SELECT source, b, x,
      |    CASE WHEN u < 0.367879441171 THEN 0 WHEN u < 0.735758882343 THEN 1
      |         WHEN u < 0.919698602929 THEN 2 WHEN u < 0.981011843124 THEN 3
      |         WHEN u < 0.996340153173 THEN 4 WHEN u < 0.999405815182 THEN 5
      |         WHEN u < 0.999916758851 THEN 6 WHEN u < 0.999989750803 THEN 7
      |         ELSE 8 END AS cnt
      |  FROM f),
      |rm AS (SELECT source, b,
      |    CAST(round(CAST(sum(cnt * x) AS DOUBLE) / sum(cnt), 9) AS DECIMAL(20,9)) AS m
      |  FROM c GROUP BY 1, 2 HAVING sum(cnt) > 0),
      |sp AS (SELECT source, CAST(count(m) AS BIGINT) AS n_replicas,
      |    round(sqrt(greatest((CAST(sum(m * m) AS DOUBLE)
      |        - CAST(sum(m) AS DOUBLE) * CAST(sum(m) AS DOUBLE) / count(m))
      |      / (count(m) - 1), 0)), 6) AS se_boot
      |  FROM rm GROUP BY 1)
      |SELECT pt.source, n, mean, se_boot,
      |  round(mean - 1.96 * se_boot, 6) AS ci_lo,
      |  round(mean + 1.96 * se_boot, 6) AS ci_hi, n_replicas
      |FROM pt JOIN sp USING (source)""".stripMargin

  /** Canonical-doc centrality (Dedup.pageRank over the q24 near-dup pair
    * graph): 8 damped power-method iterations with once-rounded decimal
    * contribution sums, so the "which copy is canonical" ranking replays
    * bit-for-bit. The oracle splices q24's pair CTE chain and unrolls the
    * same 8 iterations as plain CTEs. */
  def q122DedupPagerank(s: SparkSession, dir: String): DataFrame =
    Dedup.pageRank(
      Dedup.minhashLsh(t(s, dir, "documents"), n = 5, k = 12, bands = 4,
        threshold = 0.5, maxBucket = 100))

  val q122Sql: String = {
    val pairSelect = "SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5"
    assert(q24Sql.endsWith(pairSelect), "q122Sql tracks q24Sql's pair tail")
    val iters = (0 until 8).map { i =>
      s"""c$i AS (SELECT e.dst AS id,
         |    sum(CAST(round(pr$i.pr / deg.deg, 12) AS DECIMAL(22,12))) AS s
         |  FROM e JOIN pr$i ON e.src = pr$i.id JOIN deg ON deg.src = e.src
         |  GROUP BY 1),
         |pr${i + 1} AS (SELECT deg.src AS id,
         |    round(0.15 / nn + 0.85 * CAST(coalesce(c$i.s, 0) AS DOUBLE), 12) AS pr
         |  FROM deg CROSS JOIN n LEFT JOIN c$i ON c$i.id = deg.src)""".stripMargin
    }.mkString(",\n")
    q24Sql.dropRight(pairSelect.length).stripTrailing() + ",\n" +
      s"""p AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b AS src, doc_a AS dst FROM p),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM deg),
         |pr0 AS (SELECT src AS id, round(1.0 / nn, 12) AS pr FROM deg CROSS JOIN n),
         |$iters
         |SELECT id AS doc_id, pr FROM pr8""".stripMargin
  }

  /** JL random projection (Similarity.randomProjection): 64-dim
    * embeddings down to 16 ±1-signed components (Achlioptas 2003), the
    * md5-derived sign matrix regenerated identically by both engines.
    * Exploded (vec_id, j, component) output — comparator-safe, decimal
    * sums order-free. */
  def q123RandomProjection(s: SparkSession, dir: String): DataFrame =
    Similarity.randomProjection(t(s, dir, "embeddings"), dims = 64, outDims = 16)

  val q123Sql: String =
    """WITH s AS (SELECT CAST(r // 16 + 1 AS BIGINT) AS d, CAST(r % 16 AS BIGINT) AS j,
      |    CASE WHEN CAST(('0x' || substring(md5('rp:' || CAST(r // 16 + 1 AS VARCHAR)
      |        || ':' || CAST(r % 16 AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
      |      THEN 1 ELSE -1 END AS sgn
      |  FROM range(1024) t(r)),
      |v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS d,
      |    CAST(round(unnest(CAST(embedding AS DOUBLE[])), 6) AS DECIMAL(12,6)) AS x
      |  FROM embeddings)
      |SELECT vec_id, j, CAST(sum(x * sgn) AS DOUBLE) / sqrt(16.0) AS component
      |FROM v JOIN s USING (d) GROUP BY 1, 2""".stripMargin

  /** Winnowing overlap pairs (Dedup.winnowOverlap — Schleimer et al. 2003,
    * the MOSS fingerprinting algorithm): docs sharing ≥ 2 winnowed
    * min-hash-per-window fingerprints (k=5, w=4, hot-fingerprint cap 100)
    * — the combinatorial-guarantee complement to q24's probabilistic
    * MinHash: any shared ≥ 8-token run through non-hot fingerprints is
    * caught by construction. */
  def q124WinnowOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowOverlap(t(s, dir, "documents"), k = 5, w = 4, minShared = 2,
      maxDocsPerFp = 100)

  val q124Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS words FROM documents),
       |g AS (SELECT doc_id, unnest(generate_series(0, len(words) - 5)) AS pos, words
       |      FROM w WHERE len(words) >= 5),
       |gr AS (SELECT doc_id, pos,
       |    CAST(('0x' || substring(md5(array_to_string(words[pos+1 : pos+5], ' ')), 1, 15)) AS BIGINT) AS h
       |  FROM g),
       |cnt AS (SELECT doc_id, count(*) AS c FROM gr GROUP BY 1),
       |mn AS (SELECT doc_id, pos, min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM gr),
       |f AS (SELECT DISTINCT mn.doc_id, fp FROM mn JOIN cnt USING (doc_id)
       |      WHERE pos <= c - 4),
       |keep AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 100),
       |fk AS (SELECT f.doc_id, f.fp FROM f JOIN keep USING (fp)),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_shared FROM p WHERE n_shared >= 2""".stripMargin

  /** Product-quantization codes (Similarity.pqEncode, Jégou et al. 2011):
    * 64-dim embeddings → 8 subspace codes against seed codebooks of 16,
    * nearest by squared L2 with code-asc tie-break — the RAM-compression
    * step of billion-scale ANN. (vec_id, subspace, code) rows. */
  def q125PqCodes(s: SparkSession, dir: String): DataFrame =
    Similarity.pqEncode(t(s, dir, "embeddings"), dims = 64, subspaces = 8,
      codebookSize = 16)

  private def pqDotSql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2]))"

  /** Shared PQ CTE chain (through per-(vector, subspace) code ranks) for
    * q125/q126: 8 subspaces of 8 dims, seed codebooks of 16. */
  private val pqCteSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
       |sub AS (SELECT vec_id, t.r AS s, v[t.r*8+1 : t.r*8+8] AS sv
       |  FROM e CROSS JOIN range(8) t(r)),
       |csub AS (SELECT code, t.r AS s, v[t.r*8+1 : t.r*8+8] AS cv
       |  FROM cb CROSS JOIN range(8) t(r)),
       |d AS (SELECT vec_id, s, code,
       |    round(${pqDotSql("sv", "sv")} + ${pqDotSql("cv", "cv")}
       |      - 2 * ${pqDotSql("sv", "cv")}, 6) AS dist
       |  FROM sub JOIN csub USING (s)),
       |r AS (SELECT vec_id, s, code, row_number() OVER (PARTITION BY vec_id, s
       |    ORDER BY dist ASC, code ASC) AS rnk FROM d)""".stripMargin

  val q125Sql: String =
    s"""$pqCteSql
       |SELECT vec_id, CAST(s AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code
       |FROM r WHERE rnk = 1""".stripMargin

  /** PQ asymmetric-distance ANN (Similarity.annPq): per-query LUT of
    * exact subvector→codeword distances, corpus scanned as codes, top-5
    * by once-rounded decimal distance sums — the search half of q125. */
  def q126AnnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.annPq(emb.filter(col("vec_id") < 16), emb, k = 5,
      dims = 64, subspaces = 8, codebookSize = 16)
  }

  val q126Sql: String =
    s"""$pqCteSql,
       |codes AS (SELECT vec_id, s, code FROM r WHERE rnk = 1),
       |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 16),
       |qsub AS (SELECT query_id, t.r AS s, v[t.r*8+1 : t.r*8+8] AS qv
       |  FROM q CROSS JOIN range(8) t(r)),
       |lut AS (SELECT query_id, s, code,
       |    CAST(round(${pqDotSql("qv", "qv")} + ${pqDotSql("cv", "cv")}
       |      - 2 * ${pqDotSql("qv", "cv")}, 6) AS DECIMAL(18,6)) AS dq
       |  FROM qsub JOIN csub USING (s)),
       |a AS (SELECT query_id, vec_id, sum(dq) AS ad
       |  FROM codes JOIN lut USING (s, code) GROUP BY 1, 2),
       |rk AS (SELECT query_id, vec_id, ad, row_number() OVER (PARTITION BY query_id
       |    ORDER BY ad ASC, vec_id ASC) AS rnk2 FROM a WHERE query_id <> vec_id)
       |SELECT query_id, vec_id AS neighbor_id, CAST(ad AS DOUBLE) AS approx_dist,
       |  CAST(rnk2 AS BIGINT) AS rank
       |FROM rk WHERE rnk2 <= 5""".stripMargin

  /** Exact quantiles at bounded state (ApproxQuantile.exactQuantiles):
    * the 100 TB-safe exact path next to q59's `percentile` aggregate —
    * histogram-locates each order statistic's bucket, then selects the
    * k-th smallest inside only that bucket. Same quantile_cont semantics,
    * same oracle family as q59, run on the NEAR-UNIQUE price column where
    * the value→count map the aggregate buffers is at its worst. */
  def q127ExactQuantiles(s: SparkSession, dir: String): DataFrame =
    operators.ApproxQuantile.exactQuantiles(
      t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
      Seq("p05" -> 0.05, "p50" -> 0.5, "p95" -> 0.95))

  val q127Sql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.05), 6) AS p05,
      |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Curriculum phase schedule (Sampling.curriculumPhases): per-source
    * easy-first ordering (token count as the easiness proxy, doc_id
    * tie-break), cut into consecutive 2048-token phases a training job
    * consumes in order. Reduced to per-(source, phase) stats — all exact
    * integers. */
  def q128CurriculumPhases(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    operators.Sampling.curriculumPhases(d, "source", "doc_id",
        "n_tokens", "n_tokens", phaseTokens = 2048L)
      .groupBy(col("source"), col("phase"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("phase_tokens"),
        min(col("n_tokens")).as("min_tokens"), max(col("n_tokens")).as("max_tokens"))
  }

  val q128Sql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |    CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
       |    ORDER BY n_tokens, doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d),
       |p AS (SELECT *, CAST((cum - n_tokens) // 2048 AS BIGINT) AS phase FROM c)
       |SELECT source, phase, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS phase_tokens,
       |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
       |FROM p GROUP BY 1, 2""".stripMargin

  /** Template clusters (Dedup.templateClusters): digit-insensitive exact
    * dedup — pages sharing one boilerplate skeleton that differ only in
    * numbers collapse to a cluster with size, representative and template
    * length. */
  def q129TemplateClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.templateClusters(t(s, dir, "documents"))

  val q129Sql: String =
    s"""WITH t AS (SELECT doc_id,
       |    md5(regexp_replace($normSql, '[0-9]+', '0', 'g')) AS template_hash,
       |    CAST(len(regexp_replace($normSql, '[0-9]+', '0', 'g')) AS BIGINT) AS template_len
       |  FROM documents)
       |SELECT template_hash, CAST(count(*) AS BIGINT) AS n_docs,
       |  min(doc_id) AS rep_doc_id, min(template_len) AS template_len
       |FROM t GROUP BY 1 HAVING count(*) >= 2""".stripMargin

  /** Bloom-filtered join (Joins.bloomFilteredJoin): lineitem pre-filtered
    * by a fixed-size Bloom filter of the high-value order keys BEFORE the
    * join shuffle — semi-join reduction, result identical to the plain
    * join (oracle IS the plain join), only the shuffled volume changes. */
  def q130BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val hi = t(s, dir, "orders").filter(col("o_totalprice") > 150000)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    operators.Joins.bloomFilteredJoin(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice")),
        hi, "l_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        (sum(dec2(col("l_extendedprice"))).cast("double")).as("revenue"))
  }

  val q130Sql: String =
    """WITH s AS (SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 150000)
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN s ON l.l_orderkey = s.o_orderkey
      |GROUP BY 1""".stripMargin

  /** Salted skew join (Skew.saltedJoin): events (the skewed fact side)
    * joined to the customer dimension on (key, salt) so a hot user fans
    * across reducers; row-identical to the plain join — the oracle is the
    * plain join — only the key distribution across reducers changes. */
  def q131SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"), col("value"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    operators.Skew.saltedJoin(ev, cust, Seq("user_id"), saltBuckets = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
  }

  val q131Sql: String =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1""".stripMargin

  /** Hard-negative mining (Similarity.hardNegatives): top-3 most similar
    * corpus vectors with a DIFFERENT label per query — the contrastive-
    * training pair miner, exact like q26 with the label-mismatch gate. */
  def q132HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.hardNegatives(emb.filter(col("vec_id") < 16), emb, k = 3)
  }

  val q132Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS query_label
       |  FROM embeddings WHERE vec_id < 16),
       |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label AS neighbor_label
       |  FROM embeddings),
       |scored AS (SELECT query_id, query_label, neighbor_id, neighbor_label,
       |    ${cosSql("qv", "cv")} AS cos
       |  FROM q CROSS JOIN c
       |  WHERE query_id <> neighbor_id AND query_label IS DISTINCT FROM neighbor_label)
       |SELECT query_id, query_label, neighbor_id, neighbor_label, cos, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank FROM scored)
       |WHERE rank <= 3""".stripMargin

  /** Retrieval AP@10 eval (Similarity.retrievalAveragePrecision):
    * label-relevance average precision per query over the exact cosine
    * ranking — the embedding-eval harness as a query. P(i) terms rounded
    * once and summed as DECIMAL so the fold is order-free. */
  def q133RetrievalAp(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.retrievalAveragePrecision(emb.filter(col("vec_id") < 16), emb, k = 10)
  }

  val q133Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS query_label
       |  FROM embeddings WHERE vec_id < 16),
       |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label AS neighbor_label
       |  FROM embeddings),
       |scored AS (SELECT query_id, query_label,
       |    CAST(CASE WHEN query_label IS NOT DISTINCT FROM neighbor_label THEN 1 ELSE 0 END AS BIGINT) AS rel,
       |    ${cosSql("qv", "cv")} AS cos, neighbor_id
       |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk,
       |    sum(rel) OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC
       |      ROWS UNBOUNDED PRECEDING) AS cumrel
       |  FROM scored),
       |a AS (SELECT query_id, query_label, CAST(sum(rel) AS BIGINT) AS n_relevant,
       |    sum(CASE WHEN rnk <= 10 AND rel = 1
       |        THEN CAST(round(CAST(cumrel AS DOUBLE) / rnk, 6) AS DECIMAL(18,6))
       |        ELSE CAST(0 AS DECIMAL(18,6)) END) AS apsum
       |  FROM r GROUP BY 1, 2)
       |SELECT query_id, query_label, n_relevant,
       |  CASE WHEN n_relevant = 0 THEN NULL
       |       ELSE round(CAST(apsum AS DOUBLE) / least(n_relevant, 10), 6) END AS ap_at_10
       |FROM a""".stripMargin

  /** Per-group feature normalization (Stats.standardize): z-score and
    * min-max of the price against its return-flag group — exact DECIMAL
    * Σx/Σx² bases, fixed-shape double readout rounded once. */
  def q134Normalize(s: SparkSession, dir: String): DataFrame =
    operators.Stats.standardize(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_extendedprice")),
        "l_returnflag", "l_extendedprice")

  val q134Sql: String =
    """WITH x AS (SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
      |    CAST(l_extendedprice AS DECIMAL(18,6)) AS xd FROM lineitem),
      |s AS (SELECT l_returnflag AS g, CAST(count(xd) AS BIGINT) AS n, sum(xd) AS sx,
      |    sum(CAST(CAST(xd AS DECIMAL(28,6)) * xd AS DECIMAL(38,12))) AS q,
      |    min(xd) AS mn, max(xd) AS mx
      |  FROM x GROUP BY 1)
      |SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
      |  CASE WHEN n > 1 AND mn < mx
      |      AND (CAST(q AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n)*(CAST(sx AS DOUBLE)/n)) > 0
      |    THEN round((CAST(xd AS DOUBLE) - CAST(sx AS DOUBLE)/n) /
      |      sqrt(CAST(q AS DOUBLE)/n - (CAST(sx AS DOUBLE)/n)*(CAST(sx AS DOUBLE)/n)), 6) + 0
      |  END AS l_extendedprice_z,
      |  CASE WHEN mx > mn THEN round(CAST(xd - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE), 6)
      |  END AS l_extendedprice_minmax
      |FROM x JOIN s ON l_returnflag IS NOT DISTINCT FROM s.g""".stripMargin

  /** Temporal split with embargo (Sampling.temporalSplit): train strictly
    * before split−embargo, test at/after split, the 2-day gap labeled and
    * excluded — the time-series leakage guard. Reduced to per-split
    * stats. */
  def q135TemporalSplit(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.temporalSplit(
        t(s, dir, "events"), "ts", "2024-01-20 00:00:00", "2 days")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))

  val q135Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |l AS (SELECT user_id, CASE
      |    WHEN us IS NULL THEN NULL
      |    WHEN us < epoch_us(TIMESTAMP '2024-01-20 00:00:00') - 172800000000 THEN 'train'
      |    WHEN us >= epoch_us(TIMESTAMP '2024-01-20 00:00:00') THEN 'test'
      |    ELSE 'embargo' END AS split FROM e)
      |SELECT split, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM l GROUP BY 1""".stripMargin

  /** Hashing-trick features (TextAnalysis.featureHash): tokens hashed to
    * a fixed 1024-bucket space, per-doc bucket counts as sparse COO rows
    * — the vocabulary-free featurizer. */
  def q136FeatureHash(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.featureHash(t(s, dir, "documents"), dims = 1024)

  val q136Sql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS term FROM documents)
       |SELECT doc_id,
       |  CAST(('0x' || substring(md5(term), 1, 15)) AS BIGINT) % 1024 AS feature_ix,
       |  CAST(count(*) AS BIGINT) AS cnt
       |FROM tok GROUP BY 1, 2""".stripMargin

  /** Hybrid-retrieval fusion (Similarity.rrfFuse): BM25 lexical ranking ×
    * embedding-cosine ranking for one query, fused by reciprocal rank
    * (Σ 1/(60+rank), per-term round-then-DECIMAL fold), top 20. */
  def q137RrfFusion(s: SparkSession, dir: String): DataFrame = {
    val wq = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id").asc)
    val lex = TextAnalysis.bm25(t(s, dir, "documents"), Seq("table", "stream", "vector"))
      .withColumn("qid", lit("q1"))
      .withColumn("rank", row_number().over(wq).cast("long"))
      .filter(col("rank") <= 50)
    val emb = t(s, dir, "embeddings")
    val sem = Similarity.knnBruteForce(emb.filter(col("vec_id") === 0), emb, k = 50)
      .select(lit("q1").as("qid"), col("neighbor_id").as("doc_id"), col("rank"))
    Similarity.rrfFuse(lex.select(col("qid"), col("doc_id"), col("rank")),
        sem, "qid", "doc_id")
      .filter(col("fused_rank") <= 20)
  }

  val q137Sql: String =
    s"""WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
       |b2 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM base),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM b2),
       |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM b2)
       |       WHERE term IN ('table', 'stream', 'vector') GROUP BY 1, 2, 3),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT tf.doc_id,
       |   CAST(round(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |     * (CAST(tf AS DOUBLE) * 2.2)
       |     / (CAST(tf AS DOUBLE) + 0.3 + 0.9 * CAST(dl * n_docs AS DOUBLE) / CAST(total_dl AS DOUBLE)), 6) AS DECIMAL(18,6)) AS s
       |  FROM tf JOIN dfq USING (term) CROSS JOIN stats),
       |bm AS (SELECT doc_id, CAST(sum(s) AS DOUBLE) AS score FROM sc GROUP BY 1),
       |lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank_a
       |        FROM bm QUALIFY rank_a <= 50),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |c AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
       |cos AS (SELECT doc_id, ${cosSql("qv", "cv")} AS cos FROM c CROSS JOIN q WHERE doc_id <> 0),
       |sem AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS BIGINT) AS rank_b
       |        FROM cos QUALIFY rank_b <= 50),
       |f AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, rank_a, rank_b,
       |    coalesce(CAST(round(1.0 / (60 + rank_a), 6) AS DECIMAL(18,6)), CAST(0 AS DECIMAL(18,6)))
       |      + coalesce(CAST(round(1.0 / (60 + rank_b), 6) AS DECIMAL(18,6)), CAST(0 AS DECIMAL(18,6))) AS rrf
       |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
       |SELECT 'q1' AS qid, doc_id, rank_a, rank_b, CAST(rrf AS DOUBLE) AS rrf,
       |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS fused_rank
       |FROM f QUALIFY fused_rank <= 20""".stripMargin

  /** Winsorize via the single-pass `percentile` aggregate (bounds="agg")
    * — the third bounds strategy next to q86 (two-pass exact) and q99
    * (sketch). Same oracle as q86: the strategies are result-identical by
    * contract, and this row PROVES it on the driver gate. */
  def q138WinsorizeAgg(s: SparkSession, dir: String): DataFrame =
    operators.Cleanse.winsorize(t(s, dir, "lineitem"), "l_returnflag",
        "l_extendedprice", bounds = "agg")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        (sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("mean_raw"),
        (sum(col("l_extendedprice_w").cast("decimal(18,6)")).cast("double") / count(lit(1)))
          .as("mean_winsorized"))

  val q138Sql: String = q86Sql

  /** Robust scaling (Stats.robustScale): (x − median)/IQR per return
    * flag — outlier-immune normalization whose bounds ride the
    * bounded-state exact quantile path (q127's operator, reused). */
  def q139RobustScale(s: SparkSession, dir: String): DataFrame =
    operators.Stats.robustScale(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_extendedprice")),
        "l_returnflag", "l_extendedprice")

  val q139Sql: String =
    """WITH b AS (SELECT l_returnflag AS g,
      |    round(quantile_cont(l_extendedprice, 0.25), 6) AS q1,
      |    round(quantile_cont(l_extendedprice, 0.5), 6) AS med,
      |    round(quantile_cont(l_extendedprice, 0.75), 6) AS q3
      |  FROM lineitem GROUP BY 1)
      |SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
      |  CASE WHEN q3 > q1
      |    THEN round((l_extendedprice - med) / (q3 - q1), 6) + 0 END AS l_extendedprice_robust
      |FROM lineitem JOIN b ON l_returnflag IS NOT DISTINCT FROM b.g""".stripMargin

  /** Per-label embedding dispersion (Similarity.labelDispersion): mean
    * squared distance to the label centroid via E‖x−c‖² = E‖x‖² − ‖c‖² —
    * the diversity metric, one pass, no pairwise stage. */
  def q140LabelDispersion(s: SparkSession, dir: String): DataFrame =
    Similarity.labelDispersion(
      t(s, dir, "embeddings").withColumn("label", col("label").cast("long")), 64)

  val q140Sql: String =
    """WITH e AS (SELECT CAST(label AS BIGINT) AS label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      |    sum(CAST(round(list_sum(list_transform(v, x -> x * x)), 6) AS DECIMAL(18,6))) AS s2
      |  FROM e GROUP BY 1),
      |u AS (SELECT label, generate_subscripts(v, 1) AS d, unnest(v) AS x FROM e),
      |c AS (SELECT u.label, d, round(sum(x) / n.n_vecs, 6) AS cv
      |      FROM u JOIN n USING (label) GROUP BY u.label, d, n.n_vecs),
      |c2 AS (SELECT label, round(sum(cv * cv), 6) AS centroid_sq_norm FROM c GROUP BY 1)
      |SELECT n.label, n.n_vecs,
      |  round(CAST(s2 AS DOUBLE) / n_vecs, 6) AS mean_sq_norm,
      |  c2.centroid_sq_norm,
      |  round(round(CAST(s2 AS DOUBLE) / n_vecs, 6) - c2.centroid_sq_norm, 6) + 0 AS dispersion
      |FROM n JOIN c2 USING (label)""".stripMargin

  /** Per-source duplication profile (Dedup.dupProfile): docs, distinct
    * contents, exact duplicates, integer per-mille duplication rate —
    * the curator's first diagnostic, one row per source. */
  def q141DupProfile(s: SparkSession, dir: String): DataFrame =
    Dedup.dupProfile(t(s, dir, "documents"))

  val q141Sql: String =
    s"""WITH f AS (SELECT source, md5($normSql) AS fp, CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2)
       |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_distinct,
       |  CAST(sum(n) - count(*) AS BIGINT) AS n_dups,
       |  CAST((sum(n) - count(*)) * 1000 // sum(n) AS BIGINT) AS dup_permille
       |FROM f GROUP BY 1""".stripMargin

  /** ANN-gated hard-negative mining (Similarity.hardNegativesAnn): q132's
    * different-label top-k over q33's IVF candidate gate instead of the
    * cross join — the corpus-scale path (queries ≈ training set). Same
    * query set as q132 so AnnRecallSpec can measure recall exact-vs-ANN
    * on the very rows both catalog queries emit. Deterministic seed
    * centroids (first 32 corpus vectors) keep the oracle replayable. */
  def q142HardNegativesAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.hardNegativesAnn(emb.filter(col("vec_id") < 16), emb, k = 3,
      nCells = 32, nProbe = 4)
  }

  val q142Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
       |cents AS (SELECT vec_id AS cell, v AS cvec FROM e ORDER BY vec_id LIMIT 32),
       |ca AS (SELECT neighbor_id, cv, neighbor_label, cell_id FROM (
       |  SELECT e.vec_id AS neighbor_id, e.v AS cv, e.label AS neighbor_label,
       |    cents.cell AS cell_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "cents.cvec")} DESC, cents.cell ASC) AS rnk
       |  FROM e CROSS JOIN cents) WHERE rnk <= 1),
       |qp AS (SELECT query_id, qv, query_label, cell_id FROM (
       |  SELECT e.vec_id AS query_id, e.v AS qv, e.label AS query_label,
       |    cents.cell AS cell_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "cents.cvec")} DESC, cents.cell ASC) AS rnk
       |  FROM e CROSS JOIN cents WHERE e.vec_id < 16) WHERE rnk <= 4),
       |scored AS (SELECT query_id, query_label, neighbor_id, neighbor_label,
       |    max(${cosSql("qv", "cv")}) AS cos
       |  FROM qp JOIN ca USING (cell_id)
       |  WHERE query_id <> neighbor_id AND query_label IS DISTINCT FROM neighbor_label
       |  GROUP BY 1, 2, 3, 4)
       |SELECT query_id, query_label, neighbor_id, neighbor_label, cos, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank FROM scored)
       |WHERE rank <= 3""".stripMargin

  /** End-to-end curation composition: SemDeDup (q108) keeps one vector
    * per near-identical semantic ball → leakage-safe hash split (q45/q102
    * family) → ANN hard-negative mining (q142) with queries = the val
    * split against corpus = the train split — the actual shape of a
    * contrastive-curation run, proven as ONE oracle row instead of three
    * independent ones. Every stage is the deterministic variant, so the
    * whole chain replays in DuckDB. */
  def q143CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val kept = Similarity.semDedup(emb, nCells = 16, threshold = 0.3)
      .filter(col("kept") === 1L).select("vec_id")
      .join(emb, Seq("vec_id"))
    val split = operators.Sampling.threeWaySplit(kept, "vec_id", 0.75, 0.125)
    Similarity.hardNegativesAnn(
      split.filter(col("split") === "val"),
      split.filter(col("split") === "train"),
      k = 3, nCells = 32, nProbe = 4)
  }

  val q143Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
       |cents0 AS (SELECT vec_id AS cell, v AS cvec FROM e ORDER BY vec_id LIMIT 16),
       |a AS (SELECT vec_id, v, cell FROM (
       |  SELECT e.vec_id, e.v, cents0.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "cents0.cvec")} DESC, cents0.cell ASC) AS rnk
       |  FROM e CROSS JOIN cents0) WHERE rnk <= 1),
       |d AS (SELECT DISTINCT hi.vec_id FROM a lo JOIN a hi
       |  ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id
       |  WHERE ${cosSql("lo.v", "hi.v")} >= 0.3),
       |kept AS (SELECT e.* FROM e LEFT JOIN d USING (vec_id) WHERE d.vec_id IS NULL),
       |sp AS (SELECT *, CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 12)) AS BIGINT)
       |    % 1000000 AS b FROM kept),
       |q AS (SELECT vec_id AS query_id, v AS qv, label AS query_label
       |      FROM sp WHERE b >= 750000 AND b < 875000),
       |c AS (SELECT vec_id AS neighbor_id, v AS cv, label AS neighbor_label
       |      FROM sp WHERE b < 750000),
       |cents AS (SELECT neighbor_id AS cell, cv AS cvec FROM c ORDER BY neighbor_id LIMIT 32),
       |ca AS (SELECT neighbor_id, cv, neighbor_label, cell_id FROM (
       |  SELECT c.neighbor_id, c.cv, c.neighbor_label, cents.cell AS cell_id,
       |    row_number() OVER (PARTITION BY c.neighbor_id
       |      ORDER BY ${cosSql("c.cv", "cents.cvec")} DESC, cents.cell ASC) AS rnk
       |  FROM c CROSS JOIN cents) WHERE rnk <= 1),
       |qp AS (SELECT query_id, qv, query_label, cell_id FROM (
       |  SELECT q.query_id, q.qv, q.query_label, cents.cell AS cell_id,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${cosSql("q.qv", "cents.cvec")} DESC, cents.cell ASC) AS rnk
       |  FROM q CROSS JOIN cents) WHERE rnk <= 4),
       |scored AS (SELECT query_id, query_label, neighbor_id, neighbor_label,
       |    max(${cosSql("qv", "cv")}) AS cos
       |  FROM qp JOIN ca USING (cell_id)
       |  WHERE query_id <> neighbor_id AND query_label IS DISTINCT FROM neighbor_label
       |  GROUP BY 1, 2, 3, 4)
       |SELECT query_id, query_label, neighbor_id, neighbor_label, cos, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank FROM scored)
       |WHERE rank <= 3""".stripMargin

  /** REAL WAV decode end-to-end (Multimodal.decodeWavFeatures over
    * MediaCodecs.decodeWav — a pure-JVM RIFF/PCM parser, no codec lib):
    * per-doc PCM waves are synthesized from closed-form integer formulas
    * (synthWavAssets), ENCODED to real WAV bytes, then decoded back by
    * the parser under test; the oracle recomputes every feature from the
    * same formulas — so a parser that misreads any header field or
    * sample byte hash-mismatches. sum_sq is the exact integer Σ s², rms
    * the one fixed-shape double readout. */
  def q144WavDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeWavFeatures(
      Multimodal.synthWavAssets(t(s, dir, "documents"), "doc_id")).toDF()

  val q144Sql: String =
    """WITH p AS (SELECT doc_id AS asset_id,
      |    CAST(256 + (doc_id % 17) * 16 AS BIGINT) AS n,
      |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS rate FROM documents),
      |s AS (SELECT asset_id, n, rate,
      |    unnest(generate_series(0, n - 1)) AS i FROM p),
      |a AS (SELECT asset_id, n, rate,
      |    sum((((asset_id * 7 + i * 13) % 201 - 100) * 64)
      |      * (((asset_id * 7 + i * 13) % 201 - 100) * 64)) AS ss
      |  FROM s GROUP BY 1, 2, 3)
      |SELECT asset_id, CAST(1 AS BIGINT) AS ok, rate AS sample_rate,
      |  CAST(1 AS INT) AS n_channels, n AS n_samples,
      |  CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
      |  CAST(ss AS BIGINT) AS sum_sq,
      |  round(sqrt(CAST(ss AS DOUBLE) / n), 6) AS rms
      |FROM a""".stripMargin

  /** REAL BMP pixel pipeline: synthesize (closed-form pixels) → encode
    * (real 24-bpp BMP bytes, padded bottom-up rows) → decode → nearest-
    * neighbor resize into an 8-box (resizePlan's floor math, integer
    * index map src = dst·srcDim div dstDim) → RE-encode → RE-decode the
    * resized payload, emitting its exact channel sums. The oracle
    * replays dims, the resize index arithmetic, and the channel sums
    * from the formulas — four codec passes proven by one hash. */
  def q145BmpResize(s: SparkSession, dir: String): DataFrame = {
    val resized = Multimodal.resizeBmp(
      Multimodal.synthBmpAssets(t(s, dir, "documents"), "doc_id"), box = 8).toDF()
    val redecoded = Multimodal.decodeBmpFeatures(
        resized.select(col("asset_id"), col("out_payload").as("payload"))).toDF()
      .select(col("asset_id"), col("sum_r"), col("sum_g"), col("sum_b"))
    resized.select(col("asset_id"), col("width"), col("height"),
        col("out_width"), col("out_height"))
      .join(redecoded, Seq("asset_id"))
  }

  val q145Sql: String =
    """WITH d AS (SELECT doc_id AS asset_id,
      |    CAST(8 + doc_id % 9 AS INT) AS width,
      |    CAST(8 + (doc_id * 3) % 9 AS INT) AS height FROM documents),
      |o AS (SELECT *,
      |    GREATEST(1, CAST(floor(width * LEAST(8.0 / width, 8.0 / height, 1.0)) AS INT)) AS ow,
      |    GREATEST(1, CAST(floor(height * LEAST(8.0 / width, 8.0 / height, 1.0)) AS INT)) AS oh
      |  FROM d),
      |pi AS (SELECT asset_id, width, height, ow, oh,
      |    unnest(generate_series(0, ow - 1)) AS i FROM o),
      |pj AS (SELECT asset_id, width, height, ow, oh, i,
      |    unnest(generate_series(0, oh - 1)) AS j FROM pi),
      |sums AS (SELECT asset_id, width, height, ow, oh,
      |    sum((asset_id + 3 * ((i * width) // ow) + 5 * ((j * height) // oh)) % 256) AS sr,
      |    sum((2 * asset_id + ((i * width) // ow) + 7 * ((j * height) // oh)) % 256) AS sg,
      |    sum((5 * asset_id + 11 * ((i * width) // ow) + ((j * height) // oh)) % 256) AS sb
      |  FROM pj GROUP BY 1, 2, 3, 4, 5)
      |SELECT asset_id, width, height,
      |  CAST(ow AS INT) AS out_width, CAST(oh AS INT) AS out_height,
      |  CAST(sr AS BIGINT) AS sum_r, CAST(sg AS BIGINT) AS sum_g,
      |  CAST(sb AS BIGINT) AS sum_b
      |FROM sums""".stripMargin

  /** Frame-level audio energy (Multimodal.wavWindowFeatures): the q144
    * fixture decoded into 128-frame windows — the VAD/energy-curriculum
    * pass — with per-window exact Σs² and the rounded rms readout;
    * oracle groups the closed-form sample stream by i div 128. */
  def q146WavWindows(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavWindowFeatures(
      Multimodal.synthWavAssets(t(s, dir, "documents"), "doc_id"),
      winFrames = 128).toDF()

  val q146Sql: String =
    """WITH p AS (SELECT doc_id AS asset_id,
      |    CAST(256 + (doc_id % 17) * 16 AS BIGINT) AS n FROM documents),
      |s AS (SELECT asset_id,
      |    unnest(generate_series(0, n - 1)) AS i FROM p),
      |w AS (SELECT asset_id, i // 128 AS window_ix,
      |    ((asset_id * 7 + i * 13) % 201 - 100) * 64 AS smp FROM s)
      |SELECT asset_id, CAST(window_ix AS BIGINT) AS window_ix,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(smp * smp) AS BIGINT) AS sum_sq,
      |  round(sqrt(CAST(sum(smp * smp) AS DOUBLE) / count(*)), 6) AS rms
      |FROM w GROUP BY 1, 2""".stripMargin

  private val q147AHashCte: String =
    """WITH d AS (SELECT doc_id AS asset_id, doc_id // 2 AS base,
      |    doc_id % 2 AS parity FROM documents),
      |dim AS (SELECT *, CAST(8 + base % 9 AS INT) AS w,
      |    CAST(8 + (base * 3) % 9 AS INT) AS h FROM d),
      |gi AS (SELECT *, unnest(generate_series(0, 7)) AS i FROM dim),
      |gc AS (SELECT *, unnest(generate_series(0, 7)) AS j FROM gi),
      |s AS (SELECT asset_id, i, j,
      |    (CASE WHEN (i * w) // 8 = 0 AND (j * h) // 8 = 0
      |          THEN LEAST(255, (base % 256) + parity)
      |          ELSE (base + 3 * ((i * w) // 8) + 5 * ((j * h) // 8)) % 256 END)
      |    + (2 * base + ((i * w) // 8) + 7 * ((j * h) // 8)) % 256
      |    + (5 * base + 11 * ((i * w) // 8) + ((j * h) // 8)) % 256 AS lum
      |  FROM gc),
      |t AS (SELECT asset_id, sum(lum) AS total FROM s GROUP BY 1),
      |b AS (SELECT s.asset_id, j * 8 + i AS k,
      |    CASE WHEN lum * 64 > total THEN 1 ELSE 0 END AS bit
      |  FROM s JOIN t ON s.asset_id = t.asset_id),
      |hashes AS (SELECT asset_id, CAST(1 AS BIGINT) AS ok,
      |    CAST(sum(CASE WHEN bit = 1 AND k < 32
      |      THEN CAST(1 AS BIGINT) << k ELSE 0 END) AS BIGINT) AS ahash_hi,
      |    CAST(sum(CASE WHEN bit = 1 AND k >= 32
      |      THEN CAST(1 AS BIGINT) << (k - 32) ELSE 0 END) AS BIGINT) AS ahash_lo
      |  FROM b GROUP BY 1)""".stripMargin

  /** Perceptual average-hash over real decoded pixels
    * (Multimodal.imageAHash): the standard image near-dup fingerprint —
    * 8×8 nearest-neighbor thumbnail, integer luma, cross-multiplied
    * above-mean bits, two 32-bit halves. Fixture plants a
    * visually-identical pair per base id (one-unit single-pixel
    * perturbation); the oracle replays resize indices, luma, mean
    * comparison, and bit packing in closed form. */
  def q147ImageAhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageAHash(
      Multimodal.synthBmpPairAssets(t(s, dir, "documents"), "doc_id")).toDF()

  val q147Sql: String =
    s"""$q147AHashCte
       |SELECT asset_id, ok, ahash_hi, ahash_lo FROM hashes""".stripMargin

  /** Perceptual-duplicate clustering: group by the aHash halves — exact
    * dedup's one-hash-aggregate law applied to the perceptual
    * fingerprint, so visually-identical images cluster with NO pairwise
    * stage and no embedding model (the production image-dedup shape:
    * equality on the perceptual hash, pairwise hamming only within
    * candidate buckets if at all). Most planted pairs collapse (the
    * one-unit perturbation rarely crosses a bit's mean boundary);
    * whether a given pair does is the SAME deterministic integer
    * comparison in both engines. */
  def q148AhashClusters(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageAHash(
        Multimodal.synthBmpPairAssets(t(s, dir, "documents"), "doc_id")).toDF()
      .filter(col("ok") === 1)
      .groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(count(lit(1)).as("n_assets"), min(col("asset_id")).as("rep_asset_id"))
      .filter(col("n_assets") >= 2)

  val q148Sql: String =
    s"""$q147AHashCte
       |SELECT ahash_hi, ahash_lo, CAST(count(*) AS BIGINT) AS n_assets,
       |  min(asset_id) AS rep_asset_id
       |FROM hashes GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  /** Silence-trim planning (Multimodal.silenceTrimPlan): decode
    * silence-padded WAVs through the real parser, locate the voiced span
    * by exact per-window energy, emit the sample offsets a cut stage
    * keeps. The fixture pads with window-aligned silence (lead =
    * (id%4)·64, tail = (id%3)·64 zeros around a 256-sample body), so
    * every output column is closed-form — a parser or window-accounting
    * bug anywhere in the chain breaks the hash. */
  def q149SilenceTrim(s: SparkSession, dir: String): DataFrame =
    Multimodal.silenceTrimPlan(
      Multimodal.synthWavSilenceAssets(t(s, dir, "documents"), "doc_id"),
      winFrames = 64)

  val q149Sql: String =
    """WITH d AS (SELECT doc_id AS asset_id,
      |    (doc_id % 4) * 64 AS lead, (doc_id % 3) * 64 AS tail FROM documents)
      |SELECT asset_id,
      |  CAST((lead + 256 + tail) // 64 AS BIGINT) AS n_windows,
      |  CAST(lead + 256 + tail AS BIGINT) AS n_samples,
      |  CAST(lead // 64 AS BIGINT) AS first_voiced,
      |  CAST(lead // 64 + 3 AS BIGINT) AS last_voiced,
      |  CAST(lead AS BIGINT) AS trim_start_frame,
      |  CAST(lead + 256 AS BIGINT) AS trim_end_frame
      |FROM d""".stripMargin

  /** IVF-PQ ANN (Similarity.annIvfPq — the FAISS IndexIVFPQ composition):
    * coarse cells route vectors, PQ encodes the residual v − centroid,
    * queries probe 4 cells and score candidates by per-cell ADC
    * lookup-table sums over stored codes. Seed centroids (first 16 by
    * vec_id) and the md5-sampled residual codebook keep every argmin
    * oracle-replayable; real runs pass Lloyd-trained centroids. */
  def q150AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.annIvfPq(emb.filter(col("vec_id") < 16), emb, k = 5,
      nCells = 16, nProbe = 4, dims = 64, subspaces = 8, codebookSize = 16)
  }

  val q150Sql: String = {
    def d2(a: String, b: String) =
      s"round(${pqDotSql(a, a)} + ${pqDotSql(b, b)} - 2 * ${pqDotSql(a, b)}, 6)"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |cents AS (SELECT vec_id AS cell, v AS cvec
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
       |ca AS (SELECT vec_id AS neighbor_id, cell_id, res FROM (
       |  SELECT e.vec_id, cents.cell AS cell_id,
       |    list_transform(list_zip(e.v, cents.cvec), x -> x[1] - x[2]) AS res,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${d2("e.v", "cents.cvec")} ASC, cents.cell ASC) AS rnk
       |  FROM e CROSS JOIN cents) WHERE rnk = 1),
       |cb AS (SELECT row_number() OVER (ORDER BY hk, neighbor_id) - 1 AS code, res
       |  FROM (SELECT neighbor_id, res,
       |      md5('ivfpq:' || CAST(neighbor_id AS VARCHAR)) AS hk
       |    FROM ca ORDER BY hk, neighbor_id LIMIT 16)),
       |csub AS (SELECT code, t.r AS s, res[t.r*8+1 : t.r*8+8] AS cv
       |  FROM cb CROSS JOIN range(8) t(r)),
       |sub AS (SELECT neighbor_id, cell_id, t.r AS s, res[t.r*8+1 : t.r*8+8] AS sv
       |  FROM ca CROSS JOIN range(8) t(r)),
       |enc AS (SELECT neighbor_id, cell_id, s, code FROM (
       |  SELECT neighbor_id, cell_id, s, code,
       |    row_number() OVER (PARTITION BY neighbor_id, s
       |      ORDER BY ${d2("sv", "cv")} ASC, code ASC) AS rnk
       |  FROM sub JOIN csub USING (s)) WHERE rnk = 1),
       |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 16),
       |qp AS (SELECT query_id, cell_id, res FROM (
       |  SELECT q.query_id, cents.cell AS cell_id,
       |    list_transform(list_zip(q.v, cents.cvec), x -> x[1] - x[2]) AS res,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${d2("q.v", "cents.cvec")} ASC, cents.cell ASC) AS rnk
       |  FROM q CROSS JOIN cents) WHERE rnk <= 4),
       |qsub AS (SELECT query_id, cell_id, t.r AS s, res[t.r*8+1 : t.r*8+8] AS qv
       |  FROM qp CROSS JOIN range(8) t(r)),
       |lut AS (SELECT query_id, cell_id, s, code,
       |    CAST(${d2("qv", "cv")} AS DECIMAL(18,6)) AS dq
       |  FROM qsub JOIN csub USING (s)),
       |a AS (SELECT query_id, neighbor_id, sum(dq) AS ad
       |  FROM enc JOIN lut USING (cell_id, s, code)
       |  WHERE query_id <> neighbor_id GROUP BY 1, 2),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY ad ASC, neighbor_id ASC) AS rnk FROM a)
       |SELECT query_id, neighbor_id, CAST(ad AS DOUBLE) AS approx_dist,
       |  CAST(rnk AS BIGINT) AS rank
       |FROM rk WHERE rnk <= 5""".stripMargin
  }

  /** Zero-crossing rate + peak over REAL WAV decode
    * (Multimodal.wavZcrFeatures ∘ MediaCodecs.wavZeroCross): the
    * voiced/unvoiced + clipping screen, replayed by the oracle from
    * synthWavAssets' closed-form sample formula — the per-channel
    * crossing logic, the sign convention (0 counts as non-negative), and
    * every parsed byte are all pinned by the hash. */
  def q151WavZcr(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavZcrFeatures(
      Multimodal.synthWavAssets(t(s, dir, "documents"), "doc_id")).toDF()

  val q151Sql: String =
    """WITH p AS (SELECT doc_id AS asset_id,
      |    CAST(256 + (doc_id % 17) * 16 AS BIGINT) AS n FROM documents),
      |s AS (SELECT asset_id, n,
      |    unnest(generate_series(0, n - 1)) AS i FROM p),
      |a AS (SELECT asset_id, n,
      |    sum(CASE WHEN i >= 1 AND
      |        (((asset_id * 7 + (i - 1) * 13) % 201 - 100 < 0)
      |          <> ((asset_id * 7 + i * 13) % 201 - 100 < 0))
      |      THEN 1 ELSE 0 END) AS crossings,
      |    max(abs(((asset_id * 7 + i * 13) % 201 - 100) * 64)) AS peak
      |  FROM s GROUP BY 1, 2)
      |SELECT asset_id, CAST(1 AS BIGINT) AS ok, n AS n_samples,
      |  CAST(crossings AS BIGINT) AS crossings, CAST(peak AS BIGINT) AS peak,
      |  round(CAST(crossings AS DOUBLE) / (n - 1), 6) AS zcr
      |FROM a""".stripMargin

  /** Shannon character entropy (TextAnalysis.charEntropy): the
    * compressibility screen — base64/hex junk high, repeated-char
    * padding near 0 — with naiveBayesClassify's determinism contract
    * (round(ln c, 6) × exact count under DECIMAL, order-free). */
  def q152CharEntropy(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.charEntropy(t(s, dir, "documents"))

  val q152Sql: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |pos AS (SELECT doc_id, text, unnest(generate_series(1, len(text))) AS i
      |  FROM base WHERE len(text) >= 1),
      |cnt AS (SELECT doc_id, substr(text, i, 1) AS ch, count(*) AS c
      |  FROM pos GROUP BY 1, 2),
      |agg AS (SELECT doc_id, sum(c) AS n, count(*) AS nd,
      |    sum(CAST(c AS DECIMAL(12,0)) * CAST(round(ln(c), 6) AS DECIMAL(12,6)))
      |      AS plogp
      |  FROM cnt GROUP BY 1)
      |SELECT b.doc_id, CAST(coalesce(a.n, 0) AS BIGINT) AS n_chars,
      |  CAST(coalesce(a.nd, 0) AS BIGINT) AS n_distinct,
      |  CASE WHEN a.n IS NOT NULL THEN
      |    round(round(ln(a.n), 6) - CAST(a.plogp AS DOUBLE) / a.n, 6) END AS entropy
      |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Distinct-audience overlap across event types via HLL SET ALGEBRA
    * (Sketches.hllRegisters / hllUnionRegs / hllEstimateFromRegs):
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union is an
    * elementwise register max — the mergeable-sketch path that answers
    * every pairwise overlap from one tiny per-group sketch table, never
    * re-shuffling raw ids. `exact_overlap` is the ground-truth audit
    * column (the id self-join the sketch path exists to avoid at scale —
    * kept here exactly like q58 keeps exact_nd beside approx_nd). The
    * oracle replays the md5 registers, the union, and the estimator
    * CASE bit-for-bit (q58's CTE family). */
  def q153HllOverlap(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sketches
    val ev = t(s, dir, "events")
    // membership mirrors the oracle's register CTE: a type whose user_ids
    // are ALL NULL has no registers and no distinct users — it carries no
    // overlap information, so it gets no row (not a zero-sketch row)
    val regs = ev.filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(Sketches.hllRegisters(col("user_id")).as("regs"))
    val pairs = regs.select(col("event_type").as("type_a"), col("regs").as("ra"))
      .join(broadcast(regs.select(col("event_type").as("type_b"), col("regs").as("rb"))),
        col("type_a") < col("type_b"))
    val est = pairs.select(col("type_a"), col("type_b"),
        round(Sketches.hllEstimateFromRegs(col("ra")), 2).as("nd_a"),
        round(Sketches.hllEstimateFromRegs(col("rb")), 2).as("nd_b"),
        round(Sketches.hllEstimateFromRegs(
          Sketches.hllUnionRegs(col("ra"), col("rb"))), 2).as("nd_union"))
      .withColumn("nd_intersect_est",
        round(col("nd_a") + col("nd_b") - col("nd_union"), 2))
    val du = ev.filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id")).distinct()
    val exact = du.as("x")
      .join(du.as("y"), col("x.user_id") === col("y.user_id") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("exact_overlap"))
    est.join(exact, Seq("type_a", "type_b"), "left")
      .withColumn("exact_overlap", coalesce(col("exact_overlap"), lit(0L)))
  }

  val q153Sql: String = {
    def est(src: String, keys: String) =
      s"""SELECT $keys, round(CASE
         |    WHEN 0.7213 / (1.0 + 1.079 / 512.0) * 512 * 512 * 18446744073709551616.0
         |         / CAST(s AS DOUBLE) <= 1280.0 AND zeros > 0
         |    THEN 512 * ln(512.0 / zeros)
         |    ELSE 0.7213 / (1.0 + 1.079 / 512.0) * 512 * 512 * 18446744073709551616.0
         |         / CAST(s AS DOUBLE) END, 2) AS est
         |  FROM (SELECT $keys,
         |      SUM(CAST(power(2.0, 64 - rho) AS HUGEINT))
         |        + (512 - COUNT(*)) * CAST(18446744073709551616 AS HUGEINT) AS s,
         |      512 - COUNT(*) AS zeros
         |    FROM $src GROUP BY $keys)""".stripMargin
    s"""WITH h AS (SELECT event_type,
       |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
       |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
       |  FROM events WHERE user_id IS NOT NULL),
       |r AS (SELECT event_type, h1 // 8388608 AS idx,
       |    (h1 % 8388608) * 4294967296 + h2 AS w FROM h),
       |regs AS (SELECT event_type, idx,
       |    MAX(CASE WHEN w = 0 THEN 56 ELSE 56 - length(format('{:b}', w)) END) AS rho
       |  FROM r GROUP BY 1, 2),
       |types AS (SELECT DISTINCT event_type FROM h),
       |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b
       |  FROM types a JOIN types b ON a.event_type < b.event_type),
       |uregs AS (SELECT p.type_a, p.type_b, g.idx, MAX(g.rho) AS rho
       |  FROM pairs p JOIN regs g
       |    ON g.event_type = p.type_a OR g.event_type = p.type_b
       |  GROUP BY 1, 2, 3),
       |ea AS (${est("regs", "event_type")}),
       |eu AS (${est("uregs", "type_a, type_b")}),
       |du AS (SELECT DISTINCT event_type, user_id FROM events
       |  WHERE user_id IS NOT NULL),
       |ov AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
       |    count(*) AS cnt
       |  FROM du x JOIN du y ON x.user_id = y.user_id
       |    AND x.event_type < y.event_type
       |  GROUP BY 1, 2)
       |SELECT p.type_a, p.type_b, a.est AS nd_a, b.est AS nd_b,
       |  u.est AS nd_union, round(a.est + b.est - u.est, 2) AS nd_intersect_est,
       |  CAST(coalesce(ov.cnt, 0) AS BIGINT) AS exact_overlap
       |FROM pairs p
       |JOIN ea a ON a.event_type = p.type_a
       |JOIN ea b ON b.event_type = p.type_b
       |JOIN eu u ON u.type_a = p.type_a AND u.type_b = p.type_b
       |LEFT JOIN ov ON ov.type_a = p.type_a AND ov.type_b = p.type_b""".stripMargin
  }

  /** BPE merge training (TextAnalysis.bpeMerges, Sennrich et al. 2016):
    * four corpus-wide merge rounds over the distinct-word symbol table —
    * the real subword-tokenizer trainer, integer-exact end to end. The
    * oracle replays every round: pair counts, the (count desc, left,
    * right) argmax, and the windowed leftmost-nonoverlapping rewrite
    * (equal-symbol chains resolved by even run offset). */
  def q154BpeMerges(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeMerges(t(s, dir, "documents"), rounds = 4)

  /** The q154/q155 shared oracle prefix: the full `rounds`-round BPE
    * training CTE chain, ending with per-round winners b1..b{rounds} and
    * the rewritten symbol table s{rounds+1}. */
  private def bpeCteSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH w0 AS (SELECT unnest(string_split($normSql, ' ')) AS w FROM documents),
         |words AS (SELECT w, count(*) AS freq FROM w0 GROUP BY 1),
         |s1 AS (SELECT w, freq, i AS pos,
         |    CASE WHEN i <= len(w) THEN substr(w, i, 1) ELSE '</w>' END AS sym
         |  FROM (SELECT w, freq, unnest(generate_series(1, len(w) + 1)) AS i
         |        FROM words))""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(
        s""",
           |p$r AS (SELECT w, freq, pos, sym,
           |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM s$r),
           |b$r AS (SELECT sym AS l, nxt AS r2, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM p$r WHERE nxt IS NOT NULL
           |  GROUP BY 1, 2 ORDER BY cnt DESC, l, r2 LIMIT 1),
           |mk$r AS (SELECT *, rnAll - min(rnAll) OVER (PARTITION BY w, sym, island)
           |      AS runpos
           |  FROM (SELECT p.*, b.l, b.r2,
           |      row_number() OVER (PARTITION BY w ORDER BY pos) AS rnAll,
           |      row_number() OVER (PARTITION BY w ORDER BY pos)
           |        - row_number() OVER (PARTITION BY w, sym ORDER BY pos) AS island
           |    FROM p$r p CROSS JOIN b$r b)),
           |cs$r AS (SELECT *, coalesce(lag(strt) OVER (PARTITION BY w ORDER BY pos),
           |      false) AS consumed
           |  FROM (SELECT *, (sym = l AND nxt = r2
           |      AND (l <> r2 OR runpos % 2 = 0)) AS strt FROM mk$r)),
           |s${r + 1} AS (SELECT w, freq,
           |    row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
           |    CASE WHEN strt THEN sym || nxt ELSE sym END AS sym
           |  FROM cs$r WHERE NOT consumed)""".stripMargin)
    }
    sb.toString
  }

  val q154Sql: String = {
    val rounds = 4
    bpeCteSql(rounds) + "\nSELECT * FROM (\n" +
      (1 to rounds).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS round, l AS "left", r2 AS "right",
           |  cnt AS pair_count FROM b$r""".stripMargin
      }.mkString("\nUNION ALL\n") + ")"
  }

  /** BPE segmentation stats (TextAnalysis.bpeSegment): apply q154's
    * trained merges and report per-doc word/subword counts and the
    * chars-per-subword compression the tokenizer sizing tracks. */
  def q155BpeSegment(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeSegment(t(s, dir, "documents"), rounds = 4)

  val q155Sql: String =
    bpeCteSql(4) +
      s""",
         |ws AS (SELECT w, CAST(count(*) AS BIGINT) AS nsym,
         |    CAST(len(w) AS BIGINT) AS wlen FROM s5 GROUP BY w),
         |toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS w
         |  FROM documents),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nw,
         |    CAST(sum(nsym) AS BIGINT) AS ns, CAST(sum(wlen) AS BIGINT) AS nc
         |  FROM toks JOIN ws USING (w) GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.nw, CAST(0 AS BIGINT)) AS n_words,
         |  coalesce(a.ns, CAST(0 AS BIGINT)) AS n_subwords,
         |  CASE WHEN a.ns > 0 THEN round(CAST(a.nc AS DOUBLE) / a.ns, 6) END
         |    AS chars_per_subword
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Perceptual difference-hash (Multimodal.imageDHash): 9×8 thumbnail,
    * bit = horizontal luma gradient — the brightness-shift-stable
    * fingerprint production image dedup prefers, beside q147's aHash.
    * The oracle replays resize indices (÷9 horizontal, ÷8 vertical),
    * luma, the lead() comparison, and the bit packing. */
  def q156ImageDhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageDHash(
      Multimodal.synthBmpPairAssets(t(s, dir, "documents"), "doc_id")).toDF()

  val q156Sql: String =
    """WITH d AS (SELECT doc_id AS asset_id, doc_id // 2 AS base,
      |    doc_id % 2 AS parity FROM documents),
      |dim AS (SELECT *, CAST(8 + base % 9 AS INT) AS w,
      |    CAST(8 + (base * 3) % 9 AS INT) AS h FROM d),
      |gi AS (SELECT *, unnest(generate_series(0, 8)) AS i FROM dim),
      |gc AS (SELECT *, unnest(generate_series(0, 7)) AS j FROM gi),
      |s AS (SELECT asset_id, i, j,
      |    (CASE WHEN (i * w) // 9 = 0 AND (j * h) // 8 = 0
      |          THEN LEAST(255, (base % 256) + parity)
      |          ELSE (base + 3 * ((i * w) // 9) + 5 * ((j * h) // 8)) % 256 END)
      |    + (2 * base + ((i * w) // 9) + 7 * ((j * h) // 8)) % 256
      |    + (5 * base + 11 * ((i * w) // 9) + ((j * h) // 8)) % 256 AS lum
      |  FROM gc),
      |nb AS (SELECT asset_id, i, j, lum,
      |    lead(lum) OVER (PARTITION BY asset_id, j ORDER BY i) AS rlum FROM s),
      |b AS (SELECT asset_id, j * 8 + i AS k,
      |    CASE WHEN lum > rlum THEN 1 ELSE 0 END AS bit
      |  FROM nb WHERE i < 8),
      |hashes AS (SELECT asset_id, CAST(1 AS BIGINT) AS ok,
      |    CAST(sum(CASE WHEN bit = 1 AND k < 32
      |      THEN CAST(1 AS BIGINT) << k ELSE 0 END) AS BIGINT) AS dhash_hi,
      |    CAST(sum(CASE WHEN bit = 1 AND k >= 32
      |      THEN CAST(1 AS BIGINT) << (k - 32) ELSE 0 END) AS BIGINT) AS dhash_lo
      |  FROM b GROUP BY 1)
      |SELECT asset_id, ok, dhash_hi, dhash_lo FROM hashes""".stripMargin

  /** Zipf rank-frequency slope (TextAnalysis.zipfSlope): OLS on
    * (ln rank, ln count) over each source's top-512 types — natural text
    * ≈ −1, boilerplate flattens toward 0. Exact decimal OLS sums, one
    * rounded double readout. */
  def q157ZipfSlope(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfSlope(t(s, dir, "documents"))

  val q157Sql: String =
    s"""WITH tf AS (SELECT source AS g, tok, count(*) AS cnt
       |  FROM (SELECT source, unnest(string_split($normSql, ' ')) AS tok
       |        FROM documents)
       |  GROUP BY 1, 2),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY g
       |    ORDER BY cnt DESC, tok) AS rnk FROM tf),
       |f AS (SELECT g, CAST(round(ln(rnk), 6) AS DECIMAL(12,6)) AS x,
       |    CAST(round(ln(cnt), 6) AS DECIMAL(12,6)) AS y, cnt
       |  FROM rk WHERE rnk <= 512),
       |agg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(x AS DECIMAL(24,6))) AS sx,
       |    sum(CAST(y AS DECIMAL(24,6))) AS sy,
       |    sum(CAST(x * y AS DECIMAL(30,12))) AS sxy,
       |    sum(CAST(x * x AS DECIMAL(30,12))) AS sxx,
       |    CAST(max(cnt) AS BIGINT) AS top_count
       |  FROM f GROUP BY 1)
       |SELECT g AS source, n AS n_types_fit, top_count,
       |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0 THEN
       |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0 END AS zipf_slope
       |FROM agg""".stripMargin

  /** ADDITIVE schema evolution end-to-end (plans/SchemaEvolution): a
    * narrow table takes an evolved batch (new column on a key subset),
    * then a narrow batch again (updates that must RETAIN the evolved
    * column) — the read reflects NULL back-fill on never-evolved rows,
    * batch values on evolved ones, and retention through the later
    * narrow update. The oracle derives the same final state from the raw
    * orders table, so any wrong back-fill/retention breaks the hash. */
  def q158StoreEvolution(s: SparkSession, dir: String): DataFrame =
    withTempStore("graft-q158") { root =>
      val base = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderstatus"))
      val store = new graft.plans.BucketedMergeWriter(s, root, nBuckets = 8)
      store.mergeFact("orders_evo", base, Seq("o_orderkey"))
      store.mergeFact("orders_evo",
        base.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_note", concat(col("o_orderstatus"), lit("!"))),
        Seq("o_orderkey"))
      store.mergeFact("orders_evo",
        base.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderstatus", lit("X")),
        Seq("o_orderkey"))
      store.read("orders_evo")
    }

  val q158Sql: String =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
      |  CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END
      |    AS o_orderstatus,
      |  CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus || '!' END AS o_note
      |FROM orders""".stripMargin

  /** Directed per-source unigram KL divergence
    * (TextAnalysis.sourceKlDivergence): the distribution-drift metric
    * beside q92's lexical overlap and q107's embedding similarity —
    * add-one smoothed over the global vocabulary, exact-decimal sums of
    * once-rounded ln factors, one rounded readout per ordered pair. */
  def q159SourceKl(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.sourceKlDivergence(t(s, dir, "documents"))

  val q159Sql: String =
    s"""WITH tf AS (SELECT source AS g, tok, count(*) AS c
       |  FROM (SELECT source, unnest(string_split($normSql, ' ')) AS tok
       |        FROM documents) GROUP BY 1, 2),
       |tot AS (SELECT g, sum(c) AS n FROM tf GROUP BY 1),
       |voc AS (SELECT count(DISTINCT tok) AS v FROM tf),
       |srcs AS (SELECT g, n + v AS n1 FROM tot CROSS JOIN voc),
       |pairs AS (SELECT a.g AS a, a.n1 AS na1, b.g AS b, b.n1 AS nb1
       |  FROM srcs a JOIN srcs b ON a.g <> b.g),
       |ta AS (SELECT g AS a, tok, c AS ca FROM tf),
       |tb AS (SELECT g AS b, tok, c AS cb FROM tf),
       |present AS (SELECT p.a, p.b, p.na1, p.nb1, ta.tok, ta.ca,
       |    coalesce(tb.cb, 0) AS cb
       |  FROM pairs p JOIN ta ON ta.a = p.a
       |  LEFT JOIN tb ON tb.b = p.b AND tb.tok = ta.tok),
       |bonly AS (SELECT p.a, p.b, p.na1, p.nb1, tb.tok, 0 AS ca, tb.cb
       |  FROM pairs p JOIN tb ON tb.b = p.b
       |  WHERE NOT EXISTS (SELECT 1 FROM ta
       |    WHERE ta.a = p.a AND ta.tok = tb.tok)),
       |terms AS (SELECT * FROM present UNION ALL SELECT * FROM bonly),
       |sums AS (SELECT a, b, na1, nb1,
       |    sum(CAST(CAST(ca + 1 AS DECIMAL(20,0)) *
       |      (CAST(round(ln(ca + 1), 6) AS DECIMAL(12,6)) -
       |       CAST(round(ln(cb + 1), 6) AS DECIMAL(12,6))) AS DECIMAL(30,6)))
       |      AS s
       |  FROM terms GROUP BY 1, 2, 3, 4)
       |SELECT a AS source_a, b AS source_b,
       |  round((CAST(s AS DOUBLE) + CAST(na1 AS DOUBLE) *
       |    (CAST(CAST(round(ln(nb1), 6) AS DECIMAL(12,6)) AS DOUBLE) -
       |     CAST(CAST(round(ln(na1), 6) AS DECIMAL(12,6)) AS DOUBLE)))
       |    / na1, 6) + 0 AS kl_div
       |FROM sums""".stripMargin

  /** Population Stability Index drift grid (Stats.psi): the numeric-
    * column drift metric beside q159's token KL — events.value binned on
    * the shared global 16-bin equal-width grid, pairwise per event_type.
    * Bin assignment is pure IEEE arithmetic (engine-exact); terms are
    * once-rounded and DECIMAL-summed, so the fold is order-free. */
  def q160PsiDrift(s: SparkSession, dir: String): DataFrame =
    operators.Stats.psi(t(s, dir, "events"), "event_type", "value", bins = 16)

  val q160Sql: String =
    """WITH base AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
      |  FROM events WHERE value IS NOT NULL),
      |span AS (SELECT min(x) AS mn, max(x) AS mx FROM base),
      |binned AS (SELECT g,
      |    CASE WHEN mx > mn THEN least(15, CAST(floor((x - mn) * 16.0 / (mx - mn)) AS BIGINT))
      |         ELSE 0 END AS bin
      |  FROM base CROSS JOIN span),
      |cnt AS (SELECT g, bin, count(*) AS c FROM binned GROUP BY 1, 2),
      |tot AS (SELECT g, sum(c) AS n FROM cnt GROUP BY 1),
      |grid AS (SELECT a.g AS a, a.n AS na, b.g AS b, b.n AS nb, r.range AS bin
      |  FROM tot a JOIN tot b ON a.g IS DISTINCT FROM b.g CROSS JOIN range(16) r),
      |sm AS (SELECT a, b, grid.bin AS bin,
      |    coalesce(ca.c, 0) + 1 AS ca1, na + 16 AS na1,
      |    coalesce(cb.c, 0) + 1 AS cb1, nb + 16 AS nb1
      |  FROM grid
      |  LEFT JOIN cnt ca ON ca.g IS NOT DISTINCT FROM grid.a AND ca.bin = grid.bin
      |  LEFT JOIN cnt cb ON cb.g IS NOT DISTINCT FROM grid.b AND cb.bin = grid.bin),
      |terms AS (SELECT a, b,
      |    CAST(round((CAST(ca1 AS DOUBLE) / na1 - CAST(cb1 AS DOUBLE) / nb1) *
      |      CAST(CAST(round(ln(ca1), 6) AS DECIMAL(12,6)) -
      |           CAST(round(ln(na1), 6) AS DECIMAL(12,6)) -
      |           CAST(round(ln(cb1), 6) AS DECIMAL(12,6)) +
      |           CAST(round(ln(nb1), 6) AS DECIMAL(12,6)) AS DOUBLE),
      |      12) AS DECIMAL(24,12)) AS t
      |  FROM sm)
      |SELECT a AS event_type_a, b AS event_type_b,
      |  round(CAST(sum(t) AS DOUBLE), 6) + 0 AS psi
      |FROM terms GROUP BY 1, 2""".stripMargin

  /** Declarative expectation-suite audit (Expectations.audit): the
    * Deequ/Great-Expectations contract gate — five row-level rules in
    * ONE aggregate pass plus a natural-key uniqueness constraint, one
    * verdict row per rule. The fixture suite mixes passing rules with
    * two that genuinely fail on this data (tax ceiling, the colliding
    * (orderkey, linenumber) pair), so both verdict polarities are
    * exercised. */
  def q161QualityAudit(s: SparkSession, dir: String): DataFrame = {
    import operators.Expectations.{audit, Rule}
    audit(t(s, dir, "lineitem"), Seq(
      Rule("quantity_range", col("l_quantity").between(1, 50)),
      Rule("discount_range", col("l_discount").between(0, 0.1)),
      Rule("shipdate_present", col("l_shipdate").isNotNull),
      Rule("returnflag_domain", col("l_returnflag").isin("R", "A", "N")),
      Rule("tax_ceiling", col("l_tax") <= 0.05)),
      uniqueKeys = Seq("lineitem_pk" -> Seq("l_orderkey", "l_linenumber")))
  }

  val q161Sql: String =
    """WITH agg AS (SELECT count(*) AS n,
      |    sum(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50, false) THEN 1 ELSE 0 END) AS v0,
      |    sum(CASE WHEN NOT coalesce(l_discount BETWEEN 0 AND 0.1, false) THEN 1 ELSE 0 END) AS v1,
      |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS v2,
      |    sum(CASE WHEN NOT coalesce(l_returnflag IN ('R','A','N'), false) THEN 1 ELSE 0 END) AS v3,
      |    sum(CASE WHEN NOT coalesce(l_tax <= 0.05, false) THEN 1 ELSE 0 END) AS v4,
      |    sum(CASE WHEN l_orderkey IS NULL OR l_linenumber IS NULL THEN 1 ELSE 0 END) AS vnull
      |  FROM lineitem),
      |dups AS (SELECT coalesce(sum(c), 0) AS v FROM (
      |    SELECT count(*) AS c FROM lineitem
      |    WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
      |    GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)),
      |rows_out AS (
      |  SELECT 'quantity_range' AS rule, n AS n_rows, v0 AS n_violations FROM agg
      |  UNION ALL SELECT 'discount_range', n, v1 FROM agg
      |  UNION ALL SELECT 'shipdate_present', n, v2 FROM agg
      |  UNION ALL SELECT 'returnflag_domain', n, v3 FROM agg
      |  UNION ALL SELECT 'tax_ceiling', n, v4 FROM agg
      |  UNION ALL SELECT 'lineitem_pk_key_complete', n, vnull FROM agg
      |  UNION ALL SELECT 'lineitem_pk', n, (SELECT v FROM dups) FROM agg)
      |SELECT rule, CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(n_violations AS BIGINT) AS n_violations,
      |  n_violations = 0 AS pass
      |FROM rows_out""".stripMargin

  /** N-gram novelty rate (Dedup.ngramNovelty): the memorization /
    * diversity readout — held-out docs (doc_id % 10 == 0) probed against
    * the rest of the corpus at trigram granularity; novelty = share of a
    * doc's distinct 3-grams absent from the reference side. */
  def q162NgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.ngramNovelty(
      docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), 3)
  }

  val q162Sql: String =
    s"""${shingleCte(3)},
       |probe AS (SELECT doc_id, shingle FROM s WHERE doc_id % 10 = 0),
       |ref AS (SELECT DISTINCT shingle FROM s WHERE doc_id % 10 <> 0),
       |tot AS (SELECT doc_id, count(*) AS n_ngrams FROM probe GROUP BY 1),
       |seen AS (SELECT doc_id, count(*) AS n_seen FROM probe
       |         JOIN ref USING (shingle) GROUP BY 1)
       |SELECT doc_id, n_ngrams, coalesce(n_seen, 0) AS n_seen,
       |  round(1.0 - CAST(coalesce(n_seen, 0) AS DOUBLE) / n_ngrams, 6)
       |    AS novelty_rate
       |FROM tot LEFT JOIN seen USING (doc_id)""".stripMargin

  /** Embedding covariance triangle (Stats.embeddingCovariance): the PCA/
    * whitening base object — pair products generated map-side by array
    * algebra (no self-join), once-rounded and DECIMAL-summed so the
    * d(d+1)/2 covariance entries replay bit-for-bit. The triangle is
    * filtered to i ≤ 8 to keep the oracle result compact (the operator
    * computes all 2080 entries; the filter is on the OUTPUT). */
  def q163EmbeddingCov(s: SparkSession, dir: String): DataFrame =
    operators.Stats.embeddingCovariance(t(s, dir, "embeddings"), 64)
      .filter(col("i") <= 8)

  val q163Sql: String =
    """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |    CAST(round(unnest(CAST(embedding AS DOUBLE[])) * 1000000, 0) AS BIGINT) AS x
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |p AS (SELECT a.i AS i, b.i AS j, a.x * b.x AS xy
      |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i),
      |sxy AS (SELECT i, j, sum(CAST(xy AS DECIMAL(38,0))) AS s,
      |    count(*) AS n FROM p GROUP BY 1, 2),
      |m AS (SELECT i, sum(CAST(x AS DECIMAL(38,0))) AS sx FROM e GROUP BY 1)
      |SELECT CAST(sxy.i AS BIGINT) AS i, CAST(sxy.j AS BIGINT) AS j,
      |  CAST(n AS BIGINT) AS n,
      |  round(CAST(s AS DOUBLE) / 1e12 / n -
      |    (CAST(ma.sx AS DOUBLE) / 1e6 / n) * (CAST(mb.sx AS DOUBLE) / 1e6 / n),
      |    6) + 0 AS cov
      |FROM sxy JOIN m ma ON ma.i = sxy.i JOIN m mb ON mb.i = sxy.j
      |WHERE sxy.i <= 8""".stripMargin

  /** Exact DFT bin power over REAL WAV decode
    * (Multimodal.wavSpectralFeatures): frequency-domain audio features
    * through the actual byte parser — synthesize closed-form PCM,
    * encode real RIFF bytes, re-parse them, and accumulate integer-
    * exact re/im sums at bins {0, 3, 7} with once-rounded micro-unit
    * trig weights; the oracle replays every sample and weight from the
    * same formulas. */
  def q164WavSpectral(s: SparkSession, dir: String): DataFrame =
    Multimodal.wavSpectralFeatures(
      Multimodal.synthWavAssets(t(s, dir, "documents"), "doc_id"),
      bins = Seq(0, 3, 7)).toDF()

  val q164Sql: String =
    """WITH p AS (SELECT doc_id AS asset_id,
      |    CAST(256 + (doc_id % 17) * 16 AS BIGINT) AS n FROM documents),
      |bins AS (SELECT unnest([0, 3, 7]) AS k),
      |s AS (SELECT asset_id, n, k,
      |    unnest(generate_series(0, n - 1)) AS i FROM p CROSS JOIN bins),
      |t AS (SELECT asset_id, n, k, i,
      |    ((asset_id * 7 + i * 13) % 201 - 100) * 64 AS smp,
      |    CAST(round(cos(-2 * pi() * k * i / n) * 1000000, 0) AS BIGINT) AS wc,
      |    CAST(round(sin(-2 * pi() * k * i / n) * 1000000, 0) AS BIGINT) AS ws
      |  FROM s),
      |a AS (SELECT asset_id, n, k, sum(smp * wc) AS re6, sum(smp * ws) AS im6
      |  FROM t GROUP BY 1, 2, 3)
      |SELECT asset_id, CAST(1 AS BIGINT) AS ok, n AS n_samples,
      |  CAST(k AS BIGINT) AS bin,
      |  CAST(re6 AS DOUBLE) / 1000000 AS re,
      |  CAST(im6 AS DOUBLE) / 1000000 AS im,
      |  round(sqrt((CAST(re6 AS DOUBLE) / 1000000) * (CAST(re6 AS DOUBLE) / 1000000)
      |           + (CAST(im6 AS DOUBLE) / 1000000) * (CAST(im6 AS DOUBLE) / 1000000))
      |        / n, 6) AS magnitude
      |FROM a""".stripMargin

  /** Greedy k-center coreset (Similarity.kCenters): Gonzalez farthest-
    * point traversal over the embedding corpus, k = 4 — the diversity-
    * maximizing selection whose d2 column is the coverage-radius curve.
    * The oracle unrolls all four rounds (seed by max norm, then argmax
    * of the running least-rounded-distance, ids excluded as chosen). */
  def q165KCenters(s: SparkSession, dir: String): DataFrame =
    Similarity.kCenters(t(s, dir, "embeddings"), 4)

  val q165Sql: String = {
    def d2(v: String, c: String): String =
      s"round(list_sum(list_transform(list_zip($v, $c), x -> (x[1]-x[2])*(x[1]-x[2]))), 6)"
    val sb = new StringBuilder
    sb ++= """WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id,
             |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings
             |  WHERE embedding IS NOT NULL),
             |c1 AS (SELECT id, v FROM e
             |  ORDER BY round(list_sum(list_transform(v, x -> x * x)), 6) DESC,
             |    id ASC LIMIT 1),
             |m1 AS (SELECT e.id, e.v, """.stripMargin
    sb ++= d2("e.v", "c1.v")
    sb ++= " AS d FROM e CROSS JOIN c1 WHERE e.id <> c1.id)"
    for (r <- 2 to 4) {
      sb ++= s",\nc$r AS (SELECT id, v, d FROM m${r - 1} ORDER BY d DESC, id ASC LIMIT 1)"
      if (r < 4) {
        sb ++= s",\nm$r AS (SELECT m${r - 1}.id, m${r - 1}.v, least(m${r - 1}.d, "
        sb ++= d2(s"m${r - 1}.v", s"c$r.v")
        sb ++= s") AS d FROM m${r - 1} CROSS JOIN c$r WHERE m${r - 1}.id <> c$r.id)"
      }
    }
    sb ++= "\nSELECT CAST(1 AS BIGINT) AS center_rank, id AS vec_id, CAST(NULL AS DOUBLE) AS d2 FROM c1"
    for (r <- 2 to 4)
      sb ++= s"\nUNION ALL SELECT $r, id, d FROM c$r"
    sb.toString
  }

  /** Additive seasonal decomposition (TimeSeries.seasonalDecompose):
    * per-event-type daily value totals split into centered-7-row trend,
    * day-of-week seasonal, and residual — weekday derived as epoch-days
    * mod 7 so no engine DOW convention leaks in. */
  def q166SeasonalDecompose(s: SparkSession, dir: String): DataFrame =
    operators.TimeSeries.seasonalDecompose(
      t(s, dir, "events"), "event_type", "ts", "value")

  val q166Sql: String =
    """WITH daily AS (SELECT event_type AS s, CAST(ts AS DATE) AS day,
      |    sum(CAST(value AS DECIMAL(18,2))) AS tot
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      |w AS (SELECT s, day, tot,
      |    count(*) OVER win AS c7, sum(tot) OVER win AS s7
      |  FROM daily
      |  WINDOW win AS (PARTITION BY s ORDER BY day
      |                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |t AS (SELECT s, day, tot,
      |    CASE WHEN c7 = 7 THEN round(CAST(s7 AS DOUBLE) / 7, 6) + 0 END AS trend,
      |    ((datediff('day', DATE '1970-01-01', day) % 7) + 7) % 7 AS dow
      |  FROM w),
      |d AS (SELECT *, round(CAST(tot AS DOUBLE) - trend, 6) + 0 AS detr FROM t),
      |se AS (SELECT s, dow,
      |    round(CAST(sum(CAST(detr AS DECIMAL(18,6))) AS DOUBLE) / count(detr), 6) + 0
      |      AS seasonal
      |  FROM d WHERE detr IS NOT NULL GROUP BY 1, 2)
      |SELECT d.s AS event_type, d.day, CAST(d.dow AS BIGINT) AS dow,
      |  CAST(d.tot AS DOUBLE) AS total, d.trend, se.seasonal,
      |  round(d.detr - se.seasonal, 6) + 0 AS residual
      |FROM d LEFT JOIN se ON se.s IS NOT DISTINCT FROM d.s AND se.dow = d.dow""".stripMargin

  /** kNN label-agreement audit (Similarity.knnLabelAgreement): the
    * Cleanlab-style label-noise detector on the IVF candidate path —
    * per labeled vector, the share of its top-5 ANN neighbors sharing
    * its label, with an integer-crossmultiplied `suspect` minority
    * verdict. Same 32-cell/4-probe geometry as q142 so the oracle
    * replays the identical candidate sets. */
  def q167KnnLabelAgreement(s: SparkSession, dir: String): DataFrame =
    Similarity.knnLabelAgreement(t(s, dir, "embeddings"),
      k = 5, nCells = 32, nProbe = 4)

  val q167Sql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
       |cents AS (SELECT vec_id AS cell, v AS cvec FROM e ORDER BY vec_id LIMIT 32),
       |ca AS (SELECT neighbor_id, cv, neighbor_label, cell_id FROM (
       |  SELECT e.vec_id AS neighbor_id, e.v AS cv, e.label AS neighbor_label,
       |    cents.cell AS cell_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "cents.cvec")} DESC, cents.cell ASC) AS rnk
       |  FROM e CROSS JOIN cents) WHERE rnk <= 1),
       |qp AS (SELECT query_id, qv, query_label, cell_id FROM (
       |  SELECT e.vec_id AS query_id, e.v AS qv, e.label AS query_label,
       |    cents.cell AS cell_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "cents.cvec")} DESC, cents.cell ASC) AS rnk
       |  FROM e CROSS JOIN cents WHERE e.label IS NOT NULL) WHERE rnk <= 4),
       |scored AS (SELECT query_id, query_label, neighbor_id, neighbor_label,
       |    max(${cosSql("qv", "cv")}) AS cos
       |  FROM qp JOIN ca USING (cell_id)
       |  WHERE query_id <> neighbor_id
       |  GROUP BY 1, 2, 3, 4),
       |top AS (SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id ASC) AS rank FROM scored)
       |  WHERE rank <= 5)
       |SELECT query_id AS vec_id, CAST(query_label AS BIGINT) AS label,
       |  count(*) AS n_neighbors,
       |  CAST(sum(CASE WHEN query_label IS NOT DISTINCT FROM neighbor_label
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
       |  round(CAST(sum(CASE WHEN query_label IS NOT DISTINCT FROM neighbor_label
       |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS agreement,
       |  sum(CASE WHEN query_label IS NOT DISTINCT FROM neighbor_label
       |    THEN 1 ELSE 0 END) * 2 < count(*) AS suspect
       |FROM top GROUP BY 1, 2""".stripMargin

  /** Nearest-direction as-of join (Joins.asOf direction="nearest" —
    * pandas merge_asof parity): each error event matched to the CLOSER
    * purchase in time (ties → backward), per user; matched_dir reports
    * which side won. One key shuffle, two window sorts — never a
    * per-row probe. */
  def q168AsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("p_event_id"))
    Joins.asOf(errors, purch, Seq("user_id"), "ts", "ts", "p_",
        direction = "nearest")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("p_p_event_id").as("near_purchase_id"),
        col("p_ts").as("near_purchase_ts"),
        when(col("p_ts").isNull, lit(null).cast("string"))
          .when(operators.Times.epochMicros(col("p_ts")) <=
            operators.Times.epochMicros(col("ts")), lit("backward"))
          .otherwise(lit("forward")).as("matched_dir"))
  }

  val q168Sql: String =
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    event_type FROM events),
      |err AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'error'),
      |p AS (SELECT user_id, ts, max(event_id) AS p_event_id
      |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2),
      |b AS (SELECT err.event_id, p.p_event_id AS b_id, p.ts AS b_ts
      |      FROM err ASOF LEFT JOIN p
      |        ON err.user_id = p.user_id AND p.ts <= err.ts),
      |f AS (SELECT err.event_id, p.p_event_id AS f_id, p.ts AS f_ts
      |      FROM err ASOF LEFT JOIN p
      |        ON err.user_id = p.user_id AND p.ts >= err.ts),
      |pick AS (SELECT err.event_id, err.user_id, err.ts,
      |    CASE WHEN b_id IS NULL THEN f_id
      |         WHEN f_id IS NULL THEN b_id
      |         WHEN epoch_us(f_ts) - epoch_us(err.ts)
      |              < epoch_us(err.ts) - epoch_us(b_ts) THEN f_id
      |         ELSE b_id END AS near_purchase_id,
      |    CASE WHEN b_id IS NULL THEN f_ts
      |         WHEN f_id IS NULL THEN b_ts
      |         WHEN epoch_us(f_ts) - epoch_us(err.ts)
      |              < epoch_us(err.ts) - epoch_us(b_ts) THEN f_ts
      |         ELSE b_ts END AS near_purchase_ts
      |  FROM err JOIN b USING (event_id) JOIN f USING (event_id))
      |SELECT event_id, user_id, ts, near_purchase_id, near_purchase_ts,
      |  CASE WHEN near_purchase_ts IS NULL THEN NULL
      |       WHEN epoch_us(near_purchase_ts) <= epoch_us(ts) THEN 'backward'
      |       ELSE 'forward' END AS matched_dir
      |FROM pick""".stripMargin

  /** Blocked Jaro-Winkler record linkage (Joins.blockedJaroWinklerJoin +
    * the native jaro_winkler_similarity expression, semantics verified
    * decision-for-decision against DuckDB's): part names on a fixed-key
    * calibration subset, prefix-blocked, kept at similarity ≥ 0.8. */
  def q169JaroWinklerLink(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_partkey") < 400)
    Joins.blockedJaroWinklerJoin(
        p.select(col("p_partkey").as("id_a"), col("p_name").as("name_a")),
        p.select(col("p_partkey").as("id_b"), col("p_name").as("name_b")),
        "name_a", "name_b", minSim = 0.8, blockLen = 6)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
        col("similarity"))
  }

  val q169Sql: String =
    """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey < 400)
      |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
      |  a.p_name AS name_a, b.p_name AS name_b,
      |  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS similarity
      |FROM p a JOIN p b
      |  ON substring(a.p_name, 1, 6) = substring(b.p_name, 1, 6)
      | AND a.p_partkey < b.p_partkey
      |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.8""".stripMargin

  /** Daily-value autocorrelation at lags 1..7
    * (TimeSeries.autocorrelation): the period detector feeding q166's
    * decomposition — calendar-paired, exact-cents Pearson via the q97
    * integer law. */
  def q170Autocorrelation(s: SparkSession, dir: String): DataFrame =
    operators.TimeSeries.autocorrelation(
      t(s, dir, "events"), "event_type", "ts", "value", maxLag = 7)

  val q170Sql: String =
    """WITH daily AS (SELECT event_type AS s, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS c
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      |lags AS (SELECT unnest(range(1, 8)) AS lag),
      |pairs AS (SELECT d1.s, lags.lag, d1.c AS x, d2.c AS y
      |  FROM daily d1 CROSS JOIN lags
      |  JOIN daily d2 ON d2.s IS NOT DISTINCT FROM d1.s AND d2.day = d1.day + CAST(lags.lag AS INT)),
      |a AS (SELECT s, lag, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM pairs GROUP BY 1, 2),
      |h AS (SELECT s, lag, n,
      |    CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
      |    CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS denx,
      |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny
      |  FROM a)
      |SELECT s AS event_type, CAST(lag AS BIGINT) AS lag, n,
      |  CASE WHEN denx > 0 AND deny > 0 THEN
      |    round(CAST(num AS DOUBLE) / (sqrt(CAST(denx AS DOUBLE)) * sqrt(CAST(deny AS DOUBLE))), 6) + 0
      |  END AS acf
      |FROM h""".stripMargin

  /** Per-node triangle counts over the LSH duplicate-pair graph
    * (Dedup.triangleCounts): the density diagnostic separating clique-
    * like duplicate mass from chain-like borderline glue — same edge
    * set as q75's components, oracle reuses q24's pair pipeline. */
  def q171TriangleCounts(s: SparkSession, dir: String): DataFrame =
    Dedup.triangleCounts(
      Dedup.minhashLsh(t(s, dir, "documents"), n = 5, k = 12, bands = 4,
        threshold = 0.5, maxBucket = 100))

  /** q24's pair pipeline verbatim with the wedge + closing-edge joins
    * appended (the q75 reuse pattern). */
  val q171Sql: String = {
    val pairSelect = "SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5"
    assert(q24Sql.endsWith(pairSelect), "q171Sql tracks q24Sql's pair tail")
    q24Sql.dropRight(pairSelect.length).stripTrailing() + ",\n" +
      """p AS (SELECT doc_a AS a, doc_b AS b FROM j WHERE jaccard >= 0.5),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM p e1 JOIN p e2 ON e2.a = e1.b
        |  JOIN p e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nodes AS (SELECT x AS doc_id FROM tri
        |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT doc_id, count(*) AS n_triangles FROM nodes GROUP BY 1""".stripMargin
  }

  /** Group-aware k-fold assignment (Sampling.groupKFold): leakage-safe
    * CV folds hashed from the GROUP key — every row of a source lands in
    * one fold; the aggregate shape proves both the assignment and the
    * no-straddle property (one row per source). */
  def q172GroupKfold(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.groupKFold(t(s, dir, "documents"), "source", 5)
      .groupBy(col("source"), col("fold"))
      .agg(count(lit(1)).as("n_docs"))

  val q172Sql: String =
    """SELECT source,
      |  CAST(('0x' || substring(md5(CAST(source AS VARCHAR)), 1, 12)) AS BIGINT)
      |    % 1000000 % 5 AS fold,
      |  count(*) AS n_docs
      |FROM documents GROUP BY 1, 2""".stripMargin

  /** Per-source vocabulary statistics (TextAnalysis.vocabStats): the
    * Heaps'-law health readout — hapax rate collapsing flags template
    * mass where q157's Zipf slope flags frequency-shape damage. */
  def q173VocabStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabStats(t(s, dir, "documents"))

  val q173Sql: String =
    s"""WITH tf AS (SELECT source, tok, count(*) AS c
       |  FROM (SELECT source, unnest(string_split($normSql, ' ')) AS tok
       |        FROM documents) GROUP BY 1, 2)
       |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
       |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
       |  round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS hapax_rate,
       |  round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS type_token_ratio
       |FROM tf GROUP BY 1""".stripMargin

  /** Per-source curation dashboard — the composition row a curator runs
    * FIRST: duplication (q141's profile), vocabulary health (q173's
    * hapax rate/TTR), frequency shape (q157's Zipf slope), and mean char
    * entropy (q152's per-doc screen averaged), joined per source into
    * one diagnostic frame. Every leg is the deterministic variant, so
    * the whole join replays in DuckDB; the tf aggregate is SHARED by the
    * vocabulary and Zipf legs. */
  def q174SourceDashboard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val dup = Dedup.dupProfile(docs)
      .select(col("source"), col("n_docs"), col("dup_permille"))
    val vocab = TextAnalysis.vocabStats(docs)
      .select(col("source"), col("hapax_rate"), col("type_token_ratio"))
    val zipf = TextAnalysis.zipfSlope(docs)
      .select(col("source"), col("zipf_slope"))
    val entropy = docs.select(col("source"),
        graft.functions.CharEntropyStats.stats(col("text"))
          .getField("entropy").as("_e"))
      .groupBy(col("source"))
      .agg(round(sum(col("_e").cast("decimal(18,6)")).cast("double") /
        count(col("_e")), 6).as("mean_entropy"))
    dup.join(vocab, Seq("source")).join(zipf, Seq("source"))
      .join(entropy, Seq("source"))
  }

  val q174Sql: String =
    s"""WITH tf AS (SELECT source, tok, count(*) AS cnt
       |  FROM (SELECT source, unnest(string_split($normSql, ' ')) AS tok
       |        FROM documents) GROUP BY 1, 2),
       |voc AS (SELECT source,
       |  round(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS hapax_rate,
       |  round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS type_token_ratio
       |  FROM tf GROUP BY 1),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY source
       |    ORDER BY cnt DESC, tok) AS rnk FROM tf),
       |zf AS (SELECT source, CAST(round(ln(rnk), 6) AS DECIMAL(12,6)) AS x,
       |    CAST(round(ln(cnt), 6) AS DECIMAL(12,6)) AS y
       |  FROM rk WHERE rnk <= 512),
       |zagg AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(x AS DECIMAL(24,6))) AS sx,
       |    sum(CAST(y AS DECIMAL(24,6))) AS sy,
       |    sum(CAST(x * y AS DECIMAL(30,12))) AS sxy,
       |    sum(CAST(x * x AS DECIMAL(30,12))) AS sxx
       |  FROM zf GROUP BY 1),
       |zipf AS (SELECT source,
       |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0 THEN
       |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
       |  END AS zipf_slope FROM zagg),
       |fp AS (SELECT source, md5($normSql) AS fp, CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2),
       |dup AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
       |    CAST((sum(n) - count(*)) * 1000 // sum(n) AS BIGINT) AS dup_permille
       |  FROM fp GROUP BY 1),
       |pos AS (SELECT doc_id, source, text,
       |    unnest(generate_series(1, len(text))) AS i
       |  FROM documents WHERE len(text) >= 1),
       |ccnt AS (SELECT doc_id, source, substr(text, i, 1) AS ch, count(*) AS c
       |  FROM pos GROUP BY 1, 2, 3),
       |eagg AS (SELECT doc_id, source, sum(c) AS n,
       |    sum(CAST(c AS DECIMAL(12,0)) * CAST(round(ln(c), 6) AS DECIMAL(12,6)))
       |      AS plogp
       |  FROM ccnt GROUP BY 1, 2),
       |edoc AS (SELECT source,
       |    round(round(ln(n), 6) - CAST(plogp AS DOUBLE) / n, 6) AS e FROM eagg),
       |esrc AS (SELECT source,
       |    round(CAST(sum(CAST(e AS DECIMAL(18,6))) AS DOUBLE) / count(e), 6)
       |      AS mean_entropy
       |  FROM edoc GROUP BY 1)
       |SELECT source, n_docs, dup_permille, hapax_rate, type_token_ratio,
       |  zipf_slope, mean_entropy
       |FROM dup JOIN voc USING (source) JOIN zipf USING (source)
       |  JOIN esrc USING (source)""".stripMargin

  /** RFM user segmentation (Events.rfmSegments): recency/frequency/
    * monetary quintile scores against the corpus' own distribution —
    * exactQuantiles bounds (≡ quantile_cont) broadcast back, strict-
    * greater scoring so ties land low in any engine. */
  def q175RfmSegments(s: SparkSession, dir: String): DataFrame =
    operators.Events.rfmSegments(t(s, dir, "events"))

  val q175Sql: String =
    """WITH base AS (SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |a AS (SELECT max(tus) AS asof FROM base),
      |per AS (SELECT user_id,
      |    CAST((a.asof - max(tus)) // 86400000000 AS BIGINT) AS recency_days,
      |    count(*) AS frequency, CAST(coalesce(sum(v), 0) AS DOUBLE) AS monetary
      |  FROM base CROSS JOIN a GROUP BY user_id, a.asof),
      |b AS (SELECT
      |    round(quantile_cont(recency_days, 0.2), 6) AS r20,
      |    round(quantile_cont(recency_days, 0.4), 6) AS r40,
      |    round(quantile_cont(recency_days, 0.6), 6) AS r60,
      |    round(quantile_cont(recency_days, 0.8), 6) AS r80,
      |    round(quantile_cont(frequency, 0.2), 6) AS f20,
      |    round(quantile_cont(frequency, 0.4), 6) AS f40,
      |    round(quantile_cont(frequency, 0.6), 6) AS f60,
      |    round(quantile_cont(frequency, 0.8), 6) AS f80,
      |    round(quantile_cont(monetary, 0.2), 6) AS m20,
      |    round(quantile_cont(monetary, 0.4), 6) AS m40,
      |    round(quantile_cont(monetary, 0.6), 6) AS m60,
      |    round(quantile_cont(monetary, 0.8), 6) AS m80
      |  FROM per),
      |scored AS (SELECT user_id, recency_days, frequency, monetary,
      |    6 - (1 + CAST(recency_days > r20 AS BIGINT)
      |           + CAST(recency_days > r40 AS BIGINT)
      |           + CAST(recency_days > r60 AS BIGINT)
      |           + CAST(recency_days > r80 AS BIGINT)) AS r_score,
      |    1 + CAST(frequency > f20 AS BIGINT) + CAST(frequency > f40 AS BIGINT)
      |      + CAST(frequency > f60 AS BIGINT) + CAST(frequency > f80 AS BIGINT)
      |      AS f_score,
      |    1 + CAST(monetary > m20 AS BIGINT) + CAST(monetary > m40 AS BIGINT)
      |      + CAST(monetary > m60 AS BIGINT) + CAST(monetary > m80 AS BIGINT)
      |      AS m_score
      |  FROM per CROSS JOIN b)
      |SELECT user_id, recency_days, frequency, monetary,
      |  CAST(r_score AS BIGINT) AS r_score, f_score, m_score,
      |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
      |    || CAST(m_score AS VARCHAR) AS segment
      |FROM scored""".stripMargin

  /** Entity-resolution composition: blocked Jaro-Winkler matching
    * (q169's scorer at 0.9) → connected components (q65's closure) →
    * per-cluster canonical record (min-id member's name) — the full
    * record-linkage pipeline as ONE oracle row, the q143 composition
    * pattern applied to the linkage family. */
  def q176EntityResolution(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_partkey") < 400)
    val pairs = Joins.blockedJaroWinklerJoin(
        p.select(col("p_partkey").as("id_a"), col("p_name").as("name_a")),
        p.select(col("p_partkey").as("id_b"), col("p_name").as("name_b")),
        "name_a", "name_b", minSim = 0.9, blockLen = 6)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    Dedup.connectedComponents(pairs)
      .join(p.select(col("p_partkey").as("doc_id"), col("p_name")), Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("doc_id")).as("canonical_id"),
        min_by(col("p_name"), col("doc_id")).as("canonical_name"))
      .filter(col("n_members") >= 2)
  }

  val q176Sql: String =
    """WITH RECURSIVE p0 AS (SELECT p_partkey, p_name FROM part
      |  WHERE p_partkey < 400),
      |pr AS (SELECT a.p_partkey AS doc_a, b.p_partkey AS doc_b
      |  FROM p0 a JOIN p0 b
      |    ON substring(a.p_name, 1, 6) = substring(b.p_name, 1, 6)
      |   AND a.p_partkey < b.p_partkey
      |  WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.9),
      |e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
      |      UNION ALL SELECT doc_b, doc_a FROM pr),
      |reach(id, r) AS (
      |  SELECT DISTINCT src, src FROM e
      |  UNION
      |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
      |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
      |SELECT cluster_id, count(*) AS n_members,
      |  min(id) AS canonical_id, arg_min(p_name, id) AS canonical_name
      |FROM cc JOIN p0 ON p0.p_partkey = cc.id
      |GROUP BY 1 HAVING count(*) >= 2""".stripMargin

  /** Daily growth accounting (Events.dailyGrowth): DAU split into
    * new/returning plus the cumulative-user curve — exact integers, the
    * running sum over the calendar-bounded daily frame. */
  def q177DailyGrowth(s: SparkSession, dir: String): DataFrame =
    operators.Events.dailyGrowth(t(s, dir, "events"))

  val q177Sql: String =
    """WITH days AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |f AS (SELECT u, min(day) AS first_day FROM days GROUP BY 1),
      |daily AS (SELECT day, count(*) AS dau,
      |    CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
      |      AS new_users
      |  FROM days JOIN f USING (u) GROUP BY 1)
      |SELECT day, dau, new_users,
      |  dau - new_users AS returning_users,
      |  CAST(sum(new_users) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM daily""".stripMargin

  /** G.711 µ-law decode through the REAL compander
    * (MediaCodecs.mulawEncode/mulawDecode — a genuine lossy audio codec
    * in pure integer arithmetic): synth samples → µ-law bytes → byte
    * parse → linear expansion; the oracle replays encode ∘ decode as
    * integer formulas (bias 132, CASE-chain exponent, mantissa shift),
    * so the quantization error itself is oracle-checked. */
  def q178MulawDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMulawFeatures(
      Multimodal.synthMulawAssets(t(s, dir, "documents"), "doc_id")).toDF()

  val q178Sql: String =
    """WITH p AS (SELECT doc_id AS asset_id,
      |    CAST(256 + (doc_id % 17) * 16 AS BIGINT) AS n FROM documents),
      |s AS (SELECT asset_id, n,
      |    unnest(generate_series(0, n - 1)) AS i FROM p),
      |t AS (SELECT asset_id, n,
      |    ((asset_id * 7 + i * 13) % 201 - 100) * 64 AS smp FROM s),
      |d AS (SELECT asset_id, n, abs(smp) + 132 AS x,
      |    CASE WHEN smp < 0 THEN -1 ELSE 1 END AS sg FROM t),
      |e AS (SELECT asset_id, n, sg, x,
      |    CASE WHEN x >= 16384 THEN 7 WHEN x >= 8192 THEN 6
      |         WHEN x >= 4096 THEN 5 WHEN x >= 2048 THEN 4
      |         WHEN x >= 1024 THEN 3 WHEN x >= 512 THEN 2
      |         WHEN x >= 256 THEN 1 ELSE 0 END AS ex FROM d),
      |g AS (SELECT asset_id, n,
      |    sg * (((x // CAST(pow(2, ex + 3) AS BIGINT)) % 16 * 8 + 132)
      |      * CAST(pow(2, ex) AS BIGINT) - 132) AS lin FROM e),
      |a AS (SELECT asset_id, n, sum(lin * lin) AS ss FROM g GROUP BY 1, 2)
      |SELECT asset_id, CAST(1 AS BIGINT) AS ok,
      |  CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS n_channels,
      |  n AS n_samples, CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
      |  CAST(ss AS BIGINT) AS sum_sq,
      |  round(sqrt(CAST(ss AS DOUBLE) / n), 6) AS rms
      |FROM a""".stripMargin

  /** TPC-H Q5 shape — local-supplier volume: the 6-table join
    * (region→nation→{customer, supplier}→orders→lineitem) with the
    * co-nation constraint c_nationkey = s_nationkey, revenue per nation.
    * The relational stress test for join ORDER and broadcast choices:
    * every dimension broadcasts, the fact tables meet in one keyed
    * join, and revenue rides exact DECIMAL. */
  def q179LocalSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
    val n = t(s, dir, "nation"); val r = t(s, dir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum((dec2(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
        .cast("decimal(28,4)")).cast("double").as("revenue"))
  }

  val q179Sql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |    AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY 1""".stripMargin

  /** TPC-H Q10 shape — returned-item reporting: revenue lost to
    * returns per customer, top 20 by exact DECIMAL revenue (rank ties
    * broken by custkey so the cut is engine-stable). */
  def q180ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
    val rev = li.filter(col("l_returnflag") === "R")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum((dec2(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
        .cast("decimal(28,4)")).as("_rev"))
    // top-20 cut via orderBy().limit(k) = TakeOrdered over the
    // per-customer AGGREGATE — no global sort materializes
    rev.orderBy(col("_rev").desc, col("c_custkey").asc).limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("_rev").cast("double").as("revenue"))
  }

  val q180Sql: String =
    """WITH rev AS (SELECT c_custkey, c_name, n_name,
      |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |      AS DECIMAL(28,4))) AS r
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE l_returnflag = 'R'
      |  GROUP BY 1, 2, 3)
      |SELECT c_custkey, c_name, n_name, CAST(r AS DOUBLE) AS revenue
      |FROM rev ORDER BY r DESC, c_custkey ASC LIMIT 20""".stripMargin

  /** QOI decode through the REAL codec (MediaCodecs.encodeQoi/decodeQoi
    * — run-length, 64-slot index, delta ops): synth pixels → compressed
    * QOI bytes → decode; LOSSLESSNESS is the proof — the oracle
    * recomputes channel sums from the source formulas, so any
    * compression bug breaks the hash. */
  def q181QoiDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeQoiFeatures(
      Multimodal.synthQoiAssets(t(s, dir, "documents"), "doc_id")).toDF()
      .select(col("asset_id"), col("ok"), col("width"), col("height"),
        col("sum_r"), col("sum_g"), col("sum_b"))

  val q181Sql: String =
    """WITH d AS (SELECT doc_id AS asset_id,
      |    CAST(8 + doc_id % 9 AS INT) AS width,
      |    CAST(8 + (doc_id * 3) % 9 AS INT) AS height FROM documents),
      |pi AS (SELECT asset_id, width, height,
      |    unnest(generate_series(0, width - 1)) AS x FROM d),
      |pj AS (SELECT asset_id, width, height, x,
      |    unnest(generate_series(0, height - 1)) AS y FROM pi)
      |SELECT asset_id, CAST(1 AS BIGINT) AS ok, width, height,
      |  CAST(sum((asset_id + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((2 * asset_id + x + 7 * y) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((5 * asset_id + 11 * x + y) % 256) AS BIGINT) AS sum_b
      |FROM pj GROUP BY 1, 2, 3, 4""".stripMargin

  /** Cross-container image dedup (Multimodal.imageAHashSniff): the SAME
    * pictures shipped as real BMP bytes AND real QOI bytes — the
    * container-sniffing perceptual hash collapses each pair to one
    * fingerprint (pixels, not bytes), so every cluster counts both
    * containers. QOI-side ids offset by 1e6 to keep assets distinct. */
  def q182CrossContainerDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // container namespace = bit 40 (doc_id can never reach 2^40 — no
    // cross-container id collision at any scale factor)
    val bmp = Multimodal.synthBmpAssets(docs, "doc_id")
    val qoi = Multimodal.synthQoiAssets(docs, "doc_id")
      .withColumn("asset_id", col("asset_id") + lit(1L << 40))
    Multimodal.imageAHashSniff(bmp.unionByName(qoi)).toDF()
      .filter(col("ok") === 1)
      .groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(count(lit(1)).as("n_assets"),
        countDistinct(col("asset_id") >= (1L << 40)).as("n_containers"),
        min(col("asset_id")).as("rep_asset_id"))
  }

  val q182Sql: String =
    """WITH d AS (SELECT doc_id AS asset_id,
      |    CAST(8 + doc_id % 9 AS INT) AS w,
      |    CAST(8 + (doc_id * 3) % 9 AS INT) AS h FROM documents),
      |gi AS (SELECT *, unnest(generate_series(0, 7)) AS i FROM d),
      |gc AS (SELECT *, unnest(generate_series(0, 7)) AS j FROM gi),
      |s AS (SELECT asset_id, i, j,
      |    (asset_id + 3 * ((i * w) // 8) + 5 * ((j * h) // 8)) % 256
      |    + (2 * asset_id + ((i * w) // 8) + 7 * ((j * h) // 8)) % 256
      |    + (5 * asset_id + 11 * ((i * w) // 8) + ((j * h) // 8)) % 256 AS lum
      |  FROM gc),
      |t AS (SELECT asset_id, sum(lum) AS total FROM s GROUP BY 1),
      |b AS (SELECT s.asset_id, j * 8 + i AS k,
      |    CASE WHEN lum * 64 > total THEN 1 ELSE 0 END AS bit
      |  FROM s JOIN t ON s.asset_id = t.asset_id),
      |hashes AS (SELECT asset_id,
      |    CAST(sum(CASE WHEN bit = 1 AND k < 32
      |      THEN CAST(1 AS BIGINT) << k ELSE 0 END) AS BIGINT) AS ahash_hi,
      |    CAST(sum(CASE WHEN bit = 1 AND k >= 32
      |      THEN CAST(1 AS BIGINT) << (k - 32) ELSE 0 END) AS BIGINT) AS ahash_lo
      |  FROM b GROUP BY 1)
      |SELECT ahash_hi, ahash_lo,
      |  CAST(2 * count(*) AS BIGINT) AS n_assets,
      |  CAST(2 AS BIGINT) AS n_containers,
      |  min(asset_id) AS rep_asset_id
      |FROM hashes GROUP BY 1, 2""".stripMargin

  /** Cross-container dedup THROUGH the lossy codec (the r14 VERDICT JPEG
    * gap): the same block image as lossless BMP bytes and REAL JPEG
    * bytes (javax.imageio, quality 0.9) must collapse to one aHash —
    * q182's two-container check extended to the dominant web format.
    * Blocks align to JPEG's DCT grid and every threshold comparison
    * holds ≥ ~95 luma units of margin, so the oracle predicts the hash
    * BITS closed-form from the block mask and replays the clustering;
    * a single flipped bit on the JPEG leg splits a cluster and breaks
    * n_containers. */
  def q270JpegCrossDedup(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageAHashSniff(
        Multimodal.synthJpegBmpPairAssets(t(s, dir, "documents"), "doc_id"))
      .toDF()
      .filter(col("ok") === 1)
      .groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(count(lit(1)).as("n_assets"),
        countDistinct(col("asset_id") >= (1L << 40)).as("n_containers"),
        min(col("asset_id")).as("rep_asset_id"))

  val q270Sql: String =
    """WITH d AS (SELECT doc_id AS asset_id FROM documents),
      |g AS (SELECT asset_id, unnest(generate_series(0, 63)) AS k FROM d),
      |b AS (SELECT asset_id, k,
      |    CASE WHEN (k + asset_id) % 8 < 2 + asset_id % 5 THEN 1 ELSE 0 END AS bit
      |  FROM g),
      |hashes AS (SELECT asset_id,
      |    CAST(sum(CASE WHEN bit = 1 AND k < 32
      |      THEN CAST(1 AS BIGINT) << k ELSE 0 END) AS BIGINT) AS ahash_hi,
      |    CAST(sum(CASE WHEN bit = 1 AND k >= 32
      |      THEN CAST(1 AS BIGINT) << (k - 32) ELSE 0 END) AS BIGINT) AS ahash_lo
      |  FROM b GROUP BY 1)
      |SELECT ahash_hi, ahash_lo,
      |  CAST(2 * count(*) AS BIGINT) AS n_assets,
      |  CAST(2 AS BIGINT) AS n_containers,
      |  min(asset_id) AS rep_asset_id
      |FROM hashes GROUP BY 1, 2""".stripMargin

  /** Relative-rank window coverage: percent_rank + cume_dist of supplier
    * account balances WITHIN nation (partitioned windows, tie semantics
    * identical across engines), rounded once. */
  def q183RelativeRanks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("s_nationkey")).orderBy(col("s_acctbal"))
    t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey").cast("long").as("nationkey"),
        col("s_acctbal"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
  }

  val q183Sql: String =
    """SELECT s_suppkey, CAST(s_nationkey AS BIGINT) AS nationkey, s_acctbal,
      |  round(percent_rank() OVER w, 6) AS pct_rank,
      |  round(cume_dist() OVER w, 6) AS cume
      |FROM supplier
      |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal)""".stripMargin

  /** Wide→long reshape via the native Dataset.unpivot (melt): per-nation
    * customer/supplier counts melted to (n_name, metric, value) — the
    * inverse of q50's pivot, covered as a first-class API. */
  def q184NationUnpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "customer")
      .groupBy(col("c_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        sum(dec2(col("c_acctbal"))).cast("double").as("total_acctbal"))
      .join(t(s, dir, "supplier")
        .groupBy(col("s_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).cast("double").as("n_suppliers")), Seq("nationkey"))
    wide.select(col("nationkey"), col("n_customers").cast("double"),
        col("total_acctbal"), col("n_suppliers"))
      .unpivot(Array(col("nationkey")),
        Array(col("n_customers"), col("total_acctbal"), col("n_suppliers")),
        "metric", "value")
  }

  val q184Sql: String =
    """WITH wide AS (
      |  SELECT c.nationkey, c.n_customers, c.total_acctbal, s.n_suppliers
      |  FROM (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
      |          CAST(count(*) AS DOUBLE) AS n_customers,
      |          CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |            AS total_acctbal
      |        FROM customer GROUP BY 1) c
      |  JOIN (SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
      |          CAST(count(*) AS DOUBLE) AS n_suppliers
      |        FROM supplier GROUP BY 1) s USING (nationkey))
      |SELECT nationkey, 'n_customers' AS metric, n_customers AS value FROM wide
      |UNION ALL SELECT nationkey, 'total_acctbal', total_acctbal FROM wide
      |UNION ALL SELECT nationkey, 'n_suppliers', n_suppliers FROM wide""".stripMargin

  /** Quantile-binned PSI (Stats.psiQuantileBins): equal-MASS drift bins
    * — edges at the global deciles (≡ quantile_cont, rounded 6), bin =
    * count of edges strictly below x, the heavy-tail-robust variant of
    * q160's equal-width grid; shared pair/term fold. */
  def q185PsiQuantile(s: SparkSession, dir: String): DataFrame =
    operators.Stats.psiQuantileBins(t(s, dir, "events"), "event_type", "value",
      bins = 10)

  val q185Sql: String = {
    val edgeDefs = (1 until 10).map(i =>
      s"round(quantile_cont(x, 0.$i), 6) AS e$i").mkString(",\n      |    ")
    val binExpr = (1 until 10).map(i => s"CAST(x > e$i AS BIGINT)").mkString(" + ")
    s"""WITH base AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x
       |  FROM events WHERE value IS NOT NULL),
       |edges AS (SELECT
       |    $edgeDefs
       |  FROM base),
       |binned AS (SELECT g, $binExpr AS bin FROM base CROSS JOIN edges),
       |cnt AS (SELECT g, bin, count(*) AS c FROM binned GROUP BY 1, 2),
       |tot AS (SELECT g, sum(c) AS n FROM cnt GROUP BY 1),
       |grid AS (SELECT a.g AS a, a.n AS na, b.g AS b, b.n AS nb, r.range AS bin
       |  FROM tot a JOIN tot b ON a.g IS DISTINCT FROM b.g CROSS JOIN range(10) r),
       |sm AS (SELECT a, b, grid.bin AS bin,
       |    coalesce(ca.c, 0) + 1 AS ca1, na + 10 AS na1,
       |    coalesce(cb.c, 0) + 1 AS cb1, nb + 10 AS nb1
       |  FROM grid
       |  LEFT JOIN cnt ca ON ca.g IS NOT DISTINCT FROM grid.a AND ca.bin = grid.bin
       |  LEFT JOIN cnt cb ON cb.g IS NOT DISTINCT FROM grid.b AND cb.bin = grid.bin),
       |terms AS (SELECT a, b,
       |    CAST(round((CAST(ca1 AS DOUBLE) / na1 - CAST(cb1 AS DOUBLE) / nb1) *
       |      CAST(CAST(round(ln(ca1), 6) AS DECIMAL(12,6)) -
       |           CAST(round(ln(na1), 6) AS DECIMAL(12,6)) -
       |           CAST(round(ln(cb1), 6) AS DECIMAL(12,6)) +
       |           CAST(round(ln(nb1), 6) AS DECIMAL(12,6)) AS DOUBLE),
       |      12) AS DECIMAL(24,12)) AS t
       |  FROM sm)
       |SELECT a AS event_type_a, b AS event_type_b,
       |  round(CAST(sum(t) AS DOUBLE), 6) + 0 AS psi
       |FROM terms GROUP BY 1, 2""".stripMargin
  }

  /** Pairwise chi-square categorical drift (Stats.chiSquareDrift): the
    * language mix per source as a 2×k contingency test — χ², dof, and
    * Cramér's V per ordered source pair; the categorical complement of
    * q160/q185's numeric PSI grids (exact counts, once-rounded cell
    * terms, DECIMAL fold). */
  def q186ChiSquareDrift(s: SparkSession, dir: String): DataFrame =
    operators.Stats.chiSquareDrift(t(s, dir, "documents"), "source", "lang")

  val q186Sql: String =
    """WITH cnt AS (SELECT source AS g, lang AS k, count(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT g, sum(c) AS n FROM cnt GROUP BY 1),
      |grid AS (SELECT a.g AS a, a.n AS na, b.g AS b, b.n AS nb, cats.k AS k
      |  FROM tot a JOIN tot b ON a.g IS DISTINCT FROM b.g
      |  CROSS JOIN (SELECT DISTINCT k FROM cnt) cats),
      |cells AS (SELECT a, b, na, nb,
      |    coalesce(ca.c, 0) AS ca0, coalesce(cb.c, 0) AS cb0
      |  FROM grid
      |  LEFT JOIN cnt ca ON ca.g IS NOT DISTINCT FROM grid.a
      |    AND ca.k IS NOT DISTINCT FROM grid.k
      |  LEFT JOIN cnt cb ON cb.g IS NOT DISTINCT FROM grid.b
      |    AND cb.k IS NOT DISTINCT FROM grid.k
      |  WHERE coalesce(ca.c, 0) + coalesce(cb.c, 0) > 0),
      |terms AS (SELECT a, b, na, nb,
      |    CAST(round(
      |      (CAST(ca0 AS DOUBLE) * (na + nb) - CAST(na AS DOUBLE) * (ca0 + cb0)) *
      |      (CAST(ca0 AS DOUBLE) * (na + nb) - CAST(na AS DOUBLE) * (ca0 + cb0)) /
      |      (CAST(na AS DOUBLE) * (ca0 + cb0) * (na + nb)) +
      |      (CAST(cb0 AS DOUBLE) * (na + nb) - CAST(nb AS DOUBLE) * (ca0 + cb0)) *
      |      (CAST(cb0 AS DOUBLE) * (na + nb) - CAST(nb AS DOUBLE) * (ca0 + cb0)) /
      |      (CAST(nb AS DOUBLE) * (ca0 + cb0) * (na + nb)), 12)
      |      AS DECIMAL(24,12)) AS t
      |  FROM cells)
      |SELECT a AS source_a, b AS source_b,
      |  round(CAST(sum(t) AS DOUBLE), 6) AS chi2,
      |  count(*) - 1 AS dof,
      |  CASE WHEN count(*) > 1
      |    THEN round(sqrt(round(CAST(sum(t) AS DOUBLE), 6) / (na + nb)), 6)
      |    ELSE 0.0 END AS cramers_v
      |FROM terms GROUP BY a, b, na, nb""".stripMargin

  /** Source-concentration Gini (Stats.giniConcentration): how unevenly
    * the corpus character mass spreads across sources, via the
    * order-free mean-absolute-difference identity (no sort/rank to
    * replay) — the mixture-design audit next to q159's KL and q186's
    * chi-square. */
  def q187GiniConcentration(s: SparkSession, dir: String): DataFrame =
    operators.Stats.giniConcentration(t(s, dir, "documents"), "source", "n_chars")

  val q187Sql: String =
    """WITH g AS (SELECT source AS grp,
      |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS w
      |  FROM documents GROUP BY 1),
      |mad AS (SELECT CAST(sum(abs(a.w - b.w)) AS BIGINT) AS mad
      |  FROM g a CROSS JOIN g b),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
      |    CAST(sum(w) AS BIGINT) AS total_w FROM g)
      |SELECT n_groups, total_w,
      |  CASE WHEN total_w > 0
      |    THEN round(CAST(mad AS DOUBLE) / (2.0 * n_groups * total_w), 6)
      |    ELSE 0.0 END AS gini
      |FROM tot CROSS JOIN mad""".stripMargin

  /** TPC-H Q3 shape (shipping priority): BUILDING-segment customers,
    * orders placed before / items shipped after the cut date, top-10
    * unshipped orders by revenue — completes the Q3/Q5/Q10 classic
    * trio (q179/q180). Broadcast segment dim, partial agg before the
    * exchange, TakeOrdered over the per-order aggregate. */
  def q188ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-01-01").cast("date")
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate").cast("date") < cut)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("order_date"),
        col("o_orderpriority"))
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate").cast("date") > cut)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("order_date"), col("o_orderpriority"))
      .agg(sum((dec2(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
        .cast("decimal(28,4)")).as("_rev"))
      .orderBy(col("_rev").desc, col("l_orderkey").asc).limit(10)
      .select(col("l_orderkey"), col("order_date"), col("o_orderpriority"),
        col("_rev").cast("double").as("revenue"))
  }

  val q188Sql: String =
    """WITH rev AS (SELECT l_orderkey,
      |    CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
      |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |      AS DECIMAL(28,4))) AS r
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment = 'BUILDING'
      |    AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      |    AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
      |  GROUP BY 1, 2, 3)
      |SELECT l_orderkey, order_date, o_orderpriority,
      |  CAST(r AS DOUBLE) AS revenue
      |FROM rev ORDER BY r DESC, l_orderkey ASC LIMIT 10""".stripMargin

  /** Benford first-digit audit (Stats.benfordAudit): observed vs
    * expected leading-digit distribution of line-item prices — the
    * forensic "is this numeric feed natural?" gate; digit from the
    * DECIMAL string rendering, constants baked as literals. */
  def q189BenfordPrices(s: SparkSession, dir: String): DataFrame =
    operators.Stats.benfordAudit(t(s, dir, "lineitem"), "l_extendedprice")

  val q189Sql: String = {
    val ps = (1 to 9).map(d =>
      d -> math.round(math.log10(1.0 + 1.0 / d) * 1e6) / 1e6)
    val caseExpr = ps.map { case (d, p) =>
      s"WHEN $d THEN CAST($p AS DOUBLE)" }.mkString(" ")
    s"""WITH base AS (SELECT abs(CAST(l_extendedprice AS DECIMAL(38,12))) AS x
       |  FROM lineitem WHERE l_extendedprice IS NOT NULL
       |    AND CAST(l_extendedprice AS DECIMAL(38,12)) <> 0),
       |d AS (SELECT CAST(substr(regexp_replace(CAST(x AS VARCHAR),
       |    '[^1-9]', '', 'g'), 1, 1) AS INT) AS digit FROM base),
       |cnt AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS t FROM cnt),
       |digits AS (SELECT CAST(unnest(generate_series(1, 9)) AS INT) AS digit),
       |shares AS (SELECT digits.digit,
       |    CAST(coalesce(cnt.n_obs, 0) AS BIGINT) AS n_obs,
       |    CASE WHEN t > 0 THEN round(
       |      CAST(coalesce(cnt.n_obs, 0) AS DOUBLE) / CAST(t AS DOUBLE), 6)
       |      ELSE 0.0 END AS obs_share,
       |    CASE digits.digit $caseExpr END AS benford_p
       |  FROM digits LEFT JOIN cnt ON digits.digit = cnt.digit CROSS JOIN tot)
       |SELECT digit, n_obs, obs_share, benford_p,
       |  round(obs_share - benford_p, 6) + 0 AS dev FROM shares""".stripMargin
  }

  /** Pairwise Jensen-Shannon divergence (Stats.jsDivergence) of the
    * per-source language mix — the symmetric, [0, ln 2]-bounded drift
    * score beside q186's chi-square test and q159's directed KL;
    * integer-ratio ln factors keep it engine-exact. */
  def q190JsDivergence(s: SparkSession, dir: String): DataFrame =
    operators.Stats.jsDivergence(t(s, dir, "documents"), "source", "lang")

  val q190Sql: String =
    """WITH cnt AS (SELECT source AS g, lang AS k, count(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT g, sum(c) AS n FROM cnt GROUP BY 1),
      |nc AS (SELECT count(*) AS nk FROM (SELECT DISTINCT k FROM cnt)),
      |grid AS (SELECT a.g AS a, a.n AS na0, b.g AS b, b.n AS nb0, cats.k AS k
      |  FROM tot a JOIN tot b ON a.g IS DISTINCT FROM b.g
      |  CROSS JOIN (SELECT DISTINCT k FROM cnt) cats),
      |sm AS (SELECT a, b,
      |    coalesce(ca.c, 0) + 1 AS ca1, coalesce(cb.c, 0) + 1 AS cb1,
      |    na0 + nc.nk AS na1, nb0 + nc.nk AS nb1
      |  FROM grid CROSS JOIN nc
      |  LEFT JOIN cnt ca ON ca.g IS NOT DISTINCT FROM grid.a
      |    AND ca.k IS NOT DISTINCT FROM grid.k
      |  LEFT JOIN cnt cb ON cb.g IS NOT DISTINCT FROM grid.b
      |    AND cb.k IS NOT DISTINCT FROM grid.k),
      |terms AS (SELECT a, b,
      |    CAST(round(
      |      CAST(ca1 AS DOUBLE) / na1 *
      |      CAST(CAST(round(ln(ca1 * nb1 * 2), 6) AS DECIMAL(12,6)) -
      |           CAST(round(ln(ca1 * nb1 + cb1 * na1), 6) AS DECIMAL(12,6))
      |        AS DOUBLE) +
      |      CAST(cb1 AS DOUBLE) / nb1 *
      |      CAST(CAST(round(ln(cb1 * na1 * 2), 6) AS DECIMAL(12,6)) -
      |           CAST(round(ln(ca1 * nb1 + cb1 * na1), 6) AS DECIMAL(12,6))
      |        AS DOUBLE), 12) AS DECIMAL(24,12)) AS t
      |  FROM sm)
      |SELECT a AS source_a, b AS source_b,
      |  round(CAST(sum(t) AS DOUBLE) / 2.0, 6) + 0 AS jsd
      |FROM terms GROUP BY 1, 2""".stripMargin

  /** Diagonal-Σ Mahalanobis novelty (Stats.mahalanobisScores with
    * diagonal = true): the one previously spec-only operator, now under
    * the driver's hash gate — Gauss-Jordan on a diagonal matrix is
    * bit-exactly diag(1/(ridge + varᵢ)), and the mapPartitions
    * quadratic form degenerates to the ordered fold
    * Σᵢ (xᵢ−μᵢ)·(invᵢᵢ·(xᵢ−μᵢ)), which the oracle replays with a
    * list_sum over the identical index order, literal shapes, and the
    * same 1e-6 ridge. Variances come from the q163 quantized-exact
    * triangle (its diagonal), μ from the same micro-unit sums. */
  def q191MahalanobisDiag(s: SparkSession, dir: String): DataFrame =
    operators.Stats.mahalanobisScores(t(s, dir, "embeddings"), 64,
      diagonal = true)

  val q191Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |x AS (SELECT vec_id, generate_subscripts(v, 1) AS i,
      |    CAST(round(unnest(v) * 1000000, 0) AS BIGINT) AS xh FROM e),
      |st AS (SELECT i, sum(CAST(xh AS DECIMAL(38,0))) AS sx,
      |    sum(CAST(xh AS DECIMAL(38,0)) * CAST(xh AS DECIMAL(38,0))) AS sxx,
      |    count(*) AS n FROM x GROUP BY 1),
      |dg AS (SELECT i, CAST(sx AS DOUBLE) / 1e6 / n AS mu,
      |    1.0 / (1e-6 + round(CAST(sxx AS DOUBLE) / 1e12 / n -
      |      (CAST(sx AS DOUBLE) / 1e6 / n) * (CAST(sx AS DOUBLE) / 1e6 / n),
      |      6)) AS invv
      |  FROM st),
      |mv AS (SELECT list(mu ORDER BY i) AS mus, list(invv ORDER BY i) AS invs
      |  FROM dg)
      |SELECT vec_id,
      |  round(list_sum(list_transform(range(1, 65),
      |    i -> (v[i] - mus[i]) * (invs[i] * (v[i] - mus[i])))), 6) + 0 AS m2
      |FROM e CROSS JOIN mv""".stripMargin

  /** Mergeable rank-sketch quantiles (ApproxQuantile.sampledQuantiles
    * over functions/RankSampleAgg): the heavy-tail-safe ONE-pass sketch
    * beside q87's equi-width histogram (error range/256) and q127's
    * exact three-pass — a bottom-k-by-md5-hash row sample whose final
    * state is a pure function of the input multiset (arrival/merge
    * order free), so the oracle replays sample AND readout exactly:
    * `row_number() OVER (ORDER BY h, v) <= k`, then the same
    * r = q·(m−1) interpolation as exactQuantiles. */
  def q192SampledQuantiles(s: SparkSession, dir: String): DataFrame =
    operators.ApproxQuantile.sampledQuantiles(
      t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
      idCols = Seq("l_orderkey", "l_linenumber"),
      qs = Seq("p50_est" -> 0.5, "p90_est" -> 0.9, "p99_est" -> 0.99),
      k = 1024)

  val q192Sql: String =
    """WITH b AS (SELECT l_returnflag AS g,
      |    CAST(('0x' || substring(md5(l_orderkey || '|' || l_linenumber), 1, 15))
      |      AS BIGINT) AS h,
      |    CAST(l_extendedprice AS DOUBLE) AS v
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |rk AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY h, v) AS rn
      |  FROM b),
      |o AS (SELECT g, v,
      |    row_number() OVER (PARTITION BY g ORDER BY v) - 1 AS i,
      |    count(*) OVER (PARTITION BY g) AS m
      |  FROM rk WHERE rn <= 1024),
      |f AS (SELECT g, m,
      |    max(CASE WHEN i = CAST(floor(0.5 * (m - 1)) AS BIGINT) THEN v END) AS lo50,
      |    max(CASE WHEN i = CAST(ceil(0.5 * (m - 1)) AS BIGINT) THEN v END) AS hi50,
      |    max(CASE WHEN i = CAST(floor(0.9 * (m - 1)) AS BIGINT) THEN v END) AS lo90,
      |    max(CASE WHEN i = CAST(ceil(0.9 * (m - 1)) AS BIGINT) THEN v END) AS hi90,
      |    max(CASE WHEN i = CAST(floor(0.99 * (m - 1)) AS BIGINT) THEN v END) AS lo99,
      |    max(CASE WHEN i = CAST(ceil(0.99 * (m - 1)) AS BIGINT) THEN v END) AS hi99
      |  FROM o GROUP BY 1, 2)
      |SELECT g AS l_returnflag,
      |  round(lo50 + (0.5 * (m - 1) - floor(0.5 * (m - 1))) * (hi50 - lo50), 6) + 0
      |    AS p50_est,
      |  round(lo90 + (0.9 * (m - 1) - floor(0.9 * (m - 1))) * (hi90 - lo90), 6) + 0
      |    AS p90_est,
      |  round(lo99 + (0.99 * (m - 1) - floor(0.99 * (m - 1))) * (hi99 - lo99), 6) + 0
      |    AS p99_est
      |FROM f""".stripMargin

  /** Sparse TF-IDF cosine near-dup pairs (Dedup.sparseCosinePairs): the
    * bag-of-words dedup scorer over a df-capped inverted index — needs
    * only text (no embeddings), weights rarity (unlike Jaccard's set
    * view), pair generation bounded by maxDf² per token. idf factors
    * are once-rounded integer logs, dot/norms exact DECIMAL folds, one
    * rounded cos readout — the psi determinism discipline on an
    * inverted index. */
  def q193SparseCosine(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.sparseCosinePairs(t(s, dir, "documents"),
      maxDf = 50, threshold = 0.6)

  val q193Sql: String =
    s"""WITH tf AS (SELECT doc_id AS d, tok, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split($normSql, ' ')) AS tok
       |        FROM documents)
       |  WHERE tok <> '' GROUP BY 1, 2),
       |nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
       |dfc AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1
       |  HAVING count(*) <= 50),
       |w AS (SELECT d, tf.tok, df,
       |    CAST(CAST(tf AS DECIMAL(12,0)) *
       |      (CAST(round(ln(n + 1), 6) AS DECIMAL(12,6)) -
       |       CAST(round(ln(df + 1), 6) AS DECIMAL(12,6)))
       |      AS DECIMAL(18,6)) AS w
       |  FROM tf JOIN dfc USING (tok) CROSS JOIN nd),
       |norms AS (SELECT d, sum(CAST(w * w AS DECIMAL(30,12))) AS n2
       |  FROM w GROUP BY 1),
       |idx AS (SELECT tok, d, w FROM w WHERE df >= 2),
       |dots AS (SELECT a.d AS doc_a, b.d AS doc_b,
       |    sum(CAST(a.w * b.w AS DECIMAL(30,12))) AS dot
       |  FROM idx a JOIN idx b ON a.tok = b.tok AND a.d < b.d
       |  GROUP BY 1, 2),
       |scored AS (SELECT doc_a, doc_b,
       |    round(CAST(dot AS DOUBLE) /
       |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) + 0
       |      AS cos
       |  FROM dots
       |  JOIN norms na ON na.d = dots.doc_a
       |  JOIN norms nb ON nb.d = dots.doc_b)
       |SELECT doc_a, doc_b, cos FROM scored WHERE cos >= 0.6""".stripMargin

  /** Quantile normalization (Stats.quantileNormalize): every return
    * flag's price distribution remapped onto flag A's — per-row exact
    * min-rank ECDF position, reference quantile from a broadcast
    * 257-edge exactQuantiles grid with in-slot linear interpolation.
    * The cross-source score-alignment transform the z-score family
    * (q134/q139) cannot express (they keep each group's shape). */
  def q194QuantileNormalize(s: SparkSession, dir: String): DataFrame =
    operators.Stats.quantileNormalize(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_extendedprice")),
        "l_returnflag", "l_extendedprice", refGroup = lit("A"), slots = 256)

  val q194Sql: String =
    """WITH ref AS (SELECT CAST(l_extendedprice AS DECIMAL(18,6)) AS xq
      |  FROM lineitem WHERE l_returnflag = 'A' AND l_extendedprice IS NOT NULL),
      |o AS (SELECT xq, row_number() OVER (ORDER BY xq) - 1 AS idx,
      |    count(*) OVER () AS n FROM ref),
      |nn AS (SELECT max(n) AS n FROM o),
      |g AS (SELECT i, (i * (n - 1)) // 256 AS ilo,
      |    ((i * (n - 1)) + 255) // 256 AS ihi,
      |    (i * (n - 1)) % 256 AS frE
      |  FROM range(0, 257) t(i) CROSS JOIN nn),
      |ed AS (SELECT g.i,
      |    lo.xq + CAST(CAST(g.frE AS DECIMAL(10,0)) *
      |        CAST(0.00390625 AS DECIMAL(13,12)) AS DECIMAL(13,12)) *
      |      (hi.xq - lo.xq) AS e
      |  FROM g JOIN o lo ON lo.idx = g.ilo JOIN o hi ON hi.idx = g.ihi),
      |el AS (SELECT list(CAST(e AS DECIMAL(25,18)) ORDER BY i) AS eg FROM ed),
      |r AS (SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
      |    rank() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice ASC NULLS LAST) AS rk,
      |    count(l_extendedprice) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem),
      |s AS (SELECT *, CASE WHEN n > 1
      |      THEN least((rk - 1) * 256 // (n - 1), 255) ELSE 0 END AS slot
      |  FROM r),
      |t2 AS (SELECT *, (rk - 1) * 256 - slot * (n - 1) AS a FROM s),
      |u AS (SELECT *, CASE WHEN n > 1 THEN (a * 1000000) // (n - 1)
      |      ELSE 0 END AS fr6 FROM t2)
      |SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
      |  CASE WHEN l_extendedprice IS NOT NULL THEN
      |    CAST(round(eg[slot + 1] +
      |      CAST(CAST(fr6 AS DECIMAL(7,0)) * CAST(0.000001 AS DECIMAL(7,6))
      |        AS DECIMAL(7,6)) *
      |      (eg[slot + 2] - eg[slot + 1]), 6) AS DOUBLE) + 0
      |  END AS l_extendedprice_qnorm
      |FROM u CROSS JOIN el""".stripMargin

  /** Hilbert layout key (functions/HilbertIndex — native codegen'd
    * Expression; the rotation recurrence makes Column composition
    * exponential): q64's exact input shape so the two layout keys are
    * directly comparable; the oracle replays the 16-plane walk with a
    * recursive CTE over two's-complement BIGINT arithmetic. */
  def q195Hilbert(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey"),
      graft.functions.HilbertIndex.hilbert16(
        pmod(col("c_custkey"), lit(4096)),
        col("c_nationkey")).as("h"))

  val q195Sql: String =
    """WITH RECURSIVE b AS (SELECT c_custkey,
      |    CAST(c_custkey % 4096 AS BIGINT) AS x0,
      |    CAST(c_nationkey AS BIGINT) AS y0 FROM customer),
      |h AS (
      |  SELECT c_custkey, x0 AS x, y0 AS y, CAST(0 AS BIGINT) AS d,
      |    CAST(32768 AS BIGINT) AS s
      |  FROM b
      |  UNION ALL
      |  SELECT c_custkey,
      |    CASE WHEN ry = 1 THEN x WHEN rx = 1 THEN s - 1 - y ELSE y END,
      |    CASE WHEN ry = 1 THEN y WHEN rx = 1 THEN s - 1 - x ELSE x END,
      |    d + s * s * (CASE WHEN rx = 0 AND ry = 0 THEN 0
      |                      WHEN rx = 0 THEN 1
      |                      WHEN ry = 1 THEN 2 ELSE 3 END),
      |    s // 2
      |  FROM (SELECT c_custkey, x, y, d, s,
      |      CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END AS rx,
      |      CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END AS ry
      |    FROM h WHERE s > 0) t)
      |SELECT c_custkey, d AS h FROM h WHERE s = 0""".stripMargin

  /** Windowed HLL distinct users (Sketches.hllApproxCountDistinct under
    * an event-time tumbling window): the "distinct users per window"
    * dashboard query at sketch cost — per (window, task) the shuffle
    * carries a 512-byte register array instead of the user-id stream,
    * and window roll-ups stay mergeable (register max). Exact
    * countDistinct rides along as the per-window reference; the oracle
    * replays BOTH (q58's md5 register simulation, grouped by the same
    * epoch-bucket window start). */
  def q196WindowedHll(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("ts").isNotNull)
      .groupBy(window(col("ts"), "6 hours"))
      .agg(
        round(graft.functions.Sketches.hllApproxCountDistinct(col("user_id")), 2)
          .as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("window.start").as("window_start"),
        col("approx_users"), col("exact_users"))

  val q196Sql: String =
    """WITH w AS (SELECT
      |    CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600) * 21600)
      |      AT TIME ZONE 'UTC' AS TIMESTAMP) AS window_start,
      |    user_id
      |  FROM events WHERE ts IS NOT NULL),
      |h AS (SELECT window_start,
      |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
      |    CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
      |  FROM w WHERE user_id IS NOT NULL),
      |r AS (SELECT window_start, h1 // 8388608 AS idx,
      |    (h1 % 8388608) * 4294967296 + h2 AS v FROM h),
      |regs AS (SELECT window_start, idx,
      |    MAX(CASE WHEN v = 0 THEN 56 ELSE 56 - length(format('{:b}', v)) END) AS rho
      |  FROM r GROUP BY 1, 2),
      |sums AS (SELECT window_start,
      |    SUM(CAST(power(2.0, 64 - rho) AS HUGEINT)) AS s_present,
      |    COUNT(*) AS present
      |  FROM regs GROUP BY 1),
      |fin AS (SELECT window_start,
      |    s_present + (512 - present) * CAST(18446744073709551616 AS HUGEINT) AS s,
      |    512 - present AS zeros
      |  FROM sums),
      |exact AS (SELECT window_start,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
      |  FROM w GROUP BY 1)
      |SELECT f.window_start,
      |  round(CASE WHEN 0.7213 / (1.0 + 1.079 / 512.0) * 512 * 512 * 18446744073709551616.0
      |                   / CAST(f.s AS DOUBLE) <= 1280.0 AND f.zeros > 0
      |    THEN 512 * ln(512.0 / f.zeros)
      |    ELSE 0.7213 / (1.0 + 1.079 / 512.0) * 512 * 512 * 18446744073709551616.0
      |         / CAST(f.s AS DOUBLE) END, 2) AS approx_users,
      |  e.exact_users
      |FROM fin f JOIN exact e USING (window_start)""".stripMargin

  /** GPT-style sequence packing (Packing.packSequences): the corpus laid
    * end-to-end in doc_id order and cut into 256-token training blocks —
    * per doc its global token offset and block span. The running sum is
    * the scale-safe two-pass prefix sum (range partials → tiny ordered
    * cumulative → partitioned within-range windows); the oracle replays
    * it as one plain window cumsum (fine at oracle scale). */
  def q197SequencePack(s: SparkSession, dir: String): DataFrame =
    operators.Packing.packSequences(
      t(s, dir, "documents"), "doc_id", "text", blockLen = 256)

  val q197Sql: String =
    s"""WITH tf AS (SELECT doc_id,
       |    CASE WHEN text IS NULL OR regexp_replace(text, '\\s', '', 'g') = '' THEN 0
       |         ELSE CAST(len(string_split($normSql, ' ')) AS BIGINT)
       |    END AS n_tok
       |  FROM documents),
       |st AS (SELECT doc_id, n_tok,
       |    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS tok_start
       |  FROM tf)
       |SELECT doc_id, n_tok, tok_start,
       |  CASE WHEN n_tok > 0 THEN tok_start // 256 END AS block_first,
       |  CASE WHEN n_tok > 0 THEN (tok_start + n_tok - 1) // 256 END AS block_last,
       |  CASE WHEN n_tok > 0
       |    THEN (tok_start + n_tok - 1) // 256 > tok_start // 256
       |  END AS crosses_block
       |FROM st""".stripMargin

  /** Block occupancy (Packing.blockOccupancy): q197's layout inverted to
    * one row per 256-token training block — contributing docs, fill, and
    * boundary-straddling docs (the attention-mask pollution readout). */
  def q198BlockOccupancy(s: SparkSession, dir: String): DataFrame =
    operators.Packing.blockOccupancy(
      t(s, dir, "documents"), "doc_id", "text", blockLen = 256)

  val q198Sql: String =
    s"""WITH tf AS (SELECT doc_id,
       |    CASE WHEN text IS NULL OR regexp_replace(text, '\\s', '', 'g') = '' THEN 0
       |         ELSE CAST(len(string_split($normSql, ' ')) AS BIGINT)
       |    END AS n_tok
       |  FROM documents),
       |st AS (SELECT doc_id, n_tok,
       |    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS tok_start
       |  FROM tf WHERE n_tok > 0),
       |sp AS (SELECT doc_id, n_tok, tok_start,
       |    tok_start // 256 AS bf, (tok_start + n_tok - 1) // 256 AS bl
       |  FROM st),
       |ex AS (SELECT doc_id, n_tok, tok_start,
       |    unnest(generate_series(bf, bl)) AS block_id
       |  FROM sp)
       |SELECT block_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(least(tok_start + n_tok, (block_id + 1) * 256) -
       |      greatest(tok_start, block_id * 256)) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN tok_start < block_id * 256
       |             OR tok_start + n_tok > (block_id + 1) * 256
       |        THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
       |FROM ex GROUP BY 1""".stripMargin

  /** Sliding-window chunking (Packing.chunkDocuments): 32-token windows
    * every 16 tokens — the RAG retrieval-index transform; map-only with
    * a bounded explode, no shuffle. The oracle replays the slice walk
    * with generate_series + list_slice. */
  def q199ChunkOverlap(s: SparkSession, dir: String): DataFrame =
    operators.Packing.chunkDocuments(
      t(s, dir, "documents"), "doc_id", "text", window = 32, stride = 16)

  val q199Sql: String =
    s"""WITH tk AS (SELECT doc_id, string_split($normSql, ' ') AS toks
       |  FROM documents WHERE text IS NOT NULL
      |    AND regexp_replace(text, '\\s', '', 'g') <> ''),
       |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS ntok FROM tk),
       |c AS (SELECT doc_id, toks, ntok,
       |    CASE WHEN ntok > 32 THEN (ntok - 32 + 15) // 16 ELSE 0 END AS lastc
       |  FROM n),
       |ex AS (SELECT doc_id, toks, ntok,
       |    unnest(generate_series(0, lastc)) AS i
       |  FROM c)
       |SELECT doc_id, i AS chunk_id, i * 16 AS chunk_start,
       |  least(32, ntok - i * 16) AS chunk_len,
       |  array_to_string(list_slice(toks, i * 16 + 1,
       |    i * 16 + least(32, ntok - i * 16)), ' ') AS chunk_text
       |FROM ex""".stripMargin

  /** Exact 3-gram-shingle Jaccard self-join at τ=0.60
    * (SetSim.jaccardSelfJoin): the prefix-filtered AllPairs/PPJoin — no
    * false negatives, integer-exact thresholding, shingle universe (a
    * 31-word unigram vocabulary makes unigram prefixes useless — 240×
    * more candidates, measured). The oracle replays the identical
    * deterministic algorithm (rarest-first order via
    * list(ORDER BY df, shingle), prefix slice, candidate join,
    * list_intersect verify) — the result set equals the exact all-pairs
    * answer by the prefix theorem, and the brute-force equivalence is
    * proven in OperatorsSpec on a fixture. */
  def q200SetSimJoin(s: SparkSession, dir: String): DataFrame =
    operators.SetSim.jaccardSelfJoin(
      t(s, dir, "documents"), "doc_id", "text", tauPct = 60)

  val q200Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS ws
       |  FROM documents WHERE text IS NOT NULL
      |    AND regexp_replace(text, '\\s', '', 'g') <> ''),
       |toks AS (SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS tok
       |    FROM (SELECT doc_id, ws,
       |            unnest(generate_series(1, len(ws) - 2)) AS i
       |          FROM w WHERE len(ws) >= 3))),
       |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS dfreq
       |  FROM toks GROUP BY 1),
       |docs AS (SELECT doc_id, list(t.tok ORDER BY d.dfreq, t.tok) AS arr,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM toks t JOIN dfq d USING (tok) GROUP BY doc_id),
       |pref AS (SELECT doc_id, n, unnest(list_slice(arr, 1,
       |    CAST(n - (n * 60 + 99) // 100 + 1 AS INT))) AS ptok FROM docs),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pref a JOIN pref b ON a.ptok = b.ptok AND a.doc_id < b.doc_id
       |  WHERE 60 * greatest(a.n, b.n) <= 100 * least(a.n, b.n)),
       |v AS (SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(da.arr, db.arr)) AS BIGINT) AS inter,
       |    da.n + db.n AS ns
       |  FROM cand JOIN docs da ON da.doc_id = doc_a
       |            JOIN docs db ON db.doc_id = doc_b)
       |SELECT doc_a, doc_b, inter, CAST(ns - inter AS BIGINT) AS n_union,
       |  round(CAST(inter AS DOUBLE) / (ns - inter), 6) AS jac
       |FROM v WHERE inter * 160 >= 60 * ns""".stripMargin

  /** No-split next-fit packing (Packing.nextFitPack): 512-token bins,
    * documents never cut, fresh bin per 1024-id range. The sequential
    * bin-fill recurrence is replayed by the oracle as a per-range
    * recursive CTE walking rows in id order — bit-identical semantics. */
  def q201NextFitPack(s: SparkSession, dir: String): DataFrame =
    operators.Packing.nextFitPack(
      t(s, dir, "documents"), "doc_id", "text",
      capacity = 512, rangeWidth = 1024)

  val q201Sql: String =
    s"""WITH RECURSIVE tf AS (SELECT doc_id,
       |    CAST(len(string_split($normSql, ' ')) AS BIGINT) AS n_tok
       |  FROM documents WHERE text IS NOT NULL
      |    AND regexp_replace(text, '\\s', '', 'g') <> ''),
       |b AS (SELECT doc_id, n_tok, doc_id // 1024 AS rng,
       |    row_number() OVER (PARTITION BY doc_id // 1024
       |      ORDER BY doc_id) AS rn
       |  FROM tf),
       |walk AS (
       |  SELECT rng, doc_id, n_tok, rn, n_tok AS fill,
       |    CAST(0 AS BIGINT) AS lbin
       |  FROM b WHERE rn = 1
       |  UNION ALL
       |  SELECT b.rng, b.doc_id, b.n_tok, b.rn,
       |    CASE WHEN w.fill + b.n_tok > 512 THEN b.n_tok
       |         ELSE w.fill + b.n_tok END,
       |    CASE WHEN w.fill + b.n_tok > 512 THEN w.lbin + 1
       |         ELSE w.lbin END
       |  FROM b JOIN walk w ON b.rng = w.rng AND b.rn = w.rn + 1),
       |r AS (SELECT rng, max(lbin) + 1 AS nb FROM walk GROUP BY 1),
       |o AS (SELECT rng, CAST(coalesce(sum(nb) OVER (ORDER BY rng
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS boff
       |  FROM r)
       |SELECT w.doc_id, w.n_tok, o.boff + w.lbin AS bin_id,
       |  CAST(w.fill - w.n_tok AS BIGINT) AS fill_before
       |FROM walk w JOIN o USING (rng)""".stripMargin

  /** Context-window assembly (Packing.contextWindow): per user, the most
    * recent events whose newest-first cumulative cost fits a 300-unit
    * budget — the SFT "latest turns that fit the context" truncation.
    * One user-partitioned window, no join. */
  def q202ContextWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("cost",
      (length(col("event_type")) + length(coalesce(col("props"), lit(""))))
        .cast("long"))
    operators.Packing.contextWindow(ev, "user_id", "event_id", "ts", "cost",
      budget = 300)
  }

  val q202Sql: String =
    """WITH c AS (SELECT user_id, event_id, ts,
      |    CAST(coalesce(length(event_type) + length(coalesce(props, '')), 0)
      |      AS BIGINT) AS cost
      |  FROM events),
      |w AS (SELECT user_id, event_id, cost,
      |    CAST(sum(cost) OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_cost,
      |    CAST(row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) - 1 AS BIGINT) AS turns_back
      |  FROM c)
      |SELECT user_id, event_id, cost, cum_cost, turns_back
      |FROM w WHERE cum_cost <= 300""".stripMargin

  /** Balanced serpentine shard assignment (Packing.balancedShards): docs
    * ranked by token count desc and dealt boustrophedon onto 8 shards.
    * The oracle's single row_number() is replayed scale-safe on the
    * Spark side via the distinct-weight offset decomposition. */
  def q203BalancedShards(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"),
      operators.Packing.tokenCount(col("text")).as("n_tok"))
    operators.Packing.balancedShards(d, "doc_id", "n_tok", 8)
  }

  val q203Sql: String =
    s"""WITH tf AS (SELECT doc_id,
       |    CASE WHEN text IS NULL OR regexp_replace(text, '\\s', '', 'g') = '' THEN 0
       |         ELSE CAST(len(string_split($normSql, ' ')) AS BIGINT)
       |    END AS n_tok
       |  FROM documents),
       |rn AS (SELECT doc_id, n_tok,
       |    row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1 AS r
       |  FROM tf)
       |SELECT doc_id, n_tok,
       |  CAST(CASE WHEN (r // 8) % 2 = 0 THEN r % 8
       |            ELSE 7 - (r % 8) END AS BIGINT) AS shard
       |FROM rn""".stripMargin

  /** Materialized 256-token training blocks (Packing.materializeBlocks):
    * q197's layout emitted as the loader's actual output — per block the
    * concatenated token stream, doc count and fill. The oracle reassembles
    * each block with string_agg(piece, ' ' ORDER BY tok_start) over the
    * same overlap slices. */
  def q204BlockText(s: SparkSession, dir: String): DataFrame =
    operators.Packing.materializeBlocks(
      t(s, dir, "documents"), "doc_id", "text", blockLen = 256)

  val q204Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS toks
       |  FROM documents WHERE text IS NOT NULL
      |    AND regexp_replace(text, '\\s', '', 'g') <> ''),
       |tf AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok FROM w),
       |st AS (SELECT doc_id, toks, n_tok,
       |    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS tok_start
       |  FROM tf),
       |sp AS (SELECT doc_id, toks, n_tok, tok_start,
       |    tok_start // 256 AS bf, (tok_start + n_tok - 1) // 256 AS bl
       |  FROM st),
       |ex AS (SELECT toks, n_tok, tok_start,
       |    unnest(generate_series(bf, bl)) AS block_id
       |  FROM sp),
       |p AS (SELECT block_id, tok_start,
       |    greatest(tok_start, block_id * 256) AS s,
       |    least(tok_start + n_tok, (block_id + 1) * 256) AS e,
       |    array_to_string(list_slice(toks,
       |      greatest(tok_start, block_id * 256) - tok_start + 1,
       |      least(tok_start + n_tok, (block_id + 1) * 256) - tok_start),
       |      ' ') AS piece
       |  FROM ex)
       |SELECT block_id, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(e - s) AS BIGINT) AS n_tokens,
       |  string_agg(piece, ' ' ORDER BY tok_start) AS block_text
       |FROM p GROUP BY 1""".stripMargin

  /** TPC-H Q18 shape (large-volume customers): orders whose line quantity
    * sum exceeds 250, joined back to customer, top 100 by total price.
    * The aggregate runs BEFORE the joins (the Q18 plan lesson — filter on
    * the agg, then enrich), customer broadcast. */
  def q205LargeVolume(s: SparkSession, dir: String): DataFrame = {
    val hot = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(dec2(col("l_quantity"))).as("sum_qty"))
      .filter(col("sum_qty") > lit(250).cast("decimal(18,2)"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      col("o_orderdate").cast("date").as("order_date"), col("o_totalprice"))
    val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
    o.join(hot, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("order_date"), col("o_totalprice"),
        col("sum_qty").cast("double").as("sum_qty"))
  }

  val q205Sql: String =
    """WITH hot AS (SELECT l_orderkey,
      |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
      |  FROM lineitem GROUP BY 1 HAVING sq > 250)
      |SELECT c_name, c_custkey, o_orderkey,
      |  CAST(o_orderdate AS DATE) AS order_date, o_totalprice,
      |  CAST(sq AS DOUBLE) AS sum_qty
      |FROM hot JOIN orders ON o_orderkey = l_orderkey
      |         JOIN customer ON c_custkey = o_custkey
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin

  /** TPC-H Q21 shape (suppliers who kept orders waiting): on finished
    * multi-supplier orders, the suppliers whose line shipped > 90 days
    * after the order date while EVERY other supplier shipped on time —
    * the exists/not-exists double self-correlation, rewritten as two
    * grouped aggregates over one (order, supplier) lateness frame (no
    * correlated re-scans; the classic decorrelated plan). */
  def q206WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("_od"))
    val os = t(s, dir, "lineitem")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_shipdate").cast("date") > date_add(col("_od"), 90),
        1L).otherwise(0L)).as("_late"))
    val a = os.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("_ns"), sum(col("_late")).as("_nl"))
    val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"),
      col("s_nationkey"))
    val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    os.join(a, "l_orderkey")
      .filter(col("_late") === 1L && col("_ns") >= 2L && col("_nl") === 1L)
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(20)
      .select(col("s_name"), col("n_name"), col("numwait"))
  }

  val q206Sql: String =
    """WITH os AS (SELECT l_orderkey, l_suppkey,
      |    max(CASE WHEN CAST(l_shipdate AS DATE) >
      |        CAST(o_orderdate AS DATE) + 90 THEN 1 ELSE 0 END) AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F' GROUP BY 1, 2),
      |a AS (SELECT l_orderkey, count(*) AS ns, sum(late) AS nl
      |  FROM os GROUP BY 1)
      |SELECT s_name, n_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM os JOIN a USING (l_orderkey)
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |WHERE late = 1 AND ns >= 2 AND nl = 1
      |GROUP BY 1, 2 ORDER BY numwait DESC, s_name ASC LIMIT 20""".stripMargin

  /** TPC-H Q7 shape (volume shipping): revenue between NATION_1 and
    * NATION_2 (both directions) by ship year — the two-role nation
    * dimension join (same tiny table broadcast twice under different
    * keys). */
  def q207VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val n1 = t(s, dir, "nation").select(col("n_nationkey").as("_sk"),
      col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation").select(col("n_nationkey").as("_ck"),
      col("n_name").as("cust_nation"))
    val rev = (dec2(col("l_extendedprice")) *
      (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
      .cast("decimal(28,4)")
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("_sk"))
      .join(broadcast(n2), col("c_nationkey") === col("_ck"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .withColumn("l_year", year(col("l_shipdate").cast("date")).cast("int"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(rev).as("_r"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        col("_r").cast("double").as("revenue"))
  }

  val q207Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS l_year,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |    AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
      |GROUP BY 1, 2, 3""".stripMargin

  /** TPC-H Q22 shape (global sales opportunity): customers with an
    * above-average positive balance who never placed a large order,
    * counted per nation. The scalar average is compared WITHOUT division
    * (balance·n > Σbalance in exact decimal — the cross-engine float-
    * division hazard never exists); the "never" is a left-anti join. */
  def q208SalesOpportunity(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val st = c.filter(col("c_acctbal") > 0)
      .agg(sum(dec2(col("c_acctbal"))).as("_s"), count(lit(1)).as("_n"))
    val large = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      .select(col("o_custkey")).distinct()
    c.crossJoin(broadcast(st)) // one-row stats frame (documented pattern)
      .filter(dec2(col("c_acctbal")) * col("_n") > col("_s"))
      .join(large, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(dec2(col("c_acctbal"))).as("_t"))
      .select(col("c_nationkey"), col("numcust"),
        col("_t").cast("double").as("totacctbal"))
  }

  val q208Sql: String =
    """WITH st AS (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM customer WHERE c_acctbal > 0),
      |lg AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_totalprice > 400000)
      |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer, st
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * st.n > st.s
      |  AND NOT EXISTS (SELECT 1 FROM lg WHERE o_custkey = c_custkey)
      |GROUP BY 1""".stripMargin

  /** TPC-H Q6 shape (forecast revenue change): the pure scan-predicate
    * query — every filter (ship year, discount band, quantity cap) sits on
    * base lineitem columns, so ALL of them reach the parquet scan as
    * PushedFilters and the plan is scan → partial agg → single-row final
    * agg. Revenue = Σ extendedprice·discount in exact DECIMAL. */
  def q209ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_items"),
        sum((dec2(col("l_extendedprice")) * dec2(col("l_discount")))
          .cast("decimal(28,4)")).cast("double").as("revenue"))

  val q209Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  /** TPC-H Q4 shape (order-priority checking): orders from one quarter
    * with at least one line shipped > 30 days after the order date (the
    * reference schema has no commitdate; ship-lateness is the same
    * EXISTS shape), counted by priority. The correlated EXISTS is a
    * LEFT SEMI join — the probe side never duplicates orders. */
  def q210OrderPriority(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate").cast("date") > date_add(col("o_orderdate").cast("date"), 30),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  val q210Sql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 30)
      |GROUP BY 1""".stripMargin

  /** TPC-H Q14 shape (promotion effect): the conditional-numerator ratio —
    * promo revenue share per ship year, both legs summed as exact DECIMAL
    * over the broadcast part join, divided once at readout. */
  def q211PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val rev = (dec2(col("l_extendedprice")) *
      (lit(1).cast("decimal(18,2)") - dec2(col("l_discount")))).cast("decimal(28,4)")
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .withColumn("l_year", year(col("l_shipdate").cast("date")).cast("int"))
      .groupBy(col("l_year"))
      .agg(sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0).cast("decimal(28,4)"))).as("_promo"),
        sum(rev).as("_total"))
      .select(col("l_year"),
        round(lit(100d) * col("_promo").cast("double") / col("_total").cast("double"), 6)
          .as("promo_pct"),
        col("_total").cast("double").as("total_revenue"))
  }

  val q211Sql: String =
    """SELECT CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS l_year,
      |  round(100 * CAST(sum(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))
      |      ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE) /
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE), 6)
      |    AS promo_pct,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE)
      |    AS total_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1""".stripMargin

  /** TPC-H Q13 shape (customer order-count distribution): LEFT OUTER join
    * so zero-order customers survive with count 0, then a second
    * aggregation over the counts — the classic double-groupBy histogram.
    * Urgent orders are excluded in the JOIN CONDITION (not a post-filter),
    * matching Q13's "special requests" pattern. */
  def q212CustomerDistribution(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      col("o_orderpriority"))
    t(s, dir, "customer").select(col("c_custkey"))
      .join(o, col("c_custkey") === col("o_custkey") &&
        col("o_orderpriority") =!= "1-URGENT", "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val q212Sql: String =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY 1)
      |GROUP BY 1""".stripMargin

  /** TPC-H Q17 shape (small-quantity-order revenue): lines of one brand's
    * parts whose quantity is under 20% of that part's average. The
    * correlated per-part average is decorrelated into one grouped
    * aggregate, and the 0.2·avg comparison is cleared of division:
    * 5·qty·n < Σqty in exact integers (quantities are whole-valued). */
  def q213SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .filter(col("p_brand") === "Brand#13").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
    val stats = li.groupBy(col("p_partkey").as("_pk"))
      .agg(count(lit(1)).as("_n"), sum(col("l_quantity").cast("long")).as("_sq"))
    li.join(stats, col("p_partkey") === col("_pk"))
      .filter(col("l_quantity").cast("long") * 5 * col("_n") < col("_sq"))
      .agg(count(lit(1)).as("n_small"),
        round(sum(dec2(col("l_extendedprice"))).cast("double") / 7.0, 6)
          .as("avg_yearly"))
  }

  val q213Sql: String =
    """WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#13'),
      |st AS (SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
      |  FROM li GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_small,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6)
      |    AS avg_yearly
      |FROM li JOIN st ON l_partkey = pk
      |WHERE CAST(l_quantity AS BIGINT) * 5 * n < sq""".stripMargin

  /** TPC-H Q15 shape (top supplier): quarterly revenue per supplier, then
    * the suppliers tied at the maximum — the scalar-subquery max compared
    * in EXACT DECIMAL (a double max would make the tie test a float
    * equality). Ties all surface, deterministically. */
  def q214TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum((dec2(col("l_extendedprice")) *
        (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
        .cast("decimal(28,4)")).as("_rev"))
    val mx = rev.agg(max(col("_rev")).as("_mx"))
    rev.crossJoin(broadcast(mx)) // one-row stats frame (documented pattern)
      .filter(col("_rev") === col("_mx"))
      .join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("_rev").cast("double").as("total_revenue"))
  }

  val q214Sql: String =
    """WITH rev AS (SELECT l_suppkey,
      |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS r
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE r = (SELECT max(r) FROM rev)""".stripMargin

  /** TPC-H Q19 shape (discounted revenue, OR-of-ANDs): three
    * brand/size/quantity band disjuncts evaluated in ONE pass over the
    * broadcast part join — the optimizer keeps the common l_partkey =
    * p_partkey conjunct as the join key and the disjunction as a post-join
    * filter; no union of three scans. */
  def q215DiscountedRevenue(s: SparkSession, dir: String): DataFrame = {
    val branch =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
        col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#13" && col("p_size").between(1, 15) &&
        col("l_quantity").between(10, 30)) ||
      (col("p_brand") === "Brand#20" && col("p_size").between(1, 25) &&
        col("l_quantity").between(20, 40))
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .filter(branch)
      .agg(count(lit(1)).as("n_items"),
        sum((dec2(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
          .cast("decimal(28,4)")).cast("double").as("revenue"))
  }

  val q215Sql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE)
      |    AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 40)""".stripMargin

  /** TPC-H Q8 shape (national market share): NATION_1 suppliers' share of
    * STANDARD-part revenue sold to EUROPE customers, per order year — the
    * conditional-numerator ratio over a 6-table join (fact → orders →
    * customer → nation → region on one side, supplier → nation on the
    * other, part as a broadcast filter dim). Both legs exact DECIMAL,
    * one division at readout. */
  def q216MarketShare(s: SparkSession, dir: String): DataFrame = {
    val rev = (dec2(col("l_extendedprice")) *
      (lit(1).cast("decimal(18,2)") - dec2(col("l_discount")))).cast("decimal(28,4)")
    val custNation = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val natRegion = t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("_cnk"))
    val suppNation = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("_snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("_snk"))
      .select(col("s_suppkey"), col("supp_nation"))
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").filter(col("p_type") === "STANDARD")
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
      .join(custNation, col("o_custkey") === col("c_custkey"))
      .join(broadcast(natRegion), col("c_nationkey") === col("_cnk"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .withColumn("o_year", year(col("o_orderdate").cast("date")).cast("int"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_1", rev)
          .otherwise(lit(0).cast("decimal(28,4)"))).as("_num"),
        sum(rev).as("_den"))
      .select(col("o_year"),
        round(col("_num").cast("double") / col("_den").cast("double"), 6)
          .as("mkt_share"),
        col("_den").cast("double").as("total_revenue"))
  }

  val q216Sql: String =
    """WITH rev AS (SELECT
      |    CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
      |    n2.n_name AS supp_nation,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4)) AS r
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey)
      |SELECT o_year,
      |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN r
      |      ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE) /
      |    CAST(sum(r) AS DOUBLE), 6) AS mkt_share,
      |  CAST(sum(r) AS DOUBLE) AS total_revenue
      |FROM rev GROUP BY 1""".stripMargin

  /** TPC-H Q9 shape (product-type profit): profit = revenue − cost per
    * supplier nation × order year. The schema has no partsupp/supplycost,
    * so cost is p_retailprice·quantity — the same 5-table join and
    * two-term DECIMAL expression; negative profits kept (the shape's
    * point: the measure is signed). */
  def q217ProductProfit(s: SparkSession, dir: String): DataFrame = {
    val profit = ((dec2(col("l_extendedprice")) *
      (lit(1).cast("decimal(18,2)") - dec2(col("l_discount")))).cast("decimal(28,4)") -
      (dec2(col("p_retailprice")) * col("l_quantity").cast("decimal(18,2)"))
        .cast("decimal(28,4)")).cast("decimal(28,4)")
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .withColumn("o_year", year(col("o_orderdate").cast("date")).cast("int"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(sum(profit).cast("double").as("profit"),
        count(lit(1)).as("n_items"))
  }

  val q217Sql: String =
    """SELECT n_name,
      |  CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
      |  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4)) -
      |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) *
      |      CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4)) AS DECIMAL(28,4)))
      |    AS DOUBLE) AS profit,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY 1, 2""".stripMargin

  /** Exact one-vs-rest ROC AUC (Eval.rocAuc): per class c, AUC of
    * embedding component c as a ranker for label = c — the tie-aware
    * Mann-Whitney fold carried DOUBLED in BIGINTs (2·avgrank = 2·rank +
    * ties − 1), one double division at readout. The embedding-quality
    * probe: which dimensions already separate which labels. */
  def q218RocAuc(s: SparkSession, dir: String): DataFrame = {
    val x = t(s, dir, "embeddings")
      .select(col("embedding"), col("label"),
        explode(array((0 until 10).map(i => lit(i)): _*)).as("cls"))
      .select(col("cls").cast("int").as("cls"),
        element_at(col("embedding"), col("cls") + 1).cast("double").as("score"),
        (col("label") === col("cls")).cast("int").as("pos"))
    operators.Eval.rocAuc(x, "cls", "score", "pos")
  }

  val q218Sql: String =
    """WITH cl AS (SELECT CAST(cls AS INT) AS cls FROM range(10) t(cls)),
      |x AS (SELECT cls, CAST(embedding[cls + 1] AS DOUBLE) AS score,
      |    CASE WHEN label = cls THEN 1 ELSE 0 END AS pos
      |  FROM embeddings CROSS JOIN cl),
      |r AS (SELECT cls, pos,
      |    2 * rank() OVER (PARTITION BY cls ORDER BY score ASC) +
      |      count(*) OVER (PARTITION BY cls, score) - 1 AS ar2 FROM x),
      |g AS (SELECT cls, CAST(sum(pos) AS BIGINT) AS n_pos,
      |    CAST(sum(1 - pos) AS BIGINT) AS n_neg,
      |    CAST(sum(pos * ar2) AS BIGINT) AS s2 FROM r GROUP BY 1)
      |SELECT cls, n_pos, n_neg,
      |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
      |    ELSE round(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE) /
      |      CAST(2 * n_pos * n_neg AS DOUBLE), 6) END AS auc
      |FROM g""".stripMargin

  /** Reliability bins + ECE (Eval.calibrationBins): a hash-mod rational
    * pseudo-confidence (exact DECIMAL — the operator's contract) against
    * a label-derived outcome; per-bin means and the n_b-cancelling ECE
    * identity Σ|Σconf − Σpos|/N, every fold exact, one division each at
    * readout. */
  def q219CalibrationEce(s: SparkSession, dir: String): DataFrame = {
    val x = t(s, dir, "embeddings")
      .select(((col("vec_id") * 2654435761L) % 1000).cast("decimal(6,0)").as("_m"),
        col("label"))
      .select((col("_m") * lit(new java.math.BigDecimal("0.001")).cast("decimal(6,3)"))
          .cast("decimal(7,3)").as("conf"),
        (col("label") < 5).cast("int").as("pos"))
    operators.Eval.calibrationBins(x, "conf", "pos", bins = 10)
  }

  val q219Sql: String =
    """WITH x AS (SELECT
      |    CAST(CAST((vec_id * 2654435761) % 1000 AS DECIMAL(6,0)) *
      |      CAST(0.001 AS DECIMAL(6,3)) AS DECIMAL(7,3)) AS conf,
      |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
      |  FROM embeddings),
      |b AS (SELECT least(CAST(floor(conf * 10) AS BIGINT), 9) AS bin,
      |    CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(conf AS DECIMAL(18,6))) AS sc,
      |    CAST(sum(pos) AS BIGINT) AS sp
      |  FROM x GROUP BY 1),
      |g AS (SELECT *, abs(CAST(sc - CAST(sp AS DECIMAL(18,6)) AS DECIMAL(20,6))) AS absgap FROM b),
      |tot AS (SELECT sum(absgap) AS tg, CAST(sum(n) AS BIGINT) AS tn FROM g)
      |SELECT bin, n,
      |  round(CAST(sc AS DOUBLE) / n, 6) AS conf_mean,
      |  round(CAST(sp AS DOUBLE) / n, 6) AS acc,
      |  round(CAST(CAST(sp AS DECIMAL(18,6)) - sc AS DOUBLE) / n, 6) + 0 AS gap,
      |  round(CAST(tg AS DOUBLE) / tn, 6) AS ece
      |FROM g CROSS JOIN tot""".stripMargin

  /** Cohen's κ inter-annotator agreement (Eval.cohenKappa): two heuristic
    * "raters" over documents (char-length gate vs whitespace-token gate),
    * κ per language from the division-free integer identity
    * (n·agree − pe)/(n² − pe). */
  def q220CohensKappa(s: SparkSession, dir: String): DataFrame =
    operators.Eval.cohenKappa(t(s, dir, "documents"), "lang",
      col("n_chars") > 400,
      length(col("text")) - length(expr("replace(text, ' ', '')")) >= 80)

  val q220Sql: String =
    """WITH x AS (SELECT lang,
      |    CASE WHEN n_chars > 400 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN length(text) - length(replace(text, ' ', '')) >= 80
      |      THEN 1 ELSE 0 END AS b
      |  FROM documents
      |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
      |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(a) AS BIGINT) AS a1, CAST(sum(b) AS BIGINT) AS b1,
      |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
      |  FROM x GROUP BY 1),
      |p AS (SELECT *, a1 * b1 + (n - a1) * (n - b1) AS pe FROM g)
      |SELECT lang, n, round(CAST(agree AS DOUBLE) / n, 6) AS po,
      |  CASE WHEN n * n = pe THEN NULL
      |    ELSE round(CAST(n * agree - pe AS DOUBLE) /
      |      CAST(n * n - pe AS DOUBLE), 6) + 0 END AS kappa
      |FROM p""".stripMargin

  /** nDCG@10 retrieval eval (Similarity.ndcgAtK): q133's graded-position
    * twin — the log₂ discount weights and the IDCG table are plan-time
    * DECIMAL literals (no engine evaluates a logarithm), DCG an exact
    * decimal fold, one division at readout. */
  def q221Ndcg(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ndcgAtK(emb.filter(col("vec_id") < 16), emb, k = 10)
  }

  val q221Sql: String =
    s"""WITH wts(rnk, wt) AS (VALUES
       |    (1, CAST(1.000000 AS DECIMAL(18,6))), (2, CAST(0.630930 AS DECIMAL(18,6))),
       |    (3, CAST(0.500000 AS DECIMAL(18,6))), (4, CAST(0.430677 AS DECIMAL(18,6))),
       |    (5, CAST(0.386853 AS DECIMAL(18,6))), (6, CAST(0.356207 AS DECIMAL(18,6))),
       |    (7, CAST(0.333333 AS DECIMAL(18,6))), (8, CAST(0.315465 AS DECIMAL(18,6))),
       |    (9, CAST(0.301030 AS DECIMAL(18,6))), (10, CAST(0.289065 AS DECIMAL(18,6)))),
       |icg(m, iwt) AS (VALUES
       |    (1, CAST(1.000000 AS DECIMAL(18,6))), (2, CAST(1.630930 AS DECIMAL(18,6))),
       |    (3, CAST(2.130930 AS DECIMAL(18,6))), (4, CAST(2.561607 AS DECIMAL(18,6))),
       |    (5, CAST(2.948460 AS DECIMAL(18,6))), (6, CAST(3.304667 AS DECIMAL(18,6))),
       |    (7, CAST(3.638000 AS DECIMAL(18,6))), (8, CAST(3.953465 AS DECIMAL(18,6))),
       |    (9, CAST(4.254495 AS DECIMAL(18,6))), (10, CAST(4.543560 AS DECIMAL(18,6)))),
       |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS query_label
       |  FROM embeddings WHERE vec_id < 16),
       |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label AS neighbor_label
       |  FROM embeddings),
       |scored AS (SELECT query_id, query_label,
       |    CAST(CASE WHEN query_label IS NOT DISTINCT FROM neighbor_label THEN 1 ELSE 0 END AS BIGINT) AS rel,
       |    ${cosSql("qv", "cv")} AS cos, neighbor_id
       |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk FROM scored),
       |a AS (SELECT query_id, query_label, CAST(sum(rel) AS BIGINT) AS n_relevant,
       |    sum(CASE WHEN r.rnk <= 10 AND rel = 1 THEN wt
       |        ELSE CAST(0 AS DECIMAL(18,6)) END) AS dcg
       |  FROM r LEFT JOIN wts ON r.rnk = wts.rnk GROUP BY 1, 2)
       |SELECT query_id, query_label, n_relevant,
       |  CASE WHEN n_relevant = 0 THEN NULL
       |    ELSE round(CAST(dcg AS DOUBLE) / CAST(iwt AS DOUBLE), 6) END AS ndcg_at_10
       |FROM a LEFT JOIN icg ON least(n_relevant, 10) = icg.m""".stripMargin

  /** k-anonymity / l-diversity audit (Eval.kAnonymity): customer
    * (nation, segment) quasi-identifier classes against a balance-sign
    * sensitive attribute — the single-row BIGINT release-risk verdict. */
  def q222KAnonymity(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").withColumn("bal_band",
      when(col("c_acctbal") > 0, lit("pos")).otherwise(lit("nonpos")))
    operators.Eval.kAnonymity(cust, Seq("c_nationkey", "c_mktsegment"),
      "bal_band", k = 10)
  }

  val q222Sql: String =
    """WITH cls AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(DISTINCT CASE WHEN c_acctbal > 0 THEN 'pos'
      |      ELSE 'nonpos' END) AS BIGINT) AS l
      |  FROM customer GROUP BY 1, 2)
      |SELECT min(n) AS k_anonymity, min(l) AS l_diversity,
      |  CAST(count(*) AS BIGINT) AS n_classes,
      |  CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_classes,
      |  CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk
      |FROM cls""".stripMargin

  /** CUSUM changepoint monitor (TimeSeries.cusumChangepoints): per
    * event-type daily volumes, the max(0, S+x−μ) recurrence closed-formed
    * into prefix-sum − running-min windows, carried in D-scaled BIGINTs
    * (no division, no float) with the h·mean alarm compared in integers. */
  def q223CusumChangepoints(s: SparkSession, dir: String): DataFrame =
    // h = ½·mean: at this data's daily-volume jitter the alarm then
    // separates series (some fire, some stay quiet) instead of being
    // all-quiet (h=1) or all-noise
    operators.TimeSeries.cusumChangepoints(t(s, dir, "events"),
      "event_type", "ts", threshNum = 1L, threshDen = 2L)

  val q223Sql: String =
    """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type AS s2, CAST(count(*) AS BIGINT) AS d,
      |    CAST(sum(n) AS BIGINT) AS t
      |  FROM daily GROUP BY 1),
      |x AS (SELECT event_type, day, n, d, t, d * n - t AS dev
      |  FROM daily JOIN tot ON event_type IS NOT DISTINCT FROM s2),
      |p AS (SELECT *, CAST(sum(dev) OVER (PARTITION BY event_type ORDER BY day
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pp FROM x),
      |w AS (SELECT *,
      |    least(min(pp) OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING), 0) AS mn,
      |    greatest(max(pp) OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING), 0) AS mx
      |  FROM p)
      |SELECT event_type, day, n,
      |  round(CAST(pp - mn AS DOUBLE) / d, 6) AS cusum_hi,
      |  round(CAST(mx - pp AS DOUBLE) / d, 6) AS cusum_lo,
      |  (pp - mn) * 2 > t AS alarm_hi,
      |  (mx - pp) * 2 > t AS alarm_lo
      |FROM w""".stripMargin

  /** Copeland pairwise-preference ranking (Eval.copelandRanking): event
    * types dueling on per-user total value — the RLHF-adjacent
    * preference aggregate, integer end to end (+2 win / +1 tie, doubled
    * so no ½-point floats). */
  def q224CopelandPreference(s: SparkSession, dir: String): DataFrame =
    operators.Eval.copelandRanking(t(s, dir, "events"),
      "user_id", "event_type", "value")

  val q224Sql: String =
    """WITH sc AS (SELECT user_id AS v, event_type AS i,
      |    sum(CAST(value AS DECIMAL(18,6))) AS s
      |  FROM events GROUP BY 1, 2),
      |pr AS (SELECT a.i AS i, a2.i AS j,
      |    CAST(sum(CASE WHEN a.s > a2.s THEN 1 ELSE 0 END) AS BIGINT) AS w
      |  FROM sc a JOIN sc a2 ON a.v = a2.v AND a.i <> a2.i GROUP BY 1, 2)
      |SELECT p.i AS item,
      |  CAST(sum(CASE WHEN p.w > f.w THEN 1 ELSE 0 END) AS BIGINT) AS pair_wins,
      |  CAST(sum(CASE WHEN p.w = f.w THEN 1 ELSE 0 END) AS BIGINT) AS pair_ties,
      |  CAST(sum(CASE WHEN p.w < f.w THEN 1 ELSE 0 END) AS BIGINT) AS pair_losses,
      |  CAST(sum(CASE WHEN p.w > f.w THEN 2 WHEN p.w = f.w THEN 1 ELSE 0 END)
      |    AS BIGINT) AS copeland2
      |FROM pr p JOIN pr f ON p.i = f.j AND p.j = f.i
      |GROUP BY 1""".stripMargin

  /** TPC-H Q12 shape (shipping modes / priority classes): lineitem joined
    * to orders (fact-fact equi-join on the order key — AQE picks the
    * side-sized strategy), the ship-year filter pushed to the parquet
    * scan, then CASE-counts of high- vs low-priority lines per class
    * (`l_returnflag` stands in for the absent `l_shipmode`). */
  def q225ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate").cast("date") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate").cast("date") < lit("1997-01-01").cast("date"))
      .select(col("l_orderkey"), col("l_returnflag"))
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
  }

  val q225Sql: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      |GROUP BY 1""".stripMargin

  /** TPC-H Q2 shape (min-cost supplier): the correlated min-subquery
    * decorrelated into a part-partitioned window min. The testdata has no
    * partsupp, so supply cost derives from lineitem as the per-(part,
    * supplier) minimum observed price — same join topology: derived ps ⋈
    * filtered part ⋈ (supplier ⋈ nation ⋈ region, dims broadcast), then
    * keep the per-part cost minimum within the region. */
  def q226MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val ps = t(s, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(dec2(col("l_extendedprice"))).as("cost"))
    val p = t(s, dir, "part")
      .filter(col("p_size") <= 10 && col("p_type") === "LARGE")
      .select(col("p_partkey"))
    val eu = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    ps.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
      .withColumn("_best", min(col("cost")).over(
        Window.partitionBy(col("p_partkey"))))
      .filter(col("cost") === col("_best"))
      .orderBy(col("s_acctbal").desc, col("n_name").asc, col("s_name").asc,
        col("p_partkey").asc)
      .limit(100)
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("cost").cast("double").as("cost"))
  }

  val q226Sql: String =
    """WITH ps AS (SELECT l_partkey, l_suppkey,
      |    min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
      |  FROM lineitem GROUP BY 1, 2),
      |eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |    JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE'),
      |c AS (SELECT p_partkey, s_name, s_acctbal, n_name, cost,
      |    min(cost) OVER (PARTITION BY p_partkey) AS best
      |  FROM ps JOIN part ON l_partkey = p_partkey
      |    JOIN eu ON l_suppkey = s_suppkey
      |  WHERE p_size <= 10 AND p_type = 'LARGE')
      |SELECT s_acctbal, s_name, n_name, p_partkey,
      |  CAST(cost AS DOUBLE) AS cost
      |FROM c WHERE cost = best
      |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
      |LIMIT 100""".stripMargin

  /** TPC-H Q11 shape (important stock): per-part value from one nation's
    * suppliers vs a global-threshold scalar — the HAVING-over-subquery
    * rewritten division-free: `value·1000 > total` in exact DECIMAL (the
    * 0.1% importance cut), with the one-row total broadcast. */
  def q227ImportantStock(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_7")
      .select(col("s_suppkey"))
    val v = t(s, dir, "lineitem")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(dec2(col("l_extendedprice"))).as("_val"))
    val tot = v.agg(sum(col("_val")).as("_tot"))
    v.crossJoin(broadcast(tot))
      .filter(col("_val") * 1000 > col("_tot"))
      .select(col("l_partkey"), col("_val").cast("double").as("value"))
  }

  val q227Sql: String =
    """WITH v AS (SELECT l_partkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_7' GROUP BY 1),
      |t AS (SELECT sum(val) AS tot FROM v)
      |SELECT l_partkey, CAST(val AS DOUBLE) AS value
      |FROM v, t WHERE val * 1000 > tot""".stripMargin

  /** TPC-H Q16 shape (supplier counts by part attributes): the derived
    * (part, supplier) pairs against a filtered part dim, suppliers with
    * negative balance excluded (the Q16 complaints exclusion adapted),
    * COUNT(DISTINCT supplier) per (brand, type, size). */
  def q228SupplierPartCounts(s: SparkSession, dir: String): DataFrame = {
    val ps = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val p = t(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34, 39, 44))
      .select(col("p_partkey"), col("p_brand"), col("p_type"),
        col("p_size").cast("long").as("p_size"))
    val ok = t(s, dir, "supplier").filter(col("s_acctbal") >= 0)
      .select(col("s_suppkey"))
    ps.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(ok), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  val q228Sql: String =
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      |SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM ps JOIN part ON l_partkey = p_partkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
      |  AND p_size IN (1,4,9,14,19,24,29,34,39,44)
      |  AND s_acctbal >= 0
      |GROUP BY 1, 2, 3""".stripMargin

  /** TPC-H Q20 shape (suppliers over a volume threshold): per-(supplier,
    * part) shipped quantity in the probe year vs lifetime, kept when the
    * year holds >20% of lifetime volume — division-free `5·qty_y > qty`
    * in BIGINTs (quantities are whole-valued) — then the survivor
    * suppliers resolved through the region dims. The availqty>½·shipped
    * correlation of the original, re-anchored on derivable columns. */
  def q229SurgeSuppliers(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_name").like("%widget%"))
      .select(col("p_partkey"))
    val inYear = col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date") &&
      col("l_shipdate").cast("date") < lit("1998-01-01").cast("date")
    val a = t(s, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(when(inYear, col("l_quantity").cast("long")).otherwise(0L)).as("_qy"),
        sum(col("l_quantity").cast("long")).as("_qt"))
    val hot = a.filter(col("_qy") * 5 > col("_qt"))
      .select(col("l_suppkey")).distinct()
    hot
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("s_name"), col("n_name"))
  }

  val q229Sql: String =
    """WITH a AS (SELECT l_suppkey,
      |    sum(CASE WHEN CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      |      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS qy,
      |    sum(CAST(l_quantity AS BIGINT)) AS qt
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE '%widget%'
      |  GROUP BY l_suppkey, l_partkey),
      |hot AS (SELECT DISTINCT l_suppkey FROM a WHERE qy * 5 > qt)
      |SELECT s_name, n_name
      |FROM hot JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'""".stripMargin

  /** Market-basket association rules (Baskets.associationRules): parts
    * co-purchased per order, pair support ≥ 2, confidence and the exact
    * integer lift verdict. The pair fan-out is a basket-key self-join
    * with the hot-basket cap — never a cartesian. */
  def q230AssociationRules(s: SparkSession, dir: String): DataFrame =
    operators.Baskets.associationRules(t(s, dir, "lineitem"),
      "l_orderkey", "l_partkey", minPairCount = 2L)

  val q230Sql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
      |  FROM lineitem),
      |sz AS (SELECT bk, count(*) AS bs FROM b GROUP BY 1),
      |k AS (SELECT b.bk, b.it FROM b JOIN sz USING (bk) WHERE bs <= 256),
      |n AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_baskets FROM k),
      |ic AS (SELECT it, CAST(count(*) AS BIGINT) AS c FROM k GROUP BY 1),
      |p AS (SELECT a.it AS item_a, b2.it AS item_b,
      |    CAST(count(*) AS BIGINT) AS pair_cnt
      |  FROM k a JOIN k b2 ON a.bk = b2.bk AND a.it < b2.it
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT item_a, item_b, pair_cnt, ca.c AS cnt_a, cb.c AS cnt_b,
      |  n_baskets,
      |  round(CAST(pair_cnt AS DOUBLE) / ca.c, 6) AS confidence,
      |  pair_cnt * n_baskets > ca.c * cb.c AS lift_gt1
      |FROM p JOIN ic ca ON item_a = ca.it JOIN ic cb ON item_b = cb.it, n""".stripMargin

  /** First-order Markov transitions (Events.markovTransitions): the
    * session-flow "what happens after X" counts + row-stochastic
    * probabilities, successor pairs from one unit-partitioned lead
    * window with the event-id tie-break. */
  def q231EventTransitions(s: SparkSession, dir: String): DataFrame =
    operators.Events.markovTransitions(t(s, dir, "events"))

  val q231Sql: String =
    """WITH st AS (SELECT event_type AS from_event,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_event
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_type IS NOT NULL),
      |c AS (SELECT from_event, to_event, CAST(count(*) AS BIGINT) AS cnt
      |  FROM st WHERE to_event IS NOT NULL GROUP BY 1, 2),
      |tt AS (SELECT from_event, CAST(sum(cnt) AS BIGINT) AS from_total
      |  FROM c GROUP BY 1)
      |SELECT from_event, to_event, cnt, from_total,
      |  round(CAST(cnt AS DOUBLE) / from_total, 6) AS prob
      |FROM c JOIN tt USING (from_event)""".stripMargin

  /** Kaplan-Meier life table (Survival.kaplanMeier): per-user activity
    * spans, churn event = quiet ≥7 days before the as-of timestamp,
    * survivor curve carried in log domain as an exact sum of per-term
    * rounded-decimal lns (the catalog's KL/LM transcendental
    * discipline). */
  def q232SurvivalKm(s: SparkSession, dir: String): DataFrame =
    operators.Survival.kaplanMeier(t(s, dir, "events"), censorDays = 7)

  val q232Sql: String =
    """WITH u AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tu
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |sp AS (SELECT user_id, min(tu) AS f, max(tu) AS l FROM u GROUP BY 1),
      |ao AS (SELECT max(tu) AS t_end FROM u),
      |pu AS (SELECT CAST((l - f) // 86400000000 AS BIGINT) AS dur_days,
      |    CASE WHEN l < t_end - 604800000000 THEN 1 ELSE 0 END AS ev
      |  FROM sp, ao),
      |tb AS (SELECT dur_days, CAST(sum(ev) AS BIGINT) AS n_event,
      |    CAST(sum(1 - ev) AS BIGINT) AS n_censored,
      |    CAST(count(*) AS BIGINT) AS nd
      |  FROM pu GROUP BY 1),
      |tt AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM pu),
      |rk AS (SELECT *, tot - (sum(nd) OVER (ORDER BY dur_days
      |    ROWS UNBOUNDED PRECEDING) - nd) AS n_risk FROM tb, tt),
      |tm AS (SELECT *, CASE
      |    WHEN n_event > 0 AND n_risk = n_event
      |      THEN CAST(-13.815511 AS DECIMAL(12,6))
      |    WHEN n_event > 0 THEN CAST(round(ln(
      |      CAST(n_risk - n_event AS DOUBLE) / n_risk), 6) AS DECIMAL(12,6))
      |    ELSE CAST(0 AS DECIMAL(12,6)) END AS term FROM rk)
      |SELECT dur_days, CAST(n_risk AS BIGINT) AS n_risk, n_event, n_censored,
      |  round(CAST(n_event AS DOUBLE) / n_risk, 6) AS hazard,
      |  CAST(sum(term) OVER (ORDER BY dur_days ROWS UNBOUNDED PRECEDING)
      |    AS DOUBLE) AS log_survival
      |FROM tm""".stripMargin

  /** Two-proportion A/B verdict (Eval.twoProportionTest): user-parity
    * variants, per-event-type conversion rates, the z-test squared and
    * cross-multiplied into one exact DECIMAL(38,0) inequality — no
    * square root, no float in the verdict. */
  def q233AbVerdict(s: SparkSession, dir: String): DataFrame =
    operators.Eval.twoProportionTest(t(s, dir, "events"),
      "user_id", "event_type", pmod(col("user_id"), lit(2)))

  val q233Sql: String =
    """WITH b AS (SELECT user_id AS u, event_type AS metric,
      |    CAST(user_id % 2 AS BIGINT) AS v
      |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      |e AS (SELECT v, CAST(count(DISTINCT u) AS BIGINT) AS n
      |  FROM (SELECT DISTINCT u, v FROM b) GROUP BY 1),
      |nn AS (SELECT CAST(sum(CASE WHEN v = 1 THEN n END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN v = 0 THEN n END) AS BIGINT) AS n0 FROM e),
      |cv AS (SELECT metric,
      |    CAST(count(DISTINCT CASE WHEN v = 1 THEN u END) AS BIGINT) AS x1,
      |    CAST(count(DISTINCT CASE WHEN v = 0 THEN u END) AS BIGINT) AS x0
      |  FROM b GROUP BY 1)
      |SELECT metric, n1, x1, n0, x0,
      |  round(CAST(x1 * n0 - x0 * n1 AS DOUBLE) / (n1 * n0), 6) + 0 AS effect,
      |  CAST(x1 * n0 - x0 * n1 AS DECIMAL(38,0))
      |    * CAST(x1 * n0 - x0 * n1 AS DECIMAL(38,0))
      |    * (n1 + n0) * 100 * 100 >
      |  CAST(196 AS DECIMAL(38,0)) * 196
      |    * CAST(x1 + x0 AS DECIMAL(38,0))
      |    * ((n1 + n0) - (x1 + x0)) * n1 * n0 AS significant
      |FROM cv, nn""".stripMargin

  /** 2-D Pareto skyline (Skyline.paretoFront2d): the part-catalog
    * price-vs-size frontier via the bucketed O(n log n) sorted-scan —
    * the oracle replays the textbook O(n²) NOT-EXISTS definition, so two
    * independent algorithms cross-check. */
  def q234ParetoFront(s: SparkSession, dir: String): DataFrame =
    operators.Skyline.paretoFront2d(
      t(s, dir, "part").select(col("p_retailprice"),
        col("p_size").cast("long").as("p_size")),
      "p_retailprice", "p_size")

  val q234Sql: String =
    """WITH g AS (SELECT p_retailprice AS v_min, CAST(p_size AS BIGINT) AS v_max,
      |    CAST(count(*) AS BIGINT) AS n FROM part GROUP BY 1, 2),
      |pm AS (SELECT v_min, v_max, n AS n_rows FROM (
      |    SELECT *, max(v_max) OVER (PARTITION BY v_min) AS b FROM g)
      |  WHERE v_max = b)
      |SELECT v_min, v_max, n_rows FROM pm p1
      |WHERE NOT EXISTS (SELECT 1 FROM pm p2
      |  WHERE p2.v_min < p1.v_min AND p2.v_max >= p1.v_max)""".stripMargin

  /** Functional-dependency audit (Expectations.fdAudit): schema-contract
    * verdicts — "does the unit key determine the event type?" (it does
    * not — behavioral data) vs "does the event id?" (a key — zero
    * violations), one summary row per claimed FD. */
  def q235FdAudit(s: SparkSession, dir: String): DataFrame =
    operators.Expectations.fdAudit(t(s, dir, "events"),
      Seq((Seq("user_id"), "event_type"), (Seq("event_id"), "event_type")))

  val q235Sql: String =
    """WITH g1 AS (SELECT user_id, count(DISTINCT event_type) AS d,
      |    count(*) AS n FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL GROUP BY 1),
      |a1 AS (SELECT 'user_id->event_type' AS fd,
      |    CAST(count(*) AS BIGINT) AS n_groups,
      |    CAST(coalesce(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |      AS violating_groups,
      |    CAST(coalesce(sum(CASE WHEN d > 1 THEN n ELSE 0 END), 0) AS BIGINT)
      |      AS violating_rows,
      |    CAST(coalesce(max(d), 0) AS BIGINT) AS max_rhs_per_group FROM g1),
      |g2 AS (SELECT event_id, count(DISTINCT event_type) AS d,
      |    count(*) AS n FROM events
      |  WHERE event_id IS NOT NULL AND event_type IS NOT NULL GROUP BY 1),
      |a2 AS (SELECT 'event_id->event_type' AS fd,
      |    CAST(count(*) AS BIGINT) AS n_groups,
      |    CAST(coalesce(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |      AS violating_groups,
      |    CAST(coalesce(sum(CASE WHEN d > 1 THEN n ELSE 0 END), 0) AS BIGINT)
      |      AS violating_rows,
      |    CAST(coalesce(max(d), 0) AS BIGINT) AS max_rhs_per_group FROM g2)
      |SELECT * FROM a1 UNION ALL SELECT * FROM a2""".stripMargin

  /** PNG decode through the REAL DEFLATE codec (MediaCodecs.encodePng/
    * decodePng — adaptive per-row filters, zlib via java.util.zip,
    * chunk CRCs verified): synth pixels → compressed PNG bytes → decode;
    * LOSSLESSNESS is the proof — the oracle recomputes channel sums
    * from the source formulas, so any LZ77/Huffman/filter bug breaks
    * the hash. Same fixture formulas as the BMP (q145) and QOI (q181)
    * twins: three containers, one pixel truth. */
  def q236PngDecode(s: SparkSession, dir: String): DataFrame =
    operators.Multimodal.decodePngFeatures(
      operators.Multimodal.synthPngAssets(t(s, dir, "documents"), "doc_id")).toDF()
      .select(col("asset_id"), col("ok"), col("width"), col("height"),
        col("sum_r"), col("sum_g"), col("sum_b"))

  val q236Sql: String =
    """WITH d AS (SELECT doc_id AS asset_id,
      |    CAST(8 + doc_id % 9 AS INT) AS width,
      |    CAST(8 + (doc_id * 3) % 9 AS INT) AS height FROM documents),
      |pi AS (SELECT asset_id, width, height,
      |    unnest(generate_series(0, width - 1)) AS x FROM d),
      |pj AS (SELECT asset_id, width, height, x,
      |    unnest(generate_series(0, height - 1)) AS y FROM pi)
      |SELECT asset_id, CAST(1 AS BIGINT) AS ok, width, height,
      |  CAST(sum((asset_id + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((2 * asset_id + x + 7 * y) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((5 * asset_id + 11 * x + y) % 256) AS BIGINT) AS sum_b
      |FROM pj GROUP BY 1, 2, 3, 4""".stripMargin

  /** Gzip text inflate-and-fingerprint (Compressed.gunzipTextFeatures):
    * the web-crawl ingest shape — documents arrive as real gzip members
    * (java.util.zip, bomb-capped), the decoded PLAINTEXT is
    * fingerprinted. Oracle computes strlen/md5 from the source column
    * without seeing a gzip byte, so the hash proves DEFLATE round-trip
    * fidelity on text. */
  def q237GzipText(s: SparkSession, dir: String): DataFrame =
    operators.Compressed.gunzipTextFeatures(
      operators.Compressed.synthGzipDocs(t(s, dir, "documents"), "doc_id", "text"))
      .toDF()

  val q237Sql: String =
    """SELECT doc_id, CAST(1 AS BIGINT) AS ok,
      |  CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS md5_hex
      |FROM documents WHERE text IS NOT NULL""".stripMargin

  /** Multi-member gzip shard split (Compressed.gunzipMemberFeatures over
    * synthGzipShards): documents packed 8-per-shard as concatenated REAL
    * gzip members — the WET-shard layout — then split back with byte
    * boundaries walked from the RFC 1952 framing (header extensions,
    * raw-DEFLATE body length via Inflater.getBytesRead, verified
    * CRC32+ISIZE trailers). The oracle replays (n_bytes, md5) per
    * (shard, rank-in-shard) from the source column without seeing a gzip
    * byte; boundary coordinates are spec-proven (ranged re-slice) and
    * kept out of the oracle row since they depend on DEFLATE's choices. */
  def q239GzipMembers(s: SparkSession, dir: String): DataFrame =
    operators.Compressed.gunzipMemberFeatures(
      operators.Compressed.synthGzipShards(
        t(s, dir, "documents"), "doc_id", "text", shardSize = 8))
      .toDF()
      .select(col("shard_id"), col("member_idx"), col("ok"),
        col("n_bytes"), col("md5_hex"))

  val q239Sql: String =
    """SELECT CAST(doc_id // 8 AS BIGINT) AS shard_id,
      |  CAST(row_number() OVER (PARTITION BY doc_id // 8 ORDER BY doc_id)
      |    - 1 AS BIGINT) AS member_idx,
      |  CAST(1 AS BIGINT) AS ok,
      |  CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS md5_hex
      |FROM documents WHERE text IS NOT NULL""".stripMargin

  /** GLOBAL exact ROC AUC via the score-range-sharded rank-offset path
    * (Eval.rocAucSharded): one group covering the whole embeddings table
    * — the skew shape where the plain per-group window would serialize
    * the rank sort into a single task. The oracle replays the UNSHARDED
    * Mann-Whitney form; the rank-offset identity makes the two
    * bit-identical, so the oracle row doubles as the equivalence proof. */
  def q238GlobalAucSharded(s: SparkSession, dir: String): DataFrame = {
    val x = t(s, dir, "embeddings")
      .select(lit("all").as("slice"),
        element_at(col("embedding"), 1).cast("double").as("score"),
        (col("label") < 5).cast("int").as("pos"))
    operators.Eval.rocAucSharded(x, "slice", "score", "pos", buckets = 64)
  }

  val q238Sql: String =
    """WITH x AS (SELECT 'all' AS slice,
      |    CAST(embedding[1] AS DOUBLE) AS score,
      |    CASE WHEN label < 5 THEN 1 ELSE 0 END AS pos
      |  FROM embeddings),
      |r AS (SELECT slice, pos,
      |    2 * rank() OVER (PARTITION BY slice ORDER BY score ASC) +
      |      count(*) OVER (PARTITION BY slice, score) - 1 AS ar2 FROM x),
      |g AS (SELECT slice, CAST(sum(pos) AS BIGINT) AS n_pos,
      |    CAST(sum(1 - pos) AS BIGINT) AS n_neg,
      |    CAST(sum(pos * ar2) AS BIGINT) AS s2 FROM r GROUP BY 1)
      |SELECT slice, n_pos, n_neg,
      |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
      |    ELSE round(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE) /
      |      CAST(2 * n_pos * n_neg AS DOUBLE), 6) END AS auc
      |FROM g""".stripMargin

  /** Deterministic epoch shuffle (functions.FeistelPermute): each epoch
    * orders the corpus by a seeded Feistel BIJECTION of doc_id — a full
    * collision-free reshuffle computed as one codegen'd map expression
    * (no rand(), no global sort key ties, reproducible from the seed
    * alone), with `pos % 8` dealing balanced shards because positions
    * are a permutation. The oracle replays the 4-round network through
    * CTEs in plain BIGINT arithmetic — bit-identical by construction. */
  def q240EpochShuffle(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "documents").select(col("doc_id"),
      explode(array(lit(0L), lit(1L))).as("epoch"))
    e.select(col("epoch"), col("doc_id"),
        functions.FeistelPermute.feistel(col("doc_id"),
          col("epoch") * 7919L + 17L).as("pos"))
      .withColumn("shard", pmod(col("pos"), lit(8L)))
  }

  val q240Sql: String =
    """WITH e AS (SELECT doc_id, CAST(ep AS BIGINT) AS epoch
      |  FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS ep)),
      |s0 AS (SELECT epoch, doc_id, epoch * 7919 + 17 AS sd,
      |    (doc_id // 65536) & 65535 AS l0, doc_id & 65535 AS r0 FROM e),
      |s1 AS (SELECT *, r0 AS l1,
      |    xor(l0, ((r0 * 2654435761 + (sd + 40503 * 1) * 65537) // 65536) & 65535) AS r1 FROM s0),
      |s2 AS (SELECT *, r1 AS l2,
      |    xor(l1, ((r1 * 2654435761 + (sd + 40503 * 2) * 65537) // 65536) & 65535) AS r2 FROM s1),
      |s3 AS (SELECT *, r2 AS l3,
      |    xor(l2, ((r2 * 2654435761 + (sd + 40503 * 3) * 65537) // 65536) & 65535) AS r3 FROM s2),
      |s4 AS (SELECT *, r3 AS l4,
      |    xor(l3, ((r3 * 2654435761 + (sd + 40503 * 4) * 65537) // 65536) & 65535) AS r4 FROM s3)
      |SELECT epoch, doc_id, CAST(l4 * 65536 + r4 AS BIGINT) AS pos,
      |  CAST((l4 * 65536 + r4) % 8 AS BIGINT) AS shard
      |FROM s4""".stripMargin

  /** GIF decode through the REAL LZW codec (MediaCodecs.encodeGif/
    * decodeGif — variable-width codes, clear-code resets, interlace on
    * odd ids): synth pixels → LZW-compressed GIF bytes → decode.
    * LOSSLESSNESS is the proof — the oracle recomputes channel sums
    * from the source formulas, so any LZW/color-table/interlace bug
    * breaks the hash. Fourth container over the q145/q181/q236 pixel
    * truth. */
  def q241GifDecode(s: SparkSession, dir: String): DataFrame =
    operators.Multimodal.decodeGifFeatures(
      operators.Multimodal.synthGifAssets(t(s, dir, "documents"), "doc_id")).toDF()
      .select(col("asset_id"), col("ok"), col("width"), col("height"),
        col("sum_r"), col("sum_g"), col("sum_b"))

  val q241Sql: String =
    """WITH d AS (SELECT doc_id AS asset_id,
      |    CAST(8 + doc_id % 9 AS INT) AS width,
      |    CAST(8 + (doc_id * 3) % 9 AS INT) AS height FROM documents),
      |pi AS (SELECT asset_id, width, height,
      |    unnest(generate_series(0, width - 1)) AS x FROM d),
      |pj AS (SELECT asset_id, width, height, x,
      |    unnest(generate_series(0, height - 1)) AS y FROM pi)
      |SELECT asset_id, CAST(1 AS BIGINT) AS ok, width, height,
      |  CAST(sum((asset_id + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((2 * asset_id + x + 7 * y) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((5 * asset_id + 11 * x + y) % 256) AS BIGINT) AS sum_b
      |FROM pj GROUP BY 1, 2, 3, 4""".stripMargin

  /** Split-conformal calibration per class (Eval.conformalCalibration):
    * nonconformity = −(embedding component at the true label), the
    * calibration/test split is the usual content-hash halves, α = 1/10.
    * qhat is the ⌈(n+1)·9/10⌉-th smallest calibration score — an exact
    * order statistic found via the bucket-histogram walk, no per-class
    * sort — and the empirical test coverage rides along. The oracle
    * replays k with integer ceiling math and picks qhat by row_number. */
  def q242Conformal(s: SparkSession, dir: String): DataFrame = {
    val x = t(s, dir, "embeddings").select(
      col("label").cast("int").as("cls"),
      (element_at(col("embedding"), col("label") + 1).cast("double") * lit(-1.0))
        .as("score"),
      (operators.Sampling.hashBucket(col("vec_id")) % 2 === 0).as("is_cal"))
    operators.Eval.conformalCalibration(x, "cls", "score", "is_cal", 1L, 10L)
  }

  val q242Sql: String =
    """WITH x AS (SELECT CAST(label AS INT) AS cls,
      |    CAST(embedding[label + 1] AS DOUBLE) * -1.0 AS score,
      |    CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 12))
      |      AS BIGINT) % 1000000 % 2 = 0 AS is_cal
      |  FROM embeddings),
      |c AS (SELECT cls, score FROM x WHERE is_cal),
      |n AS (SELECT cls, count(*) AS n_cal FROM c GROUP BY 1),
      |k AS (SELECT cls, n_cal, ((n_cal + 1) * 9 + 9) // 10 AS k_rank FROM n),
      |r AS (SELECT cls, score,
      |    row_number() OVER (PARTITION BY cls ORDER BY score) AS rn FROM c),
      |q AS (SELECT k.cls, k.n_cal, k.k_rank, r.score AS qhat
      |  FROM k LEFT JOIN r ON r.cls IS NOT DISTINCT FROM k.cls
      |    AND r.rn = k.k_rank),
      |t AS (SELECT cls, score FROM x WHERE NOT is_cal)
      |SELECT q.cls, q.n_cal, q.k_rank, q.qhat,
      |  CAST(count(t.score) AS BIGINT) AS n_test,
      |  CASE WHEN count(t.score) > 0
      |    THEN CAST(sum(CASE WHEN q.k_rank > q.n_cal OR t.score <= q.qhat
      |      THEN 1 ELSE 0 END) AS BIGINT) END AS n_covered,
      |  CASE WHEN count(t.score) > 0
      |    THEN round(CAST(sum(CASE WHEN q.k_rank > q.n_cal
      |      OR t.score <= q.qhat THEN 1 ELSE 0 END) AS DOUBLE)
      |      / count(t.score), 6) END AS coverage
      |FROM q LEFT JOIN t ON t.cls IS NOT DISTINCT FROM q.cls
      |GROUP BY 1, 2, 3, 4
      |UNION ALL
      |SELECT t.cls, CAST(0 AS BIGINT) AS n_cal,
      |  CAST(NULL AS BIGINT) AS k_rank, CAST(NULL AS DOUBLE) AS qhat,
      |  CAST(count(*) AS BIGINT) AS n_test,
      |  CAST(NULL AS BIGINT) AS n_covered, CAST(NULL AS DOUBLE) AS coverage
      |FROM t LEFT JOIN n ON n.cls IS NOT DISTINCT FROM t.cls
      |WHERE n.n_cal IS NULL GROUP BY 1""".stripMargin

  /** MRR@10 over the exact cosine ranking (Similarity.reciprocalRankAtK):
    * the first-hit retrieval readout beside AP (q133), nDCG (q221) and
    * RRF (q137) — same 16-query panel, same tie discipline (round(cos,6)
    * desc, neighbor_id asc), NULL when no same-label neighbor reaches
    * the top 10. */
  def q243Mrr(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.reciprocalRankAtK(emb.filter(col("vec_id") < 16), emb, k = 10)
  }

  val q243Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
       |    label AS query_label FROM embeddings WHERE vec_id < 16),
       |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
       |    label AS neighbor_label FROM embeddings),
       |scored AS (SELECT query_id, query_label,
       |    CAST(CASE WHEN query_label IS NOT DISTINCT FROM neighbor_label
       |      THEN 1 ELSE 0 END AS BIGINT) AS rel,
       |    ${cosSql("qv", "cv")} AS cos, neighbor_id
       |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk FROM scored)
       |SELECT query_id, query_label,
       |  min(CASE WHEN rnk <= 10 AND rel = 1 THEN rnk END) AS first_rel_rank,
       |  round(CAST(1 AS DOUBLE) / min(CASE WHEN rnk <= 10 AND rel = 1
       |    THEN rnk END), 6) AS rr_at_10
       |FROM r GROUP BY 1, 2""".stripMargin

  /** Omni-container perceptual dedup: the SAME pixels shipped as BMP,
    * QOI, PNG and GIF (every real codec in the house, magic-byte
    * sniffed) must collapse to ONE aHash group with all four containers
    * present — q182's two-container check extended across the full
    * codec surface. The oracle computes the hash ONCE from the pixel
    * formulas and asserts the 4× multiplicity. */
  def q244OmniDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // container namespace = bits 40+ (doc_id can never reach 2^40, so
    // cross-container asset ids cannot collide at any scale factor)
    val ns = 1L << 40
    val assets = Multimodal.synthBmpAssets(docs, "doc_id")
      .unionByName(Multimodal.synthQoiAssets(docs, "doc_id")
        .withColumn("asset_id", col("asset_id") + lit(ns)))
      .unionByName(Multimodal.synthPngAssets(docs, "doc_id")
        .withColumn("asset_id", col("asset_id") + lit(2L * ns)))
      .unionByName(Multimodal.synthGifAssets(docs, "doc_id")
        .withColumn("asset_id", col("asset_id") + lit(3L * ns)))
    Multimodal.imageAHashSniff(assets).toDF()
      .filter(col("ok") === 1)
      .groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(count(lit(1)).as("n_assets"),
        countDistinct(expr(s"asset_id div ${ns}L")).as("n_containers"),
        min(col("asset_id")).as("rep_asset_id"))
  }

  val q244Sql: String =
    """WITH d AS (SELECT doc_id AS asset_id,
      |    CAST(8 + doc_id % 9 AS INT) AS w,
      |    CAST(8 + (doc_id * 3) % 9 AS INT) AS h FROM documents),
      |gi AS (SELECT *, unnest(generate_series(0, 7)) AS i FROM d),
      |gc AS (SELECT *, unnest(generate_series(0, 7)) AS j FROM gi),
      |s AS (SELECT asset_id, i, j,
      |    (asset_id + 3 * ((i * w) // 8) + 5 * ((j * h) // 8)) % 256
      |    + (2 * asset_id + ((i * w) // 8) + 7 * ((j * h) // 8)) % 256
      |    + (5 * asset_id + 11 * ((i * w) // 8) + ((j * h) // 8)) % 256 AS lum
      |  FROM gc),
      |t AS (SELECT asset_id, sum(lum) AS total FROM s GROUP BY 1),
      |b AS (SELECT s.asset_id, j * 8 + i AS k,
      |    CASE WHEN lum * 64 > total THEN 1 ELSE 0 END AS bit
      |  FROM s JOIN t ON s.asset_id = t.asset_id),
      |hashes AS (SELECT asset_id,
      |    CAST(sum(CASE WHEN bit = 1 AND k < 32
      |      THEN CAST(1 AS BIGINT) << k ELSE 0 END) AS BIGINT) AS ahash_hi,
      |    CAST(sum(CASE WHEN bit = 1 AND k >= 32
      |      THEN CAST(1 AS BIGINT) << (k - 32) ELSE 0 END) AS BIGINT) AS ahash_lo
      |  FROM b GROUP BY 1)
      |SELECT ahash_hi, ahash_lo,
      |  CAST(4 * count(*) AS BIGINT) AS n_assets,
      |  CAST(4 AS BIGINT) AS n_containers,
      |  min(asset_id) AS rep_asset_id
      |FROM hashes GROUP BY 1, 2""".stripMargin

  /** Avro container decode (AvroCodec.decodeAvroFeatures): documents
    * round-trip through REAL Avro Object Container Files — binary
    * varint/zigzag records, embedded schema, null AND deflate block
    * codecs rotating by id — and the decoded record count / Σseq / body
    * bytes / first-body md5 must match the source column, proving the
    * container walk without the spark-avro connector. */
  def q245AvroDecode(s: SparkSession, dir: String): DataFrame =
    operators.AvroCodec.decodeAvroFeatures(
      operators.AvroCodec.synthAvroDocs(t(s, dir, "documents"), "doc_id", "text"))
      .toDF()
      .select(col("asset_id"), col("ok"), col("n_records"), col("sum_seq"),
        col("n_body_bytes"), col("md5_first"))

  val q245Sql: String =
    """SELECT doc_id AS asset_id, CAST(1 AS BIGINT) AS ok,
      |  CAST(1 + doc_id % 3 AS BIGINT) AS n_records,
      |  CAST(((doc_id % 3) * (doc_id % 3 + 1)) // 2 AS BIGINT) AS sum_seq,
      |  CAST((1 + doc_id % 3) * strlen(text) AS BIGINT) AS n_body_bytes,
      |  md5(text) AS md5_first
      |FROM documents WHERE text IS NOT NULL""".stripMargin

  /** Animated-GIF structural metadata (Multimodal.gifMetaFeatures over
    * MediaCodecs.gifMeta): frame counts + poster-frame channel sums from
    * ONE fixture — the container walk (extensions + per-frame LZW
    * sub-blocks skipped by length, clean-trailer required) joined to the
    * first-frame pixel decode, proving the multi-image walk and the
    * poster-frame contract against the same formulas. */
  def q246GifMeta(s: SparkSession, dir: String): DataFrame = {
    val assets = operators.Multimodal.synthAnimatedGifAssets(
      t(s, dir, "documents"), "doc_id")
    val meta = operators.Multimodal.gifMetaFeatures(assets).toDF()
      .select(col("asset_id"), col("ok"), col("width"), col("height"),
        col("n_frames"), col("animated"))
    val poster = operators.Multimodal.decodeGifFeatures(assets).toDF()
      .select(col("asset_id").as("_pid"), col("sum_r").as("poster_sum"))
    meta.join(poster, col("asset_id") === col("_pid")).drop("_pid")
  }

  val q246Sql: String =
    """WITH d AS (SELECT doc_id AS asset_id,
      |    CAST(8 + doc_id % 9 AS INT) AS width,
      |    CAST(8 + (doc_id * 3) % 9 AS INT) AS height FROM documents),
      |pi AS (SELECT asset_id, width, height,
      |    unnest(generate_series(0, width - 1)) AS x FROM d),
      |pj AS (SELECT asset_id, width, height, x,
      |    unnest(generate_series(0, height - 1)) AS y FROM pi)
      |SELECT asset_id, CAST(1 AS BIGINT) AS ok, width, height,
      |  CAST(1 + asset_id % 4 AS BIGINT) AS n_frames,
      |  asset_id % 4 > 0 AS animated,
      |  CAST(sum((asset_id + 3 * x + 5 * y) % 256) AS BIGINT) AS poster_sum
      |FROM pj GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  /** Isotonic calibration per class (Eval.isotonicCalibration): the PAV
    * least-squares monotone fit of a noisy outcome against the class
    * confidence. The oracle replays the fit through the MINIMAX identity
    * ŷ_k = max_{i≤k} min_{j≥k} mean(y[i..j]) — a different algorithm
    * (prefix-sum pairs + two windows) than the linear stack walk, so the
    * engines cross-check the mathematics, not the implementation. */
  def q247Isotonic(s: SparkSession, dir: String): DataFrame = {
    val conf = element_at(col("embedding"), col("label") + 1)
    val x = t(s, dir, "embeddings").select(
      col("label").cast("int").as("cls"),
      conf.cast("double").as("score"),
      when(conf > 0, col("vec_id") % 4 < 3)
        .otherwise(col("vec_id") % 4 < 1).cast("int").as("pos"))
    operators.Eval.isotonicCalibration(x, "cls", "score", "pos")
  }

  val q247Sql: String =
    """WITH x AS (SELECT CAST(label AS INT) AS cls,
      |    CAST(embedding[label + 1] AS DOUBLE) AS score,
      |    CASE WHEN embedding[label + 1] > 0
      |      THEN CASE WHEN vec_id % 4 < 3 THEN 1 ELSE 0 END
      |      ELSE CASE WHEN vec_id % 4 < 1 THEN 1 ELSE 0 END END AS pos
      |  FROM embeddings),
      |p AS (SELECT cls, score, CAST(sum(pos) AS BIGINT) AS sy,
      |    CAST(count(*) AS BIGINT) AS n FROM x GROUP BY 1, 2),
      |r AS (SELECT *, CAST(row_number() OVER w AS BIGINT) AS k,
      |    sum(sy) OVER w AS cs, sum(n) OVER w AS cn FROM p
      |  WINDOW w AS (PARTITION BY cls ORDER BY score)),
      |a AS (SELECT i.cls, i.k AS ik, j.k AS jk,
      |    CAST(j.cs - (i.cs - i.sy) AS DOUBLE) / (j.cn - (i.cn - i.n)) AS avgv
      |  FROM r i JOIN r j ON i.cls = j.cls AND j.k >= i.k),
      |m AS (SELECT cls, ik, jk, min(avgv) OVER
      |    (PARTITION BY cls, ik ORDER BY jk DESC) AS mv FROM a),
      |f AS (SELECT cls, jk, ik, max(mv) OVER
      |    (PARTITION BY cls, jk ORDER BY ik) AS fv FROM m)
      |SELECT r.cls, r.score, r.n, r.sy AS sum_pos, round(f.fv, 6) AS fitted
      |FROM r JOIN f ON f.cls = r.cls AND f.jk = r.k AND f.ik = r.k""".stripMargin

  /** HTML → text extraction (Html.htmlProfile over Html.synthHtmlDocs):
    * documents wrapped in deterministic pages — title, inline script with
    * a bare `<`, style block, comment, entity-encoded heading, link every
    * third doc — then stripped back to text with structural counts. The
    * oracle rebuilds the identical markup by concat and replays the same
    * common-subset regex chain (see Html.scala's Java/RE2 note); the
    * text-to-markup ratio is integer ppm, no rounded doubles. */
  def q248HtmlExtract(s: SparkSession, dir: String): DataFrame =
    operators.Html.htmlProfile(
      operators.Html.synthHtmlDocs(t(s, dir, "documents"), "doc_id", "text"))

  val q248Sql: String =
    """WITH h AS (SELECT doc_id,
      |    '<!DOCTYPE html><html><head><title>Doc ' || doc_id ||
      |    ' &amp; friends</title><script type="text/javascript">var n = ' ||
      |    doc_id || ' < 99; // inline</script><style>.c' || (doc_id % 7) ||
      |    ' { color: #333; }</style></head><body><!-- shard ' || (doc_id % 5) ||
      |    ' --><h1>Doc &lt;' || doc_id || '&gt;</h1><p>' ||
      |    substring(text, 1, 40) || '</p>' ||
      |    CASE WHEN doc_id % 3 = 0
      |      THEN '<a href="http://example.org/d' || doc_id || '">ref</a>'
      |      ELSE '' END ||
      |    '<p>' || substring(text, 41) ||
      |    ' &quot;quoted&quot;&nbsp;tail</p></body></html>' AS html
      |  FROM documents WHERE text IS NOT NULL),
      |s AS (SELECT doc_id, html,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
      |      '(?s)<!--.*?-->', ' ', 'g'),
      |      '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
      |      '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
      |      '<[^>]*>', ' ', 'g') AS strp
      |  FROM h),
      |d AS (SELECT doc_id, html,
      |    trim(regexp_replace(replace(replace(replace(replace(replace(replace(
      |      strp, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |      '&#39;', CHR(39)), '&nbsp;', ' '), '&amp;', '&'),
      |      '[ \t\n\x0B\f\r]+', ' ', 'g')) AS text,
      |    replace(replace(replace(replace(replace(replace(
      |      regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |      '&#39;', CHR(39)), '&nbsp;', ' '), '&amp;', '&') AS title
      |  FROM s)
      |SELECT doc_id, title, text,
      |  CAST(length(html) AS BIGINT) AS html_chars,
      |  CAST(length(text) AS BIGINT) AS text_chars,
      |  CAST(length(text) AS BIGINT) * 1000000 // CAST(length(html) AS BIGINT) AS text_ppm,
      |  CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
      |  CAST(len(regexp_extract_all(html, '(?i)<a[ \t\n\x0B\f\r][^>]*href')) AS BIGINT) AS n_links,
      |  CAST(len(regexp_extract_all(html, '(?i)<p[ \t\n\x0B\f\r>]')) AS BIGINT) AS n_paragraphs
      |FROM d""".stripMargin

  /** URL parse profile + registrable domain (Urls.urlProfile over
    * Urls.synthUrls): RFC-3986-shaped regex split (scheme/host/port/path/
    * query) plus the mini-PSL eTLD+1 — the per-domain keying primitive of
    * crawl curation. Fixture covers co.uk/com.au suffixes, an IPv4
    * literal, a single-label host, case-folding, empty-vs-'?'-vs-absent
    * queries, and a malformed row every 97th event. */
  def q249UrlProfile(s: SparkSession, dir: String): DataFrame =
    operators.Urls.urlProfile(operators.Urls.synthUrls(t(s, dir, "events")))

  val q249Sql: String = {
    val re = """^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?"""
    val psl = operators.Urls.PublicSuffixes2.map(sx => s"'$sx'").mkString(", ")
    s"""WITH u AS (SELECT event_id,
       |    CASE WHEN event_id % 97 = 0 THEN 'not a url ' || event_id
       |    ELSE (CASE WHEN event_id % 2 = 0 THEN 'https://' ELSE 'http://' END) ||
       |      (CASE WHEN event_id % 11 = 0 THEN 'Site' || (event_id % 5) || '.Example.CO.UK'
       |            WHEN event_id % 11 = 1 THEN '10.0.' || (event_id % 256) || '.7'
       |            WHEN event_id % 11 = 2 THEN 'localhost'
       |            WHEN event_id % 11 = 3 THEN 'cdn.host' || (event_id % 7) || '.com.au'
       |            ELSE 'www.dom' || (event_id % 50) || '.org' END) ||
       |      (CASE WHEN event_id % 13 = 0 THEN ':8080' ELSE '' END) ||
       |      (CASE WHEN event_id % 4 = 0 THEN ''
       |            WHEN event_id % 4 = 1 THEN '/'
       |            WHEN event_id % 4 = 2 THEN '/a/b/page' || (event_id % 9)
       |            ELSE '/p//q' || (event_id % 3) || '/' END) ||
       |      (CASE WHEN event_id % 5 = 0 THEN '?u=' || event_id || '&ref=feed'
       |            WHEN event_id % 5 = 1 THEN '?' ELSE '' END)
       |    END AS url FROM events),
       |p AS (SELECT event_id, url,
       |    lower(nullif(regexp_extract(url, '$re', 1), '')) AS scheme,
       |    lower(nullif(regexp_extract(url, '$re', 2), '')) AS host,
       |    TRY_CAST(nullif(regexp_replace(regexp_extract(url, '$re', 3), '^:', ''), '') AS BIGINT) AS port,
       |    regexp_extract(url, '$re', 4) AS path,
       |    nullif(regexp_replace(regexp_extract(url, '$re', 5), '^\\?', ''), '') AS query_string
       |  FROM u),
       |e AS (SELECT *, string_split(host, '.') AS labs FROM p)
       |SELECT event_id, url, scheme, host, port, path, query_string,
       |  CAST(len(list_filter(string_split(path, '/'), x -> x <> '')) AS BIGINT) AS path_depth,
       |  CAST(CASE WHEN query_string IS NULL THEN 0
       |       ELSE len(string_split(query_string, '&')) END AS BIGINT) AS n_params,
       |  CASE WHEN host IS NULL THEN NULL
       |       WHEN regexp_matches(host, '^[0-9.]+${"$"}') THEN host
       |       WHEN len(labs) <= 1 THEN host
       |       WHEN (labs[-2] || '.' || labs[-1]) IN ($psl) THEN
       |         CASE WHEN len(labs) >= 3
       |              THEN labs[-3] || '.' || labs[-2] || '.' || labs[-1]
       |              ELSE host END
       |       ELSE labs[-2] || '.' || labs[-1] END AS etld1
       |FROM e""".stripMargin
  }

  /** WARC record parse (Warc.warcRecordFeatures over Warc.synthWarcShards):
    * documents laid out as Common-Crawl-style WET shards — one gzip member
    * per conversion record, 8 records per shard — then split (RFC 1952
    * walk) and parsed (version line, CRLF headers, Content-Length-bounded
    * payload). The oracle replays every typed field and the payload md5
    * from the source text without seeing a WARC byte. */
  def q250WarcRecords(s: SparkSession, dir: String): DataFrame =
    operators.Warc.warcRecordFeatures(
      operators.Warc.synthWarcShards(t(s, dir, "documents"), "doc_id", "text"))
      .toDF()

  val q250Sql: String =
    """SELECT CAST(doc_id // 8 AS BIGINT) AS shard_id,
      |  CAST(row_number() OVER (PARTITION BY doc_id // 8 ORDER BY doc_id)
      |    - 1 AS BIGINT) AS member_idx,
      |  CAST(1 AS BIGINT) AS ok,
      |  'conversion' AS warc_type,
      |  'http://example.org/doc/' || doc_id AS target_uri,
      |  'text/plain' AS content_type,
      |  CAST(strlen(text) AS BIGINT) AS content_length,
      |  CAST(6 AS BIGINT) AS n_headers,
      |  md5(text) AS md5_hex
      |FROM documents WHERE text IS NOT NULL""".stripMargin

  /** Multi-codec shard ingest (Compressed.codecTextFeatures over
    * synthCodecDocs): zstd / lz4-frame / snappy-framed payloads (the
    * `.jsonl.zst`-era shard formats) sniffed by magic bytes and inflated
    * through the reference streams under the shared bomb cap. The oracle
    * replays the codec choice from id arithmetic and the plaintext
    * fingerprint from the source column. */
  def q251CodecText(s: SparkSession, dir: String): DataFrame =
    operators.Compressed.codecTextFeatures(
      operators.Compressed.synthCodecDocs(t(s, dir, "documents"), "doc_id", "text"))
      .toDF()

  val q251Sql: String =
    """SELECT doc_id,
      |  CASE ((doc_id % 3) + 3) % 3 WHEN 0 THEN 'zstd' WHEN 1 THEN 'lz4'
      |    ELSE 'snappy' END AS codec,
      |  CAST(1 AS BIGINT) AS ok,
      |  CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS md5_hex
      |FROM documents WHERE text IS NOT NULL""".stripMargin

  /** The crawl-ingest chain END TO END as one oracle row set: documents
    * wrapped as HTML pages (Html.synthHtmlDocs) → laid out as WARC shards
    * of text/html response records, one gzip member each
    * (Warc.synthWarcShards) → member-split + record-parsed back
    * (Warc.warcTextRecords) → HTML-stripped and profiled
    * (Html.htmlProfile). The oracle rebuilds the markup by concat and
    * replays extraction — every byte crosses the gzip framing, the WARC
    * framing, AND the tag stripper before it reaches the result. */
  def q252CrawlPipeline(s: SparkSession, dir: String): DataFrame = {
    val pages = operators.Html.synthHtmlDocs(t(s, dir, "documents"), "doc_id", "text")
    val shards = operators.Warc.synthWarcShards(pages, "doc_id", "html",
      shardSize = 8, contentType = "text/html")
    val recs = operators.Warc.warcTextRecords(shards).toDF()
      .filter(col("ok") === 1)
      .select(col("target_uri"), col("text").as("html"))
    operators.Html.htmlProfile(recs, "target_uri", "html")
      .select(col("doc_id").as("target_uri"), col("title"), col("text_chars"),
        col("text_ppm"), col("n_links"), col("n_paragraphs"),
        md5(col("text")).as("text_md5"))
  }

  val q252Sql: String =
    """WITH h AS (SELECT doc_id,
      |    '<!DOCTYPE html><html><head><title>Doc ' || doc_id ||
      |    ' &amp; friends</title><script type="text/javascript">var n = ' ||
      |    doc_id || ' < 99; // inline</script><style>.c' || (doc_id % 7) ||
      |    ' { color: #333; }</style></head><body><!-- shard ' || (doc_id % 5) ||
      |    ' --><h1>Doc &lt;' || doc_id || '&gt;</h1><p>' ||
      |    substring(text, 1, 40) || '</p>' ||
      |    CASE WHEN doc_id % 3 = 0
      |      THEN '<a href="http://example.org/d' || doc_id || '">ref</a>'
      |      ELSE '' END ||
      |    '<p>' || substring(text, 41) ||
      |    ' &quot;quoted&quot;&nbsp;tail</p></body></html>' AS html
      |  FROM documents WHERE text IS NOT NULL),
      |s AS (SELECT doc_id, html,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
      |      '(?s)<!--.*?-->', ' ', 'g'),
      |      '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
      |      '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
      |      '<[^>]*>', ' ', 'g') AS strp
      |  FROM h),
      |d AS (SELECT doc_id, html,
      |    trim(regexp_replace(replace(replace(replace(replace(replace(replace(
      |      strp, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |      '&#39;', CHR(39)), '&nbsp;', ' '), '&amp;', '&'),
      |      '[ \t\n\x0B\f\r]+', ' ', 'g')) AS text,
      |    replace(replace(replace(replace(replace(replace(
      |      regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |      '&#39;', CHR(39)), '&nbsp;', ' '), '&amp;', '&') AS title
      |  FROM s)
      |SELECT 'http://example.org/doc/' || doc_id AS target_uri, title,
      |  CAST(length(text) AS BIGINT) AS text_chars,
      |  CAST(length(text) AS BIGINT) * 1000000 // CAST(length(html) AS BIGINT) AS text_ppm,
      |  CAST(len(regexp_extract_all(html, '(?i)<a[ \t\n\x0B\f\r][^>]*href')) AS BIGINT) AS n_links,
      |  CAST(len(regexp_extract_all(html, '(?i)<p[ \t\n\x0B\f\r>]')) AS BIGINT) AS n_paragraphs,
      |  md5(text) AS text_md5
      |FROM d""".stripMargin

  /** Per-DOMAIN crawl cap (Urls.etld1 + Sampling.capPerGroup): the reason
    * the registrable domain exists — capping documents per eTLD+1 so
    * subdomain farms can't dodge a per-host limit. Hash-threshold
    * sampling (deterministic in the id, rate = cap/n), reduced to kept
    * counts per domain. The oracle nests the full q249 parse replay as a
    * CTE and reapplies the q72 threshold arithmetic keyed on etld1. */
  def q253DomainCap(s: SparkSession, dir: String): DataFrame = {
    // materialize the (event_id, etld1) projection ONCE: capPerGroup
    // references its input twice (group counts + keep filter), filter
    // pushdown re-inlines the synth-URL concat into every reference, and
    // codegen CSE skips conditional branches — unmaterialized, the regex
    // tree evaluated ~6x per row (4.6 s vs 0.9 s at sf0.1)
    val urls = operators.Urls.urlProfile(operators.Urls.synthUrls(t(s, dir, "events")))
      .filter(col("host").isNotNull)
      .select(col("event_id"), col("etld1"))
      .materialized
    operators.Sampling.capPerGroup(urls, "etld1", "event_id", 50)
      .groupBy(col("etld1")).agg(count(lit(1)).as("n_kept"))
  }

  val q253Sql: String =
    s"""WITH base AS (
       |$q249Sql
       |),
       |b AS (SELECT event_id, etld1 FROM base WHERE host IS NOT NULL),
       |n AS (SELECT etld1, count(*) AS n_docs FROM b GROUP BY 1),
       |t AS (SELECT etld1, least(1000000, (50 * 1000000) // n_docs) AS thr FROM n),
       |k AS (SELECT d.etld1 FROM b d JOIN t ON d.etld1 = t.etld1
       |      WHERE CAST(('0x' || substring(md5(CAST(d.event_id AS VARCHAR)), 1, 12)) AS BIGINT)
       |            % 1000000 < t.thr)
       |SELECT etld1, count(*) AS n_kept FROM k GROUP BY etld1""".stripMargin

  /** Frequent 3-step event paths (Events.frequentPaths): the order-3
    * generalization of q231's transitions — overlapping type trigrams per
    * user from one shared lead window, counted with distinct-user reach,
    * support ≥ 5. */
  def q254EventPaths(s: SparkSession, dir: String): DataFrame =
    operators.Events.frequentPaths(t(s, dir, "events"), k = 3, minSupport = 5L)

  val q254Sql: String =
    """WITH st AS (SELECT user_id, event_type AS t0,
      |    lead(event_type, 1) OVER w AS t1,
      |    lead(event_type, 2) OVER w AS t2
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id))
      |SELECT replace(replace(t0, '\', '\\'), '>', '\>') || '>' ||
      |  replace(replace(t1, '\', '\\'), '>', '\>') || '>' ||
      |  replace(replace(t2, '\', '\\'), '>', '\>') AS path,
      |  CAST(count(*) AS BIGINT) AS n_occurrences,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_units
      |FROM st WHERE t1 IS NOT NULL AND t2 IS NOT NULL
      |GROUP BY 1 HAVING count(*) >= 5""".stripMargin

  /** Registrable domains under the FULL publicsuffix.org algorithm
    * (Urls.etld1OfPsl over the TrimmedPsl real-rule subset): wildcard
    * rules (`*.ck`, `*.kawasaki.jp`), their exceptions (`!www.ck`,
    * `!city.kawasaki.jp`), longest-match priority, and the implicit `*`
    * default — the cases the naive last-2-labels walk gets wrong within
    * the first terabyte of a real crawl. The oracle interpolates the
    * SAME rule lists from TrimmedPsl (they cannot drift) and replays the
    * walk as a CASE over last-k label slices. */
  def q255PslEtld1(s: SparkSession, dir: String): DataFrame = {
    val hosts = operators.Urls.synthPslHosts(t(s, dir, "events"))
    hosts.select(col("host"), operators.Urls.etld1Of(col("host")).as("etld1"))
      .groupBy(col("host"), col("etld1")).agg(count(lit(1)).as("n"))
  }

  val q255Sql: String = {
    // the CASE arms are GENERATED from TrimmedPsl exactly the way the
    // Scala walk unrolls (exceptions longest-first and overriding, then
    // plain/wildcard longest-first, then the implicit '*'), so a rule-set
    // change cannot drift the oracle or throw on a missing length slot
    def inList(xs: Seq[String]) = xs.sorted.map(x => s"'$x'").mkString(", ")
    def lastK(k: Int) = if (k == 1) "labs[n]" else s"array_to_string(labs[n-${k - 1}:n], '.')"
    val psl = operators.Urls.TrimmedPsl
    val excArms = psl.exceptionsByLen.toSeq.sortBy(-_._1).map { case (e, rules) =>
      s"WHEN n >= $e AND ${lastK(e)} IN (${inList(rules)}) THEN ${e - 1}"
    }
    val ruleArms = (psl.maxRuleLen to 1 by -1).flatMap { k =>
      val conds =
        psl.plainByLen.get(k).map(r => s"${lastK(k)} IN (${inList(r)})").toSeq ++
          (if (k >= 2) psl.wildcardParentsByLen.get(k - 1)
                          .map(p => s"${lastK(k - 1)} IN (${inList(p)})").toSeq
           else Nil)
      if (conds.isEmpty) Nil
      else Seq(s"WHEN n >= $k AND (${conds.mkString(" OR ")}) THEN $k")
    }
    val sfxCase =
      (excArms ++ ruleArms).mkString("CASE ", "\n       |         ", "\n       |         ELSE 1 END")
    s"""WITH h AS (SELECT event_id,
       |    CASE WHEN event_id % 9 = 0 THEN 'www.ck'
       |         WHEN event_id % 9 = 1 THEN 'shop' || (event_id % 7) || '.ck'
       |         WHEN event_id % 9 = 2 THEN 'a' || (event_id % 5) || '.shop.ck'
       |         WHEN event_id % 9 = 3 THEN 'city.kawasaki.jp'
       |         WHEN event_id % 9 = 4 THEN 'sub' || (event_id % 3) || '.city.kawasaki.jp'
       |         WHEN event_id % 9 = 5 THEN 'blog' || (event_id % 4) || '.kawasaki.jp'
       |         WHEN event_id % 9 = 6 THEN 'x.blog' || (event_id % 4) || '.kawasaki.jp'
       |         WHEN event_id % 9 = 7 THEN 'news.example' || (event_id % 6) || '.co.uk'
       |         ELSE 'site' || (event_id % 8) || '.example.org' END AS host
       |  FROM events),
       |e AS (SELECT host, string_split(host, '.') AS labs,
       |    len(string_split(host, '.')) AS n FROM h),
       |s AS (SELECT host, labs, n,
       |    $sfxCase AS sfx
       |  FROM e)
       |SELECT host,
       |  CASE WHEN n <= sfx THEN host
       |       ELSE array_to_string(labs[n-sfx:n], '.') END AS etld1,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM s GROUP BY 1, 2""".stripMargin
  }

  /** WARC response-record HTTP envelope (Warc.warcResponseRecords over
    * synthWarcResponseShards): documents laid out as Common Crawl WARC
    * proper — request/response record PAIRS, the response payload a full
    * HTTP message — then member-split and envelope-parsed back to typed
    * status / served Content-Type / entity-body fingerprint. The oracle
    * replays both members per document from id arithmetic: request rows
    * have NULL http fields, response rows carry the status rotation
    * (404 every 13th id), the mime rotation, and md5(text). */
  def q256WarcHttp(s: SparkSession, dir: String): DataFrame =
    operators.Warc.warcResponseRecords(
      operators.Warc.synthWarcResponseShards(t(s, dir, "documents"), "doc_id", "text"))
      .toDF()

  val q256Sql: String =
    """WITH d AS (SELECT doc_id, text,
      |    CAST(doc_id // 8 AS BIGINT) AS shard_id,
      |    CAST(row_number() OVER (PARTITION BY doc_id // 8 ORDER BY doc_id)
      |      - 1 AS BIGINT) AS pos
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT shard_id, CAST(2 * pos AS BIGINT) AS member_idx,
      |  CAST(1 AS BIGINT) AS ok, 'request' AS warc_type,
      |  'http://example.org/doc/' || doc_id AS target_uri,
      |  CAST(NULL AS BIGINT) AS http_status,
      |  CAST(NULL AS VARCHAR) AS http_content_type,
      |  CAST(NULL AS BIGINT) AS body_bytes, CAST(NULL AS VARCHAR) AS md5_hex
      |FROM d
      |UNION ALL
      |SELECT shard_id, CAST(2 * pos + 1 AS BIGINT) AS member_idx,
      |  CAST(1 AS BIGINT) AS ok, 'response' AS warc_type,
      |  'http://example.org/doc/' || doc_id AS target_uri,
      |  CAST(CASE WHEN ((doc_id % 13) + 13) % 13 = 0 THEN 404 ELSE 200 END
      |    AS BIGINT) AS http_status,
      |  CASE ((doc_id % 3) + 3) % 3 WHEN 0 THEN 'text/html; charset=utf-8'
      |    WHEN 1 THEN 'text/plain' ELSE 'application/json' END
      |    AS http_content_type,
      |  CAST(strlen(text) AS BIGINT) AS body_bytes, md5(text) AS md5_hex
      |FROM d""".stripMargin

  /** Trained char-trigram language ID vs the marker-word heuristic
    * (TextAnalysis.langIdNgram beside langIdHeuristic, on q119's
    * confusion-matrix frame): add-one multinomial NB over character
    * trigrams of the normalized text, trained on the corpus's own
    * declared `lang` column — the fastText-lite profile classifier a
    * real mixture pipeline keys on. Output: one row per (declared,
    * ngram-predicted, heuristic-predicted) cell with counts — the
    * three-way matrix localizes exactly where the trained profile and
    * the heuristic disagree. The oracle replays the FULL NB scoring
    * (q110's once-rounded decimal folds) over a trigram lateral. */
  def q257LangIdNgram(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nb = TextAnalysis.langIdNgram(docs)
    val heur = docs.select(col("doc_id"),
      TextAnalysis.langIdHeuristic(col("text")).as("pred_heur"))
    nb.join(heur, Seq("doc_id"))
      .groupBy(col("actual").as("lang"), col("predicted").as("pred_ngram"),
        col("pred_heur"))
      .agg(count(lit(1)).as("n"),
        sum(col("correct")).as("n_ngram_match"))
  }

  val q257Sql: String = {
    def hits(ws: String) = s"len(regexp_extract_all(text, '(?i)\\b($ws)\\b'))"
    val en = hits("the|and|of|to|in"); val de = hits("der|die|das|und|ist")
    val fr = hits("le|la|les|et|est"); val es = hits("el|los|las|es|y")
    s"""WITH base AS (SELECT doc_id, lang AS actual,
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM documents),
       |d AS (SELECT doc_id, actual,
       |    CAST(CASE WHEN norm IS NULL THEN NULL
       |         WHEN len(norm) >= 3 THEN len(norm) - 2 ELSE 0 END AS BIGINT) AS dl
       |  FROM base),
       |tok AS (SELECT doc_id, substring(norm, CAST(i AS INT), 3) AS term
       |  FROM (SELECT doc_id, norm,
       |      unnest(range(1, CAST(len(norm) AS BIGINT) - 1)) AS i
       |    FROM base WHERE len(norm) >= 3)),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       |cst AS (SELECT d.actual AS cand, tf.term, sum(tf.tf) AS cst
       |        FROM tf JOIN d USING (doc_id) GROUP BY 1, 2),
       |cs AS (SELECT cand, sum(cst) AS cs FROM cst GROUP BY 1),
       |vc AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM tf),
       |nd AS (SELECT actual AS cand, CAST(count(*) AS BIGINT) AS nd FROM d GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
       |consts AS (SELECT cand,
       |    CAST(round(ln(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS prior_r,
       |    CAST(round(ln(CAST(cs AS DOUBLE) + CAST(v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS floor_r
       |  FROM nd CROSS JOIN nn JOIN cs USING (cand) CROSS JOIN vc
       |  WHERE cand IS NOT NULL),
       |lmst AS (SELECT cand, term,
       |    CAST(round(ln(CAST(cst AS DOUBLE) + 1.0), 6) AS DECIMAL(18,6)) AS lp1_r
       |  FROM cst WHERE cand IS NOT NULL),
       |part AS (SELECT tf.doc_id, lmst.cand,
       |    sum(CAST(tf.tf AS DECIMAL(18,6)) * lp1_r) AS part
       |  FROM tf JOIN lmst USING (term) GROUP BY 1, 2),
       |sc AS (SELECT d.doc_id, d.actual, c.cand,
       |    c.prior_r - CAST(d.dl AS DECIMAL(18,6)) * c.floor_r
       |      + coalesce(part, CAST(0 AS DECIMAL(38,12))) AS score
       |  FROM d CROSS JOIN consts c
       |  LEFT JOIN part ON part.doc_id = d.doc_id AND part.cand = c.cand),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, cand ASC) AS rnk FROM sc),
       |nbp AS (SELECT doc_id, actual, cand AS pred_ngram,
       |    CAST(CASE WHEN cand = actual THEN 1 ELSE 0 END AS BIGINT) AS correct
       |  FROM r WHERE rnk = 1),
       |hp AS (SELECT doc_id,
       |    CASE WHEN greatest($en, $de, $fr, $es) = 0 THEN 'und'
       |         WHEN $en = greatest($en, $de, $fr, $es) THEN 'en'
       |         WHEN $de = greatest($en, $de, $fr, $es) THEN 'de'
       |         WHEN $fr = greatest($en, $de, $fr, $es) THEN 'fr'
       |         ELSE 'es' END AS pred_heur
       |  FROM documents)
       |SELECT nbp.actual AS lang, nbp.pred_ngram, hp.pred_heur,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(nbp.correct) AS BIGINT) AS n_ngram_match
       |FROM nbp JOIN hp USING (doc_id)
       |GROUP BY 1, 2, 3""".stripMargin
  }

  /** URL canonicalization (Urls.canonicalOf over the staged parse): the
    * normalization a crawl frontier and URL-level dedup apply before
    * hashing — lowercase authority, root-dot strip, default-port strip,
    * slash-run collapse, tracking-param drop, byte-sorted surviving
    * params. Grouped to (canonical_url, n, n_raw) so the row set IS the
    * dedup readout: n_raw > 1 proves distinct raw spellings collapsed.
    * The oracle rebuilds the fixture strings and replays every
    * normalization step with DuckDB list ops. */
  def q258CanonicalUrls(s: SparkSession, dir: String): DataFrame = {
    val parsed = operators.Urls.urlProfile(
        operators.Urls.synthCanonUrls(t(s, dir, "events")))
      // prune BEFORE the checkpoint: urlProfile's derived columns (the
      // etld1 PSL walk especially) are never read here and would be
      // eagerly computed + stored per row
      .select(col("url"), col("scheme"), col("host"), col("port"),
        col("path"), col("query_string"))
      .materialized // canonicalOf references each component 2-3x
    parsed.select(col("url"),
        operators.Urls.canonicalOf(col("scheme"), col("host"), col("port"),
          col("path"), col("query_string")).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n"), countDistinct(col("url")).as("n_raw"))
  }

  val q258Sql: String = {
    val re = """^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?"""
    val track = operators.Urls.TrackingParamRe
    s"""WITH u AS (SELECT event_id,
       |    (CASE WHEN event_id % 2 = 0 THEN 'http://' ELSE 'https://' END) ||
       |    (CASE WHEN event_id % 3 = 0 THEN 'Example.ORG.'
       |          WHEN event_id % 3 = 1 THEN 'site' || (event_id % 5) || '.example.com'
       |          ELSE 'example.co.uk' END) ||
       |    (CASE WHEN event_id % 4 = 0 THEN ':80'
       |          WHEN event_id % 4 = 1 THEN ':443'
       |          WHEN event_id % 4 = 2 THEN ':8080' ELSE '' END) ||
       |    (CASE WHEN event_id % 3 = 0 THEN ''
       |          WHEN event_id % 3 = 1 THEN '/a//b' || (event_id % 7)
       |          ELSE '/x/' END) ||
       |    (CASE WHEN event_id % 5 = 0 THEN '?b=2&a=' || (event_id % 3) || '&utm_source=x'
       |          WHEN event_id % 5 = 1 THEN '?gclid=123'
       |          WHEN event_id % 5 = 2 THEN '?'
       |          WHEN event_id % 5 = 3 THEN '?z=1&&a=2' ELSE '' END) AS url
       |  FROM events),
       |p AS (SELECT url,
       |    lower(nullif(regexp_extract(url, '$re', 1), '')) AS scheme,
       |    lower(nullif(regexp_extract(url, '$re', 2), '')) AS host,
       |    TRY_CAST(nullif(regexp_replace(regexp_extract(url, '$re', 3), '^:', ''), '') AS BIGINT) AS port,
       |    regexp_extract(url, '$re', 4) AS path,
       |    nullif(regexp_replace(regexp_extract(url, '$re', 5), '^\\?', ''), '') AS q
       |  FROM u),
       |c AS (SELECT url,
       |    CASE WHEN host IS NULL THEN NULL ELSE
       |      scheme || '://' || regexp_replace(host, '\\.$$', '') ||
       |      (CASE WHEN port IS NULL
       |              OR (scheme = 'http' AND port = 80)
       |              OR (scheme = 'https' AND port = 443) THEN ''
       |            ELSE ':' || port END) ||
       |      (CASE WHEN path = '' THEN '/' ELSE regexp_replace(path, '/{2,}', '/', 'g') END) ||
       |      (CASE WHEN len(list_filter(string_split(coalesce(q, ''), '&'),
       |               x -> x <> '' AND NOT regexp_matches(x, '$track'))) > 0
       |            THEN '?' || array_to_string(list_sort(
       |               list_filter(string_split(coalesce(q, ''), '&'),
       |                 x -> x <> '' AND NOT regexp_matches(x, '$track'))), '&')
       |            ELSE '' END)
       |    END AS canonical_url
       |  FROM p)
       |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n,
       |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw
       |FROM c GROUP BY 1""".stripMargin
  }

  /** Percent-encoding normalization composed into the canonical key
    * (Urls.normalizePercent, RFC 3986 §6.2.2.2 — the r14 VERDICT gap):
    * `%7e`/`%7E`/`~` collapse to one key, reserved `%2f` only case-folds
    * to `%2F` (never a path slash), `%4a%4B` decodes to `JK`, invalid
    * `%zz` / bare `%` stay verbatim, `?x=%31` meets `?x=1`, and an
    * encoded-first-letter `%75tm_source` is recognized AS utm and
    * dropped. Same (canonical_url, n, n_raw) readout as q258; the
    * oracle replays the normalization generically with list ops. */
  def q268PercentNorm(s: SparkSession, dir: String): DataFrame = {
    val parsed = operators.Urls.urlProfile(
        operators.Urls.synthPercentUrls(t(s, dir, "events")))
      .select(col("url"), col("scheme"), col("host"), col("port"),
        col("path"), col("query_string"))
      .materialized // canonicalOf references each component 2-3x
    parsed.select(col("url"),
        operators.Urls.canonicalOf(col("scheme"), col("host"), col("port"),
          col("path"), col("query_string")).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n"), countDistinct(col("url")).as("n_raw"))
  }

  val q268Sql: String = {
    val re = """^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?"""
    val track = operators.Urls.TrackingParamRe
    // generic replay of normalizePercent: split on '%', first fragment
    // verbatim, each later fragment classified by its 2-char hex prefix
    val hex2 = "upper(substring(seg, 1, 2))"
    val code = s"CAST((strpos('0123456789ABCDEF', substring($hex2, 1, 1)) - 1) * 16 " +
      s"+ strpos('0123456789ABCDEF', substring($hex2, 2, 1)) - 1 AS INTEGER)"
    def pct(c: String): String =
      s"""(CASE WHEN $c IS NULL OR strpos($c, '%') = 0 THEN $c ELSE
         |      string_split($c, '%')[1] || array_to_string(
         |        list_transform(string_split($c, '%')[2:], seg -> CASE
         |          WHEN NOT regexp_matches($hex2, '^[0-9A-F]{2}\\z')
         |            THEN '%' || seg
         |          WHEN ($code BETWEEN 48 AND 57) OR ($code BETWEEN 65 AND 90)
         |            OR ($code BETWEEN 97 AND 122) OR $code IN (45, 46, 95, 126)
         |            THEN chr($code) || substring(seg, 3)
         |          ELSE '%' || $hex2 || substring(seg, 3) END), '') END)""".stripMargin
    s"""WITH u AS (SELECT event_id,
       |    'https://example.com' ||
       |    (CASE WHEN event_id % 6 = 0 THEN '/%7euser' || (event_id % 5)
       |          WHEN event_id % 6 = 1 THEN '/%7Euser' || (event_id % 5)
       |          WHEN event_id % 6 = 2 THEN '/~user' || (event_id % 5)
       |          WHEN event_id % 6 = 3 THEN '/a%2Fb' || (event_id % 5)
       |          WHEN event_id % 6 = 4 THEN '/a%2fb' || (event_id % 5)
       |          ELSE '/%4a%4B' || (event_id % 5) || '%zz%' END) ||
       |    (CASE WHEN event_id % 4 = 0 THEN '?x=%31'
       |          WHEN event_id % 4 = 1 THEN '?x=1'
       |          WHEN event_id % 4 = 2 THEN '?%75tm_source=9&a=' || (event_id % 3)
       |          ELSE '?a=' || (event_id % 3) END) AS url
       |  FROM events),
       |p AS (SELECT url,
       |    lower(nullif(regexp_extract(url, '$re', 1), '')) AS scheme,
       |    lower(nullif(regexp_extract(url, '$re', 2), '')) AS host,
       |    TRY_CAST(nullif(regexp_replace(regexp_extract(url, '$re', 3), '^:', ''), '') AS BIGINT) AS port,
       |    regexp_extract(url, '$re', 4) AS path,
       |    nullif(regexp_replace(regexp_extract(url, '$re', 5), '^\\?', ''), '') AS q
       |  FROM u),
       |pn AS (SELECT url, scheme, host, port,
       |    ${pct("path")} AS path,
       |    ${pct("q")} AS q
       |  FROM p),
       |c AS (SELECT url,
       |    CASE WHEN host IS NULL THEN NULL ELSE
       |      scheme || '://' || regexp_replace(host, '\\.$$', '') ||
       |      (CASE WHEN port IS NULL
       |              OR (scheme = 'http' AND port = 80)
       |              OR (scheme = 'https' AND port = 443) THEN ''
       |            ELSE ':' || port END) ||
       |      (CASE WHEN path = '' THEN '/' ELSE regexp_replace(path, '/{2,}', '/', 'g') END) ||
       |      (CASE WHEN len(list_filter(string_split(coalesce(q, ''), '&'),
       |               x -> x <> '' AND NOT regexp_matches(x, '$track'))) > 0
       |            THEN '?' || array_to_string(list_sort(
       |               list_filter(string_split(coalesce(q, ''), '&'),
       |                 x -> x <> '' AND NOT regexp_matches(x, '$track'))), '&')
       |            ELSE '' END)
       |    END AS canonical_url
       |  FROM pn)
       |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n,
       |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw
       |FROM c GROUP BY 1""".stripMargin
  }

  /** Polite-scheduler policy readout (Robots.crawlPolicy over parsed
    * synthRobotsPolicy — the r14 VERDICT crawl-delay/sitemap gap): the
    * chosen group's Crawl-delay (named group's 2.5 shadowing `*`'s 10,
    * repeated values taking the min, unparseable/negative ignored to
    * NULL, and a Sitemap line between two User-agent lines that must
    * NOT split their group — p8 reads 3.5) beside the host's sitemap
    * inventory (sorted, distinct, comma-joined). The Spark side parses
    * REAL robots bodies; the oracle rebuilds the rule rows the parse
    * must produce and replays the same group choice + aggregation. */
  def q269CrawlPolicy(s: SparkSession, dir: String): DataFrame =
    operators.Robots.crawlPolicy(
      operators.Robots.robotsRules(operators.Robots.synthRobotsPolicy(s))
        .materialized, // tiny (9 hosts); read by choice window + 3 joins
      userAgent = "graftbot/1.0")

  /** The q269 oracle's rule-rebuild + group-choice + delay CTEs, shared
    * with q273 (the schedule composes the same chosen delays). */
  private val policyDelayCtes: String =
    s"""hosts AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 9) r(i)),
       |grules AS (
       |  SELECT 'p' || i || '.org' AS host, '*' AS ua,
       |    'crawl-delay' AS dir, '10' AS v FROM hosts WHERE i % 3 = 0
       |  UNION ALL SELECT 'p' || i || '.org', '*', 'disallow', '/private'
       |    FROM hosts WHERE i % 3 = 0
       |  UNION ALL SELECT 'p' || i || '.org', 'graftbot', 'crawl-delay', '2.5'
       |    FROM hosts WHERE i % 3 = 0
       |  UNION ALL SELECT 'p' || i || '.org', '*', 'crawl-delay', '10'
       |    FROM hosts WHERE i % 3 = 1
       |  UNION ALL SELECT 'p' || i || '.org', '*', 'crawl-delay', '7'
       |    FROM hosts WHERE i % 3 = 1
       |  UNION ALL SELECT 'p' || i || '.org', '*', 'crawl-delay', 'fast'
       |    FROM hosts WHERE i % 3 = 2
       |  UNION ALL SELECT 'p' || i || '.org', '*', 'crawl-delay', '-1'
       |    FROM hosts WHERE i % 3 = 2
       |  UNION ALL SELECT 'p8.org', 'graftbot', 'crawl-delay', '3.5'
       |  UNION ALL SELECT 'p8.org', 'extra', 'crawl-delay', '3.5'),
       |matching AS (SELECT host, dir, v,
       |    (CASE WHEN ua = '*' THEN 0 ELSE len(ua) END) AS pri
       |  FROM grules WHERE ua = '*' OR strpos('graftbot/1.0', ua) > 0),
       |chosen AS (SELECT * FROM (SELECT host, dir, v, pri,
       |    max(pri) OVER (PARTITION BY host) AS best FROM matching)
       |  WHERE pri = best),
       |delays AS (SELECT host, min(TRY_CAST(v AS DOUBLE)) AS crawl_delay
       |  FROM chosen WHERE dir = 'crawl-delay'
       |    AND TRY_CAST(v AS DOUBLE) >= 0 GROUP BY host)""".stripMargin

  val q269Sql: String =
    s"""WITH $policyDelayCtes,
       |sm AS (
       |  SELECT 'p' || i || '.org' AS host,
       |    'https://p' || i || '.org/s1.xml' AS u FROM hosts WHERE i % 4 = 1
       |  UNION ALL SELECT 'p' || i || '.org', 'https://p' || i || '.org/b.xml'
       |    FROM hosts WHERE i % 4 = 2
       |  UNION ALL SELECT 'p' || i || '.org', 'https://p' || i || '.org/a.xml'
       |    FROM hosts WHERE i % 4 = 2
       |  UNION ALL SELECT 'p' || i || '.org', 'https://p' || i || '.org/s.xml'
       |    FROM hosts WHERE i % 4 = 3
       |  UNION ALL SELECT 'p' || i || '.org', 'https://p' || i || '.org/s.xml'
       |    FROM hosts WHERE i % 4 = 3
       |  UNION ALL SELECT 'p8.org', 'https://p8.org/mid.xml'),
       |smap AS (SELECT host, CAST(count(DISTINCT u) AS BIGINT) AS n_sitemaps,
       |    array_to_string(list_sort(list(DISTINCT u)), ',') AS sitemaps_str
       |  FROM sm GROUP BY host)
       |SELECT h.host, d.crawl_delay,
       |  coalesce(s.n_sitemaps, CAST(0 AS BIGINT)) AS n_sitemaps,
       |  s.sitemaps_str
       |FROM (SELECT 'p' || i || '.org' AS host FROM hosts) h
       |LEFT JOIN delays d USING (host)
       |LEFT JOIN smap s USING (host)""".stripMargin

  /** IDN host folding composed into the canonical key (functions/IdnAscii
    * native expression — the "same family" gap beside percent
    * normalization in the r14 VERDICT): unicode, uppercase-unicode and
    * pre-encoded `xn--` spellings of one authority collapse to ONE
    * frontier key; an impossible 64-char label folds to NULL canonical
    * (error-visibility, grouped like any other key). The oracle maps
    * hosts through pinned punycode literals and replays the rest of the
    * canonicalization generically. */
  def q271IdnHosts(s: SparkSession, dir: String): DataFrame = {
    val parsed = operators.Urls.urlProfile(
        operators.Urls.synthIdnUrls(t(s, dir, "events")))
      .select(col("url"), col("scheme"), col("host"), col("port"),
        col("path"), col("query_string"))
      .materialized // canonicalOf references each component 2-3x
    parsed.select(col("url"),
        operators.Urls.canonicalOf(col("scheme"), col("host"), col("port"),
          col("path"), col("query_string")).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n"), countDistinct(col("url")).as("n_raw"))
  }

  val q271Sql: String = {
    val longLabel = "a" * 64
    s"""WITH u AS (SELECT event_id,
       |    'https://' ||
       |    (CASE WHEN event_id % 5 = 0 THEN 'bücher.example'
       |          WHEN event_id % 5 = 1 THEN 'BÜCHER.example'
       |          WHEN event_id % 5 = 2 THEN 'xn--bcher-kva.example'
       |          WHEN event_id % 5 = 3 THEN 'münchen.de'
       |          ELSE '$longLabel.example' END) ||
       |    '/p' || (event_id % 3) AS url
       |  FROM events),
       |p AS (SELECT event_id, url,
       |    (CASE WHEN event_id % 5 IN (0, 1, 2) THEN 'xn--bcher-kva.example'
       |          WHEN event_id % 5 = 3 THEN 'xn--mnchen-3ya.de'
       |          ELSE NULL END) AS host_f,
       |    '/p' || (event_id % 3) AS path
       |  FROM u),
       |c AS (SELECT url,
       |    CASE WHEN host_f IS NULL THEN NULL
       |         ELSE 'https://' || host_f || path END AS canonical_url
       |  FROM p)
       |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n,
       |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw
       |FROM c GROUP BY 1""".stripMargin
  }

  /** sitemaps.org XML parsing (Sitemaps.sitemapEntries over REAL XML
    * bodies — the consumption half of q269's Sitemap discovery): urlset
    * and sitemapindex entries with entity-decoded locs, W3C-datetime
    * lastmod parsed by date prefix, try_cast priorities, lowercased
    * changefreq, uppercase-tag leniency, and empty-loc entries skipped.
    * The oracle pins the exact expected rows by host arithmetic — any
    * parse drift (a block regex crossing into `<urlset>`, a missed
    * entity, an ANSI date throw) breaks the row set. */
  def q272SitemapEntries(s: SparkSession, dir: String): DataFrame =
    operators.Sitemaps.sitemapEntries(operators.Sitemaps.synthSitemaps(s))

  val q272Sql: String =
    """WITH hosts AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 8) r(i)),
      |e AS (
      |  SELECT 's' || i || '.org' AS host, 'url' AS kind,
      |    'https://s' || i || '.org/a' || i AS loc,
      |    CAST('2024-03-0' || (i % 3 + 1) AS DATE) AS lastmod,
      |    'daily' AS changefreq, CAST(0.8 AS DOUBLE) AS priority
      |  FROM hosts WHERE i % 4 = 0
      |  UNION ALL SELECT 's' || i || '.org', 'url',
      |    'https://s' || i || '.org/b' || i,
      |    CAST(NULL AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
      |  FROM hosts WHERE i % 4 = 0
      |  UNION ALL SELECT 's' || i || '.org', 'url',
      |    'https://s' || i || '.org/q' || i || '?x=1&y=2',
      |    CAST('2024-03-05' AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
      |  FROM hosts WHERE i % 4 = 1
      |  UNION ALL SELECT 's' || i || '.org', 'url',
      |    'https://s' || i || '.org/bad' || i,
      |    CAST(NULL AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
      |  FROM hosts WHERE i % 4 = 1
      |  UNION ALL SELECT 's' || i || '.org', 'sitemap',
      |    'https://s' || i || '.org/sitemap-a.xml',
      |    CAST('2024-01-15' AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
      |  FROM hosts WHERE i % 4 = 2
      |  UNION ALL SELECT 's' || i || '.org', 'sitemap',
      |    'https://s' || i || '.org/sitemap-b.xml',
      |    CAST(NULL AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
      |  FROM hosts WHERE i % 4 = 2
      |  UNION ALL SELECT 's' || i || '.org', 'url',
      |    'https://s' || i || '.org/up' || i,
      |    CAST(NULL AS DATE), CAST(NULL AS VARCHAR), CAST(0.5 AS DOUBLE)
      |  FROM hosts WHERE i % 4 = 3)
      |SELECT host, kind, loc, lastmod, changefreq, priority FROM e""".stripMargin

  /** Main-content extraction by block link density (Html.mainContent —
    * the jusText/trafilatura boilerplate-removal family): a nav bar
    * that clears the char floor but is pure links (density drop), a
    * too-short block (floor drop), prose with one inline link (kept),
    * footer/link-list chrome (dropped), a bare-anchor (attribute-less)
    * nav whose link text must still count (density drop — the r15
    * review's evasion case); the kept blocks reassemble in
    * document order. The oracle rebuilds each block's exact text by
    * arithmetic, replays the division-free density law with len() math,
    * and compares main_text BYTE-FOR-BYTE — segmentation drift, a
    * missed anchor, or an entity slip all break it. */
  def q274MainContent(s: SparkSession, dir: String): DataFrame =
    operators.Html.mainContent(
      operators.Html.synthBlockDocs(t(s, dir, "documents")))

  val q274Sql: String =
    """WITH b AS (
      |  SELECT doc_id, 0 AS ix,
      |    'Homepage Navigation About The Company Contact Information' AS text,
      |    CAST(len('Homepage Navigation About The Company Contact Information') AS BIGINT) AS link_chars
      |  FROM documents
      |  UNION ALL SELECT doc_id, 1,
      |    'Quality document ' || (doc_id % 7) ||
      |      ' carries enough prose to clear the floor threshold easily.',
      |    CAST(0 AS BIGINT) FROM documents
      |  UNION ALL SELECT doc_id, 2, 'Tiny.', CAST(0 AS BIGINT) FROM documents
      |  UNION ALL SELECT doc_id, 3,
      |    'A longer body mentioning the glossary ' || (doc_id % 5) ||
      |      ' once among many plain words.',
      |    CAST(len('glossary ' || (doc_id % 5)) AS BIGINT) FROM documents
      |  UNION ALL SELECT doc_id, 4, 'One', CAST(3 AS BIGINT)
      |    FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL SELECT doc_id, 5, 'Two', CAST(3 AS BIGINT)
      |    FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL SELECT doc_id, 6, 'Privacy | Terms',
      |    CAST(len('Privacy Terms') AS BIGINT) FROM documents
      |  UNION ALL SELECT doc_id, 7, 'Home Products Support Pages',
      |    CAST(len('Home Products Support Pages') AS BIGINT) FROM documents),
      |s AS (SELECT doc_id, ix, text,
      |    CAST(len(text) AS BIGINT) AS n, link_chars FROM b),
      |k AS (SELECT *, CASE WHEN n >= 25 AND link_chars * 100 <= 33 * n
      |    THEN 1 ELSE 0 END AS kept FROM s)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
      |  CAST(sum(kept) AS BIGINT) AS n_kept,
      |  CAST(len(coalesce(string_agg(text, ' ' ORDER BY ix)
      |    FILTER (WHERE kept = 1), '')) AS BIGINT) AS main_chars,
      |  coalesce(string_agg(text, ' ' ORDER BY ix)
      |    FILTER (WHERE kept = 1), '') AS main_text
      |FROM k GROUP BY doc_id""".stripMargin

  /** HTTP-envelope charset transcoding (Warc.warcHttpTranscodedRecords
    * — the `.warc.gz`-proper path where the charset param usually
    * lives): the q275 bodies wrapped in FULL HTTP response envelopes,
    * so detection reads the SERVED Content-Type and the decode runs on
    * the entity body past the header split; status rides along (404s
    * every 13th doc — a curation filter key). Same five detection
    * paths, same closed-form oracle, plus the envelope arithmetic. */
  def q282HttpTranscode(s: SparkSession, dir: String): DataFrame =
    operators.Warc.warcHttpTranscodedRecords(
      operators.Warc.synthWarcHttpCharsetShards(t(s, dir, "documents"), "doc_id"))
      .toDF()
      .filter(col("ok") === 1)
      .select(col("target_uri"), col("http_status"), col("charset"),
        col("charset_source"), col("decode_ok"), col("text"))

  val q282Sql: String =
    """WITH d AS (SELECT doc_id, ((doc_id % 5) + 5) % 5 AS m,
      |    'http://example.org/doc/' || doc_id AS target_uri,
      |    CAST(CASE WHEN ((doc_id % 13) + 13) % 13 = 0 THEN 404 ELSE 200 END
      |      AS BIGINT) AS http_status
      |  FROM documents),
      |e AS (
      |  SELECT target_uri, http_status, 'UTF-8' AS charset,
      |    'header' AS charset_source, CAST(1 AS BIGINT) AS decode_ok,
      |    'Café numéro ' || doc_id || ' résumé' AS text
      |  FROM d WHERE m = 0
      |  UNION ALL SELECT target_uri, http_status, 'windows-1252', 'header', 1,
      |    'Smart “quotes” cost €' || (((doc_id % 97) + 97) % 97)
      |  FROM d WHERE m = 1
      |  UNION ALL SELECT target_uri, http_status, 'ISO-8859-1', 'meta', 1,
      |    '<html><head><meta charset="ISO-8859-1"></head><body>Année ' ||
      |      doc_id || ' première</body></html>'
      |  FROM d WHERE m = 2
      |  UNION ALL SELECT target_uri, http_status, 'UTF-8', 'bom', 1,
      |    'Unicode ünïcödé body ' || doc_id
      |  FROM d WHERE m = 3
      |  UNION ALL SELECT target_uri, http_status, 'UTF-8', 'header', 0,
      |    'Lying ' || chr(128) || ' header ' || doc_id
      |  FROM d WHERE m = 4)
      |SELECT target_uri, http_status, charset, charset_source, decode_ok, text
      |FROM e""".stripMargin

  /** Transcode → text-stage composition (the q275 charset pipe feeding
    * TextAnalysis.charEntropy unchanged — the concrete proof that the
    * downstream text stages consume transcoded text as a drop-in for
    * the UTF-8 fast path): per record, exact char-entropy stats over
    * the DECODED text, including the non-ASCII characters that only
    * exist because transcoding ran (curly quotes, €, é) and the
    * chr(128) fallback byte of the lying-header row. The oracle
    * rebuilds the decoded strings closed-form (the q275 CTE) and
    * replays the q152 entropy fold over them. */
  def q281TranscodeEntropy(s: SparkSession, dir: String): DataFrame = {
    val recs = operators.Warc.warcTranscodedRecords(
      operators.Warc.synthWarcCharsetShards(t(s, dir, "documents"), "doc_id"))
      .toDF().filter(col("ok") === 1)
    TextAnalysis.charEntropy(recs, idCol = "target_uri", textCol = "text")
      .withColumnRenamed("doc_id", "target_uri")
  }

  val q281Sql: String =
    """WITH d AS (SELECT doc_id, ((doc_id % 5) + 5) % 5 AS m,
      |    'http://example.org/doc/' || doc_id AS target_uri
      |  FROM documents),
      |e AS (
      |  SELECT target_uri, 'Café numéro ' || doc_id || ' résumé' AS text
      |  FROM d WHERE m = 0
      |  UNION ALL SELECT target_uri,
      |    'Smart “quotes” cost €' || (((doc_id % 97) + 97) % 97)
      |  FROM d WHERE m = 1
      |  UNION ALL SELECT target_uri,
      |    '<html><head><meta charset="ISO-8859-1"></head><body>Année ' ||
      |      doc_id || ' première</body></html>'
      |  FROM d WHERE m = 2
      |  UNION ALL SELECT target_uri, 'Unicode ünïcödé body ' || doc_id
      |  FROM d WHERE m = 3
      |  UNION ALL SELECT target_uri, 'Lying ' || chr(128) || ' header ' || doc_id
      |  FROM d WHERE m = 4),
      |pos AS (SELECT target_uri, text, unnest(generate_series(1, len(text))) AS i
      |  FROM e WHERE len(text) >= 1),
      |cnt AS (SELECT target_uri, substr(text, i, 1) AS ch, count(*) AS c
      |  FROM pos GROUP BY 1, 2),
      |agg AS (SELECT target_uri, sum(c) AS n, count(*) AS nd,
      |    sum(CAST(c AS DECIMAL(12,0)) * CAST(round(ln(c), 6) AS DECIMAL(12,6)))
      |      AS plogp
      |  FROM cnt GROUP BY 1)
      |SELECT b.target_uri, CAST(coalesce(a.n, 0) AS BIGINT) AS n_chars,
      |  CAST(coalesce(a.nd, 0) AS BIGINT) AS n_distinct,
      |  CASE WHEN a.n IS NOT NULL THEN
      |    round(round(ln(a.n), 6) - CAST(a.plogp AS DOUBLE) / a.n, 6) END AS entropy
      |FROM e b LEFT JOIN agg a USING (target_uri)""".stripMargin

  /** Media inventory (Multimodal.mediaInventory over a mixed asset lake
    * — the routing dashboard a curation pipeline runs FIRST):
    * per-container counts by magic-byte sniff across all six image
    * containers + real WAV audio + garbage, with the decodable flag
    * separating pixel-codec coverage from identify-only (webp, the
    * §7.4 #6 scope). Counts by id arithmetic; byte totals stay in the
    * operator (content-dependent compressed sizes have no closed
    * form). */
  def q286MediaInventory(s: SparkSession, dir: String): DataFrame =
    operators.Multimodal.mediaInventory(
      operators.Multimodal.synthMixedMediaAssets(t(s, dir, "documents"),
        "doc_id"))
      .select(col("container"), col("decodable"), col("n_assets"))

  val q286Sql: String =
    """WITH d AS (SELECT ((doc_id % 8) + 8) % 8 AS m FROM documents),
      |c AS (SELECT CASE m WHEN 0 THEN 'bmp' WHEN 1 THEN 'qoi'
      |    WHEN 2 THEN 'png' WHEN 3 THEN 'gif' WHEN 4 THEN 'jpeg'
      |    WHEN 5 THEN 'webp' WHEN 6 THEN 'wav' ELSE 'unknown' END AS container
      |  FROM d)
      |SELECT container,
      |  CAST(CASE WHEN container IN ('bmp','qoi','png','gif','jpeg','wav')
      |    THEN 1 ELSE 0 END AS BIGINT) AS decodable,
      |  CAST(count(*) AS BIGINT) AS n_assets
      |FROM c GROUP BY 1""".stripMargin

  /** Anchor-text corpus (Html.anchorTexts — what the web says about
    * each destination, the classic relevance/description signal): per
    * (dst_domain, anchor_text), anchor counts and DISTINCT source
    * domains, with inline markup stripped, entities decoded, interior
    * whitespace collapsed, and mailto/bare anchors dropped. The oracle
    * rebuilds every (dst, text, src) triple by id arithmetic and
    * replays the fold — a quote-contract slip, a missed entity, or a
    * kept href-less anchor all break counts. */
  def q285AnchorTexts(s: SparkSession, dir: String): DataFrame =
    operators.Html.anchorTexts(
      operators.Html.synthAnchorDocs(t(s, dir, "documents")))

  val q285Sql: String =
    """WITH d AS (SELECT doc_id, doc_id % 3 AS k, doc_id % 4 AS j
      |  FROM documents),
      |a AS (
      |  SELECT 't' || k || '.org' AS dst_domain,
      |    'Visit T' || k || ' & Friends' AS anchor_text,
      |    's' || j || '.com' AS src FROM d
      |  UNION ALL SELECT 's' || j || '.com', 'Home Page', 's' || j || '.com'
      |    FROM d
      |  UNION ALL SELECT 't' || k || '.org', 'CDN', 's' || j || '.com' FROM d
      |  UNION ALL SELECT 'u.net', 'Shared Label', 's' || j || '.com'
      |    FROM d WHERE doc_id % 2 = 0)
      |SELECT dst_domain, anchor_text, CAST(count(*) AS BIGINT) AS n_anchors,
      |  CAST(count(DISTINCT src) AS BIGINT) AS n_src_domains
      |FROM a GROUP BY 1, 2""".stripMargin

  /** WebP container probe (Multimodal.webpProbe over REAL header bytes
    * — MediaCodecs.probeWebp; the SURVEY §7.4 #6 scope decision: typed
    * routing + dimensions for the second-most-common modern web image
    * format, no pixel decode claimed): VP8L 14-bit dims + alpha hint,
    * VP8 keyframe start-code dims, VP8X 24-bit canvas + alpha flag, and
    * a flipped-signature corruption that must keep its row as ok=0. */
  def q280WebpProbe(s: SparkSession, dir: String): DataFrame =
    operators.Multimodal.webpProbe(
      operators.Multimodal.synthWebpAssets(t(s, dir, "documents"), "doc_id"))
      .toDF()
      .select(col("asset_id"), col("ok"), col("variant"), col("width"),
        col("height"), col("has_alpha"))

  val q280Sql: String =
    """WITH d AS (SELECT doc_id, ((doc_id % 4) + 4) % 4 AS m FROM documents)
      |SELECT doc_id AS asset_id,
      |  CAST(CASE WHEN m = 3 THEN 0 ELSE 1 END AS BIGINT) AS ok,
      |  CASE WHEN m = 0 THEN 'lossless' WHEN m = 1 THEN 'lossy'
      |    WHEN m = 2 THEN 'extended' END AS variant,
      |  CAST(CASE WHEN m IN (0, 1) THEN ((doc_id % 31) + 31) % 31 + 1
      |    WHEN m = 2 THEN ((doc_id % 300) + 300) % 300 + 100 END AS BIGINT) AS width,
      |  CAST(CASE WHEN m IN (0, 1) THEN ((doc_id % 17) + 17) % 17 + 1
      |    WHEN m = 2 THEN ((doc_id % 200) + 200) % 200 + 100 END AS BIGINT) AS height,
      |  CAST(CASE WHEN m = 1 THEN 0 WHEN m IN (0, 2) THEN
      |    CASE WHEN ((doc_id % 2) + 2) % 2 = 0 THEN 1 ELSE 0 END
      |    END AS BIGINT) AS has_alpha
      |FROM d""".stripMargin

  /** Shared CTE chain replaying the unigram-LM hard-EM trainer
    * (TextAnalysis.unigramTrainCore at nIters=2, maxPieceLen=4,
    * minSeedCount=2, maxWordLen=12): seed substring counts, then per
    * iteration an UNROLLED Viterbi DP (one CTE per prefix length, the
    * q264 unrolled-PageRank convention) with the same DECIMAL(18,6)
    * score sums and the same (score desc, last-piece-length desc,
    * piece desc) tie-break, then hard counts + the single-char floor +
    * renormalization. Ends with CTEs `p2` (final piece table with
    * DOUBLE logp via the identical decimal cast chain) and `finals2`
    * (final Viterbi segmentations). */
  private def unigramCtes: String = {
    val P = 4; val W = 12
    val sb = new StringBuilder
    sb ++= s"""uw AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq, len(w) AS len
       |  FROM (SELECT unnest(string_split($normSql, ' ')) AS w FROM documents)
       |  WHERE len(w) BETWEEN 1 AND $W GROUP BY w),
       |o1 AS MATERIALIZED (SELECT w, freq, len, unnest(generate_series(1, len)) AS i FROM uw),
       |o2 AS (SELECT freq, substring(w, i, CAST(k AS INT)) AS piece
       |  FROM (SELECT w, freq, i,
       |    unnest(generate_series(1, least($P, len - i + 1))) AS k FROM o1)),
       |seed AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM o2
       |  GROUP BY piece HAVING sum(freq) >= 2 OR len(piece) = 1),
       |tot0 AS (SELECT sum(cnt) AS t FROM seed),
       |p0 AS MATERIALIZED (SELECT piece, cnt,
       |    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)), 6)
       |      AS DECIMAL(18,6)) AS lp FROM seed, tot0),
       |chars AS MATERIALIZED (SELECT DISTINCT substring(w, i, 1) AS piece FROM o1)""".stripMargin
    for (it <- 1 to 2) {
      val pin = s"p${it - 1}"
      sb ++= s""",
       |d${it}_0 AS MATERIALIZED (SELECT w, len, freq, 0 AS pos,
       |  CAST(0 AS DECIMAL(18,6)) AS score, CAST([] AS VARCHAR[]) AS seg
       |  FROM uw)""".stripMargin
      for (i <- 1 to W) {
        val srcs = (math.max(0, i - P) until i).map(j => s"SELECT * FROM d${it}_$j")
          .mkString(" UNION ALL ")
        sb ++= s""",
       |d${it}_$i AS MATERIALIZED (SELECT w, len, freq, $i AS pos, score2 AS score, seg2 AS seg
       |  FROM (SELECT c.w, c.len, c.freq,
       |      CAST(c.score + p.lp AS DECIMAL(18,6)) AS score2,
       |      list_append(c.seg, p.piece) AS seg2,
       |      row_number() OVER (PARTITION BY c.w
       |        ORDER BY CAST(c.score + p.lp AS DECIMAL(18,6)) DESC,
       |          ($i - c.pos) DESC, p.piece DESC) AS rn
       |    FROM ($srcs) c
       |    JOIN $pin p ON p.piece = substring(c.w, c.pos + 1, $i - c.pos)
       |    WHERE c.len >= $i)
       |  WHERE rn = 1)""".stripMargin
      }
      val allPos = (1 to W).map(i => s"SELECT * FROM d${it}_$i").mkString(" UNION ALL ")
      sb ++= s""",
       |finals$it AS MATERIALIZED (SELECT w, freq, seg FROM ($allPos) WHERE pos = len),
       |counts$it AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, unnest(seg) AS piece FROM finals$it) GROUP BY piece),
       |f$it AS MATERIALIZED (SELECT c.piece, greatest(coalesce(n.cnt, 0), 1) AS cnt
       |    FROM chars c LEFT JOIN counts$it n USING (piece)
       |  UNION ALL SELECT piece, cnt FROM counts$it WHERE len(piece) > 1),
       |tot$it AS (SELECT sum(cnt) AS t FROM f$it),
       |p$it AS MATERIALIZED (SELECT piece, CAST(cnt AS BIGINT) AS cnt,
       |    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE)), 6)
       |      AS DECIMAL(18,6)) AS lp FROM f$it, tot$it)""".stripMargin
    }
    sb.toString
  }

  /** Unigram-LM tokenizer training (TextAnalysis.unigramPieces — the
    * SentencePiece-family hard-EM trainer beside BPE): the final piece
    * table after two EM iterations. The oracle replays the whole train
    * — seed counts, both unrolled Viterbi DPs, hard counts, the
    * single-char coverage floor, renormalization — so a tie-break slip,
    * a decimal drift, or a dropped floor char all break rows. */
  def q278UnigramPieces(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramPieces(t(s, dir, "documents"))

  val q278Sql: String =
    s"""WITH $unigramCtes
       |SELECT piece, cnt, CAST(lp AS DOUBLE) + 0 AS logp FROM p2""".stripMargin

  /** Unigram-LM segmentation statistics (TextAnalysis.unigramSegment —
    * bpeSegment's shape for the other tokenizer): each doc's token
    * stream joined to its word's FINAL Viterbi segmentation; model
    * words only (the maxWordLen cap), zero-count rows kept. */
  def q279UnigramSegment(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramSegment(t(s, dir, "documents"))

  val q279Sql: String =
    s"""WITH $unigramCtes,
       |toksq AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS w
       |  FROM documents),
       |ws AS (SELECT w, CAST(len(seg) AS BIGINT) AS np,
       |    CAST(len(w) AS BIGINT) AS wlen FROM finals2),
       |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nw,
       |    CAST(sum(np) AS BIGINT) AS ns, CAST(sum(wlen) AS BIGINT) AS nc
       |  FROM toksq JOIN ws USING (w) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(nw, 0) AS n_words, coalesce(ns, 0) AS n_pieces,
       |  CASE WHEN ns > 0 THEN round(CAST(nc AS DOUBLE) / CAST(ns AS DOUBLE), 6)
       |    END AS chars_per_piece
       |FROM documents d LEFT JOIN ag USING (doc_id)""".stripMargin

  /** Corpus encoding under the trained unigram LM
    * (TextAnalysis.unigramEncode — the readout a training pipeline
    * feeds the model): every token instance exploded to its Viterbi
    * pieces with stable ids (rank by count desc, piece). The oracle
    * re-derives ids from the shared trainer CTEs and positions via the
    * q109 generate_series/list-index pattern — id instability, a
    * segmentation drift, or a lost token position all break rows. */
  def q283UnigramEncode(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramEncode(t(s, dir, "documents"))

  val q283Sql: String =
    s"""WITH $unigramCtes,
       |ids AS (SELECT piece, cnt,
       |    CAST(row_number() OVER (ORDER BY cnt DESC, piece ASC) AS BIGINT)
       |      AS piece_id FROM p2),
       |dw AS (SELECT doc_id, string_split($normSql, ' ') AS words
       |  FROM documents),
       |tp AS (SELECT doc_id, unnest(generate_series(1, len(words))) AS i, words
       |  FROM dw WHERE len(words) >= 1),
       |tk AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS token_pos,
       |    words[i] AS w FROM tp),
       |sp AS (SELECT w, unnest(generate_series(1, len(seg))) AS j, seg
       |  FROM finals2),
       |wp AS (SELECT w, CAST(j - 1 AS BIGINT) AS piece_ix, seg[j] AS piece
       |  FROM sp)
       |SELECT t.doc_id, t.token_pos, wp.piece_ix, wp.piece, ids.piece_id
       |FROM tk t JOIN wp ON wp.w = t.w JOIN ids USING (piece)""".stripMargin

  /** Subword-aware GPT packing (Packing.packCounts over
    * TextAnalysis.unigramSegment's piece counts — the tokenize → pack
    * composition a training pipeline actually runs): q197's
    * concatenate-then-chunk layout where the unit is the trained
    * tokenizer's PIECES, not whitespace tokens — block budgets are
    * spent in model tokens, which is what GPU memory sees. The oracle
    * replays the trainer CTEs to per-doc piece counts, then q197's
    * cumulative layout over them. */
  def q284UnigramPack(s: SparkSession, dir: String): DataFrame =
    operators.Packing.packCounts(
      TextAnalysis.unigramSegment(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_pieces")),
      "doc_id", "n_pieces", blockLen = 256)

  val q284Sql: String =
    s"""WITH $unigramCtes,
       |toksq AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS w
       |  FROM documents),
       |ws AS (SELECT w, CAST(len(seg) AS BIGINT) AS np FROM finals2),
       |ag AS (SELECT doc_id, CAST(sum(np) AS BIGINT) AS ns
       |  FROM toksq JOIN ws USING (w) GROUP BY doc_id),
       |tf AS (SELECT d.doc_id, coalesce(ns, 0) AS n_tok
       |  FROM documents d LEFT JOIN ag USING (doc_id)),
       |st AS (SELECT doc_id, n_tok,
       |    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS tok_start
       |  FROM tf)
       |SELECT doc_id, n_tok, tok_start,
       |  CASE WHEN n_tok > 0 THEN tok_start // 256 END AS block_first,
       |  CASE WHEN n_tok > 0 THEN (tok_start + n_tok - 1) // 256 END AS block_last,
       |  CASE WHEN n_tok > 0
       |    THEN (tok_start + n_tok - 1) // 256 > tok_start // 256
       |  END AS crosses_block
       |FROM st""".stripMargin

  /** Suffix hash-doubling duplicate spans (Dedup.suffixRepeatSpans —
    * the Lee et al. suffix-array construction's relational twin) at
    * minLen=3: repeats of 3..7 tokens that q109's windowed n=8
    * PROVABLY misses (the r14 documented bound, now closed). The
    * oracle is the INDEPENDENT windowed formulation at n=3 — the
    * doubling recurrence (b_{j+1} = h(b_j(p), b_j(p+2^j)), overlapping
    * power-of-two blocks for the final key) must reproduce the
    * shingle-hash span set bit-for-bit, a cross-construction proof on
    * real corpus text. */
  def q277SuffixSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.suffixRepeatSpans(t(s, dir, "documents"), minLen = 3)

  val q277Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS words FROM documents),
       |g AS (SELECT doc_id, unnest(generate_series(0, len(words) - 3)) AS pos, words
       |      FROM w WHERE len(words) >= 3),
       |gr AS (SELECT doc_id, pos,
       |    CAST(('0x' || substring(md5(array_to_string(words[pos+1 : pos+3], ' ')), 1, 15)) AS BIGINT) AS h
       |  FROM g),
       |c AS (SELECT h FROM gr GROUP BY h HAVING count(*) >= 2),
       |d AS (SELECT doc_id, pos FROM gr JOIN c USING (h)),
       |m AS (SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 3
       |         THEN 1 ELSE 0 END AS brk FROM d),
       |i AS (SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM m)
       |SELECT doc_id, CAST(min(pos) + 1 AS BIGINT) AS span_start,
       |  CAST(max(pos) + 3 AS BIGINT) AS span_end,
       |  CAST(max(pos) + 3 - min(pos) AS BIGINT) AS span_tokens
       |FROM i GROUP BY doc_id, grp""".stripMargin

  /** Freshness-aware revisit scheduling (Sitemaps.revisitSchedule — the
    * composition closing the crawl loop q272 and q273 opened): the q272
    * sitemap entries' lastmod/changefreq hints against a deterministic
    * fetch log decide revisit verdicts (changed ≻ new ≻ stale due;
    * archived/fresh visible but not due), and the q269/q273 policy's
    * Crawl-delays (hosts remapped p→s so the two fixture families
    * compose) space the due fetches into integer-ms offsets. The oracle
    * replays the q272 pinned url rows, the cadence table, the fetch-log
    * arithmetic, the verdict CASE, the ranking window, and the shared
    * rule-rebuild delay CTEs end-to-end. */
  def q276RevisitSchedule(s: SparkSession, dir: String): DataFrame = {
    val entries = operators.Sitemaps.sitemapEntries(
      operators.Sitemaps.synthSitemaps(s)).materialized
    val policy = operators.Robots.crawlPolicy(
      operators.Robots.robotsRules(operators.Robots.synthRobotsPolicy(s))
        .materialized,
      userAgent = "graftbot/1.0")
      .withColumn("host", regexp_replace(col("host"), "^p", "s"))
    operators.Sitemaps.revisitSchedule(entries,
      operators.Sitemaps.synthFetchLog(entries), policy, asOf = "2024-03-07")
  }

  val q276Sql: String =
    s"""WITH $policyDelayCtes,
       |sdelays AS (SELECT replace(host, 'p', 's') AS host, crawl_delay
       |  FROM delays),
       |shosts AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 8) r(i)),
       |e AS (
       |  SELECT 's' || i || '.org' AS host,
       |    'https://s' || i || '.org/a' || i AS url,
       |    CAST('2024-03-0' || (i % 3 + 1) AS DATE) AS lastmod,
       |    'daily' AS changefreq, CAST(0.8 AS DOUBLE) AS priority
       |  FROM shosts WHERE i % 4 = 0
       |  UNION ALL SELECT 's' || i || '.org', 'https://s' || i || '.org/b' || i,
       |    CAST(NULL AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
       |  FROM shosts WHERE i % 4 = 0
       |  UNION ALL SELECT 's' || i || '.org',
       |    'https://s' || i || '.org/q' || i || '?x=1&y=2',
       |    CAST('2024-03-05' AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
       |  FROM shosts WHERE i % 4 = 1
       |  UNION ALL SELECT 's' || i || '.org', 'https://s' || i || '.org/bad' || i,
       |    CAST(NULL AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
       |  FROM shosts WHERE i % 4 = 1
       |  UNION ALL SELECT 's' || i || '.org', 'https://s' || i || '.org/up' || i,
       |    CAST(NULL AS DATE), CAST(NULL AS VARCHAR), CAST(0.5 AS DOUBLE)
       |  FROM shosts WHERE i % 4 = 3),
       |c AS (SELECT host, url, lastmod, changefreq, priority,
       |    CASE WHEN changefreq = 'always' THEN 0
       |      WHEN changefreq = 'hourly' THEN 1 WHEN changefreq = 'daily' THEN 24
       |      WHEN changefreq = 'weekly' THEN 168
       |      WHEN changefreq = 'monthly' THEN 720
       |      WHEN changefreq = 'yearly' THEN 8760
       |      WHEN changefreq = 'never' THEN NULL ELSE 168 END AS cadence_h,
       |    CASE WHEN len(url) % 5 = 0 THEN NULL
       |      ELSE DATE '2024-02-27' + CAST(len(url) % 8 AS INT) END AS last_fetch
       |  FROM e),
       |r2 AS (SELECT *, CAST(datediff('day', last_fetch, DATE '2024-03-07') * 24
       |    AS BIGINT) AS age_h FROM c),
       |v AS (SELECT *, CASE WHEN last_fetch IS NULL THEN 'new'
       |    WHEN lastmod IS NOT NULL AND lastmod > last_fetch THEN 'changed'
       |    WHEN cadence_h IS NULL THEN 'archived'
       |    WHEN age_h >= cadence_h THEN 'stale' ELSE 'fresh' END AS reason
       |  FROM r2),
       |d AS (SELECT *, CAST(CASE WHEN reason IN ('changed', 'new', 'stale')
       |      THEN 1 ELSE 0 END AS BIGINT) AS due,
       |    CASE WHEN cadence_h IS NOT NULL AND last_fetch IS NOT NULL
       |      THEN age_h - cadence_h END AS overdue_h,
       |    CASE WHEN reason = 'changed' THEN 0 WHEN reason = 'new' THEN 1
       |      ELSE 2 END AS rk
       |  FROM v),
       |j AS (SELECT d.*, CAST(coalesce(round(s.crawl_delay * 1000), 1000)
       |      AS BIGINT) AS delay_ms
       |  FROM d LEFT JOIN sdelays s ON s.host = d.host),
       |q AS (SELECT *, row_number() OVER (PARTITION BY host ORDER BY due DESC,
       |      rk ASC, overdue_h DESC NULLS LAST, priority DESC NULLS LAST,
       |      url ASC) AS seq
       |  FROM j)
       |SELECT host, url, reason, due, CAST(cadence_h AS BIGINT) AS cadence_h,
       |  CAST(overdue_h AS BIGINT) AS overdue_h, priority,
       |  CAST(CASE WHEN due = 1 THEN seq END AS BIGINT) AS fetch_seq, delay_ms,
       |  CAST(CASE WHEN due = 1 THEN (seq - 1) * delay_ms END AS BIGINT)
       |    AS fetch_offset_ms
       |FROM q""".stripMargin

  /** Charset detection + transcoding (Warc.warcTranscodedRecords over a
    * mixed-encoding WET fixture — the C4/CCNet pre-langid step): all
    * five detection paths exercised per doc arithmetic — UTF-8 and
    * windows-1252 via the Content-Type charset param, ISO-8859-1 via the
    * `<meta charset>` prescan, UTF-8 via BOM (stripped from the text),
    * and a LYING utf-8 header over windows-1252 bytes whose strict
    * decode must fail into the byte-preserving ISO-8859-1 fallback
    * (decode_ok=0, chr(128) visible in the text). The oracle rebuilds
    * every decoded string closed-form — a detection-precedence slip, a
    * BOM leak, or a lenient decode all break byte-for-byte. */
  def q275CharsetTranscode(s: SparkSession, dir: String): DataFrame =
    operators.Warc.warcTranscodedRecords(
      operators.Warc.synthWarcCharsetShards(t(s, dir, "documents"), "doc_id"))
      .toDF()
      .filter(col("ok") === 1)
      .select(col("target_uri"), col("charset"), col("charset_source"),
        col("decode_ok"), col("text"),
        length(col("text")).cast("long").as("n_chars"))

  val q275Sql: String =
    """WITH d AS (SELECT doc_id, ((doc_id % 5) + 5) % 5 AS m,
      |    'http://example.org/doc/' || doc_id AS target_uri
      |  FROM documents),
      |e AS (
      |  SELECT target_uri, 'UTF-8' AS charset, 'header' AS charset_source,
      |    CAST(1 AS BIGINT) AS decode_ok,
      |    'Café numéro ' || doc_id || ' résumé' AS text
      |  FROM d WHERE m = 0
      |  UNION ALL SELECT target_uri, 'windows-1252', 'header', 1,
      |    'Smart “quotes” cost €' || (((doc_id % 97) + 97) % 97)
      |  FROM d WHERE m = 1
      |  UNION ALL SELECT target_uri, 'ISO-8859-1', 'meta', 1,
      |    '<html><head><meta charset="ISO-8859-1"></head><body>Année ' ||
      |      doc_id || ' première</body></html>'
      |  FROM d WHERE m = 2
      |  UNION ALL SELECT target_uri, 'UTF-8', 'bom', 1,
      |    'Unicode ünïcödé body ' || doc_id
      |  FROM d WHERE m = 3
      |  UNION ALL SELECT target_uri, 'UTF-8', 'header', 0,
      |    'Lying ' || chr(128) || ' header ' || doc_id
      |  FROM d WHERE m = 4)
      |SELECT target_uri, charset, charset_source, decode_ok, text,
      |  CAST(len(text) AS BIGINT) AS n_chars FROM e""".stripMargin

  /** Polite fetch scheduling (Robots.fetchSchedule): the frontier ×
    * crawlPolicy composition — per-domain queues ranked (priority desc,
    * url asc), the k-th fetch offset (k−1)·delay_ms using the chosen
    * group's Crawl-delay (2.5 s → 2500 ms; hosts declaring none take
    * the 1000 ms default). The oracle re-derives the delays through the
    * same rule-rebuild CTEs as q269 and replays the ranking window —
    * all integer ms arithmetic. */
  def q273FetchSchedule(s: SparkSession, dir: String): DataFrame = {
    val policy = operators.Robots.crawlPolicy(
      operators.Robots.robotsRules(operators.Robots.synthRobotsPolicy(s))
        .materialized,
      userAgent = "graftbot/1.0")
    val id = col("event_id")
    val frontier = t(s, dir, "events").select(
      concat(lit("p"), (id % 9).cast("string"), lit(".org")).as("domain"),
      concat(lit("https://p"), (id % 9).cast("string"), lit(".org/u"),
        id.cast("string")).as("url"),
      ((id * 37) % 100).as("priority"))
    operators.Robots.fetchSchedule(frontier, policy)
  }

  val q273Sql: String =
    s"""WITH $policyDelayCtes,
       |f AS (SELECT 'p' || (event_id % 9) || '.org' AS domain,
       |    'https://p' || (event_id % 9) || '.org/u' || event_id AS url,
       |    CAST((event_id * 37) % 100 AS BIGINT) AS priority
       |  FROM events),
       |j AS (SELECT f.domain, f.url, f.priority,
       |    CAST(coalesce(round(d.crawl_delay * 1000), 1000) AS BIGINT) AS delay_ms
       |  FROM f LEFT JOIN delays d ON d.host = f.domain),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY domain
       |    ORDER BY priority DESC, url ASC) AS BIGINT) AS fetch_seq FROM j)
       |SELECT domain, url, priority, fetch_seq, delay_ms,
       |  (fetch_seq - 1) * delay_ms AS fetch_offset_ms FROM r""".stripMargin

  /** robots.txt fetch gate (Robots.robotsGate over parsed synthRobots):
    * RFC 9309 longest-match verdicts for crawler UA "graftbot/1.0" —
    * group exclusivity (a matching named group HIDES the `*` group),
    * Allow carve-outs beating shorter Disallows, `*`-wildcard and
    * `$`-anchored rules, a block-everything host, default-allow on no
    * match. The Spark side parses REAL robots bodies; the oracle rebuilds
    * the rule set the parse must produce from the same id arithmetic and
    * replays the IDENTICAL translate chain + tie-break — parser drift
    * therefore breaks the hash even though SQL never sees body text. */
  def q259RobotsGate(s: SparkSession, dir: String): DataFrame = {
    val rules = operators.Robots.robotsRules(operators.Robots.synthRobots(s))
      .materialized // tiny (7 hosts); read by the group-choice window + join
    operators.Robots.robotsGate(
      operators.Robots.synthCrawlUrls(t(s, dir, "events")),
      rules, userAgent = "graftbot/1.0")
  }

  val q259Sql: String = {
    // the translate chain must be byte-identical to Robots.matchedCol:
    // trailing-$ split, then \ . + ? ( ) [ ] { } | ^ $ escapes, then *→.*
    val coreExpr = "(CASE WHEN ends_with(c.rule, '$') " +
      "THEN substring(c.rule, 1, len(c.rule) - 1) ELSE c.rule END)"
    val esc = Seq("\\" -> "\\\\", "." -> "\\.", "+" -> "\\+", "?" -> "\\?",
        "(" -> "\\(", ")" -> "\\)", "[" -> "\\[", "]" -> "\\]",
        "{" -> "\\{", "}" -> "\\}", "|" -> "\\|", "^" -> "\\^", "$" -> "\\$")
      .foldLeft(coreExpr) { case (acc, (m, r)) =>
        def q(x: String) = x.replace("'", "''")
        s"replace($acc, '${q(m)}', '${q(r)}')"
      }
    val starred = s"replace($esc, '*', '.*')"
    s"""WITH hosts AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 7) r(i)),
       |rules AS (
       |  SELECT 'h' || i || '.org' AS host, '*' AS ua, 'disallow' AS dir,
       |    '/private' AS rule FROM hosts WHERE i <> 6
       |  UNION ALL SELECT 'h' || i || '.org', '*', 'allow', '/private/ok'
       |    FROM hosts WHERE i <> 6
       |  UNION ALL SELECT 'h' || i || '.org', '*', 'disallow', '/tmp/*.json$$'
       |    FROM hosts WHERE i <> 6
       |  UNION ALL SELECT 'h6.org', '*', 'disallow', '/'
       |  UNION ALL SELECT 'h' || i || '.org', 'graftbot', 'disallow', '/bot-only'
       |    FROM hosts WHERE i % 3 = 0
       |  UNION ALL SELECT 'h' || i || '.org', 'graftbot', 'allow', '/bot-only/ok$$'
       |    FROM hosts WHERE i % 3 = 0),
       |chosen AS (SELECT * FROM (SELECT host, dir, rule,
       |    (CASE WHEN ua = '*' THEN 0 ELSE len(ua) END) AS pri,
       |    max(CASE WHEN ua = '*' THEN 0 ELSE len(ua) END)
       |      OVER (PARTITION BY host) AS best
       |  FROM rules) WHERE pri = best),
       |u AS (SELECT event_id,
       |    'h' || (event_id % 7) || '.org' AS host,
       |    CASE WHEN event_id % 6 = 0 THEN '/private/doc' || (event_id % 9)
       |         WHEN event_id % 6 = 1 THEN '/private/ok/doc' || (event_id % 9)
       |         WHEN event_id % 6 = 2 THEN '/tmp/data' || (event_id % 9) || '.json'
       |         WHEN event_id % 6 = 3 THEN '/tmp/data' || (event_id % 9) || '.jsonx'
       |         WHEN event_id % 6 = 4 THEN '/bot-only/page' || (event_id % 9)
       |         ELSE '/public/page' || (event_id % 9) END AS path
       |  FROM events),
       |m AS (SELECT u.event_id, u.host, u.path, c.dir, c.rule
       |  FROM u JOIN chosen c ON c.host = u.host
       |  WHERE regexp_matches(u.path, '^' || $starred ||
       |    (CASE WHEN ends_with(c.rule, '$$') THEN '\\z' ELSE '' END))),
       |w AS (SELECT *, row_number() OVER (PARTITION BY event_id
       |    ORDER BY len(rule) DESC, dir ASC, rule ASC) AS rnk FROM m)
       |SELECT u.event_id, u.host, u.path,
       |  CAST(CASE WHEN w.dir = 'disallow' THEN 0 ELSE 1 END AS BIGINT) AS allowed,
       |  w.rule AS matched_rule, w.dir AS matched_directive
       |FROM u LEFT JOIN (SELECT * FROM w WHERE rnk = 1) w USING (event_id)""".stripMargin
  }

  /** Paragraph-level corpus dedup (Dedup.paragraphDedup over
    * synthParagraphDocs): the C4/CCNet unit — only the globally FIRST
    * occurrence of each case/whitespace-normalized paragraph survives,
    * and each doc reports (n_paras, n_kept) plus the md5 of its REBUILT
    * text, so the oracle verifies the actual rewrite byte-for-byte:
    * cross-doc boilerplate footers (including a case variant that must
    * collapse), an intra-doc repeat, and unique intros/bodies. */
  def q260ParagraphDedup(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.paragraphDedup(
      operators.Dedup.synthParagraphDocs(t(s, dir, "documents")))

  val q260Sql: String =
    """WITH d AS (SELECT doc_id,
      |    'Intro for doc ' || doc_id || chr(10) || chr(10) ||
      |    substring(text, 1, 60) || chr(10) || chr(10) ||
      |    (CASE WHEN ((doc_id % 7) + 7) % 7 = 0
      |          THEN 'LICENSE FOOTER V' || (((doc_id % 3) + 3) % 3)
      |          ELSE 'License footer v' || (((doc_id % 3) + 3) % 3) END) ||
      |    (CASE WHEN ((doc_id % 5) + 5) % 5 = 0
      |          THEN chr(10) || chr(10) || 'License footer v' || (((doc_id % 3) + 3) % 3)
      |          ELSE '' END) ||
      |    (CASE WHEN len(text) > 60
      |          THEN chr(10) || chr(10) || substring(text, 61, 60)
      |          ELSE '' END) AS t
      |  FROM documents WHERE text IS NOT NULL),
      |px AS (SELECT doc_id, unnest(range(1, len(parts) + 1)) AS i, parts
      |  FROM (SELECT doc_id, string_split_regex(t, '\n{2,}') AS parts FROM d)),
      |p AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS para_ix,
      |    trim(parts[CAST(i AS INT)]) AS p FROM px),
      |pf AS (SELECT doc_id, para_ix, p,
      |    md5(regexp_replace(lower(p), '\s+', ' ', 'g')) AS fp
      |  FROM p WHERE p <> ''),
      |k AS (SELECT *, row_number() OVER (PARTITION BY fp
      |    ORDER BY doc_id, para_ix) AS rk FROM pf),
      |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
      |    CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |  FROM k GROUP BY 1),
      |rb AS (SELECT doc_id,
      |    md5(string_agg(p, chr(10) || chr(10) ORDER BY para_ix)) AS kept_md5
      |  FROM k WHERE rk = 1 GROUP BY 1)
      |SELECT st.doc_id, st.n_paras, st.n_kept, rb.kept_md5
      |FROM st LEFT JOIN rb USING (doc_id)""".stripMargin

  /** Shared DuckDB replay of the fixture link-edge derivation (q261 body,
    * reused verbatim inside q262's degree oracle): rebuild the
    * synthLinkedDocs pages, extract + entity-decode hrefs with the exact
    * HrefRe, classify destination hosts (protocol-relative / root-relative
    * / absolute http(s) / dropped), and key both ends by the mini-PSL
    * registrable domain (the fixture's hosts use plain 2-label rules
    * only, where etld1Of and the mini-PSL walk agree by construction). */
  private def etld1SqlOf(h: String): String =
    s"""CASE WHEN $h IS NULL THEN NULL
       |    WHEN regexp_matches($h, '^[0-9.]+${"$"}') THEN $h
       |    WHEN len(string_split($h, '.')) <= 1 THEN $h
       |    WHEN (string_split($h, '.')[-2] || '.' || string_split($h, '.')[-1])
       |         IN (${operators.Urls.PublicSuffixes2.map(x => s"'$x'").mkString(", ")})
       |      THEN CASE WHEN len(string_split($h, '.')) >= 3
       |           THEN string_split($h, '.')[-3] || '.' || string_split($h, '.')[-2] || '.' || string_split($h, '.')[-1]
       |           ELSE $h END
       |    ELSE string_split($h, '.')[-2] || '.' || string_split($h, '.')[-1] END""".stripMargin

  /** The synthLinkedDocs page rebuild + href extraction CTEs (`h`, `x`) —
    * shared by the q261 edge oracle and the q267 frontier oracle. */
  private val linkFixtureCte: String = {
    val hrefRe = operators.Html.HrefRe
    s"""h AS (SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0 THEN 'news.dom' || (doc_id % 13) || '.co.uk'
       |         ELSE 'www.site' || (doc_id % 13) || '.org' END AS src_host,
       |    '<html><body><p>doc ' || doc_id || '</p>' ||
       |    '<a href="http://www.site' || ((doc_id * 3 + 1) % 13) || '.org/p' || (doc_id % 7) || '">x</a>' ||
       |    (CASE WHEN doc_id % 9 = 0 THEN '<A HREF="https://up.dom' || ((doc_id + 2) % 13) || '.co.uk/u">U</A>' ELSE '' END) ||
       |    (CASE WHEN doc_id % 3 = 0 THEN '<a class="nav" href="/local/p' || (doc_id % 5) || '">y</a>' ELSE '' END) ||
       |    (CASE WHEN doc_id % 6 = 0 THEN '<a href="//cdn.site' || (doc_id % 13) || '.org/lib.js">c</a>' ELSE '' END) ||
       |    (CASE WHEN doc_id % 5 = 0 THEN '<a href="https://t' || (doc_id % 3) || '.dom' || ((doc_id + 1) % 13) || '.co.uk/?a=1&amp;b=' || (doc_id % 4) || '">z</a>' ELSE '' END) ||
       |    (CASE WHEN doc_id % 7 = 0 THEN '<a href="mailto:u' || doc_id || '@x.org">m</a>' ELSE '' END) ||
       |    (CASE WHEN doc_id % 11 = 0 THEN '<a href="ftp://files.site0.org/f">f</a>' ELSE '' END) ||
       |    (CASE WHEN doc_id % 17 = 0 THEN '<a href="https://peer.ext' || (doc_id % 3) || '.net/e">p</a>' ELSE '' END) ||
       |    (CASE WHEN doc_id % 13 = 0 THEN '<a href=''/single-quoted''>s</a>' ELSE '' END) ||
       |    '</body></html>' AS html
       |  FROM documents),
       |x AS (SELECT doc_id, src_host,
       |    unnest(list_transform(regexp_extract_all(html, '$hrefRe', 1),
       |      u -> replace(replace(replace(replace(replace(replace(u,
       |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
       |        '&nbsp;', ' '), '&amp;', '&'))) AS href
       |  FROM h)""".stripMargin
  }

  private val linkEdgesSql: String = {
    val urlRe = operators.Urls.UrlRe
    s"""WITH $linkFixtureCte,
       |e AS (SELECT doc_id, lower(src_host) AS src_host_l,
       |    CASE WHEN href LIKE '//%' THEN lower(nullif(regexp_extract(href, '^//([^/?#:]+)', 1), ''))
       |         WHEN href LIKE '/%' THEN lower(src_host)
       |         WHEN lower(nullif(regexp_extract(href, '$urlRe', 1), '')) IN ('http', 'https')
       |           THEN lower(nullif(regexp_extract(href, '$urlRe', 2), ''))
       |         ELSE NULL END AS dst_host
       |  FROM x),
       |g AS (SELECT doc_id,
       |    ${etld1SqlOf("src_host_l")} AS src_domain,
       |    ${etld1SqlOf("dst_host")} AS dst_domain
       |  FROM e)
       |SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS n_links,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM g WHERE src_domain IS NOT NULL AND dst_domain IS NOT NULL
       |GROUP BY 1, 2""".stripMargin
  }

  /** Host-level web-graph edges (Html.linkEdges over synthLinkedDocs):
    * hrefs extracted + entity-decoded, destinations resolved
    * (protocol-relative keeps its host, root-relative stays on the page's
    * host, absolute http(s) parses, mailto/ftp/single-quoted drop), both
    * ends keyed by eTLD+1, aggregated to directed (src_domain,
    * dst_domain, n_links, n_docs). The oracle replays extraction,
    * decoding, classification, and the registrable-domain walk in SQL. */
  def q261LinkEdges(s: SparkSession, dir: String): DataFrame =
    operators.Html.linkEdges(operators.Html.synthLinkedDocs(t(s, dir, "documents")))

  val q261Sql: String = linkEdgesSql

  /** Per-domain degree profile (Html.hostGraphDegrees over the q261
    * edges): out/in degree (distinct peers) and total out/in anchors per
    * registrable domain, zeros for one-sided nodes — the hub/authority
    * readout of the crawl graph. Edges are already aggregated, so both
    * degree rollups and the full-outer stitch run on domain-graph
    * cardinality, not corpus cardinality. */
  def q262HostGraph(s: SparkSession, dir: String): DataFrame =
    operators.Html.hostGraphDegrees(
      operators.Html.linkEdges(operators.Html.synthLinkedDocs(t(s, dir, "documents"))))

  val q262Sql: String =
    s"""WITH edges AS ($linkEdgesSql),
       |o AS (SELECT src_domain AS domain,
       |    CAST(count(DISTINCT dst_domain) AS BIGINT) AS out_degree,
       |    CAST(sum(n_links) AS BIGINT) AS n_out_links
       |  FROM edges GROUP BY 1),
       |i AS (SELECT dst_domain AS domain,
       |    CAST(count(DISTINCT src_domain) AS BIGINT) AS in_degree,
       |    CAST(sum(n_links) AS BIGINT) AS n_in_links
       |  FROM edges GROUP BY 1)
       |SELECT coalesce(o.domain, i.domain) AS domain,
       |  CAST(coalesce(out_degree, 0) AS BIGINT) AS out_degree,
       |  CAST(coalesce(n_out_links, 0) AS BIGINT) AS n_out_links,
       |  CAST(coalesce(in_degree, 0) AS BIGINT) AS in_degree,
       |  CAST(coalesce(n_in_links, 0) AS BIGINT) AS n_in_links
       |FROM o FULL OUTER JOIN i ON o.domain = i.domain""".stripMargin

  /** RFC 3986 §5.2.4 dot-segment resolution (Urls.resolveDotSegments over
    * synthDotPaths): per-path stack walk — mid-path `..`, leading `/.`,
    * root-escaping `../..`, trailing `/.` and `/..` leaving a slash, dots
    * inside ordinary segment names untouched. The fixture's resolutions
    * are known by construction, so the oracle replays path AND expected
    * result from the same arithmetic (the q259 pattern); the open-input
    * space is covered by DotSegmentsSpec's property test against an
    * independent buffer-walk reference. */
  def q263DotSegments(s: SparkSession, dir: String): DataFrame = {
    val p = operators.Urls.synthDotPaths(t(s, dir, "events"))
    p.select(col("event_id"), col("path"),
      operators.Urls.resolveDotSegments(col("path")).as("resolved_path"))
  }

  val q263Sql: String =
    """SELECT event_id,
      |  CASE WHEN event_id % 8 = 0 THEN '/a/b/../c' || (event_id % 4)
      |       WHEN event_id % 8 = 1 THEN '/./x'
      |       WHEN event_id % 8 = 2 THEN '/a/../../b'
      |       WHEN event_id % 8 = 3 THEN '/a/b/..'
      |       WHEN event_id % 8 = 4 THEN '/a/./'
      |       WHEN event_id % 8 = 5 THEN '/..'
      |       WHEN event_id % 8 = 6 THEN '/d.d/../x..'
      |       ELSE '/p' || (event_id % 5) || '/' END AS path,
      |  CASE WHEN event_id % 8 = 0 THEN '/a/c' || (event_id % 4)
      |       WHEN event_id % 8 = 1 THEN '/x'
      |       WHEN event_id % 8 = 2 THEN '/b'
      |       WHEN event_id % 8 = 3 THEN '/a/'
      |       WHEN event_id % 8 = 4 THEN '/a/'
      |       WHEN event_id % 8 = 5 THEN '/'
      |       WHEN event_id % 8 = 6 THEN '/x..'
      |       ELSE '/p' || (event_id % 5) || '/' END AS resolved_path
      |FROM events""".stripMargin

  /** Directed PageRank over the REAL host graph (Dedup.pageRankDirected
    * over Html.linkEdges — the frontier-prioritization composition): rank
    * flows along link direction, mass splits over out-degree, and the
    * fixture's ext*.net nodes (in-degree only) exercise the dangling-mass
    * redistribution every iteration. The oracle replays the q261 edge
    * derivation, then unrolls the identical 8 damped steps as CTEs with
    * the same once-rounded DECIMAL(22,12) contribution sums, dangling
    * sums, and 12-dp re-rounds — engine- and order-exact. */
  def q264HostPagerank(s: SparkSession, dir: String): DataFrame = {
    val edges = operators.Html.linkEdges(
      operators.Html.synthLinkedDocs(t(s, dir, "documents")))
    operators.Dedup.pageRankDirected(edges, "src_domain", "dst_domain")
      .select(col("id").as("domain"), col("pr"))
  }

  val q264Sql: String = {
    val iters = (0 until 8).map { i =>
      s"""d$i AS MATERIALIZED (SELECT coalesce(sum(CAST(pr AS DECIMAL(22,12))), 0) AS dm
         |  FROM pr$i WHERE id NOT IN (SELECT src FROM od)),
         |c$i AS MATERIALIZED (SELECT e.dst AS id,
         |    sum(CAST(round(pr$i.pr / od.odeg, 12) AS DECIMAL(22,12))) AS s
         |  FROM e JOIN pr$i ON e.src = pr$i.id JOIN od ON od.src = e.src
         |  GROUP BY 1),
         |pr${i + 1} AS MATERIALIZED (SELECT nodes.id,
         |    round(0.15 / nn.n + 0.85 * (coalesce(CAST(c$i.s AS DOUBLE), 0) +
         |      round(CAST(d$i.dm AS DOUBLE) / nn.n, 12)), 12) AS pr
         |  FROM nodes CROSS JOIN nn CROSS JOIN d$i
         |    LEFT JOIN c$i ON c$i.id = nodes.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($linkEdgesSql),
       |e AS MATERIALIZED (SELECT DISTINCT src_domain AS src, dst_domain AS dst
       |  FROM edges WHERE src_domain <> dst_domain),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |od AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS odeg FROM e GROUP BY 1),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |pr0 AS MATERIALIZED (SELECT id, round(1.0 / nn.n, 12) AS pr FROM nodes CROSS JOIN nn),
       |$iters
       |SELECT id AS domain, pr FROM pr8""".stripMargin
  }

  /** Robots-meta indexing gate (Html.metaRobotsGate over synthMetaDocs):
    * the in-page twin of the q259 robots.txt fetch gate — noindex/
    * nofollow/none directives from the first `<meta name="robots">` tag,
    * attribute order free, case/whitespace-insensitive directives, an
    * unrelated description meta that must not trigger. The oracle
    * rebuilds the pages and replays both regexes + the directive split
    * in SQL. */
  def q265MetaRobots(s: SparkSession, dir: String): DataFrame =
    operators.Html.metaRobotsGate(
      operators.Html.synthMetaDocs(t(s, dir, "documents")))

  val q265Sql: String = {
    val tagRe = operators.Html.MetaRobotsTagRe
    val contentRe = operators.Html.ContentAttrRe
    s"""WITH h AS (SELECT doc_id,
       |    '<html><head>' ||
       |    (CASE WHEN doc_id % 7 = 1 THEN '<meta name="robots" content="noindex">'
       |          WHEN doc_id % 7 = 2 THEN '<meta name="robots" content="noindex, nofollow">'
       |          WHEN doc_id % 7 = 3 THEN '<meta name="robots" content="NONE">'
       |          WHEN doc_id % 7 = 4 THEN '<meta content="nofollow" name="robots">'
       |          WHEN doc_id % 7 = 5 THEN '<meta name="description" content="noindex is a word here">'
       |          WHEN doc_id % 7 = 6 THEN '<META NAME="robots" CONTENT="NOFOLLOW">'
       |          ELSE '' END) ||
       |    '</head><body><p>doc ' || doc_id || '</p></body></html>' AS html
       |  FROM documents),
       |m AS (SELECT doc_id,
       |    list_transform(string_split(regexp_extract(
       |      regexp_extract(html, '$tagRe', 0), '$contentRe', 1), ','),
       |      x -> lower(trim(x))) AS dirs
       |  FROM h)
       |SELECT doc_id, array_to_string(dirs, ',') AS robots_content,
       |  CAST(CASE WHEN list_contains(dirs, 'noindex')
       |         OR list_contains(dirs, 'none') THEN 1 ELSE 0 END AS BIGINT) AS noindex,
       |  CAST(CASE WHEN list_contains(dirs, 'nofollow')
       |         OR list_contains(dirs, 'none') THEN 1 ELSE 0 END AS BIGINT) AS nofollow
       |FROM m""".stripMargin
  }

  /** C4-style term-blocklist gate (TextAnalysis.blocklistGate): per-doc
    * blocked-token counts + verdict via set-membership over the
    * normalized token stream — the list includes an uppercase spelling
    * (case-fold must hit), two corpus-frequent terms, and a term that
    * never occurs. The oracle replays the same token split + IN probe. */
  def q266BlocklistGate(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.blocklistGate(t(s, dir, "documents"),
      Seq("SPARK", "slow", "vector", "zzzunused"))

  val q266Sql: String = {
    val in = "x IN ('spark', 'slow', 'vector', 'zzzunused')"
    s"""WITH d AS (SELECT doc_id,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(t, x -> $in)) AS BIGINT) AS n_blocked,
       |  CAST(len(list_distinct(list_filter(t, x -> $in))) AS BIGINT) AS n_blocked_distinct,
       |  CAST(CASE WHEN len(list_filter(t, x -> $in)) > 0 THEN 1 ELSE 0 END AS BIGINT) AS blocked
       |FROM d""".stripMargin
  }

  /** Frontier composition — the end-to-end chain a crawl scheduler runs
    * on every page's outlinks, every piece from this catalog interlocking
    * on ONE fixture: extract + decode hrefs (q261's machinery), keep
    * absolute http(s) candidates, CANONICALIZE each (q258's normalization
    * with q263's dot-segment resolution composed in — identity on this
    * fixture, so the oracle gates rather than replays the resolver),
    * dedup by canonical key, hash-threshold cap at 50% per canonical
    * (q253's keyed-sampling shape, salt 'frontier'), roll up per
    * registrable domain, and join the q264 directed-PageRank prior over
    * the SAME link graph. Returns (domain, n_links, n_distinct_urls,
    * n_kept, pr). */
  def q267Frontier(s: SparkSession, dir: String): DataFrame = {
    val docs = operators.Html.synthLinkedDocs(t(s, dir, "documents"))
      .materialized // read by the candidate chain AND the pagerank edges
    val links = docs.select(col("doc_id"),
        explode(operators.Html.hrefsOf(col("html"))).as("href"))
      .filter(operators.Urls.scheme(col("href")).isin("http", "https"))
    // stage the parse once (the q258 staging discipline)
    val parsed = links.select(
        operators.Urls.scheme(col("href")).as("scheme"),
        operators.Urls.host(col("href")).as("host"),
        operators.Urls.port(col("href")).as("port"),
        operators.Urls.path(col("href")).as("path"),
        operators.Urls.query(col("href")).as("query_string"))
      .materialized
    val canon = parsed.select(col("host"),
      operators.Urls.canonicalOf(col("scheme"), col("host"), col("port"),
        // decode FIRST (RFC 3986 §6.2.2 order): '%2E' is unreserved and
        // decodes to '.', so dot segments it spells must exist BEFORE
        // the §5.2.4 walk — resolving first would let '/a/%2E%2E/b' and
        // '/a/../b' mint two frontier keys for one resource (the r15
        // review finding); canonicalOf re-normalizes idempotently
        operators.Urls.resolveDotSegments(
          operators.Urls.normalizePercent(col("path"))),
        col("query_string")).as("canonical"))
    val kept = canon.select(
        operators.Urls.etld1Of(col("host")).as("domain"), col("canonical"))
      .groupBy(col("domain"), col("canonical"))
      .agg(count(lit(1)).as("n_refs"))
      .withColumn("_keep",
        operators.Sampling.hashBucket(col("canonical"), "frontier") < 500000L)
    val roll = kept.groupBy(col("domain")).agg(
      sum(col("n_refs")).as("n_links"),
      count(lit(1)).as("n_distinct_urls"),
      sum(col("_keep").cast("long")).as("n_kept"))
    val pr = operators.Dedup.pageRankDirected(
        operators.Html.linkEdges(docs), "src_domain", "dst_domain")
      .withColumnRenamed("id", "_prd")
    // explicit broadcast: pr is one row per DOMAIN (graph-node
    // cardinality at any corpus size), but it sits behind a checkpoint
    // whose stats the static planner can't see — without the hint the
    // initial plan sorts both sides
    roll.join(broadcast(pr), col("domain") <=> col("_prd"), "left")
      .select(col("domain"), col("n_links"), col("n_distinct_urls"),
        col("n_kept"), col("pr"))
  }

  val q267Sql: String = {
    val urlRe = operators.Urls.UrlRe
    val track = operators.Urls.TrackingParamRe
    s"""WITH $linkFixtureCte,
       |cand AS MATERIALIZED (SELECT href,
       |    lower(nullif(regexp_extract(href, '$urlRe', 1), '')) AS scheme,
       |    lower(nullif(regexp_extract(href, '$urlRe', 2), '')) AS host,
       |    TRY_CAST(nullif(regexp_replace(regexp_extract(href, '$urlRe', 3), '^:', ''), '') AS BIGINT) AS port,
       |    regexp_extract(href, '$urlRe', 4) AS path,
       |    nullif(regexp_replace(regexp_extract(href, '$urlRe', 5), '^\\?', ''), '') AS q
       |  FROM x
       |  WHERE lower(nullif(regexp_extract(href, '$urlRe', 1), '')) IN ('http', 'https')),
       |c AS MATERIALIZED (SELECT host,
       |    scheme || '://' || regexp_replace(host, '\\.$$', '') ||
       |    (CASE WHEN port IS NULL
       |            OR (scheme = 'http' AND port = 80)
       |            OR (scheme = 'https' AND port = 443) THEN ''
       |          ELSE ':' || port END) ||
       |    (CASE WHEN path = '' THEN '/' ELSE regexp_replace(path, '/{2,}', '/', 'g') END) ||
       |    (CASE WHEN len(list_filter(string_split(coalesce(q, ''), '&'),
       |             x -> x <> '' AND NOT regexp_matches(x, '$track'))) > 0
       |          THEN '?' || array_to_string(list_sort(
       |             list_filter(string_split(coalesce(q, ''), '&'),
       |               x -> x <> '' AND NOT regexp_matches(x, '$track'))), '&')
       |          ELSE '' END) AS canonical
       |  FROM cand),
       |k AS MATERIALIZED (SELECT ${etld1SqlOf("host")} AS domain, canonical,
       |    CAST(count(*) AS BIGINT) AS n_refs
       |  FROM c GROUP BY 1, 2),
       |r AS MATERIALIZED (SELECT domain, CAST(sum(n_refs) AS BIGINT) AS n_links,
       |    CAST(count(*) AS BIGINT) AS n_distinct_urls,
       |    CAST(sum(CASE WHEN CAST(('0x' || substring(md5('frontier' || canonical), 1, 12)) AS BIGINT) % 1000000 < 500000
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |  FROM k GROUP BY 1),
       |prq AS MATERIALIZED (SELECT * FROM ($q264Sql))
       |SELECT r.domain, n_links, n_distinct_urls, n_kept, prq.pr
       |FROM r LEFT JOIN prq ON r.domain = prq.domain""".stripMargin
  }

  /** PDF text extraction (Pdf.extractText over a synthesized PDF lake —
    * the r16 verdict's #1 breadth item; the bounded ISO 32000 subset:
    * classic xref, FlateDecode, Tj/TJ/', WinAnsi): per doc, the ok
    * verdict, taxonomy reason, page count, and the extracted text. The
    * fixture rotates Tj/kerned-TJ/escape-octal literals, a two-page
    * Flate doc with the `'` next-line show and an indirect /Length,
    * WinAnsi high bytes, and the three refusal modes (encrypted,
    * unsupported filter, corrupt startxref) — all text closed-form id
    * arithmetic the oracle replays exactly. */
  def q287PdfText(s: SparkSession, dir: String): DataFrame =
    operators.Pdf.pdfTexts(
      operators.Pdf.synthPdfAssets(t(s, dir, "documents"), "doc_id"))
      .toDF()
      .select(col("doc_id"), col("ok"), col("reason"), col("n_pages"),
        col("text"))

  val q287Sql: String =
    """WITH d AS (SELECT doc_id, ((doc_id % 6) + 6) % 6 AS m FROM documents)
      |SELECT doc_id,
      |  CAST(CASE WHEN m <= 2 THEN 1 ELSE 0 END AS BIGINT) AS ok,
      |  CASE m WHEN 3 THEN 'encrypted' WHEN 4 THEN 'filter'
      |    WHEN 5 THEN 'xref' ELSE '' END AS reason,
      |  CAST(CASE m WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 1
      |    ELSE 0 END AS BIGINT) AS n_pages,
      |  CASE m
      |    WHEN 0 THEN 'Hello doc ' || doc_id || ' kerned TJ ' || doc_id ||
      |      'Paren ( nested ) and \ back A'
      |    WHEN 1 THEN 'Flate page one of ' || doc_id || chr(10) ||
      |      'line one' || chr(10) || 'line two ' || doc_id
      |    WHEN 2 THEN 'Café costs €' || doc_id
      |    ELSE '' END AS text
      |FROM d""".stripMargin

  /** PDF → char-entropy composition (the q281 drop-in proof pattern:
    * the extracted text column feeds an existing text stage unchanged —
    * a user swaps the WARC text source for the PDF one and the
    * downstream dashboard keeps working). Entropy over the ok=1 texts;
    * the oracle rebuilds the expected texts and replays the
    * decimal-exact entropy fold. */
  def q288PdfEntropy(s: SparkSession, dir: String): DataFrame = {
    val recs = operators.Pdf.pdfTexts(
      operators.Pdf.synthPdfAssets(t(s, dir, "documents"), "doc_id"))
      .toDF().filter(col("ok") === 1)
    TextAnalysis.charEntropy(recs, idCol = "doc_id", textCol = "text")
  }

  val q288Sql: String =
    """WITH d AS (SELECT doc_id, ((doc_id % 6) + 6) % 6 AS m FROM documents),
      |e AS (
      |  SELECT doc_id, 'Hello doc ' || doc_id || ' kerned TJ ' || doc_id ||
      |    'Paren ( nested ) and \ back A' AS text
      |  FROM d WHERE m = 0
      |  UNION ALL SELECT doc_id, 'Flate page one of ' || doc_id || chr(10) ||
      |    'line one' || chr(10) || 'line two ' || doc_id
      |  FROM d WHERE m = 1
      |  UNION ALL SELECT doc_id, 'Café costs €' || doc_id
      |  FROM d WHERE m = 2),
      |pos AS (SELECT doc_id, text, unnest(generate_series(1, len(text))) AS i
      |  FROM e WHERE len(text) >= 1),
      |cnt AS (SELECT doc_id, substr(text, i, 1) AS ch, count(*) AS c
      |  FROM pos GROUP BY 1, 2),
      |agg AS (SELECT doc_id, sum(c) AS n, count(*) AS nd,
      |    sum(CAST(c AS DECIMAL(12,0)) * CAST(round(ln(c), 6) AS DECIMAL(12,6)))
      |      AS plogp
      |  FROM cnt GROUP BY 1)
      |SELECT b.doc_id, CAST(coalesce(a.n, 0) AS BIGINT) AS n_chars,
      |  CAST(coalesce(a.nd, 0) AS BIGINT) AS n_distinct,
      |  CASE WHEN a.n IS NOT NULL THEN
      |    round(round(ln(a.n), 6) - CAST(a.plogp AS DOUBLE) / a.n, 6) END AS entropy
      |FROM e b LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** RSS 2.0 / Atom feed parsing (Sitemaps.feedEntries — the OTHER
    * freshness-discovery channel beside sitemaps.org, the r16 verdict's
    * #2 item): per feed entry, dialect, entity-decoded link, title, and
    * the published time parsed from RFC 822 (`pubDate`: weekday
    * optional, 1-2 digit day, GMT/UT/UTC/Z or ±HHMM zones) or RFC 3339
    * (`updated`: Z / ±HH:MM offsets), normalized to UTC epoch seconds.
    * Link-less entries skip; out-of-scope dates read NULL. All
    * timestamps are mode constants the oracle pins exactly. */
  def q289FeedEntries(s: SparkSession, dir: String): DataFrame =
    operators.Sitemaps.feedEntries(operators.Sitemaps.synthFeeds(s))
      .select(col("host"), col("dialect"), col("url"), col("title"),
        unix_timestamp(col("published")).cast("long").as("published_s"))

  val q289Sql: String =
    """WITH f AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 8) r(i)),
      |e AS (
      |  SELECT 'f' || i || '.org' AS host, 'rss' AS dialect,
      |    'https://f' || i || '.org/rss-a' || i AS url,
      |    'First & Best ' || i AS title,
      |    CAST(epoch(TIMESTAMP '2024-03-05 10:20:30') AS BIGINT) AS published_s
      |  FROM f WHERE i % 4 = 0
      |  UNION ALL SELECT 'f' || i || '.org', 'rss',
      |    'https://f' || i || '.org/rss-b' || i, 'Offset ' || i,
      |    CAST(epoch(TIMESTAMP '2024-03-05 18:15:00') AS BIGINT)
      |  FROM f WHERE i % 4 = 0
      |  UNION ALL SELECT 'f' || i || '.org', 'rss',
      |    'https://f' || i || '.org/ent' || i || '?a=1&b=2',
      |    CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
      |  FROM f WHERE i % 4 = 1
      |  UNION ALL SELECT 'f' || i || '.org', 'atom',
      |    'https://f' || i || '.org/atom-a' || i, 'Zulu ' || i,
      |    CAST(epoch(TIMESTAMP '2024-03-05 10:20:30') AS BIGINT)
      |  FROM f WHERE i % 4 = 2
      |  UNION ALL SELECT 'f' || i || '.org', 'atom',
      |    'https://f' || i || '.org/atom-b' || i, 'Plus2 ' || i,
      |    CAST(epoch(TIMESTAMP '2024-03-05 23:30:00') AS BIGINT)
      |  FROM f WHERE i % 4 = 2
      |  UNION ALL SELECT 'f' || i || '.org', 'atom',
      |    'https://f' || i || '.org/up-a' || i, CAST(NULL AS VARCHAR),
      |    CAST(epoch(TIMESTAMP '2024-03-04 01:30:00') AS BIGINT)
      |  FROM f WHERE i % 4 = 3)
      |SELECT host, dialect, url, title, published_s FROM e""".stripMargin

  /** Feed-composed revisit scheduling: BOTH discovery channels —
    * sitemap entries (q272's fixture) and feed entries reshaped through
    * feedAsRevisitEntries — union into ONE revisitSchedule run (q276's
    * machinery, same policy join / verdict CASE / politeness window).
    * Feed publish times act as the second `changed` source: a feed url
    * whose published date outruns its fetch-log row is due first, and
    * feed urls carry the default cadence (feeds declare per-entry
    * freshness, not per-url cadence). The oracle replays the whole
    * composed chain over the union. */
  def q290FeedRevisit(s: SparkSession, dir: String): DataFrame = {
    val sm = operators.Sitemaps.sitemapEntries(
      operators.Sitemaps.synthSitemaps(s)).materialized
    val fe = operators.Sitemaps.feedAsRevisitEntries(
      operators.Sitemaps.feedEntries(operators.Sitemaps.synthFeeds(s)))
      .materialized
    val entries = sm.unionByName(fe)
    val policy = operators.Robots.crawlPolicy(
      operators.Robots.robotsRules(operators.Robots.synthRobotsPolicy(s))
        .materialized,
      userAgent = "graftbot/1.0")
      .withColumn("host", regexp_replace(col("host"), "^p", "s"))
    operators.Sitemaps.revisitSchedule(entries,
      operators.Sitemaps.synthFetchLog(entries), policy, asOf = "2024-03-07")
  }

  val q290Sql: String =
    s"""WITH $policyDelayCtes,
       |sdelays AS (SELECT replace(host, 'p', 's') AS host, crawl_delay
       |  FROM delays),
       |shosts AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 8) r(i)),
       |e AS (
       |  SELECT 's' || i || '.org' AS host,
       |    'https://s' || i || '.org/a' || i AS url,
       |    CAST('2024-03-0' || (i % 3 + 1) AS DATE) AS lastmod,
       |    'daily' AS changefreq, CAST(0.8 AS DOUBLE) AS priority
       |  FROM shosts WHERE i % 4 = 0
       |  UNION ALL SELECT 's' || i || '.org', 'https://s' || i || '.org/b' || i,
       |    CAST(NULL AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
       |  FROM shosts WHERE i % 4 = 0
       |  UNION ALL SELECT 's' || i || '.org',
       |    'https://s' || i || '.org/q' || i || '?x=1&y=2',
       |    CAST('2024-03-05' AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
       |  FROM shosts WHERE i % 4 = 1
       |  UNION ALL SELECT 's' || i || '.org', 'https://s' || i || '.org/bad' || i,
       |    CAST(NULL AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
       |  FROM shosts WHERE i % 4 = 1
       |  UNION ALL SELECT 's' || i || '.org', 'https://s' || i || '.org/up' || i,
       |    CAST(NULL AS DATE), CAST(NULL AS VARCHAR), CAST(0.5 AS DOUBLE)
       |  FROM shosts WHERE i % 4 = 3
       |  UNION ALL SELECT 'f' || i || '.org',
       |    'https://f' || i || '.org/rss-a' || i,
       |    CAST('2024-03-05' AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
       |  FROM shosts WHERE i % 4 = 0
       |  UNION ALL SELECT 'f' || i || '.org',
       |    'https://f' || i || '.org/rss-b' || i,
       |    CAST('2024-03-05' AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
       |  FROM shosts WHERE i % 4 = 0
       |  UNION ALL SELECT 'f' || i || '.org',
       |    'https://f' || i || '.org/ent' || i || '?a=1&b=2',
       |    CAST(NULL AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
       |  FROM shosts WHERE i % 4 = 1
       |  UNION ALL SELECT 'f' || i || '.org',
       |    'https://f' || i || '.org/atom-a' || i,
       |    CAST('2024-03-05' AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
       |  FROM shosts WHERE i % 4 = 2
       |  UNION ALL SELECT 'f' || i || '.org',
       |    'https://f' || i || '.org/atom-b' || i,
       |    CAST('2024-03-05' AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
       |  FROM shosts WHERE i % 4 = 2
       |  UNION ALL SELECT 'f' || i || '.org',
       |    'https://f' || i || '.org/up-a' || i,
       |    CAST('2024-03-04' AS DATE), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
       |  FROM shosts WHERE i % 4 = 3),
       |c AS (SELECT host, url, lastmod, changefreq, priority,
       |    CASE WHEN changefreq = 'always' THEN 0
       |      WHEN changefreq = 'hourly' THEN 1 WHEN changefreq = 'daily' THEN 24
       |      WHEN changefreq = 'weekly' THEN 168
       |      WHEN changefreq = 'monthly' THEN 720
       |      WHEN changefreq = 'yearly' THEN 8760
       |      WHEN changefreq = 'never' THEN NULL ELSE 168 END AS cadence_h,
       |    CASE WHEN len(url) % 5 = 0 THEN NULL
       |      ELSE DATE '2024-02-27' + CAST(len(url) % 8 AS INT) END AS last_fetch
       |  FROM e),
       |r2 AS (SELECT *, CAST(datediff('day', last_fetch, DATE '2024-03-07') * 24
       |    AS BIGINT) AS age_h FROM c),
       |v AS (SELECT *, CASE WHEN last_fetch IS NULL THEN 'new'
       |    WHEN lastmod IS NOT NULL AND lastmod > last_fetch THEN 'changed'
       |    WHEN cadence_h IS NULL THEN 'archived'
       |    WHEN age_h >= cadence_h THEN 'stale' ELSE 'fresh' END AS reason
       |  FROM r2),
       |d AS (SELECT *, CAST(CASE WHEN reason IN ('changed', 'new', 'stale')
       |      THEN 1 ELSE 0 END AS BIGINT) AS due,
       |    CASE WHEN cadence_h IS NOT NULL AND last_fetch IS NOT NULL
       |      THEN age_h - cadence_h END AS overdue_h,
       |    CASE WHEN reason = 'changed' THEN 0 WHEN reason = 'new' THEN 1
       |      ELSE 2 END AS rk
       |  FROM v),
       |j AS (SELECT d.*, CAST(coalesce(round(s.crawl_delay * 1000), 1000)
       |      AS BIGINT) AS delay_ms
       |  FROM d LEFT JOIN sdelays s ON s.host = d.host),
       |q AS (SELECT *, row_number() OVER (PARTITION BY host ORDER BY due DESC,
       |      rk ASC, overdue_h DESC NULLS LAST, priority DESC NULLS LAST,
       |      url ASC) AS seq
       |  FROM j)
       |SELECT host, url, reason, due, CAST(cadence_h AS BIGINT) AS cadence_h,
       |  CAST(overdue_h AS BIGINT) AS overdue_h, priority,
       |  CAST(CASE WHEN due = 1 THEN seq END AS BIGINT) AS fetch_seq, delay_ms,
       |  CAST(CASE WHEN due = 1 THEN (seq - 1) * delay_ms END AS BIGINT)
       |    AS fetch_offset_ms
       |FROM q""".stripMargin

  /** Deflate compression-ratio quality gate (TextAnalysis
    * .compressionRatio — the Gopher/RefinedWeb repetition proxy, the
    * r16 verdict's #3 item): template spam deflates to ~0.14 of its
    * size, prose to ~0.67, uniform-random printable ASCII to ~0.91, so
    * the 0.35/0.80 buckets sit with ≥0.12 margin (measured — see
    * CompressionSpec). Compressed sizes are codec facts with no closed
    * form, so the oracle pins raw_len + verdict (the q286 byte-totals
    * convention); exact-ratio laws live in the spec. */
  def q291CompressionGate(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.compressionRatio(
      TextAnalysis.synthCompressionDocs(t(s, dir, "documents"), "doc_id"))
      .toDF()
      .select(col("doc_id"), col("raw_len"), col("verdict"))

  val q291Sql: String =
    """WITH d AS (SELECT doc_id, ((doc_id % 3) + 3) % 3 AS m FROM documents)
      |SELECT doc_id,
      |  CAST(CASE m
      |    WHEN 0 THEN 5 * (20 + ((doc_id % 5) + 5) % 5)
      |    WHEN 1 THEN len('Document ' || doc_id ||
      |      ' surveys the harvest records of district ' || doc_id ||
      |      ': wheat yields rose while barley fell, and the council of ' ||
      |      doc_id || ' noted that irrigation repairs, seed rotation, and ' ||
      |      'fair market pricing kept the granaries stocked through an ' ||
      |      'unusually wet spring season.')
      |    ELSE 400 END AS BIGINT) AS raw_len,
      |  CASE m WHEN 0 THEN 'repetitive' WHEN 1 THEN 'normal'
      |    ELSE 'incompressible' END AS verdict
      |FROM d""".stripMargin

  /** Shared CTE prefix of the q292/q293 oracles: rebuild the labeled
    * quality fixture, hash features (the q136 formula + a bias feature
    * at −1), then replay EVERY gradient-descent round of
    * TextAnalysis.logisticTrainHashed as generated CTEs — (18,12)×(6,0)
    * exact-decimal z folds, the round-once sigmoid at 6 dp, decimal
    * residual·count gradients, 12 dp weight updates. Multi-referenced
    * CTEs are AS MATERIALIZED (the q278 lesson: DuckDB inlines repeated
    * CTE references exponentially). Ends with `sc` = (doc_id, p). */
  private def logisticCtes(rounds: Int): String = {
    val base =
      s"""tex AS MATERIALIZED (SELECT doc_id,
         |    CAST(1 - ((doc_id % 2) + 2) % 2 AS BIGINT) AS label,
         |    CASE ((doc_id % 4) + 4) % 4
         |      WHEN 0 THEN 'The quick survey of the annual harvest and the ' ||
         |        'trade records in the town of d' || doc_id ||
         |        ' shows steady growth and fair prices in the region for the year.'
         |      WHEN 1 THEN 'BUY NOW!!! $$$$$$ FREE prize' || doc_id ||
         |        ' !!! click click buy buy $$$$$$ win win !!!'
         |      WHEN 2 THEN 'A fine essay about the sea d' || doc_id || '.'
         |      ELSE 'The lucky winner of the lottery and the prize draw in ' ||
         |        'the bonus round of the day may claim the reward of the ' ||
         |        'week in the town of d' || doc_id || ' now.'
         |    END AS text
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS term
         |  FROM tex),
         |fe AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST(('0x' || substring(md5(term), 1, 15)) AS BIGINT) % 64 AS fx,
         |    CAST(count(*) AS DECIMAL(12,0)) AS cnt
         |  FROM tok GROUP BY 1, 2
         |  UNION ALL SELECT doc_id, CAST(-1 AS BIGINT),
         |    CAST(1 AS DECIMAL(12,0)) FROM tex),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tex),
         |w0 AS MATERIALIZED (SELECT fx, CAST(0.0 AS DOUBLE) AS w
         |  FROM (SELECT DISTINCT fx FROM fe))""".stripMargin
    val rs = (0 until rounds).map { i =>
      s"""z$i AS (SELECT doc_id, sum(CAST(w AS DECIMAL(18,12)) * cnt) AS z
         |  FROM fe JOIN w$i USING (fx) GROUP BY 1),
         |r$i AS (SELECT z$i.doc_id,
         |    CAST(CAST(round(1 / (1 + exp(-CAST(z AS DOUBLE))), 6)
         |      AS DECIMAL(8,6)) - tex.label AS DECIMAL(8,6)) AS r
         |  FROM z$i JOIN tex ON tex.doc_id = z$i.doc_id),
         |g$i AS (SELECT fx, sum(r * cnt) AS g
         |  FROM fe JOIN r$i USING (doc_id) GROUP BY 1),
         |w${i + 1} AS MATERIALIZED (SELECT w$i.fx,
         |    round(w$i.w - 1.0 * coalesce(CAST(g$i.g AS DOUBLE), 0) / nn.n,
         |      12) AS w
         |  FROM w$i CROSS JOIN nn LEFT JOIN g$i ON g$i.fx = w$i.fx)""".stripMargin
    }
    val fin =
      s"""zf AS (SELECT doc_id, sum(CAST(w AS DECIMAL(18,12)) * cnt) AS z
         |  FROM fe JOIN w$rounds USING (fx) GROUP BY 1),
         |sc AS (SELECT doc_id, round(1 / (1 + exp(-CAST(z AS DOUBLE))), 6) AS p
         |  FROM zf)""".stripMargin
    (base +: rs :+ fin).mkString(",\n")
  }

  /** Supervised logistic-regression quality scores (TextAnalysis
    * .logisticTrainHashed + logisticScore — the fastText-style
    * classifier trained on labeled quality data, the r16 verdict's #4
    * item): per doc, label, the trained p at 6 dp, and the 0.5
    * prediction. The oracle replays the ENTIRE 5-round full-batch GD
    * via generated unrolled CTEs — a decimal slip anywhere in z / p /
    * gradient / update breaks 500 p values bit-for-bit. */
  def q292LogisticScores(s: SparkSession, dir: String): DataFrame = {
    val docs = TextAnalysis.synthQualityDocs(t(s, dir, "documents"), "doc_id")
      .materialized
    val w = TextAnalysis.logisticTrainHashed(docs, "label", dims = 64)
    TextAnalysis.logisticScore(docs, w, dims = 64)
      .join(docs.select(col("doc_id"), col("label")), Seq("doc_id"))
      .select(col("doc_id"), col("label"), col("p"), col("lr_pred"))
  }

  val q292Sql: String =
    s"""WITH ${logisticCtes(5)}
       |SELECT tex.doc_id, tex.label, sc.p,
       |  CAST(CASE WHEN sc.p >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS lr_pred
       |FROM tex JOIN sc ON sc.doc_id = tex.doc_id""".stripMargin

  /** The trained classifier vs the heuristic quality gate — the q257
    * three-way confusion (label × lr_pred × gate_pred with counts): the
    * fixture plants the gate's blind spots (stopword-rich lottery spam
    * the gate passes, good-but-short prose it fails) and the matrix
    * localizes where the supervised model catches them. Oracle = the
    * full GD replay + the shared qualityScore SQL mirror. */
  def q293LogisticGate(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.logisticGateAudit(
      TextAnalysis.synthQualityDocs(t(s, dir, "documents"), "doc_id")
        .materialized,
      "label", dims = 64)
      .select(col("label"), col("lr_pred"), col("gate_pred"), col("n_docs"))

  val q293Sql: String =
    s"""WITH ${logisticCtes(5)},
       |gate AS (SELECT doc_id,
       |    CAST(CASE WHEN $qualitySqlExpr >= 50 THEN 1 ELSE 0 END AS BIGINT)
       |      AS gate_pred
       |  FROM (SELECT doc_id, text, len(text) AS n_chars FROM tex))
       |SELECT tex.label,
       |  CAST(CASE WHEN sc.p >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS lr_pred,
       |  gate.gate_pred, CAST(count(*) AS BIGINT) AS n_docs
       |FROM tex JOIN sc ON sc.doc_id = tex.doc_id
       |  JOIN gate ON gate.doc_id = tex.doc_id
       |GROUP BY 1, 2, 3""".stripMargin

  /** JPEG EXIF APP1 probe (Multimodal.jpegProbe — the r16 verdict's #5
    * item, the probeWebp shape): SOF dimensions + EXIF orientation from
    * the TIFF IFD0 walk, no pixel decode. The fixture splices real
    * encodeExifApp1 segments (both byte orders) into real imageio
    * JPEGs, leaves one plain (spec-default orientation), and flips one
    * SOI (ok=0) — everything closed-form id arithmetic. */
  def q294JpegProbe(s: SparkSession, dir: String): DataFrame =
    operators.Multimodal.jpegProbe(
      operators.Multimodal.synthJpegExifAssets(t(s, dir, "documents"),
        "doc_id"))
      .toDF()
      .select(col("asset_id"), col("ok"), col("width"), col("height"),
        col("orientation"), col("has_exif"))

  val q294Sql: String =
    """WITH d AS (SELECT doc_id, ((doc_id % 4) + 4) % 4 AS m,
      |    ((doc_id % 8) + 8) % 8 + 1 AS o,
      |    ((doc_id % 13) + 13) % 13 + 2 AS w,
      |    ((doc_id % 9) + 9) % 9 + 3 AS h
      |  FROM documents)
      |SELECT doc_id AS asset_id,
      |  CAST(CASE WHEN m = 3 THEN 0 ELSE 1 END AS BIGINT) AS ok,
      |  CAST(CASE WHEN m = 3 THEN NULL ELSE w END AS BIGINT) AS width,
      |  CAST(CASE WHEN m = 3 THEN NULL ELSE h END AS BIGINT) AS height,
      |  CAST(CASE WHEN m = 3 THEN NULL WHEN m = 2 THEN 1 ELSE o END
      |    AS BIGINT) AS orientation,
      |  CAST(CASE WHEN m = 3 THEN NULL WHEN m = 2 THEN 0 ELSE 1 END
      |    AS BIGINT) AS has_exif
      |FROM d""".stripMargin

  /** Orientation-normalized perceptual dedup (Multimodal
    * .imageAHashOriented over the rotated-re-upload fixture): four
    * stored variants per picture — upright, EXIF-rotated 90°,
    * upside-down, mirrored — must collapse to ONE hash once the probe's
    * orientation is applied to the decoded pixels, so every asset's
    * hash-cluster size equals its id-group size (the closed-form the
    * oracle counts; before this operator the rotated bytes hashed
    * apart — ExifSpec pins that negative too). */
  def q295OrientedDedup(s: SparkSession, dir: String): DataFrame = {
    val hashes = operators.Multimodal.imageAHashOriented(
      operators.Multimodal.synthOrientedJpegAssets(t(s, dir, "documents"),
        "doc_id")).toDF().materialized
    val sizes = hashes.groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(count(lit(1)).as("n_same_hash"))
    hashes.join(sizes, Seq("ahash_hi", "ahash_lo"))
      .select(col("asset_id"), col("n_same_hash"))
  }

  val q295Sql: String =
    """WITH d AS (SELECT doc_id,
      |    (doc_id - ((doc_id % 4) + 4) % 4) // 4 AS g FROM documents)
      |SELECT doc_id AS asset_id,
      |  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n_same_hash
      |FROM d""".stripMargin

  /** zstd multi-frame member split (Compressed.zstdMemberSplit — the
    * SURVEY §7.4 #7 gated leg LIFTED: zstd-jni is in the environment
    * and already powers decodeShard's stream path, so the `.warc.zst`
    * frame walk slots in beside the RFC 1952 one exactly as that entry
    * promised): per frame, (n_bytes, md5) of the decompressed payload,
    * replayed by the oracle from the source text without seeing a zstd
    * byte. Boundaries (offset/comp_len) are codec-implementation facts
    * proven by the re-slice round-trip in ZstdSpec, not oracled (the
    * q239 convention). */
  def q296ZstdMembers(s: SparkSession, dir: String): DataFrame =
    operators.Compressed.zstdMemberFeatures(
      operators.Compressed.synthZstdShards(
        t(s, dir, "documents"), "doc_id", "text", shardSize = 8))
      .toDF()
      .select(col("shard_id"), col("member_idx"), col("ok"),
        col("n_bytes"), col("md5_hex"))

  val q296Sql: String =
    """SELECT CAST((doc_id - ((doc_id % 8) + 8) % 8) // 8 AS BIGINT)
      |    AS shard_id,
      |  CAST(row_number() OVER (
      |      PARTITION BY (doc_id - ((doc_id % 8) + 8) % 8) // 8
      |      ORDER BY doc_id) - 1 AS BIGINT) AS member_idx,
      |  CAST(1 AS BIGINT) AS ok,
      |  CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS md5_hex
      |FROM documents WHERE text IS NOT NULL""".stripMargin

  /** WARC records over `.warc.zst` shards — the SAME record reader and
    * the SAME oracle as q250's gzip path (the codec sniff routes inside
    * walkShard; record-layer code untouched, exactly the §7.4 #7
    * slots-in promise): a divergence anywhere in the zstd walk breaks
    * q250's oracle verbatim. */
  def q297WarcZstd(s: SparkSession, dir: String): DataFrame =
    operators.Warc.warcRecordFeatures(
      operators.Warc.synthWarcShards(t(s, dir, "documents"), "doc_id", "text",
        codec = "zstd"))
      .toDF()

  /** `.jsonl.zst` document ingest (Compressed.jsonlLines + from_json —
    * the Dolma/RedPajama distribution reality a user switching corpora
    * hits first): codec-sniffed frame split, UTF-8 line split, typed
    * JSON parse. The fixture serializes the documents table itself
    * through to_json (content newlines/quotes escape as real writers
    * escape them), 4 lines per zstd frame, 8 docs per shard — so the
    * oracle replays shard/member/line coordinates and the parsed
    * fields from the source rows without seeing a compressed byte. */
  def q298JsonlZstd(s: SparkSession, dir: String): DataFrame =
    operators.Compressed.jsonlLines(
      operators.Compressed.synthJsonlZstdShards(t(s, dir, "documents")))
      .toDF()
      .withColumn("_j",
        from_json(col("line"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "id BIGINT, text STRING, lang STRING")))
      .select(col("shard_id"), col("member_idx"), col("line_idx"),
        col("_j.id").as("doc_id"), col("_j.lang").as("lang"),
        length(col("_j.text")).cast("long").as("n_chars"))

  val q298Sql: String =
    """WITH d AS (SELECT doc_id, text, lang,
      |    (doc_id - ((doc_id % 8) + 8) % 8) // 8 AS shard,
      |    row_number() OVER (
      |      PARTITION BY (doc_id - ((doc_id % 8) + 8) % 8) // 8
      |      ORDER BY doc_id) - 1 AS rk
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT CAST(shard AS BIGINT) AS shard_id,
      |  CAST(rk // 4 AS BIGINT) AS member_idx,
      |  CAST(rk % 4 AS BIGINT) AS line_idx, doc_id, lang,
      |  CAST(len(text) AS BIGINT) AS n_chars
      |FROM d""".stripMargin

  /** MinHash-LSH parameter planning (Dedup.lshPlan — the S-curve
    * (bands, rows) chooser a 100 TB deployment runs before any dedup
    * job): for each (τ, hash budget), the closest-midpoint signature
    * shape under b·r ≤ H with deterministic tie-breaks, plus the
    * detection probabilities at τ±0.1 that tell a deployment whether
    * the budget buys a sharp enough curve. The oracle replays the full
    * candidate-grid argmin scan — pow rounds once at 6 dp (the
    * transcendental discipline), so both engines rank identical
    * values. */
  def q299LshPlan(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.lshPlan(s, thresholds = Seq(0.5, 0.7, 0.85),
      budgets = Seq(32, 64, 128, 256))

  val q299Sql: String =
    """WITH cases AS (
      |  SELECT tau, budget FROM (VALUES (0.5), (0.7), (0.85)) t(tau)
      |  CROSS JOIN (VALUES (32), (64), (128), (256)) h(budget)),
      |grid AS (SELECT b.i AS b, r.i AS r
      |  FROM range(1, 257) b(i) CROSS JOIN range(1, 257) r(i)),
      |cand AS (SELECT tau, budget, b, r,
      |    round(pow(1.0 / b, 1.0 / r), 6) AS t_est
      |  FROM cases JOIN grid ON b * r <= budget),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY tau, budget
      |    ORDER BY abs(t_est - tau) ASC, b * r DESC, r ASC) AS k FROM cand)
      |SELECT tau, CAST(budget AS BIGINT) AS budget, CAST(b AS BIGINT) AS bands,
      |  CAST(r AS BIGINT) AS rows_per_band, t_est,
      |  round(1 - pow(1 - pow(tau - 0.1, r), b), 6) AS p_below,
      |  round(1 - pow(1 - pow(tau, r), b), 6) AS p_at,
      |  round(1 - pow(1 - pow(tau + 0.1, r), b), 6) AS p_above
      |FROM rk WHERE k = 1""".stripMargin

  /** PDF → GPT-packing composition (the q284 pattern with the NEW
    * source format: extracted PDF text drops straight into q197's
    * concatenate-then-chunk layout — a user pointing the training
    * pipeline at a PDF lake instead of WET shards changes ONE source
    * call). Failed extractions ride along as zero-token rows (the
    * never-vanish rule carried into the layout: ok=0 docs occupy no
    * tokens but keep their row). Oracle = the expected-text CASE
    * feeding q197's window chain. */
  def q300PdfPack(s: SparkSession, dir: String): DataFrame =
    operators.Packing.packSequences(
      operators.Pdf.pdfTexts(
        operators.Pdf.synthPdfAssets(t(s, dir, "documents"), "doc_id"))
        .toDF(),
      "doc_id", "text", blockLen = 256)

  val q300Sql: String =
    s"""WITH d AS (SELECT doc_id, ((doc_id % 6) + 6) % 6 AS m FROM documents),
       |e AS (SELECT doc_id, CASE m
       |    WHEN 0 THEN 'Hello doc ' || doc_id || ' kerned TJ ' || doc_id ||
       |      'Paren ( nested ) and \\ back A'
       |    WHEN 1 THEN 'Flate page one of ' || doc_id || chr(10) ||
       |      'line one' || chr(10) || 'line two ' || doc_id
       |    WHEN 2 THEN 'Café costs €' || doc_id
       |    ELSE '' END AS text
       |  FROM d),
       |tf AS (SELECT doc_id,
       |    CASE WHEN text IS NULL OR regexp_replace(text, '\\s', '', 'g') = '' THEN 0
       |         ELSE CAST(len(string_split($normSql, ' ')) AS BIGINT)
       |    END AS n_tok
       |  FROM e),
       |st AS (SELECT doc_id, n_tok,
       |    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS tok_start
       |  FROM tf)
       |SELECT doc_id, n_tok, tok_start,
       |  CASE WHEN n_tok > 0 THEN tok_start // 256 END AS block_first,
       |  CASE WHEN n_tok > 0 THEN (tok_start + n_tok - 1) // 256 END AS block_last,
       |  CASE WHEN n_tok > 0
       |    THEN (tok_start + n_tok - 1) // 256 > tok_start // 256
       |  END AS crosses_block
       |FROM st""".stripMargin

  // =========================================================================
  // Registry
  // =========================================================================

  /** name → (query fn, oracle SQL or None for rows-only checks). */
  val entries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q01_pricing_summary", q01PricingSummary _, Some(q01Sql)),
    ("q02_revenue_by_nation", q02RevenueByNation _, Some(q02Sql)),
    ("q03_segment_sales", q03SegmentSales _, Some(q03Sql)),
    ("q04_top_orders_per_customer", q04TopOrdersPerCustomer _, Some(q04Sql)),
    ("q05_order_counts", q05OrderCounts _, Some(q05Sql)),
    ("q06_conditional_agg", q06ConditionalAgg _, Some(q06Sql)),
    ("q07_customers_without_orders", q07CustomersWithoutOrders _, Some(q07Sql)),
    ("q08_rollup_counts", q08RollupCounts _, Some(q08Sql)),
    ("q09_latest_event_per_user", q09LatestEventPerUser _, Some(q09Sql)),
    ("q10_events_by_day", q10EventsByDay _, Some(q10Sql)),
    ("q11_int_coercion", q11IntCoercion _, Some(q11Sql)),
    ("q12_multiformat_date_parse", q12MultiFormatDateParse _, Some(q12Sql)),
    ("q13_name_concat", q13NameConcat _, Some(q13Sql)),
    ("q14_alias_coalesce", q14AliasCoalesce _, Some(q14Sql)),
    ("q15_default_zero", q15DefaultZero _, Some(q15Sql)),
    ("q16_json_extract", q16JsonExtract _, Some(q16Sql)),
    ("q17_integrity_audit", q17IntegrityAudit _, Some(q17Sql)),
    ("q18_event_uniqueness", q18EventUniqueness _, Some(q18Sql)),
    ("q19_purchase_filter", q19PurchaseFilter _, Some(q19Sql)),
    ("q20_text_profile", q20TextProfile _, Some(q20Sql)),
    ("q21_dedup_exact", q21DedupExact _, Some(q21Sql)),
    ("q22_shingle_stats", q22ShingleStats _, Some(q22Sql)),
    ("q23_jaccard_pairs", q23JaccardPairs _, Some(q23Sql)),
    ("q24_minhash_lsh", q24MinhashLsh _, Some(q24Sql)),
    ("q25_simhash", q25Simhash _, Some(q25Sql)),
    ("q26_knn_brute_force", q26KnnBruteForce _, Some(q26Sql)),
    ("q27_ann_lsh", q27AnnLsh _, Some(q27Sql)),
    ("q28_embedding_near_dup", q28EmbeddingNearDup _, Some(q28Sql)),
    ("q29_multimodal_assets", q29MultimodalAssets _, Some(q29Sql)),
    ("q30_multimodal_decode", q30MultimodalDecode _, Some(q30Sql)),
    ("q31_star_customer_dim", q31StarCustomerDim _, Some(q31Sql)),
    ("q32_error_channel", q32ErrorChannel _, Some(q32Sql)),
    ("q33_ann_ivf", q33AnnIvf _, Some(q33Sql)),
    ("q34_tumbling_window", q34TumblingWindow _, Some(q34Sql)),
    ("q35_session_window", q35SessionWindow _, Some(q35Sql)),
    ("q36_embedding_near_dup_lsh", q36EmbeddingNearDupLsh _, Some(q36Sql)),
    ("q37_asof_join", q37AsOfJoin _, Some(q37Sql)),
    ("q38_range_join", q38RangeJoin _, Some(q38Sql)),
    ("q39_simhash_near_dup", q39SimhashNearDup _, Some(q39Sql)),
    ("q40_cube_counts", q40CubeCounts _, Some(q40Sql)),
    ("q41_top_orders", q41TopOrders _, Some(q41Sql)),
    ("q42_salted_agg", q42SaltedAgg _, Some(q42Sql)),
    ("q43_sql_dot_product", q43SqlDotProduct _, Some(q43Sql)),
    ("q44_sampling", q44Sampling _, Some(q44Sql)),
    ("q45_split", q45Split _, Some(q45Sql)),
    ("q46_rolling_window", q46RollingWindow _, Some(q46Sql)),
    ("q47_tfidf_terms", q47TfidfTerms _, Some(q47Sql)),
    ("q48_corpus_stats", q48CorpusStats _, Some(q48Sql)),
    ("q49_topk_agg", q49TopkAgg _, Some(q49Sql)),
    ("q50_pivot", q50Pivot _, Some(q50Sql)),
    ("q51_semi_join", q51SemiJoin _, Some(q51Sql)),
    ("q52_intersect", q52Intersect _, Some(q52Sql)),
    ("q53_grouping_sets", q53GroupingSets _, Some(q53Sql)),
    ("q54_except", q54Except _, Some(q54Sql)),
    ("q55_dedup_pipeline", q55DedupPipeline _, Some(q55Sql)),
    ("q56_resize_plan", q56ResizePlan _, Some(q56Sql)),
    ("q57_day_over_day", q57DayOverDay _, Some(q57Sql)),
    ("q58_hll_distinct", q58HllDistinct _, Some(q58Sql)),
    ("q59_quantiles", q59Quantiles _, Some(q59Sql)),
    ("q60_ntile", q60Ntile _, Some(q60Sql)),
    ("q61_quantize", q61Quantize _, Some(q61Sql)),
    ("q62_doc_chunks", q62DocChunks _, Some(q62Sql)),
    ("q63_sliding_window", q63SlidingWindow _, Some(q63Sql)),
    ("q64_zorder", q64ZOrder _, Some(q64Sql)),
    ("q65_duplicate_clusters", q65DuplicateClusters _, Some(q65Sql)),
    ("q66_scd2_history", q66Scd2History _, Some(q66Sql)),
    ("q67_heavy_hitters", q67HeavyHitters _, Some(q67Sql)),
    ("q68_quality_filter", q68QualityFilter _, Some(q68Sql)),
    ("q69_sequence_packing", q69SequencePacking _, Some(q69Sql)),
    ("q70_boilerplate", q70Boilerplate _, Some(q70Sql)),
    ("q71_cms_frequency", q71CmsFrequency _, Some(q71Sql)),
    ("q72_source_cap", q72SourceCap _, Some(q72Sql)),
    ("q73_decontamination", q73Decontamination _, Some(q73Sql)),
    ("q74_repetition", q74Repetition _, Some(q74Sql)),
    ("q75_duplicate_clusters_lsh", q75DuplicateClustersLsh _, Some(q75Sql)),
    ("q76_pii_redaction", q76PiiRedaction _, Some(q76Sql)),
    ("q77_bm25", q77Bm25 _, Some(q77Sql)),
    ("q78_gap_fill", q78GapFill _, Some(q78Sql)),
    ("q79_mixture_temperature", q79MixtureTemperature _, Some(q79Sql)),
    ("q80_decontamination_bloom", q80DecontaminationBloom _, Some(q80Sql)),
    ("q81_funnel", q81Funnel _, Some(q81Sql)),
    ("q82_cohort_retention", q82CohortRetention _, Some(q82Sql)),
    ("q83_cluster_representatives", q83ClusterRepresentatives _, Some(q83Sql)),
    ("q84_unigram_logprob", q84UnigramLogprob _, Some(q84Sql)),
    ("q85_rolling_anomalies", q85RollingAnomalies _, Some(q85Sql)),
    ("q86_winsorize", q86Winsorize _, Some(q86Sql)),
    ("q87_histogram_quantiles", q87HistogramQuantiles _, Some(q87Sql)),
    ("q88_fuzzy_join", q88FuzzyJoin _, Some(q88Sql)),
    ("q89_sessionize", q89Sessionize _, Some(q89Sql)),
    ("q90_weighted_sample", q90WeightedSample _, Some(q90Sql)),
    ("q91_bigram_logprob", q91BigramLogprob _, Some(q91Sql)),
    ("q92_source_overlap", q92SourceOverlap _, Some(q92Sql)),
    ("q93_length_batches", q93LengthBatches _, Some(q93Sql)),
    ("q94_column_profile", q94ColumnProfile _, Some(q94Sql)),
    ("q95_tokenize_ids", q95TokenizeIds _, Some(q95Sql)),
    ("q96_centroids", q96Centroids _, Some(q96Sql)),
    ("q97_corr_verdict", q97CorrVerdict _, Some(q97Sql)),
    ("q98_collocations", q98Collocations _, Some(q98Sql)),
    ("q99_winsorize_sketch", q99WinsorizeSketch _, Some(q99Sql)),
    ("q100_store_cdc_diff", q100StoreCdcDiff _, Some(q100Sql)),
    ("q101_store_range_read", q101StoreRangeRead _, Some(q101Sql)),
    ("q102_cluster_split", q102ClusterSplit _, Some(q102Sql)),
    ("q103_neardup_decontamination", q103NearDupDecontamination _, Some(q103Sql)),
    ("q104_frame_plan", q104FramePlan _, Some(q104Sql)),
    ("q105_vocab_coverage", q105VocabCoverage _, Some(q105Sql)),
    ("q106_char_classes", q106CharClasses _, Some(q106Sql)),
    ("q107_label_centroid_sim", q107LabelCentroidSim _, Some(q107Sql)),
    ("q108_semdedup", q108SemDedup _, Some(q108Sql)),
    ("q109_duplicate_spans", q109DuplicateSpans _, Some(q109Sql)),
    ("q110_naive_bayes", q110NaiveBayes _, Some(q110Sql)),
    ("q111_perplexity_bands", q111PerplexityBands _, Some(q111Sql)),
    ("q112_containment_pairs", q112ContainmentPairs _, Some(q112Sql)),
    ("q113_label_outliers", q113LabelOutliers _, Some(q113Sql)),
    ("q114_budget_allocation", q114BudgetAllocation _, Some(q114Sql)),
    ("q115_dedup_nfc", q115DedupNfc _, Some(q115Sql)),
    ("q116_dsir_sample", q116DsirSample _, Some(q116Sql)),
    ("q117_concurrent_shipments", q117ConcurrentShipments _, Some(q117Sql)),
    ("q118_tokenizer_fertility", q118TokenizerFertility _, Some(q118Sql)),
    ("q119_lang_confusion", q119LangConfusion _, Some(q119Sql)),
    ("q120_ewma_smooth", q120EwmaSmooth _, Some(q120Sql)),
    ("q121_bootstrap_ci", q121BootstrapCi _, Some(q121Sql)),
    ("q122_dedup_pagerank", q122DedupPagerank _, Some(q122Sql)),
    ("q123_random_projection", q123RandomProjection _, Some(q123Sql)),
    ("q124_winnow_overlap", q124WinnowOverlap _, Some(q124Sql)),
    ("q125_pq_codes", q125PqCodes _, Some(q125Sql)),
    ("q126_ann_pq", q126AnnPq _, Some(q126Sql)),
    ("q127_exact_quantiles", q127ExactQuantiles _, Some(q127Sql)),
    ("q128_curriculum_phases", q128CurriculumPhases _, Some(q128Sql)),
    ("q129_template_clusters", q129TemplateClusters _, Some(q129Sql)),
    ("q130_bloom_join", q130BloomJoin _, Some(q130Sql)),
    ("q131_salted_join", q131SaltedJoin _, Some(q131Sql)),
    ("q132_hard_negatives", q132HardNegatives _, Some(q132Sql)),
    ("q133_retrieval_ap", q133RetrievalAp _, Some(q133Sql)),
    ("q134_normalize", q134Normalize _, Some(q134Sql)),
    ("q135_temporal_split", q135TemporalSplit _, Some(q135Sql)),
    ("q136_feature_hash", q136FeatureHash _, Some(q136Sql)),
    ("q137_rrf_fusion", q137RrfFusion _, Some(q137Sql)),
    ("q138_winsorize_agg", q138WinsorizeAgg _, Some(q138Sql)),
    ("q139_robust_scale", q139RobustScale _, Some(q139Sql)),
    ("q140_label_dispersion", q140LabelDispersion _, Some(q140Sql)),
    ("q141_dup_profile", q141DupProfile _, Some(q141Sql)),
    ("q142_hard_negatives_ann", q142HardNegativesAnn _, Some(q142Sql)),
    ("q143_curation_pipeline", q143CurationPipeline _, Some(q143Sql)),
    ("q144_wav_decode", q144WavDecode _, Some(q144Sql)),
    ("q145_bmp_resize", q145BmpResize _, Some(q145Sql)),
    ("q146_wav_windows", q146WavWindows _, Some(q146Sql)),
    ("q147_image_ahash", q147ImageAhash _, Some(q147Sql)),
    ("q148_ahash_clusters", q148AhashClusters _, Some(q148Sql)),
    ("q149_silence_trim", q149SilenceTrim _, Some(q149Sql)),
    ("q150_ann_ivfpq", q150AnnIvfPq _, Some(q150Sql)),
    ("q151_wav_zcr", q151WavZcr _, Some(q151Sql)),
    ("q152_char_entropy", q152CharEntropy _, Some(q152Sql)),
    ("q153_hll_overlap", q153HllOverlap _, Some(q153Sql)),
    ("q154_bpe_merges", q154BpeMerges _, Some(q154Sql)),
    ("q155_bpe_segment", q155BpeSegment _, Some(q155Sql)),
    ("q156_image_dhash", q156ImageDhash _, Some(q156Sql)),
    ("q157_zipf_slope", q157ZipfSlope _, Some(q157Sql)),
    ("q158_store_evolution", q158StoreEvolution _, Some(q158Sql)),
    ("q159_source_kl", q159SourceKl _, Some(q159Sql)),
    ("q160_psi_drift", q160PsiDrift _, Some(q160Sql)),
    ("q161_quality_audit", q161QualityAudit _, Some(q161Sql)),
    ("q162_ngram_novelty", q162NgramNovelty _, Some(q162Sql)),
    ("q163_embedding_cov", q163EmbeddingCov _, Some(q163Sql)),
    ("q164_wav_spectral", q164WavSpectral _, Some(q164Sql)),
    ("q165_k_centers", q165KCenters _, Some(q165Sql)),
    ("q166_seasonal_decompose", q166SeasonalDecompose _, Some(q166Sql)),
    ("q167_knn_label_agreement", q167KnnLabelAgreement _, Some(q167Sql)),
    ("q168_asof_nearest", q168AsofNearest _, Some(q168Sql)),
    ("q169_jaro_winkler_link", q169JaroWinklerLink _, Some(q169Sql)),
    ("q170_autocorrelation", q170Autocorrelation _, Some(q170Sql)),
    ("q171_triangle_counts", q171TriangleCounts _, Some(q171Sql)),
    ("q172_group_kfold", q172GroupKfold _, Some(q172Sql)),
    ("q173_vocab_stats", q173VocabStats _, Some(q173Sql)),
    ("q174_source_dashboard", q174SourceDashboard _, Some(q174Sql)),
    ("q175_rfm_segments", q175RfmSegments _, Some(q175Sql)),
    ("q176_entity_resolution", q176EntityResolution _, Some(q176Sql)),
    ("q177_daily_growth", q177DailyGrowth _, Some(q177Sql)),
    ("q178_mulaw_decode", q178MulawDecode _, Some(q178Sql)),
    ("q179_local_supplier_volume", q179LocalSupplierVolume _, Some(q179Sql)),
    ("q180_returned_items", q180ReturnedItems _, Some(q180Sql)),
    ("q181_qoi_decode", q181QoiDecode _, Some(q181Sql)),
    ("q182_cross_container_dedup", q182CrossContainerDedup _, Some(q182Sql)),
    ("q183_relative_ranks", q183RelativeRanks _, Some(q183Sql)),
    ("q184_nation_unpivot", q184NationUnpivot _, Some(q184Sql)),
    ("q185_psi_quantile", q185PsiQuantile _, Some(q185Sql)),
    ("q186_chi_square_drift", q186ChiSquareDrift _, Some(q186Sql)),
    ("q187_gini_concentration", q187GiniConcentration _, Some(q187Sql)),
    ("q188_shipping_priority", q188ShippingPriority _, Some(q188Sql)),
    ("q189_benford_prices", q189BenfordPrices _, Some(q189Sql)),
    ("q190_js_divergence", q190JsDivergence _, Some(q190Sql)),
    ("q191_mahalanobis_diag", q191MahalanobisDiag _, Some(q191Sql)),
    ("q192_sampled_quantiles", q192SampledQuantiles _, Some(q192Sql)),
    ("q193_sparse_cosine", q193SparseCosine _, Some(q193Sql)),
    ("q194_quantile_normalize", q194QuantileNormalize _, Some(q194Sql)),
    ("q195_hilbert", q195Hilbert _, Some(q195Sql)),
    ("q196_windowed_hll", q196WindowedHll _, Some(q196Sql)),
    ("q197_sequence_pack", q197SequencePack _, Some(q197Sql)),
    ("q198_block_occupancy", q198BlockOccupancy _, Some(q198Sql)),
    ("q199_chunk_overlap", q199ChunkOverlap _, Some(q199Sql)),
    ("q200_setsim_join", q200SetSimJoin _, Some(q200Sql)),
    ("q201_next_fit_pack", q201NextFitPack _, Some(q201Sql)),
    ("q202_context_window", q202ContextWindow _, Some(q202Sql)),
    ("q203_balanced_shards", q203BalancedShards _, Some(q203Sql)),
    ("q204_block_text", q204BlockText _, Some(q204Sql)),
    ("q205_large_volume", q205LargeVolume _, Some(q205Sql)),
    ("q206_waiting_suppliers", q206WaitingSuppliers _, Some(q206Sql)),
    ("q207_volume_shipping", q207VolumeShipping _, Some(q207Sql)),
    ("q208_sales_opportunity", q208SalesOpportunity _, Some(q208Sql)),
    ("q209_forecast_revenue", q209ForecastRevenue _, Some(q209Sql)),
    ("q210_order_priority", q210OrderPriority _, Some(q210Sql)),
    ("q211_promo_revenue", q211PromoRevenue _, Some(q211Sql)),
    ("q212_customer_distribution", q212CustomerDistribution _, Some(q212Sql)),
    ("q213_small_qty_revenue", q213SmallQtyRevenue _, Some(q213Sql)),
    ("q214_top_supplier", q214TopSupplier _, Some(q214Sql)),
    ("q215_discounted_revenue", q215DiscountedRevenue _, Some(q215Sql)),
    ("q216_market_share", q216MarketShare _, Some(q216Sql)),
    ("q217_product_profit", q217ProductProfit _, Some(q217Sql)),
    ("q218_roc_auc", q218RocAuc _, Some(q218Sql)),
    ("q219_calibration_ece", q219CalibrationEce _, Some(q219Sql)),
    ("q220_cohens_kappa", q220CohensKappa _, Some(q220Sql)),
    ("q221_ndcg", q221Ndcg _, Some(q221Sql)),
    ("q222_k_anonymity", q222KAnonymity _, Some(q222Sql)),
    ("q223_cusum_changepoints", q223CusumChangepoints _, Some(q223Sql)),
    ("q224_copeland_preference", q224CopelandPreference _, Some(q224Sql)),
    ("q225_shipping_priority", q225ShippingPriority _, Some(q225Sql)),
    ("q226_min_cost_supplier", q226MinCostSupplier _, Some(q226Sql)),
    ("q227_important_stock", q227ImportantStock _, Some(q227Sql)),
    ("q228_supplier_part_counts", q228SupplierPartCounts _, Some(q228Sql)),
    ("q229_surge_suppliers", q229SurgeSuppliers _, Some(q229Sql)),
    ("q230_association_rules", q230AssociationRules _, Some(q230Sql)),
    ("q231_event_transitions", q231EventTransitions _, Some(q231Sql)),
    ("q232_survival_km", q232SurvivalKm _, Some(q232Sql)),
    ("q233_ab_verdict", q233AbVerdict _, Some(q233Sql)),
    ("q234_pareto_front", q234ParetoFront _, Some(q234Sql)),
    ("q235_fd_audit", q235FdAudit _, Some(q235Sql)),
    ("q236_png_decode", q236PngDecode _, Some(q236Sql)),
    ("q237_gzip_text", q237GzipText _, Some(q237Sql)),
    ("q238_global_auc_sharded", q238GlobalAucSharded _, Some(q238Sql)),
    ("q239_gzip_members", q239GzipMembers _, Some(q239Sql)),
    ("q240_epoch_shuffle", q240EpochShuffle _, Some(q240Sql)),
    ("q241_gif_decode", q241GifDecode _, Some(q241Sql)),
    ("q242_conformal", q242Conformal _, Some(q242Sql)),
    ("q243_mrr", q243Mrr _, Some(q243Sql)),
    ("q244_omni_dedup", q244OmniDedup _, Some(q244Sql)),
    ("q245_avro_decode", q245AvroDecode _, Some(q245Sql)),
    ("q246_gif_meta", q246GifMeta _, Some(q246Sql)),
    ("q247_isotonic", q247Isotonic _, Some(q247Sql)),
    ("q248_html_extract", q248HtmlExtract _, Some(q248Sql)),
    ("q249_url_profile", q249UrlProfile _, Some(q249Sql)),
    ("q250_warc_records", q250WarcRecords _, Some(q250Sql)),
    ("q251_codec_text", q251CodecText _, Some(q251Sql)),
    ("q252_crawl_pipeline", q252CrawlPipeline _, Some(q252Sql)),
    ("q253_domain_cap", q253DomainCap _, Some(q253Sql)),
    ("q254_event_paths", q254EventPaths _, Some(q254Sql)),
    ("q255_psl_etld1", q255PslEtld1 _, Some(q255Sql)),
    ("q256_warc_http", q256WarcHttp _, Some(q256Sql)),
    ("q257_langid_ngram", q257LangIdNgram _, Some(q257Sql)),
    ("q258_canonical_urls", q258CanonicalUrls _, Some(q258Sql)),
    ("q259_robots_gate", q259RobotsGate _, Some(q259Sql)),
    ("q260_paragraph_dedup", q260ParagraphDedup _, Some(q260Sql)),
    ("q261_link_edges", q261LinkEdges _, Some(q261Sql)),
    ("q262_host_graph", q262HostGraph _, Some(q262Sql)),
    ("q263_dot_segments", q263DotSegments _, Some(q263Sql)),
    ("q264_host_pagerank", q264HostPagerank _, Some(q264Sql)),
    ("q265_meta_robots", q265MetaRobots _, Some(q265Sql)),
    ("q266_blocklist_gate", q266BlocklistGate _, Some(q266Sql)),
    ("q267_frontier", q267Frontier _, Some(q267Sql)),
    ("q268_percent_norm", q268PercentNorm _, Some(q268Sql)),
    ("q269_crawl_policy", q269CrawlPolicy _, Some(q269Sql)),
    ("q270_jpeg_cross_dedup", q270JpegCrossDedup _, Some(q270Sql)),
    ("q271_idn_hosts", q271IdnHosts _, Some(q271Sql)),
    ("q272_sitemap_entries", q272SitemapEntries _, Some(q272Sql)),
    ("q273_fetch_schedule", q273FetchSchedule _, Some(q273Sql)),
    ("q274_main_content", q274MainContent _, Some(q274Sql)),
    ("q275_charset_transcode", q275CharsetTranscode _, Some(q275Sql)),
    ("q276_revisit_schedule", q276RevisitSchedule _, Some(q276Sql)),
    ("q277_suffix_spans", q277SuffixSpans _, Some(q277Sql)),
    ("q278_unigram_pieces", q278UnigramPieces _, Some(q278Sql)),
    ("q279_unigram_segment", q279UnigramSegment _, Some(q279Sql)),
    ("q280_webp_probe", q280WebpProbe _, Some(q280Sql)),
    ("q281_transcode_entropy", q281TranscodeEntropy _, Some(q281Sql)),
    ("q282_http_transcode", q282HttpTranscode _, Some(q282Sql)),
    ("q283_unigram_encode", q283UnigramEncode _, Some(q283Sql)),
    ("q284_unigram_pack", q284UnigramPack _, Some(q284Sql)),
    ("q285_anchor_texts", q285AnchorTexts _, Some(q285Sql)),
    ("q286_media_inventory", q286MediaInventory _, Some(q286Sql)),
    ("q287_pdf_text", q287PdfText _, Some(q287Sql)),
    ("q288_pdf_entropy", q288PdfEntropy _, Some(q288Sql)),
    ("q289_feed_entries", q289FeedEntries _, Some(q289Sql)),
    ("q290_feed_revisit", q290FeedRevisit _, Some(q290Sql)),
    ("q291_compression_gate", q291CompressionGate _, Some(q291Sql)),
    ("q292_logistic_scores", q292LogisticScores _, Some(q292Sql)),
    ("q293_logistic_gate", q293LogisticGate _, Some(q293Sql)),
    ("q294_jpeg_probe", q294JpegProbe _, Some(q294Sql)),
    ("q295_oriented_dedup", q295OrientedDedup _, Some(q295Sql)),
    ("q296_zstd_members", q296ZstdMembers _, Some(q296Sql)),
    ("q297_warc_zstd", q297WarcZstd _, Some(q250Sql)),
    ("q298_jsonl_zstd", q298JsonlZstd _, Some(q298Sql)),
    ("q299_lsh_plan", q299LshPlan _, Some(q299Sql)),
    ("q300_pdf_pack", q300PdfPack _, Some(q300Sql)))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map { case (n, f, _) => n -> f }.toMap

  def oracleSql: Map[String, String] =
    entries.flatMap { case (n, _, o) => o.map(n -> _) }.toMap
}
