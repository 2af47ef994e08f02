package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest of the reference's wide denormalized sales feed.
  *
  * The reference transports one CSV row per Kafka JSON message with every
  * value a string (reference: producer/csv_to_kafka.py:31-33). We mirror
  * that with an explicit all-StringType 50-field schema (FIXTURES.md §1) so
  * typing happens in one auditable cleansing projection, exactly like the
  * reference's late coercion (reference: flink/stream_to_star.py:50-76).
  *
  * Scale note: the schema is declared (never inferred) — schema inference
  * is a full extra pass over the data, unacceptable at 100 TB.
  */
object SalesFeed {

  /** The 50 source columns, in file order (reference: data/MOCK_DATA.csv:1). */
  val fieldNames: Seq[String] = Seq(
    "id",
    "customer_first_name", "customer_last_name", "customer_age",
    "customer_email", "customer_country", "customer_postal_code",
    "customer_pet_type", "customer_pet_name", "customer_pet_breed",
    "seller_first_name", "seller_last_name", "seller_email",
    "seller_country", "seller_postal_code",
    "product_name", "product_category", "product_price",
    "product_quantity", "sale_date",
    "sale_customer_id", "sale_seller_id", "sale_product_id",
    "sale_quantity", "sale_total_price",
    "store_name", "store_location", "store_city", "store_state",
    "store_country", "store_phone", "store_email",
    "pet_category", "product_weight", "product_color", "product_size",
    "product_brand", "product_material", "product_description",
    "product_rating", "product_reviews",
    "product_release_date", "product_expiry_date",
    "supplier_name", "supplier_contact", "supplier_email",
    "supplier_phone", "supplier_address", "supplier_city",
    "supplier_country")

  /** All-string transport schema: empty string ≡ missing, typed later. */
  val rawSchema: StructType =
    StructType(fieldNames.map(StructField(_, StringType, nullable = true)))

  /** Transport schema + corrupt-record column (T8: unparseable rows land
    * there instead of being silently nulled). */
  val rawSchemaWithCorrupt: StructType =
    rawSchema.add(StructField(graft.streaming.ErrorChannel.corruptCol,
      StringType, nullable = true))

  /** S1 — CSV scan: header, UTF-8 BOM tolerant, quoted multiline fields
    * (product_description contains embedded newlines), deterministic
    * per-file sequencing for last-write-wins.
    *
    * Adds `_seq`: a monotonically increasing ordering column derived from
    * (file name, position) so last-write-wins does NOT depend on task
    * scheduling — the reference relies on single-threaded arrival order
    * (reference: flink/stream_to_star.py:303); at scale we must carry the
    * order explicitly (SURVEY.md §7.4.1).
    */
  def readCsv(spark: SparkSession, glob: String): DataFrame = {
    // expand the glob here: handed the glob literal, Spark's
    // FileStreamSink.hasMetadata stats it and logs a WARN with a full
    // FileNotFoundException stack on every read. A glob matching nothing
    // is passed on as is, so the read still fails with Spark's own
    // path-not-found error instead of returning an empty frame.
    val pattern = new Path(glob)
    val matched = Option(pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .globStatus(pattern)).toSeq.flatten.map(_.getPath.toString).sorted
    val paths = if (matched.isEmpty) Seq(glob) else matched
    val raw = spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("encoding", "UTF-8")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", graft.streaming.ErrorChannel.corruptCol)
      .schema(rawSchemaWithCorrupt)
      .csv(paths: _*)
    withArrivalSeq(raw)
  }

  /** Attach the explicit arrival-order column. Files sort lexicographically
    * (the reference producer sends `sorted(glob(...))`,
    * producer/csv_to_kafka.py:24); within a file, `monotonically_increasing_id`
    * preserves row order (partition ids increase with file offset), so
    * (file name, mono id) totally orders the feed.
    *
    * `_seq` is a STRUCT(file, pos) compared lexicographically by `max_by`
    * — no bit-packed arithmetic, so there is no field-collision overflow
    * at any partition count. Both fields are computed in the scan itself:
    * no second pass over the files, no job, and no window over the feed.
    */
  def withArrivalSeq(df: DataFrame): DataFrame =
    df.withColumn("_seq", struct(input_file_name().as("file"),
      monotonically_increasing_id().as("pos")))

  /** S2 — serialize rows to Kafka-shaped JSON messages (one per row). */
  def toKafkaMessages(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** S2 — producer write: one JSON message per row to a Kafka topic
    * (reference: producer/csv_to_kafka.py:17-33). Requires the
    * spark-sql-kafka connector on the classpath and a reachable broker —
    * neither exists in the sandbox, so this path is exercised only by the
    * broker-gated integration test. */
  def writeToKafka(df: DataFrame, bootstrap: String, topic: String): Unit =
    toKafkaMessages(df).write
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .save()

  /** Parse a JSON string column into the raw columns PLUS the
    * corrupt-record column; any other columns (e.g. a `_seq` ordering
    * struct) ride along. Malformed JSON lands in `_corrupt_record`
    * (routed to the dead-letter channel by [[graft.streaming.ErrorChannel
    * .tagged]]) — a bare `from_json(value, rawSchema)` would return an
    * all-NULL struct and the garbage row would flow into the star tables
    * as a valid record, the exact silent-nulling T8 forbids. A NULL or
    * unparseable-but-not-flagged message (from_json can return a NULL
    * struct for empty input) is flagged too. */
  def parseJsonWithCorrupt(df: DataFrame, valueCol: String): DataFrame = {
    val cc = graft.streaming.ErrorChannel.corruptCol
    val opts = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> cc)
    val others = df.columns.filterNot(_ == valueCol).toSeq
    df.select((col(valueCol).cast(StringType).as("_raw") +:
        others.map(col)): _*)
      .select((from_json(col("_raw"), rawSchemaWithCorrupt, opts).as("r") +:
        col("_raw") +: others.map(col)): _*)
      .select((rawSchema.fieldNames.toSeq.map(f => col(s"r.$f")) :+
        coalesce(col(s"r.$cc"),
          when(col("r").isNull,
            coalesce(col("_raw"), lit("<null message>")))).as(cc)) ++
        others.map(col): _*)
  }

  /** P1 — parse Kafka-shaped JSON values back into the 50 raw columns
    * (+ corrupt-record routing). Mirrors the reference's JsonToDict
    * (flink/stream_to_star.py:79-81). Column pruning: if the caller
    * selects fewer fields downstream, Catalyst prunes the JSON parse to
    * just those fields. */
  def fromKafkaMessages(df: DataFrame): DataFrame =
    parseJsonWithCorrupt(df.select(col("value")), "value")
}
