package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Expectations
import graft.plans.{StarSchema, TableStore}
import graft.sources.SalesFeed
import graft.Materialize.MaterializeOps

/** T1–T8 — the streaming shell: unbounded feed → star schema, effectively
  * once (SURVEY.md §2.6).
  *
  * Reference behavior: Kafka from earliest, no watermarks, at-least-once
  * reads made effectively-once by sink idempotency (reference:
  * flink/stream_to_star.py:305-315 + the ON CONFLICT upserts). Spark
  * mapping: checkpointed Structured Streaming micro-batches + the
  * idempotent [[graft.plans.TableStore]] merges — a replayed batch
  * merges to the same state.
  *
  * All state lives in the merged tables (the reference keeps it in
  * Postgres, T5); Spark-managed state is not needed for parity.
  *
  * Commit order within a micro-batch follows data dependency, not a fixed
  * table sequence. Level 1 merges the six dimensions and, when the batch
  * has malformed records, `dead_letter` — so dead letters commit alongside
  * the dims. Level 2 merges `fact_sales` and `audit_verdicts`, both from
  * the resolved fact rows, so a batch's verdict rows may land before its
  * fact rows. Each table commits atomically on its own; a batch that fails
  * part-way leaves some tables at the new state and others at the old one,
  * and replaying the batch (what the checkpoint does after a failure)
  * converges every table, because every merge is idempotent.
  *
  * Each micro-batch is one [[graft.Materialize.scoped]] block: what the
  * batch materializes is freed when it ends, and nothing it materializes
  * may be read after that — cross-batch state lives in the store. The
  * scope frees only what the batch recorded, so star pipelines, streaming
  * monitors and user caches in one JVM run their batches side by side.
  */
object StreamToStar {

  val dimSpecs: Seq[(String, DataFrame => DataFrame, Seq[String], String)] = Seq(
    ("dim_customer", StarSchema.customerRows _, Seq("source_customer_id"), "customer_sk"),
    ("dim_seller",   StarSchema.sellerRows _,   Seq("source_seller_id"),   "seller_sk"),
    ("dim_product",  StarSchema.productRows _,  Seq("source_product_id"),  "product_sk"),
    ("dim_store",    StarSchema.storeRows _,    Seq("store_name"),         "store_sk"),
    ("dim_supplier", StarSchema.supplierRows _, Seq("supplier_name"),      "supplier_sk"))

  /** The reference's own warehouse integrity checks (`README.md:183-219`
    * — the six missing-FK counts plus fact-id uniqueness, expected all
    * zeros) as a declarative [[Expectations]] suite, evaluated per
    * MICRO-BATCH over the resolved fact rows inside the same
    * foreachBatch that merges them: the r9 quality-gate family meets the
    * reference-parity pipeline in one path, and contract drift ("the
    * upstream change NULLed customer ids three batches ago") surfaces on
    * the batch that introduced it instead of at the next post-hoc psql
    * audit. NULL natural keys resolve to NULL FKs BY DESIGN (nullable FK
    * columns, reference DDL) — such rows count as violations here
    * exactly as the reference's check would count them. */
  val starExpectations: Seq[Expectations.Rule] = Seq(
    "customer" -> "customer_key", "seller" -> "seller_key",
    "product" -> "product_key", "store" -> "store_key",
    "supplier" -> "supplier_key", "date" -> "date_key"
  ).map { case (dim, fk) =>
    Expectations.Rule(s"${dim}_key_resolved", col(fk).isNotNull) }

  /** Post-lastWriteWins the batch is unique on source_sale_id by
    * construction — the verdict row PROVES the invariant every batch
    * (the Deequ posture: contracts are checked, not assumed). */
  val starUniqueKeys: Seq[(String, Seq[String])] =
    Seq("fact_sale_id_unique" -> Seq("source_sale_id"))

  /** One micro-batch: T8 error split, then two levels of concurrent
    * MERGEs — the 6 dims (+ dead letters), then FK resolution and the fact
    * (+ audit verdicts). `feed` must be the 50-column raw frame + `_seq`
    * ordering column (T6: correctness never depends on arrival order
    * inside the batch).
    *
    * Malformed/uncoercible records route to the `dead_letter` table with a
    * reference-style "error: ..." message and a console summary
    * (reference: flink/stream_to_star.py:284-298) — never silently nulled.
    */
  def processBatch(feed: DataFrame, store: TableStore,
                   batchId: Long = -1L,
                   auditTable: Option[String] = None): Unit = {
    // the audit verdict rows key on (batch_id, rule): auditing under the
    // sentinel batchId -1 would make every direct caller's verdicts
    // overwrite each other — auditing requires a REAL batch id (the
    // streaming entry points always pass one); the direct entry point
    // defaults to no audit
    require(auditTable.isEmpty || batchId >= 0L,
      "processBatch: auditTable requires an explicit non-negative batchId " +
        "(verdicts merge on (batch_id, rule))")
    // Every frame this batch materializes (the feed + each merge's internal
    // frames) is dead once the last merge lands: the batch is one
    // [[graft.Materialize.scoped]] block, which frees exactly those blocks
    // at batch end instead of waiting for the ContextCleaner's GC-driven
    // sweep. Nothing materialized here may escape the batch; the dims
    // frames `mergeDim` returns are read only by this batch's level 2.
    // Other pipelines, monitors and user caches in the same JVM are not
    // touched, so their batches run alongside this one.
    val sc = feed.sparkSession.sparkContext
    // set false if some concurrent merge future never provably settled —
    // the scope must NOT free blocks a zombie merge still reads (leaking
    // one batch's blocks is recoverable; truncated-lineage reads under a
    // live writer are not)
    var mergesSettled = true
    def freeBlocks: Boolean = mergesSettled || {
      System.err.println(
        "[graft-batch] WARN: a merge future never settled after cancellation " +
          "— keeping this batch's blocks (the ContextCleaner reclaims them on " +
          "GC once the zombie dies)")
      false
    }

    // Run independent merges (distinct tables, shared read-only inputs)
    // CONCURRENTLY so a level pays max(merge) instead of Σ(merge): each
    // merge at per-file batch sizes is dominated by fixed job-submission
    // latency, which is exactly what overlapping hides. Returns the
    // bodies' results in order, or rethrows the first failure in order —
    // but only once EVERY body has settled: rethrowing while a sibling is
    // still writing would leave an orphan writer racing that table's
    // merge when the failed batch is retried. (Futures block only in
    // foreachBatch's driver thread; the generous Await bound exists so a
    // wedged store surfaces as an error instead of a silent hang.)
    def concurrently[T](bodies: Seq[() => T]): Seq[T] = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.DurationInt
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.util.Try
      // every body runs under one cancellable JOB GROUP (set per-thread
      // inside the future): an Await timeout alone would leave the wedged
      // merge running as a ZOMBIE while the scope frees the
      // localCheckpoint blocks it still reads, and the batch retry would
      // race it on the same table
      val group = s"graft-star-merges-$batchId-${System.nanoTime()}"
      // the batch's scope id, copied into each future like the job group:
      // what a merge materializes is freed with the batch
      val scope = sc.getLocalProperty(graft.Materialize.ScopeKey)
      // checked at future START: cancelJobGroup only reaches jobs running
      // at call time, so a future still QUEUED behind the wedged one would
      // otherwise start fresh jobs after the cancel
      val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
      val futures = bodies.map { body =>
        Future {
          if (cancelled.get())
            throw new java.util.concurrent.CancellationException(
              "merge group cancelled after a sibling timeout")
          sc.setJobGroup(group, s"star merges (batch $batchId)",
            interruptOnCancel = true)
          // a pool thread inherits the local properties of the thread that
          // spawned it, e.g. the stream thread's "start at ..." call site:
          // clear it so each job is named by the code that runs it
          sc.clearCallSite()
          sc.setLocalProperty(graft.Materialize.ScopeKey, scope)
          try body() finally {
            sc.clearJobGroup()
            sc.setLocalProperty(graft.Materialize.ScopeKey, null)
          }
        }
      }
      val tries = futures.map(f => Try(Await.result(f, 10.minutes)))
      // a TIMEOUT is not settlement — cancel the job group and re-await so
      // the wedged merge is actually dead before the scope frees/rethrows
      if (tries.exists(_.failed.toOption
          .exists(_.isInstanceOf[java.util.concurrent.TimeoutException]))) {
        cancelled.set(true)          // queued futures abort at start
        sc.cancelJobGroup(group)     // running Spark jobs die
        // settlement must be PROVEN, not hoped: a merge wedged outside any
        // Spark job (commit-loop I/O) survives the cancel — if any future
        // is still unfinished after the grace re-await, keep its blocks
        // (skip the free) rather than unpersist under it
        futures.foreach(f => Try(Await.result(f, 1.minute)))
        if (futures.exists(!_.isCompleted)) mergesSettled = false
      }
      tries.map(_.get)
    }

    // the scope opens HERE: the empty batch and a throw from any merge
    // free the batch's blocks too, or each retry would leak them
    graft.Materialize.scoped(sc, freeBlocks) {
      // ONE eager materialization of the error-tagged feed replaces three
      // separate scans of the raw source (empty-batch probe, error-presence
      // check, cache fill): the row/error counts ride the same job as
      // Observation metrics, and both halves of the split are carved off the
      // in-memory frame. At per-file arrival granularity those redundant
      // scans were ~0.4 s of every micro-batch.
      val obs = org.apache.spark.sql.Observation()
      val mat = ErrorChannel.tagged(feed, Seq("id"))
        .observe(obs, count(lit(1)).as("total"), count(col("_error")).as("errs"))
        .materialized
      val counts = graft.plans.Observed.poll(obs)
      val total = counts.flatMap(_.get("total")).map(_.asInstanceOf[Long])
        .getOrElse(mat.count())
      if (total > 0L) {
        val errs = counts.flatMap(_.get("errs")).map(_.asInstanceOf[Long])
          .getOrElse(mat.filter(col("_error").isNotNull).count())
        val errors = mat.filter(col("_error").isNotNull)
        // a slice of the in-memory `mat` — no extra cache
        val cached = mat.filter(col("_error").isNull)
          .drop("_error", ErrorChannel.corruptCol)

        // Level 1: everything that reads only the split feed.
        val dimMerges = dimSpecs.map { case (name, rows, natKey, sk) => () =>
          store.mergeDim(name, StarSchema.lastWriteWins(rows(cached), natKey, "_seq"),
            natKey, sk)
        } :+ { () =>
          // dim_date is keyed by the value itself; attributes are derived, so
          // last-write-wins degenerates to distinct
          store.mergeDim("dim_date", StarSchema.dateRows(cached),
            Seq("sale_date"), "date_sk")
        }
        val deadLetters = if (errs == 0L) Nil else Seq { () =>
          // console status from the already-known counts + an error sample —
          // the reference's per-record status line, scale-safely
          ErrorChannel.printStatus(total - errs, errs, errors, sample = 20)
          // Dead-letter writes MERGE on a deterministic content key (md5 of
          // the serialized record + its error), not append: a micro-batch
          // replayed after a checkpoint restart upserts the same rows instead
          // of duplicating them — the same effectively-once contract as the
          // star tables. The key is pure CONTENT: physical coordinates like
          // monotonically_increasing_id depend on partition layout and would
          // change across a restart with different parallelism, silently
          // re-duplicating the dead letters. Byte-identical bad records
          // therefore collapse to one row — the right shape for triage (the
          // console status still reports per-occurrence counts).
          val record = to_json(struct(
            feed.columns.filterNot(_ == "_seq").toIndexedSeq.map(col): _*))
          store.mergeFact("dead_letter",
            errors.select(
              md5(concat_ws("|", col("_error"), record)).as("_dl_key"),
              col("_error"), record.as("record")),
            Seq("_dl_key"))
        }
        val level1 = concurrently(dimMerges ++ deadLetters)
        val dims = dimSpecs.map(_._1).zip(level1).toMap
        val dimDate = level1(dimSpecs.size)

        // Level 2: everything that reads the resolved fact rows.
        val fact = StarSchema.lastWriteWins(
          StarSchema.factRows(cached), Seq("source_sale_id"), "_seq")
        val resolved0 = StarSchema.resolveFactKeys(
          fact,
          dims("dim_customer"), dims("dim_seller"), dims("dim_product"),
          dims("dim_store"), dims("dim_supplier"), dimDate)
        // with the audit on, the resolved frame is read twice (merge +
        // verdict aggregates) — materialize once; freed at batch end
        val resolved =
          if (auditTable.isDefined) resolved0.materialized else resolved0
        val audit = auditTable.toSeq.map { tbl => () =>
          val verdicts = Expectations
            .audit(resolved, starExpectations, starUniqueKeys)
            .withColumn("batch_id", lit(batchId))
          // keyed on (batch_id, rule): a replayed micro-batch overwrites
          // its own verdict rows — the star tables' effectively-once shape
          store.mergeFact(tbl, verdicts, Seq("batch_id", "rule"))
        }
        concurrently(
          (() => store.mergeFact("fact_sales", resolved, Seq("source_sale_id"))) +: audit)
      }
    }
  }

  /** S3/T1/T2 — Kafka source wiring (value = one JSON message per row). */
  def startFromKafka(
      spark: SparkSession, bootstrap: String, topic: String,
      store: TableStore, checkpoint: String,
      audit: Boolean = true): StreamingQuery = {
    val raw = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
    // Kafka (partition, offset) = arrival order within a partition → the
    // _seq struct (lexicographic compare; no bit-packing overflow).
    // parseJsonWithCorrupt routes malformed messages to the dead-letter
    // channel instead of silently nulling them (T8).
    val feed = SalesFeed.parseJsonWithCorrupt(
      raw.select(col("value"),
        struct(col("partition").cast("long").as("p"),
          col("offset").as("o")).as("_seq")),
      "value")
    startStream(feed, store, checkpoint, Trigger.AvailableNow(), audit)(identity)
  }

  /** File-source variant (same pipeline; used for tests and batch replay).
    * `_seq` is attached per micro-batch inside foreachBatch, from each
    * row's file name and position ([[SalesFeed.withArrivalSeq]]).
    *
    * `filesPerTrigger` sizes the micro-batches: 1 mirrors the reference's
    * per-file arrival (and is what the restart tests exercise); larger
    * values amortize the fixed per-batch merge cost over more rows — the
    * throughput lever, since every merge is one set-oriented pass whatever
    * the batch size. Correctness is batch-size-independent: `_seq` orders
    * records explicitly, so last-write-wins never depends on trigger
    * granularity. */
  def startFromFiles(
      spark: SparkSession, glob: String,
      store: TableStore, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      filesPerTrigger: Int = 1,
      audit: Boolean = true): StreamingQuery = {
    val raw = spark.readStream
      .schema(SalesFeed.rawSchemaWithCorrupt)
      .option("header", "true")
      .option("multiLine", "true")
      .option("columnNameOfCorruptRecord", ErrorChannel.corruptCol)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .csv(glob)
    startStream(raw, store, checkpoint, trigger, audit)(SalesFeed.withArrivalSeq)
  }

  /** JSON-lines variant: consumes the Kafka-shaped messages RunProducer
    * writes when no broker exists (one JSON object per line — the exact
    * payload the Kafka topic would carry), so the producer→consumer loop
    * closes broker-free. Arrival order = (file name, position), same as
    * the CSV path. */
  def startFromJsonFiles(
      spark: SparkSession, glob: String,
      store: TableStore, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      audit: Boolean = true): StreamingQuery = {
    val raw = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .text(glob)
    startStream(raw, store, checkpoint, trigger, audit)(b =>
      SalesFeed.withArrivalSeq(SalesFeed.fromKafkaMessages(b)))
  }

  /** T1 parity with the reference's run-until-cancelled service mode
    * (reference: flink/stream_to_star.py:302,322): a ProcessingTime trigger
    * keeps the query live, picking up files as they appear, until the
    * caller stops it — unlike AvailableNow, which drains and stops. State
    * and guarantees are identical (same checkpoint, same idempotent
    * merges); only the trigger differs. */
  def serveFromJsonFiles(
      spark: SparkSession, glob: String,
      store: TableStore, checkpoint: String,
      interval: String = "500 milliseconds"): StreamingQuery =
    startFromJsonFiles(spark, glob, store, checkpoint,
      Trigger.ProcessingTime(interval))

  /** The one stream shell: every source runs [[processBatch]] per
    * micro-batch over `prepare(batch)` (the per-batch arrival-order and
    * message-decoding step, identity where the source already carries
    * `_seq`). */
  private def startStream(
      stream: DataFrame, store: TableStore, checkpoint: String,
      trigger: Trigger, audit: Boolean)
      (prepare: DataFrame => DataFrame): StreamingQuery = {
    val auditTable = if (audit) Some("audit_verdicts") else None
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(prepare(batch), store, batchId, auditTable)
      }
      .start()
  }
}
