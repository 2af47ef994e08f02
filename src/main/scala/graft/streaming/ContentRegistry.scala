package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.Materialize.MaterializeOps
import graft.plans.TableStore

/** Content-fingerprint ownership — the reusable streaming-maintenance
  * primitive behind [[StreamingLinkGraph]] and
  * [[StreamingAnchorCorpus]]: any per-document DERIVED contribution
  * (edges, anchor texts, features) maintained continuously under
  * re-crawls, replays and fresh-checkpoint re-slicing, without
  * tombstones or watermarks.
  *
  * The invariants, once, for every registry built on this:
  *
  *   - Every derived row carries the md5 `content_fp` of the html it
  *     came from, and the fingerprint is PART of the merge key —
  *     derived rows are INSERT-ONLY per content generation. A re-crawl
  *     never overwrites the old generation's rows; it adds a new
  *     generation beside them.
  *   - A tiny per-doc registry (`docsTable`, keyed doc_id,
  *     last-write-wins) records each doc's CURRENT fingerprint.
  *     [[readLive]] joins on (doc_id, content_fp), so flipping the doc
  *     row makes the whole new generation visible — and the whole old
  *     one dark — atomically PER DOC.
  *   - Derived rows merge BEFORE the doc flip. A crash (or a concurrent
  *     reader) between the two merges therefore sees the complete OLD
  *     state — never a half-applied doc (the r15→r16 ADVICE lesson:
  *     with the fingerprint OUTSIDE the key, rows common to both
  *     generations went dark mid-window).
  *   - Byte-identical re-deliveries merge onto themselves (same fp,
  *     same keys). Dark rows are storage, not truth; [[compact]]
  *     reclaims them, and residue grows one superseded generation per
  *     re-crawl BETWEEN compact runs — compaction cadence bounds
  *     storage, the merge bounds correctness.
  *
  * Scale: per-batch work is the slice function's shape on batch bytes
  * plus one doc-cardinality merge; [[readLive]] is one
  * (doc_id, fp)-keyed equi-join at read time. */
object ContentRegistry {

  /** One winner per doc within a batch (two bodies for one doc_id in
    * one slice are ambiguous — max fingerprint wins, order-free), with
    * the content fingerprint attached and NULL doc_ids dropped (no
    * identity to own rows). */
  def fingerprinted(batch: DataFrame, cols: Seq[String]): DataFrame = {
    val keep = cols.filterNot(_ == "doc_id")
    batch.select(col("doc_id") +: keep.map(col) :+
        md5(coalesce(col("html"), lit(""))).as("content_fp"): _*)
      .filter(col("doc_id").isNotNull)
      .groupBy(col("doc_id"))
      .agg(max_by(struct((keep :+ "content_fp").map(col): _*),
        col("content_fp")).as("_w"))
      .select(col("doc_id") +:
        (keep :+ "content_fp").map(c => col(s"_w.$c").as(c)): _*)
  }

  /** Start draining `pages` (a streaming DataFrame with doc_id, html
    * and whatever columns `slice` needs) into `table`, deriving each
    * batch's contribution with `slice` (receives the fingerprinted
    * winner frame; must emit rows carrying doc_id — content_fp is
    * joined on afterwards) and merging on `natKey` + (doc_id,
    * content_fp). */
  def start(pages: DataFrame, store: TableStore, table: String,
            docsTable: String, checkpointDir: String,
            passCols: Seq[String], natKey: Seq[String],
            trigger: Trigger = Trigger.AvailableNow())
           (slice: DataFrame => DataFrame): StreamingQuery = {
    require(pages.isStreaming, "pages must be a streaming DataFrame")
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.Materialize.scoped(batch.sparkSession.sparkContext) {
          val w = fingerprinted(batch, passCols)
            .materialized // read by the slice AND the doc merge
          if (!w.isEmpty) {
            val derived = slice(w)
              .join(w.select(col("doc_id"), col("content_fp")), Seq("doc_id"))
            // derived rows BEFORE the doc flip; content_fp in the key
            // makes them insert-only per generation (see object doc)
            if (!derived.isEmpty)
              store.mergeFact(table, derived,
                natKey ++ Seq("doc_id", "content_fp"))
            store.mergeFact(docsTable,
              w.select(col("doc_id"), col("content_fp")), Seq("doc_id"))
          }
          ()
        }
      }
      .start()
  }

  /** The LIVE derived rows: current-generation only (stale re-crawl
    * rows excluded by the fingerprint join). Callers fold from here. */
  def readLive(store: TableStore, table: String,
               docsTable: String): DataFrame =
    store.read(table)
      .join(store.read(docsTable), Seq("doc_id", "content_fp"))

  /** Rewrite `table` down to live rows — atomic (replaceTable);
    * serialize against a running [[start]] query on the same tables.
    * When ZERO rows are live the store's non-empty contract forces a
    * skip (see the bound in the object doc). */
  def compact(store: TableStore, table: String, docsTable: String,
              natKey: Seq[String]): Unit = {
    val cols = store.read(table).columns.map(col)
    val live = readLive(store, table, docsTable)
      .select(cols: _*) // the merge slice's column order, so it round-trips
      .materialized // snapshot BEFORE the swap reads it back
    if (!live.isEmpty)
      store.replaceTable(table, live, natKey ++ Seq("doc_id", "content_fp"))
  }
}

/** Continuous anchor-corpus maintenance — the streaming twin of
  * [[graft.operators.Html.anchorTexts]] on the [[ContentRegistry]]
  * ownership primitive: per micro-batch, each page's per-doc anchor
  * contributions ([[graft.operators.Html.anchorTextsByDoc]]) merge
  * insert-only per content generation; [[readAnchors]] folds the live
  * rows to the exact batch-operator readout over every document's
  * LATEST content (StreamingAnchorCorpusSpec proves byte equivalence,
  * re-crawl retirement, and the crash-window old-state invariant via
  * the shared primitive's contract). */
object StreamingAnchorCorpus {

  def start(pages: DataFrame, store: TableStore, anchorsTable: String,
            docsTable: String, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ContentRegistry.start(pages, store, anchorsTable, docsTable,
      checkpointDir, passCols = Seq("src_host", "html"),
      natKey = Seq("src_domain", "dst_domain", "anchor_text"), trigger)(
      w => graft.operators.Html.anchorTextsByDoc(w))

  /** The cumulative anchor corpus: (dst_domain, anchor_text, n_anchors,
    * n_src_domains) — exactly [[graft.operators.Html.anchorTexts]] over
    * each document's latest absorbed content. */
  def readAnchors(store: TableStore, anchorsTable: String,
                  docsTable: String): DataFrame =
    ContentRegistry.readLive(store, anchorsTable, docsTable)
      .groupBy(col("dst_domain"), col("anchor_text"))
      .agg(sum(col("n_anchors")).as("n_anchors"),
        countDistinct(col("src_domain")).as("n_src_domains"))

  def compact(store: TableStore, anchorsTable: String,
              docsTable: String): Unit =
    ContentRegistry.compact(store, anchorsTable, docsTable,
      Seq("src_domain", "dst_domain", "anchor_text"))
}
