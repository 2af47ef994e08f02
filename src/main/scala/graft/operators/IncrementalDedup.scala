package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.TableStore
import graft.Materialize.MaterializeOps

/** Incremental near-dup detection over a GROWING corpus — the operational
  * shape of dedup at 100 TB: a pipeline ingests documents continuously and
  * must compare each batch against everything already indexed WITHOUT
  * recomputing all pairs. The index persists two tables in a [[TableStore]]
  * (so commits are atomic, idempotent, vacuumable — the same guarantees
  * the star pipeline's tables get):
  *
  *   - `{table}_minhash_sig`   — (doc_id, mh0..mh{k−1}): q24's double-hash
  *     minhash family, one wide row per indexed doc;
  *   - `{table}_minhash_bands` — (doc_id, band, bucket): the LSH band
  *     index those signatures fold into.
  *
  * Each [[ingest]] computes signatures ONLY for the batch, finds candidate
  * pairs as batch × (indexed ∪ batch) through the band index — never
  * all-pairs, never old × old — verifies them by SIGNATURE AGREEMENT
  * (estimated Jaccard = agreeing slots / k, the standard production
  * verify: the index stays self-contained, original text need not be
  * retained), and commits the batch into both tables via idempotent MERGE.
  * Every pair (a, b) surfaces exactly when the LATER of the two documents
  * ingests; re-ingesting a batch re-emits its pairs (at-least-once output)
  * but leaves the index unchanged.
  *
  * Scale notes: the candidate join broadcasts the BATCH side's touched
  * (band, bucket) keys against the band table — one pruned scan of the
  * index per ingest. A deployment with very frequent small batches would
  * bucket `_minhash_bands` on the bucket key (plans/Bucketing) to make
  * that a co-located, shuffle-free probe. Hot buckets are capped exactly
  * like the one-shot path ([[Dedup.minhashLsh]]'s maxBucket): an
  * over-full (band, bucket) is skipped for that band, and its docs still
  * surface through their other bands.
  */
class IncrementalDedupIndex(val store: TableStore, table: String,
                            n: Int, k: Int, bands: Int, threshold: Double,
                            maxBucket: Int = 1000) {
  require(bands > 0 && k > 0 && k % bands == 0,
    "need k > 0, bands > 0, bands dividing k")
  require(threshold >= 0.0 && threshold <= 1.0,
    s"threshold is a Jaccard estimate in [0, 1], got $threshold")
  require(n >= 1 && maxBucket >= 1, "need n >= 1 and maxBucket >= 1")
  val sigTable = s"${table}_minhash_sig"
  val bandTable = s"${table}_minhash_bands"

  /** Index `batch` and return the near-dup pairs it creates:
    * (doc_a, doc_b, est_jaccard) with est ≥ threshold, doc_a < doc_b,
    * at least one side in the batch. */
  def ingest(batch: DataFrame, idCol: String = "doc_id",
             textCol: String = "text"): DataFrame = {
    // empty-batch fast path: a zero-row trigger (offset-only Kafka
    // batches) must not run the 8-job pipeline for nothing
    if (batch.isEmpty)
      return batch.select(col(idCol).as("doc_a"), col(idCol).as("doc_b"),
        lit(0.0).as("est_jaccard")).limit(0)
    val shingles = Dedup.shinglePairs(batch, n, idCol, textCol)
    val sigNew = Dedup.minhashSigWide(shingles, k).materialized
    val bandsNew = Dedup.bandRows(sigNew, k, bands).materialized

    // replay safety: a re-ingested doc is in BOTH the store and the batch —
    // anti-join the stored side on the BATCH ids (not sigNew's: a
    // re-ingested doc whose new text yields zero shingles has no sigNew
    // row but must still displace its stale index entry) so every doc
    // appears exactly once
    val batchIds = batch.select(col(idCol).as("doc_id")).distinct()
      .materialized
    val allBands =
      if (store.exists(bandTable))
        store.read(bandTable).join(batchIds, Seq("doc_id"), "left_anti")
          .unionByName(bandsNew)
      else bandsNew
    // hot-bucket cap over buckets the batch touches (count includes both
    // indexed and new members — the same occupancy bound as the one-shot path)
    val touched = bandsNew.select(col("band"), col("bucket")).distinct()
    val okBuckets = allBands.join(touched, Seq("band", "bucket"))
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") <= maxBucket)
      .select(col("band"), col("bucket"))
    val cand = bandsNew.join(okBuckets, Seq("band", "bucket"))
      .select(col("band"), col("bucket"), col("doc_id").as("_new"))
      .join(allBands, Seq("band", "bucket"))
      .filter(col("_new") =!= col("doc_id"))
      .select(least(col("_new"), col("doc_id")).as("doc_a"),
        greatest(col("_new"), col("doc_id")).as("doc_b"))
      .distinct()

    val allSigs =
      if (store.exists(sigTable))
        store.read(sigTable).join(batchIds, Seq("doc_id"), "left_anti")
          .unionByName(sigNew)
      else sigNew
    val sa = allSigs.toDF(allSigs.columns.toIndexedSeq
      .map(c => if (c == "doc_id") "doc_a" else s"a_$c"): _*)
    val sb = allSigs.toDF(allSigs.columns.toIndexedSeq
      .map(c => if (c == "doc_id") "doc_b" else s"b_$c"): _*)
    val agree = (0 until k).map(i =>
      when(col(s"a_mh$i") === col(s"b_mh$i"), lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    val pairs = cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("est_jaccard", agree.cast("double") / lit(k.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .materialized // result must pre-date the index commit below

    // commit the batch into the index — idempotent MERGE on the natural
    // keys, so replays update-in-place instead of duplicating band rows
    store.mergeFact(sigTable, sigNew, Seq("doc_id"))
    store.mergeFact(bandTable, bandsNew, Seq("doc_id", "band"))
    // RETRACTION: a batch id with NO new signature (re-ingested text now
    // blank/under n words) must not keep matching its old text forever —
    // remove its stale rows. O(table) rewrite, but only on the rare batch
    // that actually retracts: ids with no signature are first intersected
    // with the STORED index (a brand-new blank/short doc was never indexed
    // — nothing to retract, no rewrite), and skipped when the rewrite
    // would empty the table (the stores reject empty replaces — an
    // all-retracted index is a rebuild, not a maintenance step).
    val sigless = batchIds.join(sigNew.select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    val retracted = (if (store.exists(sigTable))
        sigless.join(store.read(sigTable).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
      else sigless.limit(0)).materialized
    if (!retracted.isEmpty && store.exists(sigTable)) {
      val keptSig = store.read(sigTable)
        .join(retracted, Seq("doc_id"), "left_anti").materialized
      if (!keptSig.isEmpty) {
        store.replaceTable(sigTable, keptSig, Seq("doc_id"))
        store.replaceTable(bandTable, store.read(bandTable)
          .join(retracted, Seq("doc_id"), "left_anti"), Seq("doc_id", "band"))
      }
    }
    pairs
  }

  /** Index maintenance: both tables accrete one version per ingest, and
    * the store's automatic compaction (inside mergeFact, past its
    * `compactAfter` threshold) only FOLDS old versions into new ones — it
    * never deletes them. Run this between ingests (or on a schedule) to
    * reclaim superseded versions, keeping on-disk size ∝ the live index
    * instead of ∝ ingest history. Quiesced default; pass a retention to
    * run concurrently with readers. */
  def maintain(retainMillis: Long = 0L): Unit = {
    if (store.exists(sigTable)) store.vacuum(sigTable, retainMillis)
    if (store.exists(bandTable)) store.vacuum(bandTable, retainMillis)
  }
}
