package graft.plans

import org.apache.spark.sql.DataFrame

/** Storage contract for the star tables: idempotent MERGE semantics with
  * stable surrogate keys. The one implementation is
  * [[BucketedMergeWriter]]: natural-key hash buckets as parquet
  * partitions, a merge rewrites ONLY touched buckets, and commits are
  * compare-and-swap manifest swaps. On a production cluster the same
  * interface maps directly onto Delta/Iceberg `MERGE INTO`.
  *
  * The trait exists so the streaming monitors type against the contract
  * rather than the store, and so tests can substitute fakes (e.g. a
  * decorator that fails one table's merge).
  */
trait TableStore {
  def exists(name: String): Boolean
  def read(name: String): DataFrame
  def mergeDim(name: String, batch: DataFrame, natKey: Seq[String], skCol: String): DataFrame
  def mergeFact(name: String, batch: DataFrame, natKey: Seq[String]): DataFrame
  def appendTable(name: String, batch: DataFrame): DataFrame

  /** Atomically replace the table's ENTIRE contents with `batch` (same
    * pointer-commit atomicity as a merge). Merges cannot delete rows by
    * omission, so whole-table rewrites (aggregate-slice compaction,
    * dimension rebuilds) need this. `natKey` drives the bucketing.
    *
    * Contract: `batch` must be NON-EMPTY — an empty replace is
    * rejected, not treated as truncation (drop the table directory to
    * truncate). The swap is atomic, but the replacement contents are the
    * CALLER's snapshot: serialize replaceTable against concurrent writers
    * of the same table whose commits must not be superseded. */
  def replaceTable(name: String, batch: DataFrame, natKey: Seq[String]): DataFrame

  /** Reclaim storage for versions no longer referenced by the table's
    * manifest and older than `retainMillis` — the maintenance half of the
    * MERGE story (merges supersede versions; something must delete them
    * or history grows without bound). Default 0 is the quiesced mode:
    * reclaim everything dead now. Safe concurrently with ingestion as
    * long as no reader holds a resolved frame longer than the retention. */
  def vacuum(name: String, retainMillis: Long = 0L): Unit
}
