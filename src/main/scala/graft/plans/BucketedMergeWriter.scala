package graft.plans

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StructField, StructType}
import graft.Materialize.MaterializeOps

/** S4 at scale — bucketed idempotent MERGE with TABLE-ATOMIC commits
  * (SURVEY.md §7.3; VERDICT r1 "wrong #3", r2 "missing #3"): tables are
  * hash-partitioned on the natural key into `_bucket=N/` parquet
  * partitions, and a merge rewrites ONLY the buckets the batch touches:
  *
  *   1. tag batch rows with `_bucket = pmod(xxhash64(natKey), nBuckets)`;
  *   2. read the CURRENT table pruned to touched buckets (partition
  *      pruning — untouched buckets are never scanned, let alone written);
  *   3. upsert: ONE null-safe full-outer join on the natural key inside
  *      the touched buckets, where the batch row wins and every stored row
  *      the batch does not touch is kept (see [[upsert]]). Facts and dims
  *      share it; a dim adds only its surrogate key column — the stored
  *      key where one exists, `max+i` for genuinely-new keys. The running
  *      max lives in the manifest, so no full-table scan is needed to
  *      continue the sequence;
  *   4. write the touched buckets' new contents into a FRESH version
  *      directory `v{N}/_bucket=B/…`, then atomically swap the `_MANIFEST`
  *      file, which maps every live bucket to the version directory holding
  *      its current data (and carries maxSk, so key-sequence state commits
  *      in the same rename).
  *
  * Atomicity and concurrency live in [[CommitProtocol]] (VERDICT r3
  * "next #2" and "next #8"): readers resolve data exclusively through
  * `_MANIFEST` (tmp-file + ATOMIC_MOVE), commits are optimistic compare-and-swap with
  * recompute-on-conflict, version numbers are reservation-allocated and
  * never reused, and a crash mid-merge leaves at most an orphan version
  * directory that no manifest references. This is the same pointer-commit
  * design Delta/Iceberg use (a log entry instead of a file rename), and
  * matches the serialization Postgres gives the reference for free
  * (reference: flink/stream_to_star.py:99-282, ON CONFLICT).
  *
  * Per-batch write amplification is O(touched buckets) — with `nBuckets`
  * sized so a bucket ≈ a few GB, that is O(batch), not O(table). Reads
  * union the (few) live version directories, each pruned to the buckets
  * the manifest assigns it; after `compactAfter` distinct versions
  * accumulate, the next commit folds everything into one version
  * (amortized O(table / compactAfter) per merge — the Delta checkpoint
  * analog). Superseded version dirs are kept for concurrent readers;
  * `vacuum()` deletes the unreferenced ones once quiesced.
  */
class BucketedMergeWriter(spark: SparkSession, root: String, nBuckets: Int = 16,
                          compactAfter: Int = 8, statsColumns: Seq[String] = Nil)
    extends TableStore {
  import CommitProtocol.Attempt

  private val ManifestFile = "_MANIFEST"
  private val SnapshotFile = "_MANIFEST_SNAPSHOT"
  private val StatsFile = "_STATS"
  private def dir(name: String) = s"$root/$name"
  private def versionDir(name: String, v: Long) = s"${dir(name)}/v$v"
  private def manifestPath(name: String) = Paths.get(dir(name), ManifestFile)

  override def exists(name: String): Boolean = Files.exists(manifestPath(name))

  /** Raw manifest content (None = table absent) — the CAS token. */
  private def snapshot(name: String): Option[String] =
    CommitProtocol.readPointer(dir(name), ManifestFile)

  /** Manifest = (maxSk, live (bucket → version) pairs). A bucket may map to
    * several versions only for append-only tables (appendTable); merges
    * replace all of a touched bucket's entries. `#`-prefixed lines are
    * metadata (the snapshot's commit-chain parent) and ignored here. */
  private def parseManifest(body: String): (Long, Seq[(Int, Long)]) = {
    val lines = body.linesIterator.toSeq
    val maxSk = lines.head.stripPrefix("maxsk=").trim.toLong
    val pairs = lines.tail.filter(l => l.trim.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(b, v) = l.trim.split("\\s+"); (b.toInt, v.toLong)
    }
    (maxSk, pairs)
  }

  /** The commit a manifest body represents = the highest version its pairs
    * reference (version numbers are monotonic, and every commit maps its
    * touched buckets to its own fresh version). */
  private def commitOf(body: String): Long =
    parseManifest(body)._2.map(_._2).foldLeft(-1L)(math.max)

  private def snapshotParent(name: String, v: Long): Option[Long] = {
    val p = Paths.get(versionDir(name, v), SnapshotFile)
    if (!Files.exists(p)) None
    else new String(Files.readAllBytes(p)).linesIterator
      .find(_.startsWith("#parent=")).map(_.stripPrefix("#parent=").trim.toLong)
  }

  private def readManifest(name: String): (Long, Seq[(Int, Long)]) = {
    val body = snapshot(name).getOrElse(
      throw new java.nio.file.NoSuchFileException(manifestPath(name).toString))
    // the bucket count is part of the table's IDENTITY: a writer opened
    // with a different nBuckets would tag batch rows _bucket = h%N' while
    // stored rows sit at h%N — the merge join finds no match and silently
    // duplicates natural keys. Manifests record it (#-line, ignored by
    // older parsers); mismatch fails loudly here.
    body.linesIterator.find(_.startsWith("#nbuckets=")).foreach { l =>
      val n = l.stripPrefix("#nbuckets=").trim.toInt
      require(n == nBuckets,
        s"table '$name' was created with nBuckets=$n; this writer uses " +
          s"$nBuckets — reopen with the table's bucket count")
    }
    parseManifest(body)
  }

  private def writeManifest(name: String, maxSk: Long, pairs: Seq[(Int, Long)],
                            commitV: Long): Unit = {
    // versions leaving the live set get a tombstone timestamp, so vacuum
    // can retain them for in-flight readers (Delta-style retention)
    val oldLive =
      if (exists(name)) readManifest(name)._2.map(_._2).toSet else Set.empty[Long]
    val dropped = oldLive -- pairs.map(_._2).toSet
    if (dropped.nonEmpty) {
      val now = System.currentTimeMillis()
      // read-rewrite-move, never append-in-place: _TOMBSTONES follows the
      // same tmp+ATOMIC_MOVE discipline as every other metadata file — a
      // crash mid-append must not leave a torn line that breaks vacuum or
      // a lost tombstone that forfeits the reader grace period
      val existing =
        if (Files.exists(tombstonesPath(name)))
          new String(Files.readAllBytes(tombstonesPath(name)))
        else ""
      CommitProtocol.atomicWrite(dir(name), "_TOMBSTONES",
        existing + dropped.toSeq.sorted.map(v => s"$v $now")
          .mkString("", "\n", "\n"))
    }
    val body = (s"maxsk=$maxSk" +: s"#nbuckets=$nBuckets" +:
      pairs.sorted.map { case (b, v) => s"$b $v" })
      .mkString("", "\n", "\n")
    // time travel: the full post-commit manifest body lands inside the
    // commit's own version dir BEFORE the pointer swap — a crash between
    // the two leaves an orphan dir (vacuumed later), never a live version
    // without its snapshot. The snapshot also records its commit-chain
    // PARENT (the previously live commit): committedVersions/readAsOf
    // resolve history by walking that chain from the live manifest, so a
    // crash-orphaned snapshot whose swap never landed is unreachable and
    // can never serve phantom state.
    val parent = snapshot(name).map(commitOf).getOrElse(-1L)
    Files.write(Paths.get(versionDir(name, commitV), SnapshotFile),
      (body + s"#parent=$parent\n").getBytes)
    CommitProtocol.atomicWrite(dir(name), ManifestFile, body)
  }

  private def tombstonesPath(name: String) = Paths.get(dir(name), "_TOMBSTONES")

  /** version → millis at which it left the live set (latest wins). */
  private def readTombstones(name: String): Map[Long, Long] =
    if (!Files.exists(tombstonesPath(name))) Map.empty
    else Files.readAllLines(tombstonesPath(name)).asScala
      .filter(_.trim.nonEmpty).flatMap { l =>
        // a torn line (pre-atomic-write crash) degrades that version to
        // the mtime fallback instead of breaking every future vacuum
        l.trim.split("\\s+") match {
          case Array(v, t) if v.forall(_.isDigit) && t.forall(_.isDigit) =>
            Some((v.toLong, t.toLong))
          case _ => None
        }
      }.toMap

  private def bucketCol(natKey: Seq[String]): Column =
    pmod(xxhash64(natKey.map(col): _*), lit(nBuckets)).cast("int")

  /** Eagerly materialize `df` (localCheckpoint: plan leaves become
    * in-memory RDD blocks, cleaned by the ContextCleaner once unreferenced)
    * and learn its distinct `_bucket` set in the SAME job via an
    * Observation — previously a separate distinct().collect() job per
    * table per micro-batch (VERDICT r3 "next #1"). Falls back to the
    * explicit job if the (listener-bus-delivered) metric hasn't arrived. */
  private def materialize(df: DataFrame): (DataFrame, Seq[Int]) = {
    val obs = Observation()
    val ckpt = df.observe(obs, collect_set(col("_bucket")).as("touched"))
      .materialized
    val touched = Observed.poll(obs).flatMap(_.get("touched")) match {
      case Some(s) => s.asInstanceOf[scala.collection.Seq[Any]]
        .map(_.asInstanceOf[Int]).toSeq
      case None =>
        ckpt.select(col("_bucket")).distinct().collect().map(_.getInt(0)).toSeq
    }
    (ckpt, touched.sorted)
  }

  /** Read schema of each version directory, keyed by (table, version).
    * A committed `vN/` is immutable and its number is never reused within
    * the JVM (reservation-allocated by [[CommitProtocol]]), so a schema
    * learned once stays right: versions this writer wrote are recorded at
    * write time, any other (written before a restart) is inferred once.
    * Without it every `spark.read.parquet` of a version runs a footer-
    * reading schema-inference job — about a sixth of a per-file star
    * micro-batch's jobs. */
  private val versionSchemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), StructType]()

  /** The schema Spark reads back from a version written from `df`: the
    * data columns made nullable (file sources read every column as
    * nullable), then the `_bucket` partition column as INT. */
  private def readSchemaOf(df: DataFrame): StructType = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
      case o => o
    }
    val data = StructType(df.schema.fields.filterNot(_.name == "_bucket"))
    nullable(data).asInstanceOf[StructType]
      .add(StructField("_bucket", IntegerType, nullable = true))
  }

  /** The schema of version `v` as this writer remembers it, if it does. */
  private[graft] def rememberedSchema(name: String, v: Long): Option[StructType] =
    Option(versionSchemas.get((name, v)))

  /** The ONE reader of version directories: a known schema skips
    * inference, so resolving a table starts no Spark job. */
  private def readVersion(name: String, v: Long): DataFrame = {
    val schema = rememberedSchema(name, v).getOrElse {
      val inferred = spark.read.parquet(versionDir(name, v)).schema
      Option(versionSchemas.putIfAbsent((name, v), inferred)).getOrElse(inferred)
    }
    spark.read.schema(schema).parquet(versionDir(name, v))
  }

  /** Write `out` as version `v` (partitioned by `_bucket`), remember its
    * read schema, and record its zone maps. A commit that then loses its
    * CAS deletes `vN/` and the number is never handed out again, so the
    * entry it leaves behind can never be read. */
  private def writeVersionDir(name: String, v: Long, out: DataFrame): Unit = {
    out.write.mode("overwrite").partitionBy("_bucket").parquet(versionDir(name, v))
    versionSchemas.put((name, v), readSchemaOf(out))
    writeStats(name, v, out)
  }

  /** Read the given live (bucket → version) mappings, pruned per version
    * dir; `only` restricts to a bucket subset (partition pruning). */
  private def readPairs(name: String, all: Seq[(Int, Long)],
                        only: Option[Seq[Int]] = None): DataFrame = {
    val relevant = only.fold(all)(bs => all.filter(p => bs.contains(p._1)))
    if (relevant.isEmpty)
      // none of the requested buckets exist yet — empty frame carrying the
      // UNION schema of all live versions: one arbitrary version could
      // predate an additive evolution, and a schema missing the newer
      // columns would let requireCompatible pass a type-conflicting batch
      all.map(_._2).distinct.sorted
        .map(readVersion(name, _))
        .reduce(_.unionByName(_, allowMissingColumns = true))
        .filter(lit(false))
    else
      relevant.groupBy(_._2).toSeq.sortBy(_._1).map { case (v, ps) =>
        val df = readVersion(name, v)
        val bs = ps.map(_._1)
        if (bs.size >= nBuckets) df else df.filter(col("_bucket").isin(bs: _*))
      // allowMissingColumns: version dirs written before an ADDITIVE
      // schema evolution lack the newer columns — they read as NULL, the
      // evolution contract (oldest version leads, so the stored column
      // order is stable and new columns append)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  override def read(name: String): DataFrame =
    readPairs(name, readManifest(name)._2).drop("_bucket")

  // ---------------------------------------------------------------------
  // Zone maps (data skipping) + time travel
  // ---------------------------------------------------------------------

  /** Zone maps: per-(bucket, version) [min, max] of each `statsColumns`
    * entry (values cast to double — numerics directly, timestamps as
    * epoch seconds), written next to the version's data and consulted by
    * [[readRange]] to drop whole buckets at MANIFEST resolution — before
    * any file is opened, one level above parquet's row-group stats.
    * All-NULL buckets get no entry (conservatively scanned). Opt-in via
    * the constructor (one extra ≤nBuckets-row aggregate per commit);
    * built for append-style tables where each commit carries a tight
    * time range, so a time-bounded read skips every old version. */
  private def writeStats(name: String, v: Long, out: DataFrame): Unit = {
    val cols = statsColumns.filter(out.columns.contains)
    if (cols.isEmpty) return
    // NaN-safe: Spark's max() returns NaN if ANY value is NaN, and a NaN
    // bound would make readRange's keep test false — pruning a bucket that
    // still holds in-range rows (silent data loss). Excluding NaN from the
    // bounds is SOUND: a NaN row can never satisfy a finite between(lo,hi)
    // residual (NaN sorts above every double, so NaN <= hi is false).
    val aggs = cols.flatMap { c =>
      val v = col(c).cast("double")
      val safe = when(!isnan(v), v)
      Seq(min(safe).as(s"_mn_$c"), max(safe).as(s"_mx_$c"))
    }
    // aggregate the JUST-WRITTEN version files, not `out`: mergeFact
    // deliberately leaves its full-outer join un-checkpointed (the parquet
    // write executes it exactly once) — aggregating the plan would run the
    // whole merge a second time. The read-back is local, pruned to the
    // stats columns, and costs one tiny job.
    val rows = readVersion(name, v)
      .groupBy(col("_bucket")).agg(aggs.head, aggs.tail: _*).collect()
    val lines = rows.toSeq.flatMap { r =>
      val b = r.getAs[Int]("_bucket")
      cols.flatMap { c =>
        (Option(r.getAs[Any](s"_mn_$c")), Option(r.getAs[Any](s"_mx_$c"))) match {
          case (Some(mn: Double), Some(mx: Double)) => Some(s"$b $c $mn $mx")
          case _ => None
        }
      }
    }
    Files.write(Paths.get(versionDir(name, v), StatsFile),
      lines.mkString("", "\n", "\n").getBytes)
  }

  /** (bucket, column) → (min, max) for one version; empty if the version
    * predates stats or tracked none of its columns. */
  private def readStats(name: String, v: Long): Map[(Int, String), (Double, Double)] = {
    val p = Paths.get(versionDir(name, v), StatsFile)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.trim.nonEmpty).map { l =>
      val Array(b, c, mn, mx) = l.trim.split("\\s+")
      ((b.toInt, c), (mn.toDouble, mx.toDouble))
    }.toMap
  }

  /** Range read with zone-map skipping: resolve the manifest, drop every
    * (bucket, version) whose recorded [min, max] for `column` cannot
    * intersect [lo, hi], scan only the survivors, and apply the exact
    * residual filter (`cast("double")` semantics, matching the stats).
    * Pairs without stats are scanned — stats only ever REMOVE work.
    * Timestamp columns compare as epoch seconds. */
  def readRange(name: String, column: String, lo: Double, hi: Double): DataFrame = {
    val pairs = readManifest(name)._2
    val statsByV = pairs.map(_._2).distinct
      .map(v => v -> readStats(name, v)).toMap
    val keep = pairs.filter { case (b, v) =>
      // NaN bounds (stats files written before the NaN-safe aggregate)
      // are unusable, not exclusionary — scan the bucket
      statsByV(v).get((b, column)).forall { case (mn, mx) =>
        mn.isNaN || mx.isNaN || (mx >= lo && mn <= hi) }
    }
    val base =
      if (keep.isEmpty)
        readVersion(name, pairs.head._2).filter(lit(false))
      else readPairs(name, keep)
    base.drop("_bucket").filter(col(column).cast("double").between(lo, hi))
  }

  /** Time travel: the table exactly as of commit `version`, resolved
    * through the manifest snapshot that commit wrote. Only versions
    * REACHABLE through the live manifest's commit chain qualify — a
    * crash-orphaned snapshot whose pointer swap never landed is not
    * committed state and raises, as does history vacuum has reclaimed
    * (Delta's retention model): a clear error, never partial or phantom
    * data. */
  def readAsOf(name: String, version: Long): DataFrame = {
    if (!committedVersions(name).contains(version))
      throw new java.nio.file.NoSuchFileException(
        s"$name has no committed snapshot v$version (never committed, or vacuumed)")
    val p = Paths.get(versionDir(name, version), SnapshotFile)
    val pairs = parseManifest(new String(Files.readAllBytes(p)))._2
    pairs.foreach { case (_, v) =>
      if (!Files.exists(Paths.get(versionDir(name, v))))
        throw new java.nio.file.NoSuchFileException(
          s"$name snapshot v$version references vacuumed version v$v")
    }
    readPairs(name, pairs).drop("_bucket")
  }

  /** Change-data capture between two committed versions: what a consumer
    * that last saw `fromV` must apply to reach `toV` — one row per changed
    * natural key, `_change` ∈ insert | update | delete (update = key on
    * both sides with any non-key column different; struct equality, so
    * NULL-safe). The incremental-export / debugging companion to
    * [[readAsOf]].
    *
    * Scale: ONE key shuffle joining two manifest-pruned snapshot scans —
    * never a table diff by content hash of everything. (With bucket-level
    * manifest diffing this could prune to buckets whose version changed;
    * the join already prunes columns to natKey + the compared struct.) */
  def diffVersions(name: String, fromV: Long, toV: Long,
                   natKey: Seq[String]): DataFrame = {
    val from0 = readAsOf(name, fromV)
    val to0 = readAsOf(name, toV)
    // snapshots may straddle an ADDITIVE schema evolution: compare over
    // the union layout with NULL back-fill, so a column added between the
    // two versions reads as NULL→value updates, not an analysis error
    val union = SchemaEvolution.unionAttrs(
      from0.schema.fields.toSeq.filterNot(f => natKey.contains(f.name)),
      to0.schema.fields.toSeq.filterNot(f => natKey.contains(f.name)))
    val from = SchemaEvolution.padMissing(from0, union)
    val to = SchemaEvolution.padMissing(to0, union)
    val attrs = union.map(_.name)
    val f = from.select(natKey.map(col) :+
      struct(attrs.map(col): _*).as("_from"): _*)
    val t = to.select(natKey.map(col) :+
      struct(attrs.map(col): _*).as("_to"): _*)
    f.join(t, natKey, "full_outer")
      .withColumn("_change",
        when(col("_from").isNull, lit("insert"))
          .when(col("_to").isNull, lit("delete"))
          .when(not(col("_from") <=> col("_to")), lit("update")))
      .filter(col("_change").isNotNull)
      .select(natKey.map(col) :+ col("_change"): _*)
  }

  /** Committed (readAsOf-able) versions, oldest first: the commit chain
    * walked backward from the live manifest via each snapshot's recorded
    * parent. Stops at vacuumed history; never lists a crash orphan whose
    * swap didn't land (nothing committed ever points at it). */
  def committedVersions(name: String): Seq[Long] = {
    if (!exists(name)) return Nil
    val chain = scala.collection.mutable.ListBuffer.empty[Long]
    var cur = snapshot(name).map(commitOf).getOrElse(-1L)
    while (cur >= 0 && Files.exists(Paths.get(versionDir(name, cur), SnapshotFile))) {
      chain += cur
      cur = snapshotParent(name, cur).getOrElse(-1L)
    }
    chain.toSeq.reverse
  }

  /** Full post-merge table view returned to callers: the just-committed
    * in-memory frame (touched buckets) ∪ a pruned scan of the untouched
    * live mappings. No manifest re-read and no re-scan of data this merge
    * just computed — the star pipeline consumes these views immediately in
    * FK resolution, so they come straight from memory. */
  private def view(name: String, out: DataFrame, kept: Seq[(Int, Long)]): DataFrame = {
    val o = out.drop("_bucket")
    // untouched buckets may predate an additive evolution — NULL back-fill
    if (kept.isEmpty) o
    else o.unionByName(readPairs(name, kept).drop("_bucket"),
      allowMissingColumns = true)
  }

  /** Store-specific shell over [[CommitProtocol.commitLoop]]. `compute`
    * builds the merged output for the touched buckets against the given
    * manifest state (None = table absent), returning
    * (out, touched, newMaxSk); `out` must carry `_bucket`. On a CAS
    * conflict `compute` re-runs against the new state — its per-key
    * results (existing sks, kept rows) are state-dependent, so a blind
    * manifest retry would lose the winner's updates. Returns
    * (out, kept untouched mappings). */
  private def commitLoop(name: String, replace: Boolean,
                         dropUntouched: Boolean = false)
      (compute: Option[(Long, Seq[(Int, Long)])] => (DataFrame, Seq[Int], Long))
      : (DataFrame, Seq[(Int, Long)]) = {
    val res = CommitProtocol.commitLoop(dir(name), ManifestFile) { snap =>
      val prev = snap.map(parseManifest)
      val (out, touched, newMaxSk) = compute(prev)
      val prevPairs = prev.map(_._2).getOrElse(Nil)
      val keptPairs: Seq[(Int, Long)] =
        if (dropUntouched) Nil
        else if (replace) prevPairs.filterNot(p => touched.contains(p._1))
        else prevPairs
      Attempt[(DataFrame, Seq[(Int, Long)])](
        writeVersion = writeVersionDir(name, _, out),
        swap = v => writeManifest(name, newMaxSk,
          keptPairs ++ touched.map(b => (b, v)), v),
        result = _ => (out, keptPairs))
    }
    maybeCompact(name)
    res
  }

  /** Fold all live versions into one when too many accumulate; same CAS
    * swap, so readers never see a partial compaction and a racing merge is
    * never clobbered — on conflict compaction simply abandons (the next
    * commit re-triggers it). BEST-EFFORT by design: the caller's merge is
    * already durably committed, so a compaction failure (transient task
    * loss, query stop mid-write) must not surface as a merge failure. */
  private def maybeCompact(name: String): Unit = {
    val pairsNow = snapshot(name).map(parseManifest(_)._2).getOrElse(return)
    if (pairsNow.map(_._2).distinct.size <= compactAfter) return
    val attempt = scala.util.Try {
      CommitProtocol.commitOnce(dir(name), ManifestFile) { snap =>
        val (maxSk, pairs) = parseManifest(snap.getOrElse(
          throw new java.nio.file.NoSuchFileException(manifestPath(name).toString)))
        // the bucket set is already IN the manifest pairs — no job needed —
        // and the source version dirs persist until vacuum, so the
        // compaction write streams (no localCheckpoint of the whole table
        // into executor memory; writeStats reads columns from the schema
        // and aggregates the just-written files)
        val all = readPairs(name, pairs)
        val buckets = pairs.map(_._1).distinct.sorted
        Attempt[Unit](
          writeVersion = writeVersionDir(name, _, all),
          swap = v => writeManifest(name, maxSk, buckets.map(b => (b, v)), v),
          result = _ => ())
      }
    }
    attempt.failed.foreach(e =>
      System.err.println(s"[graft] compaction of $name abandoned: ${e.getMessage}"))
  }

  /** Version directories currently ON DISK (live + superseded + crash
    * orphans), ascending — the quantity vacuum bounds; compare with
    * [[committedVersions]] (reachable history) to see what maintenance
    * would reclaim. */
  def onDiskVersionDirs(name: String): Seq[Long] = CommitProtocol.versionDirs(dir(name))

  /** Delete version directories no manifest entry references (crashed
    * commits, superseded versions) — except in-flight ones a concurrent
    * writer has reserved but not yet committed. Runs under the table lock
    * so it never interleaves with a commit's check-and-swap.
    *
    * `retainMillis` is the reader grace period (Delta's retention model):
    * a superseded version is reclaimed only once its tombstone — stamped
    * when it left the manifest — is at least that old, so vacuum can run
    * CONCURRENTLY with ingestion as long as no reader holds a frame longer
    * than the retention. The default 0 is the quiesced mode: reclaim
    * everything dead immediately (the caller guarantees no outstanding
    * readers). Crash orphans (never referenced by any manifest) age by
    * directory mtime — no reader can ever have resolved them. */
  override def vacuum(name: String, retainMillis: Long = 0L): Unit = {
    if (!exists(name)) return // no-op, the TableStore contract
    CommitProtocol.lockFor(dir(name)).synchronized {
      val live = readManifest(name)._2.map(_._2).toSet
      val tomb = readTombstones(name)
      val now = System.currentTimeMillis()
      val reclaimed = CommitProtocol.vacuumVersions(dir(name), live, retainMillis,
        v => now - tomb.getOrElse(v,
          Files.getLastModifiedTime(Paths.get(versionDir(name, v))).toMillis)).toSet
      reclaimed.foreach(v => versionSchemas.remove((name, v)))
      // prune tombstones of reclaimed versions — append-only growth would
      // otherwise make every vacuum re-parse the table's full commit history
      if (reclaimed.nonEmpty && tomb.nonEmpty) {
        val keptTomb = tomb.filterNot { case (v, _) => reclaimed.contains(v) }
        CommitProtocol.atomicWrite(dir(name), "_TOMBSTONES",
          keptTomb.toSeq.sorted.map { case (v, t) => s"$v $t" }
            .mkString("", "\n", "\n"))
      }
    }
  }

  override def mergeDim(name: String, batch: DataFrame, natKey: Seq[String],
                        skCol: String): DataFrame =
    upsert(name, batch, natKey, Some(skCol))

  override def mergeFact(name: String, batch: DataFrame, natKey: Seq[String]): DataFrame =
    upsert(name, batch, natKey, None)

  /** The one upsert behind [[mergeDim]] and [[mergeFact]] — the
    * reference's `INSERT … ON CONFLICT … DO UPDATE`, with a dimension's
    * `RETURNING` serial key as `sk`. The touched buckets of the table and
    * the batch meet in ONE null-safe full-outer join, projected so that
    * the batch row wins where present, a stored row the batch does not
    * touch stays as it is, batch-only columns read NULL on stored rows and
    * stored-only columns keep their stored value (ADDITIVE evolution:
    * stored order, new columns appended; shared columns must type-match,
    * checked inside the CAS loop against the snapshot being committed).
    *
    * A dimension adds the column `sk` (natKey, sk, attrs… on disk): the
    * stored key on matched and untouched rows, `max+i` on fresh rows. Its
    * join is checkpointed once, observing the fresh count in the same job,
    * so a batch with no new keys skips [[KeyAssign]]'s partition-sizes
    * job. A fact keeps the batch's column order and its join stays
    * unmaterialized: the commit's write executes it exactly once, and the
    * star pipeline ignores the fact merge's return value. */
  private def upsert(name: String, batch: DataFrame, natKey: Seq[String],
                     sk: Option[String]): DataFrame = {
    // internal marker/prefix names must fail LOUDLY: a user column named
    // _in_batch would be silently overwritten with lit(1), and a _cur_*
    // column would collide with the stored-side aliases
    batch.columns.foreach { c =>
      require(c != "_in_batch" && !c.startsWith("_cur_"),
        s"column name '$c' collides with the merge writer's internal " +
          "markers (_in_batch, _cur_*) — rename it before merging")
    }
    sk.foreach { s =>
      require(!batch.columns.contains(s),
        s"batch must not carry the surrogate key column '$s' " +
          "(the merge writer assigns it)")
    }
    if (!exists(name) && batch.isEmpty) return sk.fold(batch)(batch.withColumn(_, lit(0L)))
    val (batchB, touched) = materialize(batch.withColumn("_bucket", bucketCol(natKey)))
    if (touched.isEmpty) return read(name) // empty batch over existing table
    val (out, kept) = commitLoop(name, replace = true) {
      case None => sk match {
        case None => (batchB, touched, 0L)
        case Some(s) =>
          // KeyAssign over the in-memory batch; the write executes the
          // cheap id-stamping map, so no further checkpoint is needed
          val (keyed, n) = KeyAssign.dense(batchB, s, 0L)
          val attrs = batch.columns.filterNot(natKey.contains)
          (keyed.select(((natKey :+ s) ++ attrs :+ "_bucket").map(col): _*), touched, n)
      }
      case Some((maxSk, pairs)) =>
        // partition pruning: only touched bucket dirs are scanned, once
        val curTouched = readPairs(name, pairs, Some(touched))
        SchemaEvolution.requireCompatible(name, batchB, curTouched)
        val reserved = (natKey ++ sk) :+ "_bucket"
        val storedFields = curTouched.schema.fields.toSeq
          .filterNot(f => reserved.contains(f.name))
        val batchFields = batchB.schema.fields.toSeq
          .filterNot(f => reserved.contains(f.name))
        val batchHas = batchFields.map(_.name).toSet
        val storedHas = storedFields.map(_.name).toSet
        // NULL-SAFE key match: natural keys come from groupBy-shaped
        // upstreams where NULL is one group, so the merge must treat it
        // the same way — a plain usingColumns join never matches NULL, and
        // a NULL-keyed row would re-insert on EVERY replay, breaking the
        // effectively-once contract. Stored columns are aliased aside,
        // keys matched with <=>, and the canonical key is the batch side
        // where present (even when legitimately NULL). `_bucket` joins
        // alongside the natural key (it is a function of it).
        val cur = curTouched.select(
          (natKey.map(k => col(k).as(s"_cur_$k")) :+
            col("_bucket").as("_cur__bucket")) ++
          sk.map(s => col(s).as(s"_cur_$s")) ++
          storedFields.map(f => col(f.name).as(s"_cur_${f.name}")): _*)
        val joinCond = (natKey.map(k => col(k) <=> col(s"_cur_$k")) :+
          (col("_bucket") === col("_cur__bucket"))).reduce(_ && _)
        val j = batchB.withColumn("_in_batch", lit(1))
          .join(cur, joinCond, "full_outer")
        val inBatch = col("_in_batch").isNotNull
        def batchWins(c: String): Column =
          when(inBatch, col(c)).otherwise(col(s"_cur_$c")).as(c)
        val merged = natKey.map(batchWins) ++ sk.map(s => col(s"_cur_$s").as(s)) ++
          (batchWins("_bucket") +:
            SchemaEvolution.unionAttrs(storedFields, batchFields).map { f =>
              if (!batchHas(f.name)) col(s"_cur_${f.name}").as(f.name) // kept / NULL insert
              else if (storedHas(f.name)) batchWins(f.name)
              else when(inBatch, col(f.name)).as(f.name) // NULL back-fill
            })
        sk match {
          case None => (j.select(merged: _*), touched, maxSk)
          case Some(s) =>
            val fresh = inBatch && col(s).isNull
            val freshObs = Observation()
            val m = j.select(merged :+ col("_in_batch"): _*)
              .observe(freshObs, count(when(fresh, 1)).as("fresh"))
              .materialized // consumed by both key classes, the write and view
            val known = m.filter(!fresh).drop("_in_batch")
            // steady state has NO new keys in most batches — the observed
            // count (free: same job as the checkpoint) skips KeyAssign's
            // partition-sizes job, one fewer job per table per batch
            if (Observed.poll(freshObs).flatMap(_.get("fresh")).contains(0L))
              (known, touched, maxSk)
            else {
              val (keyed, nNew) =
                KeyAssign.dense(m.filter(fresh).drop("_in_batch", s), s, maxSk)
              (known.unionByName(keyed), touched, maxSk + nNew)
            }
        }
    }
    view(name, out, kept)
  }

  /** Atomic whole-table replace: the new contents land as one version and
    * the manifest drops EVERY previous mapping — buckets absent from
    * `batch` cease to exist (merge semantics cannot delete by omission).
    * The CAS swap keeps the manifest consistent under races, but the
    * REPLACEMENT CONTENTS are the caller's snapshot — a merge committed
    * between the caller's read and this swap is superseded, so callers
    * serialize replaceTable against same-table writers (trait contract). */
  override def replaceTable(name: String, batch: DataFrame,
                            natKey: Seq[String]): DataFrame = {
    val (batchB, touched) = materialize(batch.withColumn("_bucket", bucketCol(natKey)))
    require(touched.nonEmpty, s"replaceTable($name) with an empty batch")
    val cols = batch.columns.toIndexedSeq :+ "_bucket"
    val (out, _) = commitLoop(name, replace = true, dropUntouched = true) { prev =>
      (batchB.select(cols.map(col): _*), touched, prev.map(_._1).getOrElse(0L))
    }
    out.drop("_bucket")
  }

  /** Append-only tables (e.g. audit trails): rows are spread across
    * buckets by a content hash — funneling every append into `_bucket=0`
    * silently forfeited bucket parallelism and pruning for large append
    * tables. `replace=false` keeps prior versions' mappings live alongside
    * the new one. */
  override def appendTable(name: String, batch: DataFrame): DataFrame = {
    if (batch.isEmpty) return if (exists(name)) read(name) else batch
    val (out, touched) = materialize(batch.withColumn("_bucket",
      pmod(xxhash64(batch.columns.toIndexedSeq.map(col): _*), lit(nBuckets)).cast("int")))
    val (o, kept) = commitLoop(name, replace = false) { prev =>
      // additive evolution holds for appends too (old versions NULL-fill
      // on read); the compat gate keeps type drift loud at write time —
      // and it runs INSIDE the CAS loop, like mergeDim/mergeFact, so a
      // retry re-validates against the snapshot actually being committed
      // (two concurrent appends adding the same column at different types
      // must not both pass against the stale pre-loop schema)
      if (exists(name)) SchemaEvolution.requireCompatible(name, batch, read(name))
      (out, touched, prev.map(_._1).getOrElse(0L))
    }
    view(name, o, kept)
  }
}
