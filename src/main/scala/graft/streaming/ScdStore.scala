package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental SCD TYPE-2 APPLY — the MERGE/CDC-upsert consumer of the
  * one-shot history build (q192): a time-ordered change batch arrives, the
  * affected users' OPEN versions close, and the batch's new change points
  * append as new versions — the Delta `MERGE WHEN MATCHED UPDATE / WHEN NOT
  * MATCHED INSERT` shape, hand-built on an append-only parquet changelog
  * exactly like `PaymentPipeline.BalanceStore` (the reference's KTable IS a
  * changelog-upsert store, `PaymentTopology.java:78-88`; this generalizes
  * the running-sum value to a versioned dimension history).
  *
  * Changelog row = one SCD version (`user_id, version, …, batch_id`);
  * upsert = appending a row for an existing `(user_id, version)` with a
  * higher `batch_id` (the close of a previously-open version). Readers
  * reconstruct the table as latest-row-per-(user, version) — a map-side-
  * combinable groupBy, never a driver collect.
  *
  * Replay safety (foreachBatch may redeliver a batch whose write landed
  * but whose checkpoint commit did not): [[merge]] seeds the open-version
  * lookup from rows with `batch_id < ` the incoming batch id, so a replay
  * recomputes against the SAME pre-batch state and appends byte-identical
  * rows, which the latest-per-key read deduplicates.
  *
  * Batch contract (standard CDC): batches are per-user time-ordered —
  * every event for a user in batch N is at-or-after every batch N−1 event
  * (the range-partitioned epoch layout guarantees it here; a Kafka source
  * gives it per partition). Equal-ts ties therefore never straddle a batch
  * boundary, and the within-batch last-write-wins collapse (q192's rule)
  * is complete.
  *
  * Store layout: the changelog is HASH-BUCKET-PARTITIONED on the key —
  * `bucket=N/part-*.parquet` with `bucket = pmod(xxhash64(user_id),
  * buckets)` — so [[merge]]'s open-version seed scan PRUNES to the
  * incoming batch's buckets at the file listing (a partition filter, never
  * a data read of untouched buckets): the per-batch seed cost is the
  * TOUCHED fraction of the store, not the whole changelog. `buckets` is a
  * store-lifetime constant (it is baked into the directory layout); a
  * 100 TB deployment sizes it to live-key volume / 128 MB.
  *
  * Scale notes: one key shuffle per batch (the open-version join and the
  * per-user windows share `user_id` partitioning); the open-version side
  * is dimension-sized (one row per user) but the `is_current = 1` filter
  * applies AFTER the latest-per-(user, version) reconstruction — a close
  * row flips an older row's flag, so it cannot push to parquet; the scan
  * cost is therefore the TOUCHED BUCKETS' share of the changelog, which
  * bucket pruning bounds per batch and [[compact]] bounds over time
  * (BalanceStore's safe append-then-delete order). Written rows are
  * bounded by the batch's CHANGE volume, never by history.
  */
final class ScdStore(
    spark: SparkSession,
    dir: String,
    openEnd: String,
    buckets: Int = 8
) {

  private val schema =
    "user_id BIGINT, version BIGINT, cents BIGINT, valid_from TIMESTAMP, " +
      "valid_to TIMESTAMP, is_current BIGINT, batch_id BIGINT, bucket INT"

  /** The key→bucket map — ONE definition shared by the writes (layout),
    * the seed prune (partition filter) and the compaction re-derivation,
    * so the three cannot drift.
    */
  private def bucketOf(key: Column): Column =
    pmod(xxhash64(key), lit(buckets.toLong)).cast("int")

  /** Layout guard, checked once per instance at the first read: every row
    * this store ever wrote lives under a `bucket=N/` partition directory
    * ([[merge]] and [[compact]] both `partitionBy("bucket")`), so a data
    * file at the ROOT can only be a store written by a different (flat)
    * layout. Reading one through the partitioned schema would surface
    * `bucket` as NULL and the seed scan's partition filter would silently
    * drop every open version — merges would renumber users from version 1
    * with no error. Fail fast instead: the layout is part of the store's
    * on-disk contract.
    */
  private lazy val layoutOk: Boolean = {
    val atRoot = graft.sources.DataFiles.list(dir)
    if (atRoot.nonEmpty) throw new IllegalStateException(
      s"ScdStore at $dir holds ${atRoot.length} data file(s) outside bucket=N/ partitions " +
        s"(e.g. ${atRoot.head.getFileName}) — a flat-layout store is not readable through the " +
        "bucket-partitioned layout; rebuild the store or migrate its files into bucket directories")
    true
  }

  private def changelog: Option[DataFrame] =
    if (new java.io.File(dir).exists() && layoutOk) Some(spark.read.schema(schema).parquet(dir))
    else None // no batch committed yet

  /** Latest committed row per (user_id, version) among batches strictly
    * below `beforeBatch` (Long.MaxValue = the full table) — the one
    * reconstruction rule [[snapshotDf]] and [[merge]]'s seed share.
    * `onlyBuckets` restricts the scan to the given buckets (a PARTITION
    * filter — pruned at the file listing); None reads everything. By-name
    * so a no-changelog store never computes the bucket list at all.
    */
  private def latestRows(
      beforeBatch: Long,
      onlyBuckets: => Option[Seq[Int]],
      pre: DataFrame => DataFrame = identity): Option[DataFrame] =
    changelog.map { log =>
      pre(onlyBuckets
        .fold(log)(bs => log.filter(col("bucket").isin(bs.map(Integer.valueOf): _*))))
        .filter(col("batch_id") < beforeBatch)
        .groupBy(col("user_id"), col("version"))
        .agg(max_by(
          struct(col("cents"), col("valid_from"), col("valid_to"), col("is_current")),
          col("batch_id")).as("r"))
        .select(
          col("user_id"), col("version"),
          col("r.cents").as("cents"),
          col("r.valid_from").as("valid_from"),
          col("r.valid_to").as("valid_to"),
          col("r.is_current").as("is_current"))
    }

  /** The no-rows-yet frame — q192's schema (the changelog schema minus
    * batch_id and the bucket partition column), shared by [[snapshotDf]]
    * and [[mergeRows]]' seed fallback so the two cannot drift from the
    * schema string.
    */
  private def emptySnapshot: DataFrame =
    spark.range(0).selectExpr(
      schema.split(", ").filterNot(f => f.startsWith("batch_id") || f.startsWith("bucket"))
        .map { f => val Array(n, t) = f.split(" "); s"CAST(NULL AS $t) AS $n" }.toIndexedSeq: _*)

  /** The reconstructed SCD-2 table (q192's exact schema) as a DISTRIBUTED
    * frame — latest committed row per (user, version).
    */
  def snapshotDf: DataFrame =
    latestRows(Long.MaxValue, None).getOrElse(emptySnapshot)

  /** [[snapshotDf]] PRUNED to the buckets of `keys`' user_ids — the
    * per-batch point-in-time-enrich read (q196): a version for a user
    * outside the batch's buckets cannot join the batch, so the scan skips
    * those partition directories entirely. Same bounded bucket listing as
    * the merge seed (≤ `buckets` driver rows). A caller that already
    * computed the batch's bucket set (to share it with [[merge]] — one
    * pass over the micro-batch, not one per consumer) uses the
    * `Seq[Int]` overload directly.
    */
  def snapshotDfFor(keys: DataFrame): DataFrame = snapshotDfFor(bucketsOf(keys))

  def snapshotDfFor(keyBuckets: Seq[Int]): DataFrame =
    latestRows(Long.MaxValue, Some(keyBuckets)).getOrElse(emptySnapshot)

  /** The distinct buckets of a key frame — a bounded driver list (≤
    * `buckets` rows by construction, a store constant), never data-sized.
    * `private[graft]` so a foreachBatch that both merges AND enriches can
    * compute it ONCE per trigger and hand it to each consumer.
    */
  private[graft] def bucketsOf(keys: DataFrame): Seq[Int] =
    keys.select(bucketOf(col("user_id")).as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq

  /** INTERACTIVE AS-OF POINT LOOKUP (BalanceController's store-get/404
    * contract, extended to the versioned dimension): the user's version
    * whose validity interval contains `at` (`valid_from ≤ at < valid_to` —
    * versions partition time, so at most one row qualifies), None ⇒ absent
    * (user unknown, or `at` before their first version).
    *
    * The scan is a real point lookup, not a table pass: the bucket
    * predicate is `bucketOf(lit(userId))` — FOLDABLE, so Catalyst
    * constant-folds it to the literal bucket id and the file listing
    * prunes to ONE `bucket=N/` directory (the same single [[bucketOf]]
    * definition the writes use — the map cannot drift) — and the
    * `user_id` equality pushes into the parquet scan (row-group pruning).
    * Cost per request = the one bucket's share of the changelog, which
    * [[compact]] bounds; the plan is gated in ScdStoreSpec.
    */
  def lookup(userId: Long, at: java.sql.Timestamp): Option[ScdStore.VersionAt] =
    lookupDf(userId, at).flatMap { df =>
      df.collect().headOption.map(r =>
        ScdStore.VersionAt(r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3)))
    }

  /** [[lookup]]'s frame (exposed for the plan gate: one-directory
    * PartitionFilters + pushed user_id). None before the first commit.
    */
  private[graft] def lookupDf(userId: Long, at: java.sql.Timestamp): Option[DataFrame] =
    latestRows(
      Long.MaxValue,
      None,
      log => log
        .filter(col("bucket") === bucketOf(lit(userId)))
        .filter(col("user_id") === userId))
      .map(_.filter(col("valid_from") <= lit(at) && lit(at) < col("valid_to"))
        .select(col("version"), col("cents"), col("valid_from"), col("valid_to")))

  /** Apply one change batch (`user_id, ts, event_id, cents`): q192's exact
    * change-point chain — equal-ts last-write-wins collapse, then the
    * no-op-update dedup SEEDED by each user's carried-in open cents — then
    * one append of (a) the batch's new versions, the last one open, and
    * (b) a close row for each previously-open version a new change point
    * supersedes (valid_to = the user's first new change ts). The write is
    * repartitioned onto the bucket layout: at most `buckets` files per
    * batch, written in parallel.
    */
  def merge(batchRaw: DataFrame, batchId: Long): Unit = merge(batchRaw, batchId, None)

  /** [[merge]] with the batch's bucket set already known (`knownBuckets`)
    * — the shared-pass form for a foreachBatch that also enriches against
    * [[snapshotDfFor]]: the caller computes [[bucketsOf]] once on the
    * (persisted) micro-batch and neither consumer re-scans it.
    */
  def merge(batchRaw: DataFrame, batchId: Long, knownBuckets: Option[Seq[Int]]): Unit =
    mergeRows(batchRaw, batchId, knownBuckets)
      .withColumn("batch_id", lit(batchId))
      .withColumn("bucket", bucketOf(col("user_id")))
      .repartition(buckets, col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(dir)

  /** The rows [[merge]] appends, as a frame (exposed for the plan gate:
    * the batch side must carry ONE key exchange shared by the tie-collapse
    * window, the open-version join, and the change-point windows, and the
    * seed scan must carry the bucket PartitionFilters prune).
    */
  private[graft] def mergeRows(
      batchRaw: DataFrame, batchId: Long, knownBuckets: Option[Seq[Int]] = None): DataFrame = {
    // The batch's bucket set becomes the seed scan's partition filter —
    // lazy so the FIRST batch (no changelog yet → no seed scan) never
    // pays the listing pass over the batch.
    lazy val batchBuckets: Seq[Int] = knownBuckets.getOrElse(bucketsOf(batchRaw))
    val byKey = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val collapsed = batchRaw
      .withColumn("nxt_ts", lead(col("ts"), 1).over(byKey))
      .filter(col("nxt_ts").isNull || col("nxt_ts") =!= col("ts"))
      .drop("nxt_ts")
    val open = latestRows(batchId, Some(batchBuckets))
      .map(_.filter(col("is_current") === 1L))
      .getOrElse(emptySnapshot)
      .select(
        col("user_id"),
        col("version").as("open_version"),
        col("cents").as("open_cents"),
        col("valid_from").as("open_from"))
    val ch = collapsed
      .join(open, Seq("user_id"), "left")
      .withColumn("prev", coalesce(lag(col("cents"), 1).over(byKey), col("open_cents")))
      .filter(col("prev").isNull || col("cents") =!= col("prev"))
    val openEndTs = lit(openEnd).cast("timestamp")
    val newRows = ch.select(
      col("user_id"),
      (coalesce(col("open_version"), lit(0L)) + row_number().over(byKey).cast("long")).as("version"),
      col("cents"),
      col("ts").as("valid_from"),
      coalesce(lead(col("ts"), 1).over(byKey), openEndTs).as("valid_to"))
      .withColumn("is_current", when(col("valid_to") === openEndTs, 1L).otherwise(0L))
    val closes = ch
      .groupBy(col("user_id"))
      .agg(
        min(col("ts")).as("valid_to"), // the first new change point closes the open version
        min(col("open_version")).as("version"), // constant per user; min is null-safe
        min(col("open_cents")).as("cents"),
        min(col("open_from")).as("valid_from"))
      .filter(col("version").isNotNull) // users with no prior open version insert only
      .select(
        col("user_id"), col("version"), col("cents"),
        col("valid_from"), col("valid_to"), lit(0L).as("is_current"))
    newRows.unionByName(closes)
  }

  /** Rewrite the PART of the changelog the streaming checkpoint can no
    * longer replay — rows with `batch_id < safeBelowBatch` — to
    * latest-per-(user, version), keeping each surviving row's winning
    * `batch_id` so [[merge]]'s `< batchId` seed stays correct. Rows at or
    * above the cutoff are carried verbatim: a redelivered batch
    * `N ≥ safeBelowBatch` must still reconstruct its exact pre-N state,
    * and compacting a superseded pre-N open version away would make the
    * replay renumber the user from version 1 (pass the last COMMITTED
    * batch id as the cutoff — batches below it can never replay).
    * BalanceStore's safe order: append the compacted rows (the scan
    * planned against the old files), then delete the old files — every
    * intermediate state reads correctly.
    *
    * The rewrite is PARALLEL and file-bounded: repartitioned onto the
    * bucket layout (bucket = the user-hash), one task per bucket writing
    * its own partition directory — at most `buckets` data files survive a
    * full compact, and a version history of any size rewrites with
    * `buckets`-way parallelism instead of one task.
    *
    * The no-argument overload compacts everything; callers use it only
    * when no replay is possible (all writes checkpoint-committed, e.g.
    * after `awaitTermination` of an AvailableNow run).
    */
  def compact(): Unit = compact(Long.MaxValue)

  def compact(safeBelowBatch: Long): Unit = changelog.foreach { log =>
    val old = dataFiles
    val compacted = log
      .filter(col("batch_id") < safeBelowBatch)
      .groupBy(col("user_id"), col("version"))
      .agg(max_by(
        struct(col("cents"), col("valid_from"), col("valid_to"), col("is_current"), col("batch_id")),
        col("batch_id")).as("r"))
      .select(
        col("user_id"), col("version"),
        col("r.cents").as("cents"),
        col("r.valid_from").as("valid_from"),
        col("r.valid_to").as("valid_to"),
        col("r.is_current").as("is_current"),
        col("r.batch_id").as("batch_id"))
      .withColumn("bucket", bucketOf(col("user_id")))
    compacted
      .unionByName(log.filter(col("batch_id") >= safeBelowBatch))
      .repartition(buckets, col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(dir)
    old.foreach(f => { java.nio.file.Files.delete(f); () })
  }

  /** Data files currently in the changelog (the boundedness [[compact]]
    * guarantees is asserted on this) — the bucket-partitioned listing.
    */
  def dataFileCount: Int = dataFiles.length

  private def dataFiles: Seq[java.nio.file.Path] =
    graft.sources.DataFiles.listPartitioned(dir)
}

object ScdStore {

  /** One user's version at an instant — [[ScdStore.lookup]]'s result. */
  final case class VersionAt(
      version: Long, cents: Long, validFrom: java.sql.Timestamp, validTo: java.sql.Timestamp) {

    /** The version as JSON (the reference's hand-rolled serializer discipline,
      * `serdes/JsonSerializer.java:20-29` — no reflection, stable field
      * order; timestamps in the store's own `yyyy-MM-dd HH:mm:ss` form).
      */
    def toJson(userId: Long): String =
      s"""{"user_id":$userId,"version":$version,"cents":$cents,""" +
        s""""valid_from":"$validFrom","valid_to":"$validTo"}"""
  }
}
