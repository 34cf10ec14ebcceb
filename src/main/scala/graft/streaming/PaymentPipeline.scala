package graft.streaming

import graft.model.PaymentSerde
import graft.operators.PaymentOps
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import scala.collection.mutable

/** Structured-Streaming twin of the reference's runtime
  * (`processor/PaymentTopology.java:39-98` wired by
  * `KafkaStreamsDemoConfiguration.java:34-48`), and the engine's one
  * payment path: [[start]] → [[BalanceStore]] → [[RestService]]. It runs
  * the chain [[PaymentOps.merged]] over an unbounded source, with
  *   - the balance KTable (`PaymentTopology.java:78-88`) held once, in
  *     [[BalanceStore]]: a stateless `foreachBatch` query hands it each
  *     micro-batch's `(fromAccount, amount)` rows, which it sums into running
  *     balances, logs to its parquet changelog and serves, standing in for the
  *     reference's interactive-query store
  *     (`controller/BalanceController.java:24-33`) — SURVEY.md §7.4 Hard #1;
  *   - sink routing for the FOO/BAR outbound topics ([[PaymentOps.routed]])
  *     as ONE tagged stream written per-branch in a single pass
  *     (`PaymentTopology.java:90-97`).
  *
  * The routing sink and the balance query are two queries, and each plans
  * [[PaymentOps.merged]] as a single scan of the source, so every
  * micro-batch is read and decoded twice: once per query. Neither query
  * keeps Spark state.
  *
  * Scale notes: the balance table, like the reference's instance-local
  * store, lives in this process. Each micro-batch's `(fromAccount, amount)`
  * rows are summed per account within each source partition and collected
  * to the driver by one single-stage Spark job (no shuffle), added to the
  * in-memory index that lookups read, and the changed keys' running
  * balances are written by the driver as one parquet changelog file
  * stamped with the batchId. A restart reads the changelog back in one
  * Spark job and folds it on the driver in batch order; compaction writes
  * the index out from the driver. The driver's heap therefore holds one
  * entry per account, plus, while a batch is summed, one row per account
  * and partition of that batch: a catch-up batch (a backlog taken in one
  * trigger, say after a restart) brings up to one row per account in each
  * of its partitions, never more than its records. A deployment past that
  * size would shard the index by key across instances, as Kafka Streams
  * shards its stores by partition, and bound its batches with the source's
  * rate limit (`maxFilesPerTrigger`, `maxOffsetsPerTrigger`).
  */
object PaymentPipeline {

  /** Queryable per-account balance state — the Spark stand-in for
    * `kafkaStreams.store("balance", keyValueStore())`, and the only copy of
    * the balance table. Served state lives on the driver: one immutable
    * `Map` in a volatile field, the twin of the reference's instance-local
    * store (`BalanceController.java:24-33`). [[get]] and [[snapshot]] read
    * it and start no Spark job.
    *
    * The table's one rule is the driver fold: rows `(fromAccount, balance,
    * batch_id)` applied in `batch_id` order, the last row per key winning.
    * It serves every batch and the recovery; Spark only reads and writes
    * the parquet changelog.
    *
    * The balance query's `foreachBatch` hands [[append]] one micro-batch's
    * `(fromAccount, amount)` rows, one per record. [[append]] sums them per
    * account within each partition and collects the sums in one
    * single-stage Spark job, then does the rest on the driver: it adds them
    * onto the running balances, writes the changed keys' running balances
    * to the changelog as one parquet file (under a hidden name, then
    * renamed into place in one atomic move), and only then publishes the
    * new index with one volatile write: durable first, visible second. The
    * driver so holds one row per account and partition of the batch while
    * it sums; a catch-up batch over many files brings one row per account
    * in each of its partitions. A reader sees the state after some whole
    * batch (the eventual-consistency window the reference tests tolerate,
    * `KafkaStreamsPaymentIntegrationTest.java:185-188`).
    *
    * The changelog is the recovery log: a new store reads it once and
    * replays it in `batch_id` order, as Kafka Streams restores a store from
    * its changelog topic (`PaymentTopology.java:78-88`). A delta fold is not
    * idempotent, so the store keeps one invariant: the changelog can rebuild
    * the state before its last batch P as well as the state after it, and
    * both are kept in memory. Spark replays P when P's append landed but
    * its commit-log entry did not; [[append]] then folds P onto the state
    * before it, and re-appends rows identical to those that landed, so the
    * replayed log folds to the same table. An append is one renamed file,
    * so it lands whole or not at all; a changelog whose last batch landed
    * in part (a multi-file Spark append, as earlier versions wrote) folds
    * the same way. A hidden `.part-*.tmp` file left by a crash mid-write is
    * invisible to recovery and [[dataFileCount]], and the next compaction
    * deletes it.
    *
    * Every `compactEvery` batches the changelog is rewritten to the served
    * index, which bounds its files and so the restart's read. A compacted
    * row carries the batch id of the state it snapshots: the changelog's
    * last batch, not the due one. Compaction runs only at the start of a
    * batch whose predecessor committed, before its append, and never on a
    * replay, so it never collapses the rows of a batch that can still
    * replay. No reader lists files while the stream runs, so compaction
    * deleting files races with no lookup.
    *
    * A null balance (an account whose only amounts decoded to null) reads
    * as absent. A record with a null account adds to no balance, as Kafka
    * Streams' grouped aggregation drops a record whose key is null; a null
    * account row in a changelog an earlier version wrote is skipped the
    * same way.
    *
    * @param compactEvery rewrite cadence in batches; <= 0 disables.
    */
  final class BalanceStore(spark: SparkSession, dir: String, compactEvery: Long = 16L) {

    private val schema = StructType.fromDDL("fromAccount STRING, balance BIGINT, batch_id BIGINT")
    // the same three columns as parquet types, for the driver's writer
    private val fileType = MessageTypeParser.parseMessageType(
      "message spark_schema { optional binary fromAccount (STRING); optional int64 balance; optional int64 batch_id; }")
    private val hadoopConf = new Configuration() // loaded once, not per write

    /** `(fromAccount, balance, …)` rows folded over `index`, in order. */
    private def folded(index: Map[String, Long], rows: Seq[Row]): Map[String, Long] =
      rows.foldLeft(index) { (m, r) =>
        if (r.isNullAt(0)) m
        else if (r.isNullAt(1)) m - r.getString(0)
        else m.updated(r.getString(0), r.getLong(1))
      }

    // The changelog's last batch P (-1 before the first) and the table
    // before it, which a replay of P folds onto. Only append writes them.
    private var last: Long = -1L
    private var prior: Map[String, Long] = Map.empty
    @volatile private var index: Map[String, Long] = Map.empty

    if (new java.io.File(dir).exists()) {
      // one read, replayed in batch order; rows a batch holds twice are equal
      val log = spark.read.schema(schema).parquet(dir).collect().toSeq.sortBy(_.getLong(2))
      if (log.nonEmpty) {
        last = log.last.getLong(2)
        val (before, at) = log.span(_.getLong(2) < last)
        prior = folded(Map.empty, before)
        index = folded(prior, at)
      }
    }

    /** `GET /balance/{account}`: None ⇒ the reference's HTTP 404
      * (`BalanceController.java:29-33`).
      */
    def get(account: String): Option[Long] = index.get(account)

    /** Full current state: the served index itself. */
    def snapshot: Map[String, Long] = index

    /** Sum one batch's `(account, amount)` rows, read by position, into the
      * table (see class doc). Spark `sum`'s rules: a null amount adds
      * nothing, and an account whose amounts are all null keeps its balance
      * or stays absent. A null account adds to no balance. One row per
      * account is a batch of sums.
      */
    private[streaming] def append(rows: Dataset[Row], batchId: Long): Unit = {
      require(batchId >= last, s"batch $batchId precedes the changelog's last batch $last")
      val replay = batchId == last
      if (!replay && compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) compact()
      val base    = if (replay) prior else index
      val changed = mutable.HashMap.empty[String, Long]
      rows.rdd.mapPartitions(partitionSums).collect().foreach { case (account, amount) =>
        changed.update(account, changed.getOrElse(account, base.getOrElse(account, 0L)) + amount)
      }
      if (changed.nonEmpty) {
        write(changed, batchId)
        last = batchId
        prior = base
        index = base ++ changed
      }
    }

    /** Rewrite the changelog to the served index, every row stamped with
      * the changelog's last batch (see class doc). Safe order: snapshot the
      * current data files, write the index as one file, then delete the
      * snapshot, each file with its `.crc` sidecar if Spark's writer left
      * one, and any `.part-*.tmp` file a crash mid-write left. A crash at
      * any point leaves a changelog that folds to the same table. The
      * stream calls it only from [[append]], between batches: a call
      * between an append and its batch's commit would collapse the rows
      * before that batch, which its replay folds onto.
      */
    private[streaming] def compact(): Unit = {
      val files = listed
      val old   = files.filter(isPart)
      if (old.nonEmpty) {
        write(index, last)
        old.foreach { f =>
          f.delete()
          new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
        }
      }
      files.filter(f => f.getName.startsWith(".part-") && f.getName.endsWith(".tmp")).foreach(_.delete())
    }

    /** Write `(fromAccount, balance)` rows stamped `batchId` as one parquet
      * file on the driver: to a hidden `.part-….tmp` name that Spark's
      * reader skips, closed, then moved to `part-<batch>-<uuid>.parquet` in
      * one atomic rename, so recovery sees the whole file or none of it.
      */
    private def write(rows: Iterable[(String, Long)], batchId: Long): Unit = {
      val root = Files.createDirectories(Paths.get(dir))
      val name = s"part-$batchId-${UUID.randomUUID}"
      val tmp  = root.resolve(s".$name.tmp")
      val out = ExampleParquetWriter
        .builder(new LocalOutputFile(tmp))
        .withConf(hadoopConf)
        .withType(fileType)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
      val groups = new SimpleGroupFactory(fileType)
      try rows.foreach { case (account, balance) =>
        out.write(groups.newGroup().append("fromAccount", account).append("balance", balance).append("batch_id", batchId))
      } finally out.close()
      Files.move(tmp, root.resolve(s"$name.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }

    /** Data files currently in the changelog directory (test/ops surface —
      * the boundedness compaction guarantees is asserted on this).
      */
    def dataFileCount: Int = listed.count(isPart)

    private def listed: Array[java.io.File] =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])

    /** A part-* file the writes produced: compaction's delete snapshot. */
    private def isPart(f: java.io.File): Boolean = f.isFile && f.getName.startsWith("part-")
  }

  /** One partition's `(account, amount)` rows summed per account, on the
    * executor: rows with a null account or a null amount add nothing, and
    * an account with no other row yields none.
    */
  private def partitionSums(rows: Iterator[Row]): Iterator[(String, Long)] = {
    val sums = mutable.HashMap.empty[String, Long]
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val account = r.getString(0)
        sums.update(account, sums.getOrElse(account, 0L) + r.getLong(1))
      }
    }
    sums.iterator
  }

  /** Handles to the running topology: the routing query (both outbound
    * topics in one partitioned write), the balance query, and the
    * queryable store.
    */
  final case class RunningTopology(
      routing: StreamingQuery,
      balance: StreamingQuery,
      store: BalanceStore
  ) {
    def processAllAvailable(): Unit = {
      routing.processAllAvailable()
      balance.processAllAvailable()
    }
    def stop(): Unit = {
      routing.stop()
      balance.stop()
    }
  }

  /** The checkpoint file manager setting. [[withCheckpointSettings]] sets
    * it to the FileSystem-based manager instead of the FileContext one,
    * which on a local file system without Hadoop's native library forks
    * `readlink` on every rename. Both write a file under a temporary name
    * and rename it into place. The FileSystem-based one writes through the
    * `file://` file system, so on `NoCrcLocalFileSystem` the offset and
    * commit logs get no Hadoop `.crc` sidecar either; FileContext writes
    * one whatever `fs.file.impl` says.
    *
    * The trade is corruption detection, not atomicity: a checkpoint file
    * corrupted on disk is read as it is instead of failing its checksum. A
    * session that sets the manager itself (a deployment that wants the
    * check, or relies on its own manager for an object store) keeps it.
    */
  private val CheckpointManager = "spark.sql.streaming.checkpointFileManagerClass"

  /** Run `body` (which starts streaming queries) with the FileSystem-based
    * checkpoint manager (see [[CheckpointManager]]) unless the session set
    * its own, then unset it again. A query clones the session when it
    * starts, so a query started in `body` keeps the manager for its
    * lifetime.
    */
  private[graft] def withCheckpointSettings[T](spark: SparkSession)(body: => T): T =
    if (spark.conf.getOption(CheckpointManager).isDefined) body
    else {
      spark.conf.set(CheckpointManager, classOf[FileSystemBasedCheckpointFileManager].getName)
      try body
      finally spark.conf.unset(CheckpointManager)
    }

  /** Wire the full reference topology over a streaming payment DataFrame
    * (from [[fromKafka]], a MemoryStream, or any streaming source with the
    * payment schema) as two queries over the same source: the exactly-once
    * routing sink and a stateless balance query that hands each batch's
    * `(fromAccount, amount)` rows to the [[BalanceStore]], the one copy of
    * the balance table. Each balance batch runs one single-stage Spark job;
    * the store sums and logs on the driver. A tick is visible once both
    * queries have committed. Neither query plans a stateful operator, so no
    * state store pins `spark.sql.shuffle.partitions` across restarts. Both
    * start under [[withCheckpointSettings]]: no `readlink` fork per
    * checkpoint file, and no checksum sidecars on a local file system
    * without Hadoop's checksums, unless the session chose its own checkpoint
    * file manager (see [[CheckpointManager]] for the trade).
    *
    * @param sinkDir  rows routed to the FOO/BAR "topics" land in
    *                 `sinkDir/topic=rails-foo-topic/` etc. as parquet —
    *                 one partitioned write per micro-batch (one scan of the
    *                 source, no per-branch re-scan).
    * @param compactEvery balance-changelog compaction cadence (batches);
    *                 see [[BalanceStore]].
    */
  def start(
      payments: DataFrame,
      checkpointDir: String,
      sinkDir: String,
      compactEvery: Long = 16L
  ): RunningTopology = {
    // underscore prefix ⇒ invisible to data reads of sinkDir (Spark's
    // hidden-path convention), so one output root serves both surfaces
    val store = new BalanceStore(payments.sparkSession, s"$sinkDir/_balance_state", compactEvery)

    val merged = PaymentOps.merged(payments)
    withCheckpointSettings(payments.sparkSession) {
      // Native file sink, not foreachBatch-append: the sink's _spark_metadata
      // transaction log records exactly which files each batch committed, so a
      // crash-replayed batch overwrites instead of duplicating (foreachBatch
      // with blind append would write the batch twice) and readers of sinkDir
      // see only committed files. partitionBy("topic") keeps both outbound
      // "topics" in one pass over the tagged union.
      val routing = PaymentOps
        .routed(merged)
        .writeStream
        .queryName("graft-sink-routing")
        .format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", s"$checkpointDir/routing")
        .partitionBy("topic")
        .start()

      // O7–O9 — re-key in the streaming plan, so Catalyst prunes the decode
      // to the two columns the sum reads; the store sums each batch's rows
      // per partition in one job and adds them into the running balances
      // (the KTable), logs and then serves them.
      val balance = PaymentOps
        .rekeyToAccountAmount(merged)
        .writeStream
        .queryName("graft-balance")
        .option("checkpointLocation", s"$checkpointDir/balance")
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          store.append(batch, batchId)
          ()
        }
        .start()

      RunningTopology(routing, balance, store)
    }
  }

  /** O1 — the Kafka source decoded to payment columns (requires the
    * spark-sql-kafka connector on the classpath at deploy time; the codec
    * itself is pure columns and tested without a broker).
    */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    PaymentSerde.decodeKafka(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .load()
    )

  /** O13 — topology introspection: the analyzed + physical plan as text,
    * the Spark twin of `Topology#describe`
    * (`controller/TopologyController.java:20-23`).
    */
  def describe(df: DataFrame): String =
    df.queryExecution.toString
}
