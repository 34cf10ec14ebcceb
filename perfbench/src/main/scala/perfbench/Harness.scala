package perfbench

import graft.model.PaymentSerde
import graft.streaming.{PaymentPipeline, RestService}
import perfbench.Workloads.log
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** One running reference topology (`PaymentPipeline.start`: routing file
  * sink plus the update-mode balance query into its `BalanceStore`) fed
  * from a directory of record files, with its REST service.
  *
  * A watcher thread reads the two queries' checkpoints: each file source
  * log says which batch took which input file, and the commit log's file
  * time says when that batch committed. A file is visible once both
  * queries have committed the batch holding it.
  *
  * Traced, the REST service is built as `RestService.forTopology` builds it
  * but with the store's `get` timed, and the watcher also samples the
  * store's file count.
  */
final class Harness(spark: SparkSession, val root: Path, traced: Boolean) {
  private val in      = Files.createDirectories(root.resolve("in"))
  private val staging = Files.createDirectories(root.resolve("staging"))
  private val ckpt    = root.resolve("ckpt")

  val topology: PaymentPipeline.RunningTopology =
    PaymentPipeline.start(Harness.source(spark, in.toString), ckpt.toString, root.resolve("sink").toString,
      compactEvery = Harness.CompactEvery)

  /** How long the REST service's last `BalanceStore.get` took, in ms. */
  @volatile var lastGetMs: Double = Double.NaN

  val rest: RestService =
    if (!traced) RestService.forTopology(topology, "perfbench").start()
    else
      new RestService(account => {
        val t0 = System.nanoTime()
        try topology.store.get(account)
        finally lastGetMs = (System.nanoTime() - t0) / 1e6
      }, () => "perfbench").start()

  def sinkDir: String = root.resolve("sink").toString

  private val queries = Seq("routing", "balance")
  private val batchOf  = queries.map(_ -> new ConcurrentHashMap[String, java.lang.Long]()).toMap
  private val commitAt = queries.map(_ -> new ConcurrentHashMap[java.lang.Long, java.lang.Long]()).toMap
  private val logsRead = queries.map(_ -> ConcurrentHashMap.newKeySet[String]()).toMap
  @volatile var storeFilesMax = 0
  @volatile private var watching = true

  private val watcher = new Thread(() => {
    while (watching) {
      poll()
      Thread.sleep(5)
    }
  }, "perfbench-watcher")
  watcher.setDaemon(true)
  watcher.start()

  private def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList
      finally s.close()
    }

  private val PathRe  = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  // A log file Spark purges between the listing and the read is skipped:
  // only recent entries are still needed by then.
  private def poll(): Unit = try pollOnce() catch { case _: java.nio.file.NoSuchFileException => () }

  private def pollOnce(): Unit = {
    queries.foreach { q =>
      list(ckpt.resolve(q).resolve("sources").resolve("0")).foreach { p =>
        val n = p.getFileName.toString
        if (n.matches("\\d+(\\.compact)?") && !logsRead(q).contains(n)) {
          Files.readAllLines(p).asScala.drop(1).foreach { line =>
            for (path <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line)) {
              val file = path.group(1).substring(path.group(1).lastIndexOf('/') + 1)
              batchOf(q).putIfAbsent(file, b.group(1).toLong)
            }
          }
          logsRead(q).add(n)
        }
      }
      list(ckpt.resolve(q).resolve("commits")).foreach { p =>
        val n = p.getFileName.toString
        if (n.matches("\\d+") && !commitAt(q).containsKey(n.toLong))
          commitAt(q).put(n.toLong, Files.getLastModifiedTime(p).toMillis)
      }
    }
    if (traced) storeFilesMax = math.max(storeFilesMax, topology.store.dataFileCount)
  }

  /** Deliver one input file: written aside, then renamed into the source
    * directory in one step. Returns the time of the rename.
    */
  def drop(name: String, bytes: Array[Byte]): Long = {
    val tmp = staging.resolve(name)
    Files.write(tmp, bytes)
    Files.move(tmp, in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }

  /** The batch of query `q` that took `file`, once its source log says so. */
  def batchFor(q: String, file: String): Option[Long] = Option(batchOf(q).get(file)).map(_.longValue)

  /** The last batch of query `q` committed at or before `t` (-1: none). */
  def lastCommitted(q: String, t: Long): Long = {
    var b = -1L
    while (Option(commitAt(q).get(b + 1)).exists(_ <= t)) b += 1
    b
  }

  /** When both queries had committed the batch holding `file`. */
  def visibleAt(file: String): Option[Long] = {
    val ts = queries.flatMap(q => batchFor(q, file).flatMap(b => Option(commitAt(q).get(b))))
    if (ts.size == queries.size) Some(ts.map(_.longValue).max) else None
  }

  /** When query `q` committed batch `b`, once it has. */
  def commitTime(q: String, b: Long): Option[Long] = Option(commitAt(q).get(b)).map(_.longValue)

  /** Fails the run if either query has stopped on an error. */
  def checkQueries(): Unit =
    Seq(topology.routing, topology.balance).foreach(q =>
      q.exception.foreach(e => throw new IllegalStateException(s"query ${q.name} failed", e)))

  /** Wait until `file` is visible; fails the run after `timeoutMs`. */
  def awaitVisible(file: String, timeoutMs: Long): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var v        = visibleAt(file)
    while (v.isEmpty) {
      checkQueries()
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"$file not committed within $timeoutMs ms")
      Thread.sleep(2)
      v = visibleAt(file)
    }
    v.get
  }

  def stop(): Unit = {
    watching = false
    watcher.join()
    rest.stop()
    topology.stop()
  }
}

object Harness {

  /** The balance changelog's compaction cadence, in balance batches (the
    * library's default, passed explicitly so that `pay_live`'s window and
    * the traced `store.compact_trigger_ms` follow it).
    */
  val CompactEvery = 16L

  /** The streaming payment frame: record files read by Spark's file source,
    * split into Kafka's `key`/`value` columns and decoded by the library's
    * Kafka codec.
    */
  def source(spark: SparkSession, dir: String): DataFrame = {
    val kv = split(col("value"), "\t", 2)
    PaymentSerde.decodeKafka(
      spark.readStream.format("text").load(dir).select(kv.getItem(0).as("key"), kv.getItem(1).as("value")))
  }

  /** The topology is started `reps` times on fresh directories, each start
    * timed until its REST service is up and both queries have committed the
    * `warm` file. The last one is kept running. Returns it with the median
    * start time in seconds.
    */
  def setUp(spark: SparkSession, work: Path, warm: Batch, reps: Int, traced: Boolean): (Harness, Double) = {
    var h: Harness = null
    val times = (1 to reps).map { i =>
      if (h != null) { h.stop(); Fs.delete(h.root) }
      System.gc() // the previous start's garbage is not this start's cost
      val t0 = System.nanoTime()
      h = new Harness(spark, work.resolve(s"topology-$i"), traced)
      h.drop("warm.txt", warm.bytes)
      h.awaitVisible("warm.txt", 120000)
      (System.nanoTime() - t0) / 1e9
    }
    log(s"set-up times (s): ${times.map(t => f"$t%.2f").mkString(" ")}")
    (h, Stats.median(times))
  }
}

object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
