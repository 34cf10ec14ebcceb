package perfbench

import graft.model.PaymentSerde
import graft.operators.PaymentOps
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The traced run's recorders: a streaming-query listener (per-batch
  * durations and state-store figures of the two topology queries), a
  * SparkListener (jobs, tasks and task metrics) and Spark's codegen
  * counters. They record only between [[begin]] and [[end]].
  */
final class Trace(spark: SparkSession, cores: Int) {
  @volatile private var on = false
  private val progress   = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val streamStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val jobs       = new AtomicLong
  private val tasks      = new AtomicLong
  private val streamTasks = new AtomicLong
  private val cpuNs      = new AtomicLong
  private val gcMs       = new AtomicLong
  private val shuffle    = new AtomicLong
  private val input      = new AtomicLong
  private val output     = new AtomicLong
  private var wallNs     = 0L
  private var compiles0  = 0L
  private var compiles   = 0L
  private var compileMs  = 0.0

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on && e.progress.numInputRows > 0) progress.add(e.progress)
  })

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) jobs.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null))
        streamStages.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.incrementAndGet()
        if (streamStages.contains(e.stageId)) streamTasks.incrementAndGet()
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
        output.addAndGet(m.outputMetrics.bytesWritten)
      }
  })

  def begin(): Unit = {
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    wallNs = System.nanoTime()
    on = true
  }

  def end(): Unit = {
    Thread.sleep(500) // listener events arrive asynchronously
    on = false
    wallNs = System.nanoTime() - wallNs
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    compiles = h.getCount - compiles0
    // the histogram keeps a sample of compile times, not their sum
    compileMs = compiles * h.getSnapshot.getMean
  }

  private def ms(p: StreamingQueryProgress, keys: String*): Double =
    keys.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum

  def metrics: Map[String, Double] = {
    val all = progress.asScala.toSeq
    def of(name: String) = all.filter(_.name == name)
    val queries = Map("routing" -> of("graft-sink-routing"), "balance" -> of("graft-balance"))
    val perQuery = queries.toSeq.flatMap { case (q, ps) =>
      def med(keys: String*) = Stats.median(ps.map(ms(_, keys: _*)))
      Seq(
        s"stream.$q.batches"        -> ps.size.toDouble,
        s"stream.$q.trigger_ms_p50" -> med("triggerExecution"),
        s"stream.$q.planning_ms"    -> med("queryPlanning"),
        s"stream.$q.source_ms"      -> med("latestOffset", "getBatch"),
        s"stream.$q.commit_ms"      -> med("walCommit", "commitOffsets"),
        s"stream.$q.add_batch_ms"   -> med("addBatch")
      )
    }
    val balance = queries("balance")
    val state   = balance.flatMap(_.stateOperators.headOption)
    val compactions = balance.filter(p => p.batchId > 0 && p.batchId % Harness.CompactEvery == 0)
    val batches     = queries.values.map(_.size).sum
    val cpuS        = cpuNs.get / 1e9
    val wallS       = wallNs / 1e9
    perQuery.toMap ++ Map(
      "state.balance.rows_total"   -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.balance.memory_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "state.balance.commit_ms"    -> Stats.median(state.map(_.commitTimeMs.toDouble)),
      "store.compact_trigger_ms"   ->
        (if (compactions.isEmpty) 0.0 else Stats.median(compactions.map(ms(_, "triggerExecution")))),
      "spark.jobs"           -> jobs.get.toDouble,
      "spark.tasks"          -> tasks.get.toDouble,
      "spark.tasks_per_batch" -> (if (batches == 0) 0.0 else streamTasks.get.toDouble / batches),
      "spark.task_cpu_s"     -> cpuS,
      "spark.cpu_util"       -> cpuS / (wallS * cores),
      "spark.gc_s"           -> gcMs.get / 1e3,
      "spark.shuffle_bytes"  -> shuffle.get.toDouble,
      "spark.input_bytes"    -> input.get.toDouble,
      "spark.output_bytes"   -> output.get.toDouble,
      "codegen.compiles"     -> compiles.toDouble,
      "codegen.compile_ms"   -> compileMs
    )
  }
}

/** Standalone timed calls into single layers, outside the streaming run. */
object Probes {

  /** `serde.decode_s`: `PaymentSerde.decodeKafka` over one pay_bulk input
    * file into Spark's no-op sink. `ops.topology_s`: `PaymentOps.topology`
    * over the same records, already decoded and cached, with its three
    * outputs written to the no-op sink. Medians of three.
    */
  def layers(spark: SparkSession, work: Path, seed: Long): Map[String, Double] = {
    val file = work.resolve("probe-input.txt")
    Files.write(file, new Gen(seed + 1, Bulk.Accounts, 0).batch(Bulk.PerBatch).bytes)
    val kv = split(col("value"), "\t", 2)
    def decoded: DataFrame =
      PaymentSerde.decodeKafka(spark.read.text(file.toString).select(kv.getItem(0).as("key"), kv.getItem(1).as("value")))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def time(f: => Unit): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })
    val decodeS = time(noop(decoded))
    val cached  = decoded.cache()
    cached.count()
    val topoS = time {
      val t = PaymentOps.topology(cached)
      Seq(t.foo, t.bar, t.balances).foreach(noop)
    }
    cached.unpersist()
    Map("serde.decode_s" -> decodeS, "ops.topology_s" -> topoS)
  }

  /** `pay_bulk.eps_1core`: one half-size pay_bulk file through a fresh
    * topology on a `local[1]` session, a scaling baseline for `ingest_eps`.
    * Replaces the caller's session, so it runs last.
    */
  def oneCore(work: Path, seed: Long): Double = {
    SparkSession.active.stop()
    val spark = Main.session("local[1]", work)
    try {
      val gen = new Gen(seed + 2, Bulk.Accounts, 0)
      val warm   = gen.batch(Bulk.Warm)
      val (h, _) = Harness.setUp(spark, work.resolve("one-core"), warm, 1, traced = false)
      val b  = gen.batch(Bulk.PerBatch / 2)
      val t0 = h.drop("batch.txt", b.bytes)
      val t1 = h.awaitVisible("batch.txt", 150000)
      h.stop()
      b.events / ((t1 - t0) / 1000.0)
    } finally spark.stop()
  }
}
