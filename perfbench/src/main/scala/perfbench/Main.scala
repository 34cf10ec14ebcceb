package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Runs one workload against the payment topology and prints, as its last
  * line, `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
  * metrics, or with `--trace 1` the per-layer ones plus the traced run's
  * end-to-end values under `e2e.<name>`.
  *
  * {{{
  * Main --workload pay_bulk|pay_live --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  */
object Main {
  val Cores = 4

  def session(master: String, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the settings the library's own mains run with
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NoCrcLocalFileSystem].getName)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def unit(name: String): String =
    if (name.endsWith("_eps") || name.startsWith("pay_bulk.eps")) "events/s"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_pct")) "%"
    else if (name.endsWith("_s")) "s"
    else if (name.contains("_ms")) "ms"
    else if (name.endsWith("cpu_util")) "ratio"
    else "count"

  // A failed run exits at once, whatever threads it leaves behind.
  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed     = opts.getOrElse("seed", "1").toLong
    val seconds  = opts.getOrElse("seconds", "20").toInt
    val traced   = opts.get("trace").contains("1")
    val work     = Files.createDirectories(Paths.get(opts.getOrElse("work", "perfbench-work")).toAbsolutePath)

    val spark = session(s"local[$Cores]", work)
    val trace = Option.when(traced)(new Trace(spark, Cores))
    val r = workload match {
      case "pay_bulk" => Bulk.run(spark, work, seed, seconds, trace)
      case "pay_live" => Live.run(spark, work, seed, seconds, trace)
      case other      => sys.error(s"unknown workload $other")
    }
    val metrics =
      if (!traced) r.e2e
      else
        r.layer ++ Probes.layers(spark, work, seed) ++
          r.e2e.map { case (k, v) => s"e2e.$k" -> v } +
          ("pay_bulk.eps_1core" -> Probes.oneCore(work, seed))
    SparkSession.getActiveSession.foreach(_.stop())

    val body = metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      // a layer that saw no samples (no compaction, say) reads 0
      val v = if (m.isNaN && traced) 0.0 else m
      require(!v.isNaN && !v.isInfinite, s"metric $k has no value")
      val u = unit(k.stripPrefix("e2e."))
      s""""$k": {"value": $v, "unit": "$u"}"""
    }
    println(
      s"""{"correct": ${r.wrong == 0}, "attempted": ${r.attempted}, "failed": ${r.wrong}, """ +
        s""""metrics": {${body.mkString(", ")}}}""")
  }
}
