package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite


/** Runtime filtering proofs — the two Catalyst features that turn a full
  * fact scan into a pruned one at execution time, both load-bearing at
  * 100 TB and both exercised here against REAL written layouts (not just
  * conf flags):
  *
  *   - DYNAMIC PARTITION PRUNING: a join against a filtered dim plants a
  *     `dynamicpruningexpression` in the fact scan's PartitionFilters, so
  *     only the partition directories whose keys survive the dim filter are
  *     ever listed/read. The write side is [[Sinks.writePartitioned]] — the
  *     layout contract and the read-time payoff are tested together.
  *   - RUNTIME BLOOM FILTER JOIN: for a shuffle join with a selective
  *     creation side, Catalyst injects `bloom_filter_agg` on the small side
  *     and `might_contain` on the probe side, discarding non-joining fact
  *     rows BEFORE the exchange — the row-level analogue of DPP when the
  *     join key is not a partition column.
  */
class RuntimeFilterSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("join against a filtered dim dynamically prunes fact partitions (DPP)") {
    val tmp = tempDir("graft-dpp").toString
    Sinks.writePartitioned(
      Tables.orders(spark, "/root/testdata/sf0.001"),
      s"$tmp/orders",
      Seq("o_orderstatus")
    )
    val fact = spark.read.parquet(s"$tmp/orders")
    // The dim must be a real datasource: a LocalRelation dim gets its filter
    // constant-folded away before the PartitionPruning rule looks for a
    // selective predicate on the creation side, and no DPP is planted.
    Seq(("F", "final"), ("O", "open"), ("P", "pending"))
      .toDF("status", "label")
      .write.mode("overwrite").parquet(s"$tmp/dim")
    val dim = spark.read.parquet(s"$tmp/dim")
    withConf("spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true") {
      val j = fact
        .join(dim.filter($"label" === "final"), fact("o_orderstatus") === dim("status"))
      val plan = j.queryExecution.executedPlan.toString
      assert(
        plan.toLowerCase.contains("dynamicpruning"),
        "fact scan is not dynamically pruned:\n" + plan.take(1200)
      )
      // the pruned read returns exactly the F-status rows
      assert(j.count() == fact.filter($"o_orderstatus" === "F").count())
    }
  }

  test("selective shuffle join injects a runtime bloom filter on the probe side") {
    // Thresholds sized for harness data: at defaults the application side
    // must exceed 10GB — the CONDITION scales, the mechanism is identical.
    withConf(
      "spark.sql.autoBroadcastJoinThreshold"                                  -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled"                       -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"         -> "100MB"
    ) {
      val li  = Tables.lineitem(spark, "/root/testdata/sf0.001")
      val ord = Tables.orders(spark, "/root/testdata/sf0.001")
        .filter($"o_totalprice" > 400000) // selective creation side
      val j    = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(
        plan.contains("might_contain") || plan.contains("bloom_filter"),
        "no runtime bloom filter on the probe side:\n" + plan.take(1200)
      )
      // filter is a pure pre-filter: results identical to the plain join
      val expected = Tables
        .lineitem(spark, "/root/testdata/sf0.001")
        .join(
          Tables.orders(spark, "/root/testdata/sf0.001").filter($"o_totalprice" > 400000),
          $"l_orderkey" === $"o_orderkey"
        )
        .count()
      assert(j.count() == expected)
    }
  }
}
