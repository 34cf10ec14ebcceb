package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class SinksSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("partitioned write enables partition pruning on read") {
    val tmp = tempDir("graft-part").toString
    val df  = Tables.orders(spark, "/root/testdata/sf0.001")
    Sinks.writePartitioned(df, s"$tmp/orders", Seq("o_orderstatus"))

    val pruned = spark.read.parquet(s"$tmp/orders").filter($"o_orderstatus" === "F")
    val scan   = pruned.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    // the status predicate must appear as a PartitionFilter, not a data filter
    assert(scan.contains("PartitionFilters") && scan.contains("o_orderstatus"), scan.take(600))
    assert(pruned.count() == df.filter($"o_orderstatus" === "F").count())
  }

  test("bucketed tables join without an exchange (write-time shuffle amortized)") {
    // clean any stale table locations from prior (possibly aborted) runs
    for (t <- Seq("orders_b", "lineitem_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val li     = Tables.lineitem(spark, "/root/testdata/sf0.001")
    Sinks.writeBucketed(orders, "orders_b", "o_orderkey", 4)
    Sinks.writeBucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", "o_orderkey", 4)

    // disable auto-broadcast so the join exercises the bucketed layout
    // (at real scale neither side broadcasts — that is the point)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined =
      try {
        val j = Sinks
          .readTable(spark, "orders_b")
          .join(Sinks.readTable(spark, "lineitem_b"), "o_orderkey")
        val plan = j.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan.take(600))
        assert(!plan.contains("Exchange"), "bucketed join must not shuffle:\n" + plan.take(800))
        j
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)

    // and the join is still correct
    val expected = orders
      .join(li, orders("o_orderkey") === li("l_orderkey"))
      .count()
    assert(joined.count() == expected)

    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
  }

  test("compactFiles bin-packs a shattered table without changing its contents") {
    val tmp  = tempDir("graft-compact").toString
    val path = s"$tmp/events"
    val src  = Tables.events(spark, "/root/testdata/sf0.001")
    src.repartition(32).write.parquet(path) // the streaming-sink shatter shape
    val checksumBefore = spark.read.parquet(path).agg(sum(col("event_id"))).head.getLong(0)
    val total = new java.io.File(path).listFiles((_, n) => n.endsWith(".parquet")).map(_.length).sum
    val (before, after) = Sinks.compactFiles(spark, path, targetFileBytes = total / 4)
    assert(before == 32 && after <= 8, s"expected ~4-8 files, got $before -> $after")
    val compacted = spark.read.parquet(path)
    assert(compacted.count() == src.count())
    assert(compacted.agg(sum(col("event_id"))).head.getLong(0) == checksumBefore)
  }

  test("compactFiles refuses to run over an interrupted compaction's leftovers") {
    val tmp  = tempDir("graft-compact-rerun").toString
    val path = s"$tmp/events"
    Tables.events(spark, "/root/testdata/sf0.001").limit(100).repartition(4).write.parquet(path)
    // simulate a crash mid-swap: originals stranded in .compact-trash
    val trash = new java.io.File(s"$path.compact-trash")
    trash.mkdirs()
    val stranded = new java.io.File(path).listFiles((_, n) => n.endsWith(".parquet")).head
    Files.move(stranded.toPath, new java.io.File(trash, stranded.getName).toPath)
    // a rerun must refuse — compacting the surviving files and deleting the
    // trash would permanently destroy the stranded rows
    val e = intercept[IllegalArgumentException] {
      Sinks.compactFiles(spark, path, targetFileBytes = 1L << 20)
    }
    assert(e.getMessage.contains("interrupted compaction"), e.getMessage)
    assert(trash.listFiles().nonEmpty, "refusal must leave the recoverable files untouched")
    // same refusal for a leftover .compact-tmp
    Files.move(new java.io.File(trash, stranded.getName).toPath, stranded.toPath)
    trash.delete()
    val tmpSibling = new java.io.File(s"$path.compact-tmp")
    tmpSibling.mkdirs()
    intercept[IllegalArgumentException] {
      Sinks.compactFiles(spark, path, targetFileBytes = 1L << 20)
    }
    tmpSibling.delete()
    // with the siblings cleared, compaction proceeds and the data is intact
    val (before, after) = Sinks.compactFiles(spark, path, targetFileBytes = 1L << 20)
    assert(before == 4 && after >= 1, s"$before -> $after")
    assert(spark.read.parquet(path).count() == 100)
  }

  test("compactFiles rejects a missing path with a clear precondition failure") {
    val e = intercept[IllegalArgumentException] {
      Sinks.compactFiles(spark, "/nonexistent/graft-compact-nowhere", 1L << 20)
    }
    assert(e.getMessage.contains("not a directory"), e.getMessage)
  }

  test("zorderKey interleaves bits exactly (Morton order)") {
    // a=0b101 (5), b=0b011 (3) -> even bits from a, odd from b:
    // positions 0..5 = a0,b0,a1,b1,a2,b2 = 1,1,0,1,1,0 -> 0b011011 = 27
    val r = Seq((5L, 3L)).toDF("a", "b")
      .select(Sinks.zorderKey(col("a"), col("b"), bits = 3).as("z"))
      .as[Long].head()
    assert(r == 27L, s"got $r")
  }

  test("Z-order layout skips files on BOTH dimensions; a linear sort only on its leading column") {
    val tmp = tempDir("graft-zorder").toString
    // uniform 128x128 grid — every (a, b) combination once
    val grid = spark.range(128L * 128L)
      .select((col("id") / 128).cast("long").as("a"), (col("id") % 128).cast("long").as("b"))

    Sinks.writeZOrdered(grid, s"$tmp/z", "a", "b", numFiles = 16, bits = 7)
    grid.repartitionByRange(16, col("a")).sortWithinPartitions(col("a"))
      .write.mode("overwrite").parquet(s"$tmp/linear")

    // per-FILE min/max stats — the information min-max file skipping uses
    def overlapping(path: String, lo: Long, hi: Long): Long =
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("b")).as("mn"), max(col("b")).as("mx"))
        .filter(col("mx") >= lo && col("mn") <= hi)
        .count()

    val zHit   = overlapping(s"$tmp/z", 0, 7)       // narrow window on the SECOND dim
    val linHit = overlapping(s"$tmp/linear", 0, 7)
    // 16 z-files tile the space ~4x4: only the b-quartile containing the
    // window overlaps (~4 files); every a-sorted file spans all of b (16)
    assert(linHit >= 15, s"linear layout should overlap nearly all files, got $linHit")
    assert(zHit * 2 <= linHit, s"z-order must at least halve the candidate files: z=$zHit linear=$linHit")
    // same data, both layouts
    assert(spark.read.parquet(s"$tmp/z").count() == 128L * 128L)
    val qz = spark.read.parquet(s"$tmp/z").filter(col("b") <= 7).count()
    assert(qz == spark.read.parquet(s"$tmp/linear").filter(col("b") <= 7).count() && qz == 128L * 8L)
  }
}
