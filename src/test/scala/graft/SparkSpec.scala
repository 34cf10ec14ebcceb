package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session factory — one lazy SparkSession per suite. */
trait SparkSpec { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSpec.session

  /** A fresh temporary directory, deleted with its contents when the test
    * JVM exits.
    */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    graft.sources.SessionMemo.deleteOnExit(dir)
    dir
  }
}

object SparkSpec {
  // One session for the whole test JVM (suites run in a single forked JVM).
  lazy val session: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts (Tables.events)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
