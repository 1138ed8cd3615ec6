package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazy). */
trait SparkSpec { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // One JVM runs every suite, and the suites re-plan the same store and
    // pipeline code many times over. Spark's default codegen cache (100
    // classes) evicts and recompiles that code; a larger one compiles it
    // once per run.
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    .getOrCreate()
}
