package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one SparkSession per suite (lazy). */
trait SparkTestBase extends AnyFunSuite {
  // the engine's codegen-reuse confs: the cache size is JVM-wide and set
  // by whichever suite's session generates code first
  lazy val spark: SparkSession = Sessions.codegenReuse(SparkSession.builder())
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Single source of truth for fixture locations (round-12 advice:
    * ScaleGateSpec previously hardcoded its own copy of the root). */
  val testDataRoot = "/root/testdata"
  val sfDir = s"$testDataRoot/sf0.001"
}
