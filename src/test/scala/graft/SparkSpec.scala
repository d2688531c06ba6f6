package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.dsv2.LakeFs

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** The shared session's lake handle — what direct lake calls in specs
    * go through, the same path catalog-resolved SQL takes.
    */
  implicit lazy val lfs: LakeFs = LakeFs(spark)
  /** Smallest fixture scale — correctness only, speed matters in tests. */
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local("4", "graft-test")
}
