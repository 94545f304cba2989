package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs — one JVM-wide SparkSession, lazy, built by
  * the same [[GraftSession]] the bench and the oracle dump run on. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cpus = 4)
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"
}
