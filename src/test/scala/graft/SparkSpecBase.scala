package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session across all suites: the production configuration
  * (`GraftSession`) at local[4], whatever core count the host has. */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  val Sf0001 = "/root/testdata/sf0.001"
}
