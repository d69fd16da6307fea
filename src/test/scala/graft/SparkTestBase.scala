package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (guide: one session per suite). */
object SparkTestBase {
  lazy val spark: SparkSession = Sessions.local(4)
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
}
