package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite via lazy val): the
  * benched and verified session setup, at 4 cores. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession(cores = 4)
}
