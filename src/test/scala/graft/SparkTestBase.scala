package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator specs: `Harness.session(2)`,
  * which sets UTC and `nanosAsLong` (the driver's events.parquet stores
  * nanos timestamps; HarnessContractSpec plans every gate query). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = Harness.session(2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
