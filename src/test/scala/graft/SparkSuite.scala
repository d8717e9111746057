package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local[2] session per forked test JVM, built by
  * [[Session]] like the Verify/Bench sessions (UTC, ns-as-long, small shuffle).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001  = "/root/testdata/sf0.01"
  lazy val sf01   = "/root/testdata/sf0.1"
}

object SparkSuite {
  lazy val session: SparkSession = Session.builder("2")
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh_").toString)
    .getOrCreate()
}
