package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared test harness: one local[2] session per forked test JVM, built by
  * [[Session]] like the Verify/Bench sessions (UTC, ns-as-long, small shuffle).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001  = "/root/testdata/sf0.01"
  lazy val sf01   = "/root/testdata/sf0.1"

  /** One line per Spark job `f` launches on this thread — its stage
    * names, then its job tags (a broadcast's carries "broadcast
    * exchange"): jobs are matched by a private job group, and a marker
    * job run after `f` drains the listener queue (events arrive in
    * order).
    */
  def jobsDuring(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"spark-suite-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = e.properties
        if (props != null && props.getProperty("spark.jobGroup.id") == group) {
          if (props.getProperty("spark.job.description") == "marker")
            drained.countDown()
          else seen.add(e.stageInfos.map(_.name).mkString("; ") +
            s" [${props.getProperty("spark.job.tags", "")}]")
        }
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      f
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job never reached the listener")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }
}

object SparkSuite {
  lazy val session: SparkSession = Session.builder("2")
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh_").toString)
    .getOrCreate()
}
