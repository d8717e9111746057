package graft
import java.nio.file.{Files, Paths}

/** Optimization-round plan capture (guide §1/§7.2): writes
  * `.explain("formatted")` of each selected declared query to
  * `<outDir>/<query>_<tag>.txt`, under the SAME session configuration
  * the bench runs (master local[$SPARK_GRAFT_CPUS], shuffle partitions
  * = cpus, extensions on) so the captured plan is the benched plan.
  *
  *   SPARK_GRAFT_QUERIES=q03_convert_currency,... \
  *   SPARK_GRAFT_PLAN_TAG=before \
  *   sbt "runMain graft.PlanDump plans/r19"
  *
  * Queries whose gate builds standing state (the q92/x27 families) run
  * their in-gate builds while constructing the DataFrame; the captured
  * plan is the final declared read — exactly what `.explain` can show
  * (statement-path work is commits, not a single plan).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r19")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val spark = Session(cpus)
    Files.createDirectories(Paths.get(outDir))
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(s"$outDir/${name}_$tag.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}
