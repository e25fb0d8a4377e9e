package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Scratch evidence harness (guide §7.2, VERDICT r20 #7): writes each
  * named catalog face's `explain("formatted")` to
  * `$SPARK_GRAFT_PLANS_DIR/<face>_$SPARK_GRAFT_PLANS_SUFFIX.txt`
  * (default dir `/tmp/graft_plans`, outside the repository) — the
  * before/after plan dumps the optimization evidence contract requires.
  * Constructing a face's DataFrame may run its fixture builds; the dump
  * itself executes nothing. Not part of the library surface. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val out = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "/tmp/graft_plans")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANS_SUFFIX", "before")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    args.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
