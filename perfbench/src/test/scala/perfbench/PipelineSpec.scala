package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = Files.createTempDirectory("perfbench-spec").toFile
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  private val shape = Shape(stations = 40, readings = 3000, hotels = 200,
    readingSkew = 1.0, malformedFrac = 0.02)

  /** Plans of the actions `body` runs, as strings. */
  private def plansOf(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    plans.asScala.toSeq
  }

  private def keepsOutputColumns(plan: String): Unit = {
    assert(plan.contains("geohash("), plan)
    assert(plan.contains("weather_list"), plan)
    assert(plan.toLowerCase.contains("noop"), plan)
  }

  test("the timed batch plan keeps the geohash and weather_list expressions") {
    val files = BatchBench.writeInputs(new File(dir, "plan"), Gen.generate(shape, 1L))
    val plans = plansOf(Main.noop(BatchBench.topology(spark, files)))
    assert(plans.size == 1)
    keepsOutputColumns(plans.head)
  }

  test("the timed stream plans keep the geohash and weather_list expressions") {
    val in = Gen.generate(shape, 4L)
    val files = BatchBench.writeInputs(new File(dir, "stream"), in)
    val args = Args("stream_changelog", 4L, 1, trace = false, dir, 2, new File(dir, "out"))
    val run = StreamBench.start(args, spark, files.hotels, new File(dir, "checkpoint"))
    val sinkPlans = plansOf {
      run.add(in.lines, 0, in.lines.length)
      run.query.processAllAvailable()
    }
    // The micro-batch reaches foreachBatch as an RDD scan; its own plan is
    // the query's last execution.
    val queryPlan = new java.io.ByteArrayOutputStream()
    Console.withOut(queryPlan)(run.query.explain())
    run.query.stop()
    run.hotels.unpersist()
    assert(queryPlan.toString.contains("geohash("), queryPlan.toString)
    assert(sinkPlans.nonEmpty)
    sinkPlans.foreach { p =>
      assert(p.contains("weather_list"), p)
      assert(p.toLowerCase.contains("noop"), p)
    }
    assert(StreamBench.check(spark, run.checkpoint, in.readings).isEmpty)
  }

  test("the output check passes on the pipeline's output and fails on other inputs") {
    val in = Gen.generate(shape, 2L)
    val files = BatchBench.writeInputs(new File(dir, "check"), in)
    assert(BatchBench.check(spark, files, in).isEmpty)
    val other = Gen.generate(shape, 3L)
    assert(BatchBench.check(spark, files, other).nonEmpty)
  }
}
