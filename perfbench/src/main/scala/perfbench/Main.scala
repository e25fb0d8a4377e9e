package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Settings of one benchmark process. `work` is a scratch directory the
  * process owns; `trace` selects the traced run (per-layer metrics). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: File, cores: Int, out: File)

/** One metric of the result line. */
final case class Metric(value: Double, unit: String)

/** What a workload reports. `details` go to a side file for the committed
  * tables; only `metrics` reach the result line. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    metrics: Map[String, Metric], details: Seq[(String, String)] = Nil)

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --cores N --out FILE`. Prints the result line last on stdout
  * and exits non-zero when the output check fails. */
object Main {
  val Workloads: Map[String, Args => Outcome] = Map(
    "batch_topology" -> BatchBench.run,
    "stream_changelog" -> StreamBench.run)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Args(need("workload"), need("seed").toLong, seconds, trace, new File(need("work")),
      need("cores").toInt, new File(need("out")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val run = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}; " +
        s"known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val o = run(args)
    val line = resultJson(o)
    Gen.writeLines(args.out, Iterator(line))
    Gen.writeLines(new File(args.out.getPath + ".details"),
      o.details.iterator.map { case (k, v) => s"$k\t$v" })
    println(line)
    System.out.flush()
    sys.exit(if (o.correct) 0 else 1)
  }

  def resultJson(o: Outcome): String = {
    val ms = o.metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}"""
    }
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  /** A JSON number with every digit the double has. */
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) throw new IllegalStateException(s"metric value $x")
    else java.math.BigDecimal.valueOf(x).toPlainString

  // ---- shared helpers --------------------------------------------------------

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Every timed action: write all output columns to Spark's `noop` sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Peak resident set size of this process in MiB (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally status.close()
  }

  /** The machine's cumulative CPU time counters (Linux `/proc/stat`). */
  def cpuTicks(): Array[Long] = {
    val stat = scala.io.Source.fromFile("/proc/stat")
    try stat.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally stat.close()
  }

  /** Share of CPU time between two [[cpuTicks]] readings that the
    * hypervisor gave to other guests (steal): a reader of the run details
    * can tell a slow run on a busy host from a slow program. */
  def stealFrac(from: Array[Long], to: Array[Long]): Double = {
    val d = to.zip(from).map { case (b, a) => b - a }.take(8)
    if (d.sum > 0) d(7).toDouble / d.sum else 0.0
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** The set-up time a user pays for: seconds from this JVM's start until
    * now, less `excludedS`, the time spent generating inputs. It covers JVM
    * start, class loading, the SparkSession start, the untimed warm-up pass
    * (with its first code generation) and, for the stream, the query start. */
  def setupSeconds(excludedS: Double): Double =
    (System.currentTimeMillis() - jvmStartMs) / 1e3 - excludedS

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}
