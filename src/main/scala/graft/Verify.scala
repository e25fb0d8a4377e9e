package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * `runMain graft.Verify <sfDir> <outDir> [face,face,...]` — the optional
  * third argument dumps only the named faces, and oracle_sql.json then
  * holds only their entries, so `tools/check_oracle.py <sfDir> <outDir>`
  * checks just that subset. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown faces: ${unknown.mkString(", ")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // dogfood the graft optimizer rule under the oracle gate: every
      // window-shaped catalog query is hash-checked against DuckDB with
      // RewriteWindowTopK active (q_topk_window stays pinned to the window
      // form — it is the explicit window-vs-aggregate comparison row)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // one line per face, so a WARN or stack trace below it in the log
      // can be tied to the face that emitted it
      System.err.println(s"[verify] $name")
      try Bench.runPinned(spark, name) {
        val df = fn(spark, sfDir)
        // comparator-safety gate: the driver's pandas compare sorts every
        // column; a top-level array/map column crashes it (unhashable
        // ndarray). Fail THIS query with a self-explaining message instead.
        val bad = df.schema.fields.filter(f => f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType => true
          case _ => false
        })
        if (bad.nonEmpty) throw new IllegalStateException(
          s"top-level array/map column(s) ${bad.map(_.name).mkString(", ")} — " +
            "canonicalize to a joined string (CoreQueries oracle-parity rules)")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.catalog.clearCache() // staging persists are per-query
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // sorted by face name, so two dumps diff line by line
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",\n", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
