package graft

/** Smoke + invariant tests for the query catalog at sf0.001.
  * (Exact value parity vs DuckDB is the driver's gate; tools/check_oracle.py
  * replicates it locally.)
  */
class CoreQueriesSpec extends SparkSuite {

  test("every query runs and every oracle key has a query") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet),
      s"orphan oracle keys: ${SparkEntry.oracleSql.keySet -- qs.keySet}")
    // a key in both sub-catalogs would silently shadow one of the two
    // implementations under `++` (found the hard way: a second q_pivot)
    val dup = CoreQueries.queries.keySet intersect ExtQueries.queries.keySet
    assert(dup.isEmpty, s"catalog key collision across sub-maps: $dup")
    // prewarm builds the declared fixtures: no face may build one it
    // missed (Bench would pay that build inside its timed region)
    val prewarmFailures = ExtQueries.prewarmFixtures(spark, sf0001)
    assert(prewarmFailures.isEmpty, prewarmFailures.mkString("; "))
    val prewarmed = ExtQueries.builtFixtures(sf0001)
    qs.foreach { case (name, fn) =>
      val n = fn(spark, sf0001).count()
      assert(n >= 0, name)
    }
    val missed = ExtQueries.builtFixtures(sf0001) -- prewarmed
    assert(missed.isEmpty, s"fixtures built by faces, not by prewarm: $missed")
    // every catalog query must be value-gated — the rows-only era is
    // over. Checked AFTER the run loop: three oracles are dynamic (their
    // SQL embeds staged paths recorded when the query executes)
    assert(qs.keySet.subsetOf(SparkEntry.oracleSql.keySet),
      s"queries without an oracle: ${qs.keySet -- SparkEntry.oracleSql.keySet}")
  }

  test("approx freq: CMS never underestimates; over-estimate within eps·N") {
    val face = SparkEntry.queries("q_approx_freq")(spark, sf0001).collect()
    assert(face.nonEmpty)
    face.foreach { r =>
      assert(r.getAs[Boolean]("cms_never_under"),
        s"CMS structural lower bound violated: $r")
      assert(r.getAs[Boolean]("cms_within_eps"),
        s"CMS drifted beyond eps·N: $r")
    }
  }

  test("approx distinct: HLL estimate within rsd bounds of the exact twin") {
    // the catalog face asserts |approx − exact| ≤ 5%·exact as a hash-gated
    // boolean; this spec checks the same claim in-process (every group ok)
    // plus the raw estimate-vs-exact drift at the face's rsd=0.01
    import org.apache.spark.sql.functions._
    val face = SparkEntry.queries("q_approx_distinct")(spark, sf0001).collect()
    assert(face.nonEmpty)
    face.foreach(r => assert(r.getAs[Boolean]("approx_ok"),
      s"sketch drifted beyond the 5% contract: $r"))
    val joined = Tables.events(spark, sf0001)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).cast("double").as("a"),
        countDistinct(col("user_id")).cast("double").as("e"))
      .collect()
    joined.foreach { r =>
      val (a, e) = (r.getAs[Double]("a"), r.getAs[Double]("e"))
      assert(math.abs(a - e) <= math.max(0.05 * e, 3.0),
        s"approx=$a exact=$e drifted beyond sketch bounds")
    }
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("flagship: every enriched customer has a plausible history") {
    import org.apache.spark.sql.functions._
    val df = CoreQueries.flagship(spark, sf0001)
    assert(df.filter(col("n_days") <= 0).count() == 0)
    assert(df.filter(length(col("history")) === 0).count() == 0)
  }

  test("a1 invariant: per-day avg lies within [min, max] of raw values") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf0001).withColumn("day", to_date(col("ts")))
    val bounds = ev.groupBy("user_id", "day")
      .agg(min("value").as("lo"), max("value").as("hi"))
    val daily = CoreQueries.dailyAvg(spark, sf0001)
    val joined = daily.join(bounds, Seq("user_id", "day"))
    assert(joined.filter(col("avg_tmp_f") < col("lo") - 1e-9 ||
      col("avg_tmp_f") > col("hi") + 1e-9).count() == 0)
  }

  test("c1 invariant: latest-per-key count equals distinct keys") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf0001)
    val latest = SparkEntry.queries("q_c1_latest")(spark, sf0001)
    assert(latest.count() == ev.select(countDistinct(col("user_id"))).head().getLong(0))
  }
}
