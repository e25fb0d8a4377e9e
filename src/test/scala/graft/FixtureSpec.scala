package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

/** The catalog's fixture primitive ([[ExtQueries.Fixture]]) and its replay
  * runner ([[ExtQueries.replay]]), on small private declaration lists so
  * nothing joins the catalog's own prewarm list. */
class FixtureSpec extends SparkSuite {

  private def entries(root: String): Seq[String] = {
    val s = Files.list(Paths.get(root))
    try s.toArray.toSeq.map(_.toString) finally s.close()
  }

  private def withCheckpoint[A](f: String => A): A = {
    val dir = Files.createTempDirectory("fixture-spec-ckpt").toFile
    try f(dir.toString) finally FileUtils.deleteQuietly(dir)
  }

  test("a fixture builds once per dir, under its own root per dir") {
    val fx = new ExtQueries.Fixtures
    var builds = 0
    val f = fx.rooted("fixture_spec_once") { (_, _, root) =>
      builds += 1
      Files.writeString(Paths.get(root, "marker"), "x")
    }
    val a = f(spark, "/fixture/a")
    try {
      assert(f(spark, "/fixture/a") == a)
      val b = f(spark, "/fixture/b")
      try {
        assert(builds == 2)
        assert(a != b)
        assert(a.startsWith("/tmp/graft_fixture_spec_once_"))
        assert(entries(a).map(Paths.get(_).getFileName.toString) == Seq("marker"))
        assert(fx.built("/fixture/a") == Set("fixture_spec_once"))
        assert(fx.built("/fixture/c").isEmpty)
      } finally FileUtils.deleteQuietly(new java.io.File(b))
    } finally FileUtils.deleteQuietly(new java.io.File(a))
  }

  test("a build that throws stores nothing; the retry starts from an empty root") {
    val fx = new ExtQueries.Fixtures
    var attempts = 0
    var seenOnRetry: Seq[String] = Seq("unset")
    val f = fx.rooted("fixture_spec_retry") { (_, _, root) =>
      attempts += 1
      if (attempts == 1) {
        Files.writeString(Paths.get(root, "leftover"), "x")
        throw new IllegalStateException("first build fails")
      }
      seenOnRetry = entries(root)
    }
    intercept[IllegalStateException](f(spark, "/fixture/r"))
    assert(fx.built("/fixture/r").isEmpty)
    val root = f(spark, "/fixture/r")
    try {
      assert(attempts == 2)
      assert(seenOnRetry.isEmpty, "the retry saw the failed build's leftovers")
      assert(fx.built("/fixture/r") == Set("fixture_spec_retry"))
    } finally FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("prewarm builds every declared fixture and names the ones that failed") {
    val fx = new ExtQueries.Fixtures
    fx.value("ok_first") { (_, _) => 1 }
    fx.value[Int]("broken") { (_, _) => throw new IllegalStateException("boom") }
    fx.value("ok_last") { (_, _) => 2 }
    val failed = fx.prewarm(spark, "/fixture/p")
    assert(failed.size == 1 && failed.head.startsWith("broken: "), failed)
    assert(fx.built("/fixture/p") == Set("ok_first", "ok_last"))
  }

  test("replay feeds at most 3 non-empty batches keeping every row in order, then the sentinels") {
    import spark.implicits._
    for (n <- Seq(1, 2, 3, 4, 7, 10)) {
      val rows = (1L to n.toLong).toSeq
      val batches = ArrayBuffer.empty[Seq[Long]]
      withCheckpoint { ckpt =>
        ExtQueries.replay(spark, rows, Seq(-1L, -2L)) { ds =>
          ds.toDF("v").writeStream
            .foreachBatch { (b: DataFrame, _: Long) =>
              batches += b.as[Long].collect().toSeq
              ()
            }
            .option("checkpointLocation", ckpt)
            .start()
        }
      }
      val (data, sentinels) = batches.splitAt(batches.length - 2)
      assert(data.nonEmpty && data.size <= 3 && data.forall(_.nonEmpty), n)
      assert(data.flatten == rows, n)
      assert(data == ExtQueries.inThirds(rows), n)
      assert(sentinels == Seq(Seq(-1L), Seq(-2L)), n)
    }
  }

  test("replay rejects empty input") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      ExtQueries.replay(spark, Seq.empty[Long], Nil)(_ => fail("query started"))
    }
  }

  test("the replay's query is stopped when a batch throws or the feed is interrupted") {
    import spark.implicits._
    // a failing batch kills the query; an interrupted feed leaves it
    // running unless the runner stops it
    val caller = Thread.currentThread()
    val failures: Seq[(() => Unit, Class[_ <: Throwable])] = Seq(
      (() => throw new IllegalStateException("batch fails"),
        classOf[StreamingQueryException]),
      (() => caller.interrupt(), classOf[InterruptedException]))
    failures.foreach { case (onBatch, expected) =>
      var q: StreamingQuery = null
      withCheckpoint { ckpt =>
        val e = intercept[Throwable] {
          ExtQueries.replay(spark, Seq(1L, 2L, 3L), Nil) { ds =>
            q = ds.toDF("v").writeStream
              .foreachBatch { (_: DataFrame, _: Long) => onBatch() }
              .option("checkpointLocation", ckpt)
              .start()
            q
          }
        }
        Thread.interrupted()
        assert(expected.isInstance(e), e)
      }
      assert(q != null && !q.isActive, expected)
    }
  }
}
