package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Contract tests for [[Staging]]: per-invocation unique staging paths
  * mean two pipelines (or two concurrent invocations of one operator)
  * may share a single `stagingDir` without clobbering each other's
  * staged relations — the collision the round-7 audit flagged against
  * constant subdirectory names.
  */
class StagingSpec extends SparkSuite {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
  private def corpus = Seq(
    (0L, base), (1L, base),
    (2L, base.replace("lazy", "sleepy")),
    (3L, "completely different content about catalyst optimizer rules " * 3)
  ).toDF("doc_id", "text")

  test("spread: raises sub-floor partitioning, no-ops at or above it (r21)") {
    val floor = spark.sparkContext.defaultParallelism
    val narrow = corpus.coalesce(1)
    val spreadUp = Staging.spread(narrow)
    assert(spreadUp.rdd.getNumPartitions == floor,
      "a single-partition relation must be repartitioned up to the floor")
    // rows unchanged (row-preserving contract)
    assert(spreadUp.select($"doc_id").as[Long].collect().toSet ==
      narrow.select($"doc_id").as[Long].collect().toSet)
    // at/above the floor: the SAME plan comes back — no exchange inserted
    val wide = corpus.repartition(floor + 1)
    assert(Staging.spread(wide) eq wide,
      "at or above the floor spread must be the identity")
  }

  test("stage: same logical name twice under one dir → two distinct tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stg").toString
    try {
      val a = Staging.stage(Seq(1, 2).toDF("x"), Some(dir), "t")
      val b = Staging.stage(Seq(30, 40).toDF("x"), Some(dir), "t")
      // the first staged relation must still read ITS data after the
      // second call — with a constant subdir the overwrite corrupted it
      assert(a.as[Int].collect().toSet == Set(1, 2))
      assert(b.as[Int].collect().toSet == Set(30, 40))
      assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("t_")) == 2)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  test("two staged operators run CONCURRENTLY against one shared dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stg-conc").toString
    try {
      val expectCorpus = Dedup.dedupCorpus(corpus, threshold = 0.5)
        .select($"doc_id").as[Long].collect().toSet
      val expectPairs = Dedup.minhashPairs(corpus, bands = 32, rowsPerBand = 2,
        threshold = 0.5).select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      // dedupCorpus stages exact_survivors + signatures; minhashPairs
      // stages signatures — under round-6 constant names these collide
      val fCorpus = Future(Dedup.dedupCorpus(corpus, threshold = 0.5,
        stagingDir = Some(dir)).select($"doc_id").as[Long].collect().toSet)
      val fPairs = Future(Dedup.minhashPairs(corpus, bands = 32, rowsPerBand = 2,
        threshold = 0.5, stagingDir = Some(dir))
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet)
      assert(Await.result(fCorpus, 120.seconds) == expectCorpus)
      assert(Await.result(fPairs, 120.seconds) == expectPairs)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  test("withDir: scratch is gone after the block; forced results stay correct") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stg-scope").toString
    try {
      val expect = Dedup.dedupCorpusCC(corpus, bands = 32, rowsPerBand = 2,
        threshold = 0.5).select($"doc_id").as[Long].collect().toSet
      val got = Staging.withDir(spark, dir) { scope =>
        // a staged pipeline that issues several stageAt calls (exact
        // survivors, signatures, CC rounds) — all land under the scope
        val r = Dedup.dedupCorpusCC(corpus, bands = 32, rowsPerBand = 2,
          threshold = 0.5, stagingDir = Some(scope))
          .select($"doc_id").as[Long].collect().toSet // forced IN scope
        assert(new java.io.File(scope).exists(), "scope live during block")
        r
      }
      assert(got == expect)
      // the scope subdirectory — and every table staged in it — is gone;
      // the shared parent dir the caller owns is untouched
      assert(new java.io.File(dir).listFiles().isEmpty,
        new java.io.File(dir).listFiles().map(_.getName).mkString(","))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  test("withDir: scope is deleted on exception; nested scopes are independent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stg-scope2").toString
    try {
      intercept[RuntimeException] {
        Staging.withDir(spark, dir) { scope =>
          Staging.stageAt(Seq(1).toDF("x"), scope, "t")
          throw new RuntimeException("boom")
        }
      }
      assert(new java.io.File(dir).listFiles().isEmpty, "scope gone on throw")
      val outer = Staging.withDir(spark, dir) { s1 =>
        val (a, _) = Staging.stageAt(Seq(1, 2).toDF("x"), s1, "outer")
        Staging.withDir(spark, dir) { s2 =>
          assert(s1 != s2)
          Staging.stageAt(Seq(3).toDF("x"), s2, "inner")
        }
        // inner scope's exit must not have touched the outer scope's tables
        a.as[Int].collect().toSet
      }
      assert(outer == Set(1, 2))
      assert(new java.io.File(dir).listFiles().isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  test("staged paths carry a per-JVM random tag, not just pid + counter") {
    // pids recycle across container runs (often always pid 1), so the
    // cross-JVM uniqueness claim rides a random per-JVM tag in the name:
    // name_p<pid>_<tag>_<counter>
    val dir = java.nio.file.Files.createTempDirectory("graft-stg-tag").toString
    try {
      val (_, p1) = Staging.stageAt(Seq(1).toDF("x"), dir, "t")
      val (_, p2) = Staging.stageAt(Seq(2).toDF("x"), dir, "t")
      val Array(tag1, n1) = new java.io.File(p1).getName
        .stripPrefix(s"t_p${ProcessHandle.current().pid()}_").split("_")
      val Array(tag2, n2) = new java.io.File(p2).getName
        .stripPrefix(s"t_p${ProcessHandle.current().pid()}_").split("_")
      assert(tag1 == tag2 && tag1.nonEmpty, "one stable random tag per JVM")
      assert(n1.toLong < n2.toLong, "counter still disambiguates in-process")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  test("Rounds without a dir: the relation is already checkpointed on return") {
    val obs = org.apache.spark.sql.Observation()
    val cut = new Staging.Rounds(None, "r")
    val df = cut(Seq(1L, 2L, 3L).toDF("x").observe(obs, sum($"x").as("s")))
    val rdds = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    assert(rdds.nonEmpty && rdds.forall(_.isCheckpointed),
      "the in-memory leg must be an eager local checkpoint")
    // the checkpoint's own job fills an Observation on its input
    // (connectedComponents reads its convergence signature this way)
    assert(Await.result(Future(obs.get), 60.seconds)("s") == 6L)
    assert(df.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("Rounds with a dir: only the last table remains; retire drops it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stg-rounds").toString
    try {
      val cut = new Staging.Rounds(Some(dir), "r")
      val last = (1 to 3).map(i => cut(Seq(i).toDF("x"))).last
      def tables = new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("r_")).toSeq
      assert(tables.size == 1, tables.mkString(","))
      assert(last.as[Int].collect().toSeq == Seq(3))
      cut.retire()
      assert(tables.isEmpty, tables.mkString(","))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  test("drop removes a staged table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stg-drop").toString
    try {
      val (df, path) = Staging.stageAt(Seq(1).toDF("x"), dir, "gone")
      assert(df.count() == 1L)
      Staging.drop(spark, path)
      assert(!new java.io.File(path).exists())
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }
}
