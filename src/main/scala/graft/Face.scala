package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog face: a named DataFrame built over a fixture dir, the
  * DuckDB SQL its result is hash-checked against, and an optional time
  * budget in seconds that [[Bench]] reports breaches of.
  *
  * The oracle is evaluated on each [[oracleSql]] call, not when the face
  * is declared: a staged oracle reads paths that a run of its own face
  * fixes, and a face whose oracle needs such a run has none before it. */
private[graft] final class Face private (val name: String,
    val build: (SparkSession, String) => DataFrame,
    oracle: () => Option[String], val budgetS: Option[Double]) {

  def oracleSql: Option[String] = oracle()

  def budget(seconds: Double): Face =
    new Face(name, build, oracle, Some(seconds))
}

private[graft] object Face {

  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracle: => String): Face =
    new Face(name, build, () => Some(oracle), None)

  /** A face whose oracle exists only once the face has run. */
  def staged(name: String, build: (SparkSession, String) => DataFrame,
      oracle: => Option[String]): Face =
    new Face(name, build, () => oracle, None)

  /** The faces as one list; a repeated name is rejected, since a lookup
    * by name would silently see only one of the two. */
  def catalog(faces: Face*): Seq[Face] = {
    val dup = faces.groupBy(_.name).collect { case (n, fs) if fs.size > 1 => n }
    require(dup.isEmpty, s"duplicate face names: ${dup.toSeq.sorted.mkString(", ")}")
    faces
  }
}
