package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The catalog is assembled from per-area objects:
  *  - [[CoreQueries]]  — reference operator surface (SURVEY §2) + relational core
  *  - [[ExtQueries]]   — north-star extensions over graft.operators.*
  *    (dedup, similarity, text)
  */
object SparkEntry {

  /** Flagship query (full reference topology, SURVEY §7.3) on sf0.001;
    * driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.flagship(spark, "/root/testdata/sf0.001")

  /** Every catalog face, each declared once with its builder, oracle and
    * budget; a name repeated across the two sub-catalogs is rejected. */
  private[graft] lazy val faces: Seq[Face] =
    Face.catalog(CoreQueries.faces ++ ExtQueries.faces: _*)

  /** One entry per implemented operator from SURVEY.md §2 (+ §2.10). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    faces.map(f => f.name -> f.build).toMap

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. A staged face's key is omitted until the face
    * has run in this process; a face without oracle SQL gets only a
    * row-count check. */
  def oracleSql: Map[String, String] =
    faces.flatMap(f => f.oracleSql.map(f.name -> _)).toMap
}
