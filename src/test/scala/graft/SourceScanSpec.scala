package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree checks that need no Spark session: patterns in
  * `src/main` that compile fine but lose something on the way out. */
class SourceScanSpec extends AnyFunSuite {

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  private def text(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  private val operators = new java.io.File("src/main/scala/graft/operators")

  test("media kernels: one RowEncoder.encoderFor across Multimodal and Video") {
    // every codec kernel maps its rows through Multimodal.perRow; a second
    // encoder site means a hand-copied kernel recipe came back
    val sites = Seq("Multimodal.scala", "Video.scala").map(n =>
      "RowEncoder.encoderFor".r.findAllIn(text(new java.io.File(operators, n))).size).sum
    assert(sites == 1, s"$sites RowEncoder.encoderFor sites")
  }

  test("operators: no rows.grouped( batching under src/main/scala/graft/operators") {
    // grouping rows that are then mapped one at a time batches nothing
    assert(operators.isDirectory, s"run from the repository root: ${operators.getAbsolutePath}")
    val hits = scalaFiles(operators).filter(text(_).contains("rows.grouped("))
    assert(hits.isEmpty, s"rows.grouped( in:\n${hits.mkString("\n")}")
  }

  test("scaladoc: no /** block directly follows a */ line under src/main") {
    // Scaladoc attaches only the block next to the definition, so a
    // description block stacked above a second /** … */ block never
    // reaches the generated docs
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val hits = scalaFiles(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      lines.indices.drop(1).collect {
        case i if lines(i).trim.startsWith("/**") &&
            lines(i - 1).trim.endsWith("*/") => s"${f.getPath}:${i + 1}"
      }
    }
    assert(hits.isEmpty, s"${hits.size} stacked scaladoc blocks:\n${hits.mkString("\n")}")
  }
}
