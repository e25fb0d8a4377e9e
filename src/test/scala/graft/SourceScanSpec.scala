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
