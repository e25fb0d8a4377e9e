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

  /** `src` without its `//` and (nested) `/* */` comments, line breaks kept;
    * string and char literals stay, so a `//` inside one is not a comment. */
  private def code(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    var depth = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (depth > 0) {
        if (at("*/")) { depth -= 1; i += 2 }
        else if (at("/*")) { depth += 1; i += 2 }
        else { if (src(i) == '\n') out += '\n'; i += 1 }
      } else if (at("/*")) { depth = 1; i += 2 }
      else if (at("//")) { while (i < src.length && src(i) != '\n') i += 1 }
      else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '"' || (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\'))) {
        val q = src(i)
        out += q; i += 1
        while (i < src.length && src(i) != q && src(i) != '\n') {
          if (src(i) == '\\' && i + 1 < src.length) { out += src(i); i += 1 }
          out += src(i); i += 1
        }
        if (i < src.length) { out += src(i); i += 1 }
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  private lazy val mainCode: Seq[(java.io.File, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    scalaFiles(root).map(f => f -> code(text(f)))
  }

  private def sites(pattern: String): Seq[String] = mainCode.flatMap { case (f, src) =>
    src.linesIterator.zipWithIndex.collect {
      case (line, i) if line.contains(pattern) => s"${f.getPath}:${i + 1}: ${line.trim}"
    }
  }

  test("JSON parsing: no from_json( call under src/main/scala") {
    // from_json builds an InputStreamReader per record; graft parses JSON
    // through JsonStruct.parse, which gives the same struct without it
    val hits = sites("from_json(")
    assert(hits.isEmpty, s"from_json( in:\n${hits.mkString("\n")}")
  }

  test("JSON parsing: one createParser( site under src/main/scala") {
    // the one per-record Jackson parser is JsonStructEvaluator's char path
    val hits = sites("createParser(")
    assert(hits.size == 1, s"${hits.size} createParser( sites:\n${hits.mkString("\n")}")
  }

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
