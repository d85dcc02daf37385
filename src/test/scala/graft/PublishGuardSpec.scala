package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One publish mechanism: outside `sources/Publish.scala`, no program
  * file renames through Hadoop or uses Spark's partition overwrite.
  * The only other rename allowed is the single-file atomic create in
  * `GraftFs.Local.create` (java.io `renameTo`). And no knobs: the
  * program reads only the environment variables and system properties
  * named in `knobs`. And no dead types: every top-level type is named
  * by program code, bar `unreachedAllowed`. No Spark session. */
class PublishGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def scalaFiles(dir: Path): Seq[(String, Seq[String])] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => dir.relativize(p).toString -> Files.readAllLines(p).asScala.toSeq)
    finally walk.close()
  }

  private def sources = scalaFiles(root)

  private val allowed = Map(
    "graft/sources/Publish.scala" -> "\\.rename\\(",
    "graft/sources/GraftFs.scala" -> "\\.renameTo\\(")

  test("only Publish renames or overwrites partitions") {
    val banned = "partitionOverwriteMode|\\.rename(To)?\\(".r
    val files = sources
    assert(files.exists(_._1 == "graft/sources/Publish.scala"), files.map(_._1))
    val hits = for {
      (file, lines) <- files
      (line, i) <- lines.zipWithIndex
      m <- banned.findAllIn(line)
      if !allowed.get(file).exists(m.matches)
    } yield s"$file:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
    // the pattern does find the one mechanism it allows
    assert(files.exists { case (f, ls) =>
      f == "graft/sources/Publish.scala" && ls.exists(banned.findFirstIn(_).isDefined)
    })
  }

  private val knobs = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "NODE_ENV")

  test("the program reads no environment or property knob but the named ones") {
    val reads = """sys\.env|System\.getenv|sys\.props|System\.getProperty"""
    val read = reads.r
    // a read of one literal name: sys.env.get("X"), sys.env("X"),
    // System.getenv("X"), sys.props.getOrElse("X", ..)
    val named = ("(?:" + reads + ")" + """(?:\.\w+)?\(\s*"(\w+)"""").r
    val files = sources
    val hits = for {
      (file, lines) <- files
      (line, i) <- lines.zipWithIndex
      if read.findFirstIn(line).isDefined
      names = named.findAllMatchIn(line).map(_.group(1)).toSeq
      if names.size != read.findAllIn(line).size || !names.forall(knobs)
    } yield s"$file:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
    // the pattern does find each named read
    val found = for {
      (_, lines) <- files; line <- lines; m <- named.findAllMatchIn(line)
    } yield m.group(1)
    assert(found.toSet == knobs, found)
  }

  /** Source with `//` and `/* */` comments and triple-quoted strings
    * removed; plain string literals stay, so a `//` inside one is not
    * taken for a comment. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) { while (i < src.length && src(i) != '\n') i += 1 }
      else if (at("/*")) {
        var depth = 1
        i += 2
        while (i < src.length && depth > 0) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        }
        out += ' '
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        i = if (end < 0) src.length else end + 3
        while (i < src.length && src(i) == '"') i += 1
        out ++= "\"\""
      } else if (src(i) == '"') {
        out += '"'; i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\') { out += src(i); i += 1 }
          if (i < src.length) { out += src(i); i += 1 }
        }
        if (i < src.length) { out += src(i); i += 1 }
      } else if (src(i) == '\'' && i + 3 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        // a char literal such as '"' must not open a string
        val end = if (src(i + 1) == '\\') src.indexOf('\'', i + 3) else i + 2
        out ++= src.substring(i, end + 1); i = end + 1
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  /** Types no program path reaches that stay on purpose. */
  private val unreachedAllowed = Map(
    "HttpIngress" -> "the reference's webhook edge (routes/events.js:689), kept for parity",
    "RateBusSource" -> "the second bus source BoundedTriggerSpec uses to prove the ingestion seam")

  test("every top-level type in the program is reached from program code") {
    val decl = ("""(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*""" +
      """(?:object|class|trait)\s+(\w+)""").r
    val program = sources.map { case (f, ls) => f -> code(ls.mkString("\n")) }
    val harness = scalaFiles(Paths.get("perfbench/harness/src/main/scala"))
      .map { case (_, ls) => code(ls.mkString("\n")) }
    // a declaration's text runs from its keyword to the next top-level one
    case class Decl(name: String, file: String, from: Int, to: Int)
    val decls = for {
      (file, src) <- program
      starts = decl.findAllMatchIn(src).toSeq
      (m, k) <- starts.zipWithIndex
    } yield Decl(m.group(1), file, m.start,
      if (k + 1 < starts.size) starts(k + 1).start else src.length)
    // named outside its own declarations (a companion pair counts as one)
    def named(name: String): Boolean = {
      val own = decls.filter(_.name == name).sortBy(-_.from)
      val outside = program.map { case (file, src) =>
        own.filter(_.file == file).foldLeft(src)((s, d) => s.take(d.from) + s.drop(d.to))
      } ++ harness
      val word = ("\\b" + name + "\\b").r
      outside.exists(word.findFirstIn(_).isDefined)
    }
    val texts = program.toMap
    val mains = decls.filter(d =>
      texts(d.file).slice(d.from, d.to).contains("def main(")).map(_.name)
    val names = decls.map(_.name).distinct
    val unreached = names.filterNot(n => mains.contains(n) || named(n)).toSet
    assert(unreached == unreachedAllowed.keySet,
      "not reached from program code: " +
        (unreached -- unreachedAllowed.keySet).toSeq.sorted.mkString(", ") +
        "; allowlisted but reached: " +
        (unreachedAllowed.keySet -- unreached).toSeq.sorted.mkString(", "))
    // the pattern does find declarations, and finds a reached one reached
    assert(names.contains("MergeSink") && named("MergeSink"))
  }
}
