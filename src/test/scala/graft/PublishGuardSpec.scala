package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One publish mechanism: outside `sources/Publish.scala`, no program
  * file renames through Hadoop or uses Spark's partition overwrite.
  * The only other rename allowed is the single-file atomic create in
  * `GraftFs.Local.create` (java.io `renameTo`). And no knobs: the
  * program reads only the environment variables and system properties
  * named in `knobs`. No Spark session. */
class PublishGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def sources: Seq[(String, Seq[String])] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => root.relativize(p).toString -> Files.readAllLines(p).asScala.toSeq)
    finally walk.close()
  }

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
}
