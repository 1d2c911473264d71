package graft.lake

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards for the one SQL surface of the four table formats: a
  * format supplies a `LakeRead`, and everything above it exists once. A
  * second DSv2 table or a second native-scan substitution would make every
  * SQL-side change land twice again. */
class SqlSurfaceSpec extends AnyFunSuite {

  private lazy val sources: List[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  /** (file, class name, class text up to the next top-level definition)
    * of every class in src/main. */
  private lazy val classes: List[(String, String, String)] = {
    val Def = """(?m)^(?:(?:final|abstract|sealed|case|private\[\w+\])\s+)*(?:class|object|trait)\s+(\w+)""".r
    for {
      (p, text) <- sources
      starts = Def.findAllMatchIn(text).toList
      (m, i) <- starts.zipWithIndex
      end = if (i + 1 < starts.size) starts(i + 1).start else text.length
    } yield (p.getFileName.toString, m.group(1), text.substring(m.start, end))
  }

  test("the scan finds the sources") {
    assert(sources.exists(_._1.getFileName.toString == "LakeTable.scala"),
      s"scan found no sources under ${Paths.get("").toAbsolutePath}")
  }

  test("one DSv2 table class serves lake reads in src/main") {
    val header = """(?s)^[^{]*\bwith\s+(?:[\w.]+\.)?SupportsRead\b""".r
    val tables = classes.collect {
      case (file, name, text) if header.findFirstIn(text).isDefined => s"$file:$name"
    }
    assert(tables == List("LakeTable.scala:LakeTable"),
      s"lake reads must go through LakeTable, found DSv2 tables: ${tables.mkString(", ")}")
  }

  test("one native-scan substitution rule in src/main") {
    // a substitution rule splices a reader's analyzed plan into the query
    val rule = """(?s)^[^{]*\bextends\s+(?:[\w.]+\.)?Rule\[""".r
    val substitutions = classes.collect {
      case (file, name, text) if rule.findFirstIn(text).isDefined &&
          text.contains("queryExecution.analyzed") => s"$file:$name"
    }
    assert(substitutions == List("NativeScanRule.scala:NativeScanRule"),
      s"one rule substitutes native scans, found: ${substitutions.mkString(", ")}")
  }
}
