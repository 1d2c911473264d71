package graft.lake

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `RowDeletes` is the one module that applies row deletes for graft,
  * Iceberg and Delta. The source guards keep it that way: a second mask
  * builder, bitmap fold or delete-file join would be a second copy of a
  * rule (null-safe key matching, the sequence-number rule) that the
  * copies have already disagreed on. */
class RowDeletesSpec extends AnyFunSuite {

  private lazy val sources: List[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  test("the scan finds the sources") {
    assert(sources.exists(_._1.getFileName.toString == "RowDeletes.scala"),
      s"scan found no sources under ${Paths.get("").toAbsolutePath}")
  }

  test("only RowDeletes builds a delete mask or folds position bitmaps") {
    val patterns = Seq("""DvKeep\s*\.\s*column\s*\(""".r, """RoaringBitmapArray\s*\(\s*\)""".r)
    val offenders = for {
      (p, text) <- sources if p.getFileName.toString != "RowDeletes.scala"
      r <- patterns if r.findFirstIn(text).isDefined
    } yield s"$p (${r.findFirstIn(text).get})"
    assert(offenders.isEmpty,
      s"delete masks and bitmap folds belong in RowDeletes, found: ${offenders.mkString(", ")}")
  }

  test("the format tables and writers join no delete files themselves") {
    val formats = Set("GraftTable.scala", "IcebergTable.scala", "DeltaTable.scala",
      "DeltaWriter.scala", "IcebergWriter.scala")
    val join = """"(?i)(left_?)?(anti|semi)"""".r
    val offenders = for {
      (p, text) <- sources if formats(p.getFileName.toString)
      m <- join.findFirstIn(text)
    } yield s"$p ($m)"
    assert(sources.count(s => formats(s._1.getFileName.toString)) == formats.size,
      "the scan must find every format file")
    assert(offenders.isEmpty,
      s"anti- and semi-joins over deletes belong in RowDeletes, found: ${offenders.mkString(", ")}")
  }

  test("applicable: equality deletes apply to lower sequences, positions to lower or equal") {
    val seqs = IndexedSeq(3L, 5L, 8L)
    assert(RowDeletes.applicable(seqs, 2, inclusive = false) == 0)
    assert(RowDeletes.applicable(seqs, 5, inclusive = false) == 2)
    assert(RowDeletes.applicable(seqs, 5, inclusive = true) == 1)
    assert(RowDeletes.applicable(seqs, 8, inclusive = true) == 2)
    assert(RowDeletes.applicable(seqs, 9, inclusive = true) == 3)
    assert(RowDeletes.applicable(IndexedSeq.empty, 1, inclusive = false) == 0)
  }
}
