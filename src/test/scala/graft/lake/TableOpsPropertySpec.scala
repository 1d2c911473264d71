package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

import scala.collection.mutable
import scala.util.Random

/** Model-based property test for the commit path on the r04 manifest
  * layout: a seeded random sequence of table operations runs against both
  * the real table and an in-memory reference model, and `scan()` must
  * equal the model after EVERY commit (plus time-travel spot checks).
  * This is the commit-path sibling of PrunerPropertySpec — it exercises
  * the interactions no single-purpose spec does: deletes over duplicate
  * keys, updates whose key-delete swallows non-matching rows of the same
  * key (MoR equality-delete semantics), rollback as pointer copy,
  * manifest merges mid-sequence, vacuum after expiry.
  *
  * Reference semantics modeled (matching GraftTable's contracts):
  *  - append(rows): multiset add (duplicate keys allowed until a
  *    key-delete touches them)
  *  - delete(pred): equality-delete of the KEYS of matching rows — every
  *    row sharing a matched key goes, matching or not
  *  - update(assign, pred): key-delete of matched keys + re-append of the
  *    REWRITTEN MATCHED rows only
  *  - upsert(src): key-delete of source keys + append of all source rows
  *  - compact / expire+vacuum: state-preserving
  *  - rollback(id): state becomes the remembered state of snapshot id
  *
  * NULL keys (drawn in the `nullKeys` runs) match null-safe, as Iceberg
  * equality deletes do: a delete or update that matches a NULL-key row
  * removes every NULL-key row, while an upsert's NULL key only inserts
  * (MERGE's `=` never matches NULL). A KEYLESS table deletes by position:
  * exactly the matched rows go. Every delete is also checked through
  * `cdc`: its `delete` rows are exactly the rows the model removed.
  */
class TableOpsPropertySpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(name: String): String = {
    val d = s"/root/repo/target/graft-lake-test/$name"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  private type RowT = (Option[Long], Long) // (id, v); None = NULL key

  private def toDf(rows: Seq[RowT]) = {
    val sp = spark; import sp.implicits._
    rows.toDF("id", "v").coalesce(1)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[RowT] =
    df.select("id", "v").collect().map(r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1))).toSeq

  private def runSequence(seed: Int, nOps: Int, keyed: Boolean = true,
      nullKeys: Boolean = false): Unit = {
    val rnd = new Random(seed)
    val t = GraftTable.createEmpty(spark, freshDir(s"props-$seed"),
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"),
      keyColumns = if (keyed) Seq("id") else Nil)
    // keep the merge threshold low so manifest merges happen mid-sequence
    t.setProperty("manifest.merge.min-count", "5")
    var state = Vector.empty[RowT]
    val history = mutable.Map[Long, Vector[RowT]]() // snapshot id -> state
    var nextId = 0L
    var expired = false

    def freshRows(n: Int): Seq[RowT] = (1 to n).map { _ =>
      nextId += 1
      val id = if (nullKeys && rnd.nextInt(4) == 0) None else Some(nextId)
      (id, rnd.nextInt(1000).toLong)
    }
    def dupRows(n: Int): Seq[RowT] =
      if (state.isEmpty) freshRows(n)
      else (1 to n).map(_ => (state(rnd.nextInt(state.size))._1, rnd.nextInt(1000).toLong))

    def check(opDesc: String): Unit = {
      val got = rowsOf(t.scan()).sorted
      val want = state.sorted
      assert(got == want,
        s"seed=$seed after $opDesc: extra=${got.diff(want).take(5)} missing=${want.diff(got).take(5)}")
    }

    // the delete commit's cdc `delete` rows are the rows the model removed
    def checkCdc(opDesc: String, before: Long, after: Long, removed: Seq[RowT]): Unit = {
      val got = rowsOf(t.cdc(before, after).filter(col("_change_type") === "delete")).sorted
      assert(got == removed.sorted,
        s"seed=$seed cdc of $opDesc: extra=${got.diff(removed.sorted).take(5)} " +
          s"missing=${removed.sorted.diff(got).take(5)}")
    }

    (1 to nOps).foreach { i =>
      val op = rnd.nextInt(10)
      op match {
        case 0 | 1 | 2 => // append (fresh, sometimes duplicate keys)
          val rows = freshRows(1 + rnd.nextInt(5)) ++
            (if (rnd.nextBoolean()) dupRows(rnd.nextInt(3)) else Nil)
          val id = t.append(toDf(rows))
          state = state ++ rows
          history(id) = state
          check(s"op$i append")
        case 3 | 4 => // delete by predicate on v
          val r = rnd.nextInt(5).toLong
          val before = t.meta.currentSnapshotId
          val id = t.delete(col("v") % 5 === r)
          val (removed, kept) =
            if (keyed) {
              val keys = state.filter(_._2 % 5 == r).map(_._1).toSet
              state.partition(row => keys.contains(row._1))
            } else state.partition(_._2 % 5 == r)
          state = kept
          history(id) = state
          check(s"op$i delete(v%5==$r)")
          if (before >= 0 && id != before)
            checkCdc(s"op$i delete(v%5==$r)", before, id, removed)
        case 5 if keyed => // update: v -> v + 1000 where v % 7 == r
          val r = rnd.nextInt(7).toLong
          val id = t.update(Map("v" -> (col("v") + 1000L)), col("v") % 7 === r)
          val matched = state.filter(_._2 % 7 == r)
          val keys = matched.map(_._1).toSet
          state = state.filterNot(row => keys.contains(row._1)) ++
            matched.map { case (k, v) => (k, v + 1000L) }
          history(id) = state
          check(s"op$i update(v%7==$r)")
        case 6 if keyed => // upsert: mix of existing + fresh keys
          val src = (dupRows(rnd.nextInt(3)) ++ freshRows(1 + rnd.nextInt(3)))
            .groupBy(_._1).map(_._2.last).toSeq // key-unique source
          val id = t.upsert(toDf(src))
          val keys = src.map(_._1).filter(_.isDefined).toSet // a NULL key only inserts
          state = state.filterNot(row => keys.contains(row._1)) ++ src
          history(id) = state
          check(s"op$i upsert")
        case 7 => // compact (state-preserving; folds deletes, merges files)
          val id = t.compact()
          history(id) = state
          check(s"op$i compact")
        case 8 if history.size > 1 && !expired => // rollback to a random snapshot
          val target = history.keys.toSeq.sorted.apply(rnd.nextInt(history.size))
          val id = t.rollback(target)
          state = history(target)
          history(id) = state
          check(s"op$i rollback($target)")
        case 9 if history.size > 3 => // expire history + GC; current state survives
          t.expireSnapshots(keepLast = 2)
          expired = true // older ids gone — stop rolling back to them
          history.clear()
          history(t.meta.currentSnapshotId) = state
          assert(t.vacuum(minAgeMs = 0L) >= 0)
          check(s"op$i expire+vacuum")
        case _ => // guard of case 8/9 not met → plain append
          val rows = freshRows(2)
          val id = t.append(toDf(rows))
          state = state ++ rows
          history(id) = state
          check(s"op$i append(fallback)")
      }
    }
    // time-travel spot check on a retained snapshot
    val retained = t.meta.snapshots.map(_.id).filter(history.contains)
    retained.lastOption.foreach { sid =>
      val got = rowsOf(t.scan(asOf = sid)).sorted
      assert(got == history(sid).sorted, s"seed=$seed time travel to $sid diverged")
    }
  }

  test("random op sequences keep scan() equal to the reference model (seed 11)") {
    runSequence(seed = 11, nOps = 18)
  }

  test("random op sequences keep scan() equal to the reference model (seed 47)") {
    runSequence(seed = 47, nOps = 18)
  }

  test("NULL keys: a matched NULL-key row goes with every NULL-key row, an upserted one only inserts") {
    runSequence(seed = 3, nOps = 18, nullKeys = true) // update matches a NULL key
    runSequence(seed = 4, nOps = 18, nullKeys = true) // delete matches a NULL key
  }

  test("keyless table: positional deletes remove exactly the matched rows (seed 31)") {
    runSequence(seed = 31, nOps = 18, keyed = false)
  }
}
