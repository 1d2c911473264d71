package graft.lake

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

/** Deterministic conflict-mode checks for the optimistic commit loop:
  * calls commitRetrying from a STALE base to simulate a writer whose
  * refresh happened before another commit won the race (the window the
  * retry loop exists for — in-process callers refresh at entry, so the
  * stale-base path can only be forced this way). */
class CommitRaceSpec extends AnyFunSuite {
  import TestSpark._

  private def fresh(name: String): String = {
    val d = s"/root/repo/target/graft-lake-test/$name"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    d
  }

  test("replace from a stale base aborts instead of dropping the winner") {
    val o = Tables.orders(spark, sf).limit(50)
    val t = GraftTable.create(spark, fresh("race-replace"), o,
      keyColumns = Seq("o_orderkey"))
    val stale = t.meta
    t.append(o) // the winner
    val ex = intercept[RuntimeException] {
      t.commitRetrying(stale, "replace", stale.currentSnapshotId + 1,
        stale.currentSnapshot.get.dataFiles, Nil,
        GraftTable.ReplaceExact, replaceLists = true)
    }
    assert(ex.getMessage.contains("quiet table"))
    assert(GraftTable.load(spark, t.location).scan().count() == 100,
      "winner's rows must survive")
  }

  test("delete-shaped commit from a stale base aborts if the winner added data") {
    val o = Tables.orders(spark, sf).limit(50)
    val t = GraftTable.create(spark, fresh("race-delete"), o,
      keyColumns = Seq("o_orderkey"))
    val stale = t.meta
    t.append(o) // concurrent data append → write-skew risk for a stale delete
    val ex = intercept[RuntimeException] {
      t.commitRetrying(stale, "delete", stale.currentSnapshotId + 1,
        Nil, Nil, GraftTable.MergeUnlessNewData)
    }
    assert(ex.getMessage.contains("added data files"))
  }

  test("delete-shaped commit merges over a concurrent delete (no new data)") {
    val o = Tables.orders(spark, sf).limit(50)
    val t = GraftTable.create(spark, fresh("race-del-ok"), o,
      keyColumns = Seq("o_orderkey"))
    val stale = t.meta
    t.delete(col("o_orderkey") < 0) // winner: delete-only commit, no data files
    val id = t.commitRetrying(stale, "delete", stale.currentSnapshotId + 1,
      Nil, Nil, GraftTable.MergeUnlessNewData)
    assert(id == 3L, "stale delete re-merges onto the winner and commits")
  }

  test("additive commit from a stale base relocates its files and re-merges") {
    val o = Tables.orders(spark, sf).limit(50)
    val t = GraftTable.create(spark, fresh("race-append"), o,
      keyColumns = Seq("o_orderkey"))
    val stale = t.meta
    // this writer wrote its files at provisional seq 2…
    val seq = stale.currentSnapshotId + 1
    val pending = t.commitRetrying(stale, "append", seq,
      Nil, Nil, GraftTable.MergeAny) // metadata-only append merges trivially
    assert(pending == 2L)
  }

  test("iceberg: a stale path-addressed writer loses every retry, never drops the winner") {
    import graft.lake.iceberg.{IcebergTable, IcebergWriter}
    val n = Tables.nation(spark, sf)
    val loc = fresh("race-iceberg-stale")
    IcebergWriter.create(spark, loc, n.schema).append(n.filter(col("n_nationkey") < 5))
    val a = IcebergWriter.open(spark, loc)
    val b = IcebergWriter.open(spark, loc)
    b.append(n.filter(col("n_nationkey").between(5, 9)))
    intercept[java.util.ConcurrentModificationException] {
      a.append(n.filter(col("n_nationkey") >= 20))
    }
    // the retry on the same object must not stack on its own unpublished
    // snapshot (that would publish the next version without B's commit)
    intercept[java.util.ConcurrentModificationException] {
      a.append(n.filter(col("n_nationkey") >= 20))
    }
    val keys = IcebergTable.load(spark, loc).scan().select("n_nationkey")
      .collect().map(_.getAs[Number](0).longValue).toSeq.sorted
    assert(keys == (0L until 10L), "the head holds B's rows and none of A's")
  }
}
