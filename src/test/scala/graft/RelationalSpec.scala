package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("every registered query returns rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("every query has matching column names with its oracle alias contract") {
    // hash compare sorts columns by name: ensure no duplicate column names
    SparkEntry.queries.foreach { case (name, fn) =>
      val cols = fn(spark, sf).columns
      assert(cols.distinct.length == cols.length, s"$name has duplicate columns")
    }
  }

  test("q02 aggregates per (returnflag, linestatus)") {
    val rows = queries.Relational.q02AggGroupBy(spark, sf).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length == rows.length)
    assert(rows.map(_.getAs[Long]("count_order")).sum <= 6000)
  }

  test("q26 funnel stages are monotone non-increasing") {
    val stages = queries.Relational.q26Funnel(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).map(_._2)
    assert(stages.length == 3)
    assert(stages(0) >= stages(1) && stages(1) >= stages(2),
      s"funnel must narrow: ${stages.mkString(" -> ")}")
    assert(stages(2) > 0, "fixture should have full-funnel users")
  }

  test("q27 retention covers every user at week offset 0") {
    val rows = queries.Relational.q27Retention(spark, sf).collect()
      .map(r => (r.getDate(0), r.getLong(1), r.getLong(2)))
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.filter(_._2 == 0L).map(_._3).sum == users,
      "every user is active in their own cohort week")
    assert(rows.forall(_._2 >= 0L), "offsets are non-negative")
  }

  test("q28 session stats reconcile with raw event counts") {
    val rows = queries.Relational.q28Sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = Tables.events(spark, sf).count()
    assert(rows.map(_._3).sum == total, "session events must cover all events")
    rows.foreach { case (u, nSess, nEv, maxEv) =>
      assert(nSess >= 1 && nEv >= nSess && maxEv <= nEv,
        s"user $u: inconsistent session stats ($nSess, $nEv, $maxEv)")
    }
  }

  test("q29 json extraction: high-k counts bounded by event counts") {
    val rows = queries.Relational.q29JsonExtract(spark, sf).collect()
    rows.foreach { r =>
      val (n, nHigh) = (r.getLong(1), r.getLong(4))
      assert(nHigh <= n && r.getLong(3) <= 100L,
        s"${r.getString(0)}: n_high $nHigh > n $n or k out of range")
    }
  }

  test("q09 keeps at most 3 rows per status") {
    val rows = queries.Relational.q09WindowTopK(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, g) => assert(g.length <= 3) }
  }

  test("semi and anti join partition the customers with urgent orders") {
    val semi = queries.Relational.q05SemiJoin(spark, sf).count()
    val anti = queries.Relational.q06AntiJoin(spark, sf).count()
    val total = Tables.customer(spark, sf).count()
    // q05 is urgent-order customers; q06 is customers with no urgent order
    assert(semi + anti == total)
  }

  test("q23 as-of join matches each purchase to a click at-or-before it") {
    import org.apache.spark.sql.functions.{col => c, unix_micros}
    val rows = queries.Relational.q23AsofJoin(spark, sf).collect()
    val purchaseTs = Tables.events(spark, sf)
      .filter(c("event_type") === "purchase")
      .select(c("event_id"), unix_micros(c("ts")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.length == purchaseTs.size, "left join must keep every purchase")
    var matched = 0
    rows.foreach { r =>
      if (!r.isNullAt(2)) {
        matched += 1
        assert(r.getLong(2) <= purchaseTs(r.getLong(0)),
          s"purchase ${r.getLong(0)} matched a FUTURE click")
      }
    }
    assert(matched > 0, "some purchases must have a preceding click")
  }

  test("q25 sketch quantiles track the exact percentiles") {
    val rows = queries.Relational.q25ApproxQuantile(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val spread = math.max(1.0, math.abs(r.getDouble(4)) + math.abs(r.getDouble(2)))
      assert(math.abs(r.getDouble(1) - r.getDouble(3)) <= 0.05 * spread,
        s"p50 sketch off: $r")
      assert(math.abs(r.getDouble(2) - r.getDouble(4)) <= 0.05 * spread,
        s"p95 sketch off: $r")
    }
  }

  test("q21 flags only customers spending > 2x their nation average") {
    val rows = queries.Relational.q21CorrelatedAgg(spark, sf).collect()
    assert(rows.nonEmpty)
    // displayed values are rounded to cents; the filter itself is exact
    // integer arithmetic, so allow the rounding slack on the check
    rows.foreach(r => assert(r.getDouble(1) > r.getDouble(2) * 2 - 0.02))
  }

  test("q22 approx distinct stays within the configured error bound") {
    val rows = queries.Relational.q22ApproxDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val approx = r.getLong(2).toDouble
      // rsd 0.02 → generous 10% acceptance band (HLL++ tail risk)
      assert(math.abs(approx - exact) / math.max(exact, 1.0) < 0.10,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
