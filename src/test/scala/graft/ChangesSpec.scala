package graft

import graft.ops.Changes
import org.apache.spark.sql.functions._

class ChangesSpec extends GraftSpec {
  import spark.implicits._

  test("compactChanges keeps exactly the highest-seq row per key") {
    val feed = Seq((1L, 10L, "a"), (1L, 30L, "c"), (1L, 20L, "b"),
      (2L, 5L, "x")).toDF("k", "seq", "v")
    val got = Changes.compactChanges(feed, "k", "seq")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got === Set((1L, "c"), (2L, "x")))
  }

  test("applyChanges: D removes, U replaces, I adds, untouched rows pass") {
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("k", "v")
    val changes = Seq((2L, "TWO", "U"), (3L, "x", "D"), (4L, "four", "I"))
      .toDF("k", "v", "op")
    val got = Changes.applyChanges(base, changes, "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "one"), (2L, "TWO"), (4L, "four")))
  }

  test("applyChanges rejects a feed whose data columns differ from base") {
    val base = Seq((1L, "one")).toDF("k", "v")
    val bad = Seq((1L, "U")).toDF("k", "op") // missing v
    val e = intercept[IllegalArgumentException] {
      Changes.applyChanges(base, bad, "k")
    }
    assert(e.getMessage.contains("must match base"))
  }

  test("scd2: ranges chain per key and exactly one current version") {
    val hist = Changes.scd2Orders(spark, sf).collect()
    val byKey = hist.groupBy(_.getLong(0))
    byKey.foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r.getTimestamp(4).getTime, r.getLong(1)))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getTimestamp(5) === b.getTimestamp(4),
            "valid_to must equal the next version's valid_from")
          assert(!a.getBoolean(6), "only the last version may be current")
        case _ =>
      }
      // the limit(500) can truncate a key's tail; when it does not, the
      // last version must be open-ended and current
      if (!sorted.last.isNullAt(5))
        assert(!sorted.last.getBoolean(6))
      else
        assert(sorted.last.getBoolean(6))
    }
    assert(hist.nonEmpty)
  }

  test("scd2Head equals the plain history window + orderBy.limit(n)") {
    import org.apache.spark.sql.DataFrame
    def plain(df: DataFrame, n: Int) = Changes.scd2(df, "k", "v", "t")
      .orderBy(col("k"), col("valid_from"), col("t")).limit(n)
    def same(df: DataFrame, n: Int): Unit = {
      val got = Changes.scd2Head(df, "k", "v", "t", n)
      // a frame of at most n rows needs no cut, and Spark plans none
      if (n < df.count())
        assert(got.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
      assert(got.collect().toSeq === plain(df, n).collect().toSeq, s"n = $n")
    }
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey").as("k"), col("o_orderdate").as("v"), col("o_orderkey").as("t"))
    Seq(1, 37, 500).foreach(same(orders, _))
    // NULL keys sort first; key 2 has three versions tied across the cut
    // at n = 3 and n = 4; a key's timeline spans both sides of a cut
    val tied = Seq[(Option[Long], Long, Long)]((None, 5L, 1L), (None, 3L, 2L),
      (Some(2L), 9L, 3L), (Some(2L), 1L, 4L), (Some(2L), 1L, 5L), (Some(1L), 4L, 6L),
      (Some(3L), 2L, 7L)).toDF("k", "v", "t")
    (1 to 8).foreach(same(tied, _))
    // fewer than n rows
    same(tied, 500)
    // past the group-limit threshold the plain form runs
    val big = Changes.scd2Head(tied, "k", "v", "t", 1001)
    assert(!big.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
    assert(big.collect().toSeq === plain(tied, 1001).collect().toSeq)
  }

  test("mergeUpsertOrders: totals reconcile with a driver-side replay") {
    val got = Changes.mergeUpsertOrders(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def expectedN(status: String) = orders.count { case (k, s) =>
      s == status && (k % 10 == 0 || k % 13 != 0) // deletes drop %13 base keys
    }
    def expectedRestated(status: String) = orders.count { case (k, s) =>
      s == status && k % 10 != 0 && k % 7 == 0 && k % 13 != 0
    }
    got.foreach { case (status, n, restated) =>
      assert(n === expectedN(status), s"rowcount for $status")
      assert(restated === expectedRestated(status), s"restated for $status")
    }
  }
}
