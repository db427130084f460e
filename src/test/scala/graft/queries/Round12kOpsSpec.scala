package graft.queries

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}

/** Planted-fixture specs for the round-12 TPC-H planner shapes (Q21
  * waiting supplier, Q15 top supplier, Q22 sales opportunity):
  * constructed inputs whose expected outputs are closed-form — the
  * sole-late-supplier rule is exercised against an order where two
  * suppliers were late (nobody counts) and a single-supplier order
  * (excluded), the quarterly-revenue max has exactly one winner with a
  * window-excluded decoy line, and the lapsed-customer census drops a
  * below-average balance and a recently-ordering customer.
  */
class Round12kOpsSpec extends SparkSpec {
  import spark.implicits._

  private def dir(): String =
    graft.TempDirs.create("r12k").toFile.getAbsolutePath

  private val jan96 = Timestamp.valueOf("1996-01-01 00:00:00")
  private def ts(s: String) = Timestamp.valueOf(s"$s 00:00:00")

  test("q21: only the SOLE late supplier of a multi-supplier order counts") {
    val d = dir()
    Seq((1L, jan96), (2L, jan96), (3L, jan96), (4L, jan96))
      .toDF("o_orderkey", "o_orderdate").write.parquet(s"$d/orders.parquet")
    Seq(
      (1L, 10L, ts("1996-04-01")), // late, sole late in multi-supp order 1
      (1L, 20L, ts("1996-01-15")), // on time
      (2L, 10L, ts("1996-04-01")), // order 2: TWO late suppliers -> neither
      (2L, 20L, ts("1996-05-01")),
      (3L, 30L, ts("1996-04-01")), // single-supplier order -> excluded
      (4L, 10L, ts("1996-01-10")), // all on time -> nothing
      (4L, 20L, ts("1996-01-20")))
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
      .write.parquet(s"$d/lineitem.parquet")
    Seq((10L, "S#10"), (20L, "S#20"), (30L, "S#30"))
      .toDF("s_suppkey", "s_name").write.parquet(s"$d/supplier.parquet")
    val out = SparkEntry.queries("q21_waiting_supplier")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("S#10", 1L)), s"got ${out.toSeq}")
  }

  test("q15: max-revenue scalar picks the single winner; decoy outside the window") {
    val d = dir()
    Seq(
      (1L, 100.0, 0.0, ts("1996-02-01")),  // s1: 10000*100 = 1,000,000
      (1L, 100.0, 0.0, ts("1996-03-01")),  // s1 total 2,000,000 -> winner
      (2L, 150.0, 0.50, ts("1996-02-15")), // s2: 15000*50 = 750,000
      (3L, 999.0, 0.0, ts("1995-12-31")))  // outside Q1-1996 -> pruned
      .toDF("l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
      .write.parquet(s"$d/lineitem.parquet")
    Seq((1L, "S#1"), (2L, "S#2"), (3L, "S#3"))
      .toDF("s_suppkey", "s_name").write.parquet(s"$d/supplier.parquet")
    val out = SparkEntry.queries("q15_top_supplier")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "S#1", 2000000L)), s"got ${out.toSeq}")
  }

  test("q08: only market-region revenue counts; target nation flags the numerator") {
    val d = dir()
    Seq((1, "AMERICA")).toDF("r_regionkey", "r_name").write.parquet(s"$d/region.parquet")
    Seq((5, "T", 0), (9, "M", 1)) // target nation 5 outside AMERICA; market nation 9 inside
      .toDF("n_nationkey", "n_name", "n_regionkey").write.parquet(s"$d/nation.parquet")
    Seq((1L, 9), (2L, 5)).toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$d/customer.parquet")
    Seq((100L, 5), (200L, 9)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$d/supplier.parquet")
    Seq((1L, 1L, ts("1996-05-01")), (2L, 2L, ts("1996-06-01")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate").write.parquet(s"$d/orders.parquet")
    Seq(
      (1L, 100L, 100.0, 0.0), // market order, target supplier: 1,000,000
      (1L, 200L, 300.0, 0.0), // market order, other supplier: 3,000,000
      (2L, 100L, 999.0, 0.0)) // customer outside AMERICA -> excluded
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .write.parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("q08_market_share")(spark, d)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1996, 1000000L, 4000000L, 250000L)), s"got ${out.toSeq}")
  }

  test("q10: only returned lines in the quarter count") {
    val d = dir()
    Seq((1L, 1L, ts("1996-02-01")), (2L, 2L, ts("1996-03-01")),
      (3L, 3L, ts("1996-07-01"))) // outside the quarter
      .toDF("o_orderkey", "o_custkey", "o_orderdate").write.parquet(s"$d/orders.parquet")
    Seq(
      (1L, "R", 100.0, 0.0), // counts: 1,000,000
      (1L, "N", 999.0, 0.0), // not returned
      (2L, "R", 50.0, 0.0),  // counts: 500,000
      (3L, "R", 999.0, 0.0)) // order outside quarter
      .toDF("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount")
      .write.parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("q10_returned_items")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L, 1000000L), (2L, 1L, 500000L)), s"got ${out.toSeq}")
  }

  test("q17: cross-multiplied 20%-of-average predicate; brand filter prunes") {
    val d = dir()
    Seq((1L, "Brand#2"), (2L, "Brand#9"))
      .toDF("p_partkey", "p_brand").write.parquet(s"$d/part.parquet")
    // p1: five qty-10 lines + one qty-1 line -> avg 8.5, 0.2*avg = 1.7:
    // only the qty-1 line (price $7.00) qualifies (1*5*6 = 30 < 51)
    (Seq.fill(5)((1L, 10.0, 99.0)) ++ Seq((1L, 1.0, 7.0), (2L, 1.0, 999.0)))
      .toDF("l_partkey", "l_quantity", "l_extendedprice")
      .write.parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("q17_small_qty_revenue")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 700L, 100L)), s"got ${out.toSeq}")
  }

  test("q18: strict >250 threshold; price-desc order with orderkey ties") {
    val d = dir()
    Seq(
      (1L, ts("1996-01-01"), 500.00, 7L),
      (2L, ts("1996-01-01"), 700.00, 7L), // qty exactly 250 -> excluded
      (3L, ts("1996-01-01"), 900.00, 8L))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice", "o_custkey")
      .write.parquet(s"$d/orders.parquet")
    Seq((1L, 200.0), (1L, 100.0), (2L, 250.0), (3L, 260.0))
      .toDF("l_orderkey", "l_quantity").write.parquet(s"$d/lineitem.parquet")
    Seq((7L, "c7"), (8L, "c8")).toDF("c_custkey", "c_name")
      .write.parquet(s"$d/customer.parquet")
    val out = SparkEntry.queries("q18_large_orders")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (8L, 3L, "1996-01-01", 90000L, 260L),
      (7L, 1L, "1996-01-01", 50000L, 300L)), s"got ${out.toSeq}")
  }

  test("q19: each disjunct must bite on its own envelope") {
    val d = dir()
    Seq(
      (1L, "Brand#2", 10),  // b1 envelope
      (2L, "Brand#15", 30), // size 30 > 25 -> b2 never matches
      (3L, "Brand#19", 35)) // b3 envelope
      .toDF("p_partkey", "p_brand", "p_size").write.parquet(s"$d/part.parquet")
    Seq(
      (1L, 10.0, 100.0, 0.0),  // b1: rev 10000*100 = 1,000,000
      (1L, 30.0, 999.0, 0.0),  // qty 30 > 20 -> no branch
      (2L, 20.0, 999.0, 0.0),  // b2 blocked by size
      (3L, 20.0, 50.0, 0.5))   // b3: rev 5000*50 = 250,000
      .toDF("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .write.parquet(s"$d/lineitem.parquet")
    val out = SparkEntry.queries("q19_disjunctive_revenue")(spark, d)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("Brand#15", 0L, 0L),
      ("Brand#19", 1L, 250000L),
      ("Brand#2", 1L, 1000000L)), s"got ${out.toSeq}")
  }

  test("q22: above-average balance AND lapsed — both predicates must bite") {
    val d = dir()
    // positive balances: 100 + 50 + 80 -> avg 76.67; c1 and c4 clear it
    Seq(
      (1L, 0, 100.0),  // above avg, old order only -> counts
      (2L, 0, 0.0),    // non-positive -> excluded from avg and census
      (3L, 0, 50.0),   // below avg -> out
      (4L, 1, 80.0))   // above avg but ordered recently -> out
      .toDF("c_custkey", "c_nationkey", "c_acctbal")
      .write.parquet(s"$d/customer.parquet")
    Seq((1L, ts("1997-05-01")), (4L, ts("1999-01-01")))
      .toDF("o_custkey", "o_orderdate").write.parquet(s"$d/orders.parquet")
    val out = SparkEntry.queries("q22_sales_opportunity")(spark, d)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0, 1L, 10000L)), s"got ${out.toSeq}")
  }
}
