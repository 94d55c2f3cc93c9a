package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the r17 spearmanAgg fusion (StatsOps.spearmanAgg) BIT-IDENTICAL to
  * the retired two-engine + row-aggregate spelling it replaced: same rows,
  * same n/sd2 integers, and the rho doubles equal to the last bit (the
  * driver-side closed form replicates the SQL double expression
  * operation-for-operation). Runs on sf0.001 with the production session.
  */
class SpearmanAggSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def retired(d: String) = {
    val base = graft.Tables.lineitem(spark, d)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("q"),
        Cleaning.cents(col("l_extendedprice")).as("c"))
    val rq = StatsOps.groupedRowNumber(base, "l_returnflag",
      Seq("q", "l_orderkey", "l_linenumber", "c"), "rq")
    val rc = StatsOps.groupedRowNumber(rq, "l_returnflag",
      Seq("c", "l_orderkey", "l_linenumber", "q"), "rc")
    rc.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(rq - rc AS DECIMAL(38,0)) * CAST(rq - rc AS DECIMAL(38,0))"))
          .as("sd2d"))
      .select(col("l_returnflag"), col("n"),
        col("sd2d").cast("long").as("sd2"),
        expr("1.0 - 6.0 * CAST(sd2d AS DOUBLE) / (CAST(n AS DOUBLE) * " +
          "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0))").as("spearman_rho"))
      .orderBy("l_returnflag")
  }

  test("spearmanAgg fusion is bit-identical to the two-engine spelling") {
    val old = retired(sf).collect()
    val neu = graft.SparkEntry.queries("stats_spearman")(spark, sf).collect()
    assert(old.length == neu.length && old.nonEmpty)
    old.zip(neu).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(a.getLong(1) == b.getLong(1), s"n differs for ${a.getString(0)}")
      assert(a.getLong(2) == b.getLong(2), s"sd2 differs for ${a.getString(0)}")
      assert(java.lang.Double.doubleToRawLongBits(a.getDouble(3)) ==
        java.lang.Double.doubleToRawLongBits(b.getDouble(3)),
        s"rho bits differ for ${a.getString(0)}: ${a.getDouble(3)} vs ${b.getDouble(3)}")
    }
  }

  test("spearmanAgg handles a group confined to one partition and singletons") {
    import spark.implicits._
    // 3 groups: one spread, one single-row, one two-row reversed order —
    // offsets, local positions and the BigInt combine all exercised
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 20L), ("a", 4L, 40L),
      ("b", 1L, 5L),
      ("c", 1L, 9L), ("c", 2L, 3L)
    ).toDF("g", "x", "y")
    // 3 range partitions for 7 rows: runs split across partitions
    val out = withShufflePartitions(3) {
      val rq = StatsOps.groupedRowNumber(df, "g", Seq("x", "y"), "rq")
      StatsOps.spearmanAgg(rq, "g", Seq("y", "x"), "rq", ("n", "sd2", "rho"))
        .orderBy("g").collect()
    }
    // closed-form by hand: a: x-order 1..4, y-order pairs (10,30,20,40) →
    // rc of x-ranks (1,2,3,4) under y = (1,3,2,4) → sd2 = 0+1+1+0 = 2
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 4L, 2L), ("b", 1L, 0L), ("c", 2L, 2L)))
  }

  test("spearmanAgg's accumulator is exact at and beyond |a| = 2^31") {
    // a² wraps a Long once |a| > ~3.04e9, and two a² of 2⁶² already sum
    // past Long.MaxValue: both must land exactly, against BigInt sums
    val edge = Seq(1L << 31, -(1L << 31), (1L << 31) + 1, -(1L << 31) - 1,
      3037000500L, -4000000000L, 1L << 40, Long.MaxValue / 3, 7L, -5L, 0L)
    val as = Seq.fill(25)(edge).flatten
    val acc = new StatsOps.SpearmanAcc(-1)
    as.foreach(a => acc.add(a))
    assert(acc.n == as.size)
    assert(acc.saTotal == as.map(BigInt(_)).sum)
    assert(acc.sqTotal == as.map(a => BigInt(a) * a).sum)
  }

  test("spearmanAgg stays exact when rq - rc passes 2^31") {
    import spark.implicits._
    // rc = x (x is a total order within g); every other rq is ~3.5e9·x,
    // so (rq − rc)² overflows a Long and sd2 only fits a BigInt
    val rows = (1L to 12L).map(x => ("g", x, if (x % 2 == 0) 3500000000L * x else x))
    val out = StatsOps.spearmanAgg(rows.toDF("g", "x", "rq"), "g", Seq("x"), "rq",
      ("n", "sd2", "rho")).collect()
    val sd2 = rows.map { case (_, x, rq) => BigInt(rq - x).pow(2) }.sum
    val n = rows.size.toDouble
    assert(out.length == 1 && out(0).getLong(1) == rows.size)
    assert(!sd2.isValidLong && out(0).isNullAt(2), "sd2 past Long range is null")
    assert(out(0).getDouble(3) == 1.0 - 6.0 * sd2.toDouble / (n * (n * n - 1.0)))
  }
}
