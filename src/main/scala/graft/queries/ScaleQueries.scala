package graft.queries

import graft.Tables
import graft.ops.{Scratch, TextOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Round-5 depth pack: the remaining "would you trust this at 100 TB"
  * operator families — dynamic partition pruning, distributed graph
  * analytics (triangle counting with degree orientation), gap-based
  * sessionization, a mergeable frequency sketch with its error bound
  * proven in the correctness gate, int8 embedding quantization, and
  * corpus statistics (token entropy, TF-IDF) — plus the TPC-H queries
  * (Q6/Q10/Q14) the generator's schema subset supports beyond
  * Q1/Q3/Q5/Q18.
  *
  * Scale posture: every query is shuffle-minimal hash-agg/equi-join work.
  * The graph queries never materialize all-pairs anything — edges come
  * from per-order distinct part sets (≤13 lines/order in this generator;
  * basket-capped in any real feed), and the triangle join is oriented by
  * (degree, id) so each triangle is counted once and high-degree nodes
  * don't fan out quadratically on the probe side. Floating math crossing
  * the oracle boundary is rounded to integers BEFORE any re-aggregation,
  * so sums are partition-order-independent in both engines.
  */
object ScaleQueries extends QueryPack {

  private val runNonce: String = java.util.UUID.randomUUID.toString.take(8)

  // partitioned fact + dim table written once per (session, sf-dir)
  private val dppTables = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, String)]
  // two-schema dataset written once per (session, sf-dir)
  private val mergeSchemaDirs = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** Orders partitioned by o_orderpriority plus a tiny priority-dimension
    * table, both written to scratch once per (session, dir). The dim MUST
    * be an on-disk scan (not a literal LocalRelation): Catalyst's
    * ConvertToLocalRelation folds a filter over literals away at optimize
    * time, leaving no selective Filter node for the PartitionPruning rule
    * to key off — exactly the date-dim-on-disk shape real warehouses have.
    */
  private def dppPair(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val (factPath, dimPath) = dppTables.getOrElseUpdate((s, d), {
      val base = s"${sys.props("java.io.tmpdir")}/graft-scratch-$runNonce"
      val f = s"$base/dpp_orders_${(d.hashCode & 0xffffff).toHexString}"
      val dm = s"$base/dpp_pridim_${(d.hashCode & 0xffffff).toHexString}"
      Tables.orders(s, d).write.mode(SaveMode.Overwrite)
        .partitionBy("o_orderpriority").parquet(f)
      Seq(("1-URGENT", "hot"), ("2-HIGH", "hot"), ("3-MEDIUM", "warm"),
        ("4-NOT SPECIFIED", "cold"), ("5-LOW", "cold"))
        .toDF("pri", "urgency_class")
        .write.mode(SaveMode.Overwrite).parquet(dm)
      (f, dm)
    })
    (s.read.parquet(factPath), s.read.parquet(dimPath))
  }

  /** Distinct part–part co-purchase edges (u < v) from high-quantity
    * lines, persisted once per (session, dir) — shared by the triangle
    * and PageRank queries. High-quantity only: the unfiltered graph is
    * near-complete over this generator's small part key space (avg degree
    * 119 → 41M wedges at sf0.1), which measures density, not the operator.
    */
  private def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    Scratch.materialize("copurchase_edges", s, d) {
      val po = Tables.lineitem(s, d).filter(col("l_quantity") >= 40)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val po2 = po.select(col("o").as("o2"), col("p").as("p2"))
      po.join(po2, col("o") === col("o2") && col("p") < col("p2"))
        .select(col("p").as("u"), col("p2").as("v")).distinct()
    }

  /** partsupp reconstructed from lineitem: the generator's schema subset
    * carries no partsupp table, so the supply facts Q2/Q11/Q16/Q20 need are
    * derived per (part, supplier) pair — availqty as lifetime shipped
    * quantity, supplycost as the minimum observed unit price in cents (both
    * integer-exact, so re-aggregation is partition-order-independent). One
    * hash agg over the fact, persisted because all four queries read it and
    * two of them read it twice. The DuckDB oracles open with the identical
    * CTE, so the derivation itself is under the correctness gate.
    */
  private def partsupp(s: SparkSession, d: String): DataFrame =
    Scratch.materialize("partsupp_derived", s, d) {
      Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .agg(
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("ps_availqty"),
          min(expr("CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)"))
            .as("ps_supplycost_cents"))
    }

  val queries: Map[String, Q] = Map(
    // TPC-H Q6 (forecasting revenue change): the pure scan-filter-agg
    // shape — every predicate is pushed to the parquet reader (min/max
    // row-group skipping does the work at scale), and the aggregate is a
    // single map-side-combined global sum. No shuffle beyond the final
    // 1-row merge.
    "tpch_q6" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01" &&
          col("l_discount") >= 0.04 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
        .agg(
          sum(expr("CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)"))
            .as("revenue_cents"),
          count(lit(1)).as("n_lines"))),

    // TPC-H Q10 (returned-item reporting): fact filtered on two pushed
    // predicates joins orders→customer→broadcast(nation); the heavy group
    // key is the customer, so the agg shuffles once on c_custkey; top-20
    // goes through TakeOrderedAndProject (no global sort materialized).
    "tpch_q10" -> ((s, d) => {
      val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-07-01")
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
          .as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // TPC-H Q14 (promotion effect): join through part on the month's
    // lineitems, conditional aggregation, and the headline ratio kept in
    // exact integers (permille by integer division) so the single output
    // row hashes identically in both engines.
    "tpch_q14" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1996-09-01" && col("l_shipdate") < "1996-10-01")
      val p = Tables.part(s, d)
      l.join(p, l("l_partkey") === p("p_partkey"))
        .select(col("p_type"),
          expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)").as("disc_c"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("disc_c")).otherwise(0L)).as("promo_cents"),
          sum(col("disc_c")).as("total_cents"))
        .withColumn("promo_permille", expr("promo_cents * 1000 div total_cents"))
    }),

    // TPC-H Q7 (volume shipping): the two-dimension-alias join — nation
    // joins TWICE (supplier's and customer's side), both broadcast; the
    // fact path lineitem→orders→customer shuffles on its keys once. The
    // either-direction nation pair filter runs post-join on broadcast
    // columns (cheap), revenue by (supp_nation, cust_nation, year).
    "tpch_q7" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1998-01-01")
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val n1 = Tables.nation(s, d).select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d).select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
      l.join(sup, l("l_suppkey") === sup("s_suppkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sk"))
        .join(broadcast(n2), col("c_nationkey") === col("ck"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
          .as("revenue_cents"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q8 (national market share): the deepest join tree in the
    // suite — fact → part/supplier/orders/customer plus nation twice and
    // region, all dims broadcast. The share is conditional-sum over total
    // in exact integer permille.
    "tpch_q8" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d).filter(col("p_type") === "STANDARD")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01")
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val cn = Tables.nation(s, d).select(col("n_nationkey").as("cnk"), col("n_regionkey").as("crk"))
      val sn = Tables.nation(s, d).select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      val r = Tables.region(s, d).filter(col("r_name") === "AMERICA")
      l.join(p, l("l_partkey") === p("p_partkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(cn), col("c_nationkey") === col("cnk"))
        .join(broadcast(r), col("crk") === col("r_regionkey"))
        .join(broadcast(sn), col("s_nationkey") === col("snk"))
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)").as("vol_c"),
          col("supp_nation"))
        .groupBy("o_year")
        .agg(sum(when(col("supp_nation") === "NATION_3", col("vol_c")).otherwise(0L))
          .as("nation_cents"),
          sum("vol_c").as("total_cents"))
        .withColumn("share_permille", expr("nation_cents * 1000 div total_cents"))
        .orderBy("o_year")
    }),

    // TPC-H Q13 (customer order-count distribution): the left-join +
    // double-aggregation shape — customers keep their zero-order rows,
    // first agg on custkey, second on the count itself (tiny key space).
    "tpch_q13" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderpriority") =!= "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q15 (top supplier): aggregate → global max → equality filter.
    // The per-supplier aggregate is persisted because it feeds both the
    // filter side and the global max — without it Spark plans TWO fact
    // scans (the join side grows a null filter, so ReuseExchange can't
    // dedupe the subplans). The max then arrives as a broadcast 1-row
    // aggregate, so no driver round-trip either.
    "tpch_q15" -> ((s, d) => {
      val rev = Scratch.materialize("q15_rev", s, d) {
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01")
          .groupBy(col("l_suppkey"))
          .agg(sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
            .as("total_rev_cents"))
      }
      val maxRev = rev.agg(max("total_rev_cents").as("max_rev"))
      rev.crossJoin(broadcast(maxRev))
        .filter(col("total_rev_cents") === col("max_rev"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev_cents"))
        .orderBy("s_suppkey")
    }),

    // TPC-H Q17 (small-quantity-order revenue): the correlated
    // avg-per-group threshold, decorrelated into a per-part aggregate
    // joined back to the fact — one extra shuffle instead of a
    // re-executed subquery per row.
    "tpch_q17" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d).filter(col("p_brand") === "Brand#23")
      val avgQ = l.groupBy(col("l_partkey").as("ap"))
        .agg((sum("l_quantity") / count(lit(1))).as("avg_qty"))
      l.join(p, l("l_partkey") === p("p_partkey"))
        .join(avgQ, l("l_partkey") === col("ap"))
        .filter(col("l_quantity") < col("avg_qty") * 0.2)
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("total_cents"),
          count(lit(1)).as("n_lines"))
        .withColumn("avg_yearly_cents", expr("total_cents div 7"))
    }),

    // TPC-H Q4 (order-priority checking): correlated EXISTS with a
    // predicate crossing outer and inner — adapted to this schema's
    // lateness proxy (shipped >90 days after order). The semi join keeps
    // the equi key l_orderkey so it stays a hash join; the timestamp
    // range rides along as a residual condition. No second pass over
    // orders, no count-distinct.
    "tpch_q4" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-07-01")
      val l = Tables.lineitem(s, d)
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 90 DAYS"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q9 (product-type profit): LIKE-filtered part dim, five-way
    // join, profit per (supplier nation, order year). This schema has no
    // partsupp, so supply cost is proxied by 10% of retail price — the
    // join tree and the two-column aggregate are the point. Profit is
    // rounded to cents per line BEFORE the sum so re-aggregation order
    // can't move the result between engines.
    "tpch_q9" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d).filter(col("p_name").like("%red%"))
      val o = Tables.orders(s, d)
      val sup = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      l.join(p, l("l_partkey") === p("p_partkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          expr("""CAST(round((l_extendedprice * (1 - l_discount)
                 - p_retailprice * l_quantity * 0.1) * 100) AS BIGINT)""").as("profit_c"))
        .groupBy("nation", "o_year")
        .agg(sum("profit_c").as("profit_cents"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q12 (shipping-priority classes): fact→orders join feeding a
    // conditional two-way count, grouped on the fact's low-cardinality
    // flag (the schema's stand-in for l_shipmode). One shuffle for the
    // join, map-side partial for the tiny aggregate.
    "tpch_q12" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
      val o = Tables.orders(s, d)
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag")
    }),

    // TPC-H Q19 (discounted revenue): the OR-of-ANDs join predicate.
    // The per-clause part filters are disjoint on brand, so Catalyst can
    // push the brand disjunction to the part scan while the mixed
    // part×lineitem residual evaluates post-join; the join key stays
    // equi (l_partkey = p_partkey) so no cartesian appears.
    "tpch_q19" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      val clause = (p("p_brand") === "Brand#12" && p("p_size").between(1, 5) &&
          l("l_quantity").between(1, 11)) ||
        (p("p_brand") === "Brand#23" && p("p_size").between(1, 10) &&
          l("l_quantity").between(10, 20)) ||
        (p("p_brand") === "Brand#34" && p("p_size").between(1, 15) &&
          l("l_quantity").between(20, 30))
      l.join(p, l("l_partkey") === p("p_partkey") && clause)
        .agg(sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
          .as("revenue_cents"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q21 (suppliers who kept orders waiting): the hardest
    // correlation shape — one EXISTS and one NOT EXISTS against the same
    // fact with inequality on the correlated key. Both decorrelate to
    // hash joins on l_orderkey (semi, then anti) with the supplier
    // inequality and lateness as residuals; lateness is the same >60-day
    // ship-after-order proxy on both engines.
    "tpch_q21" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      val sup = Tables.supplier(s, d)
      // r16 (guide §2.4/§3): the EXISTS/NOT-EXISTS pair used to run as a
      // left-semi plus a left-anti join, re-scanning and re-shuffling the
      // fact twice on top of the base pass (3 lineitem scans, 2 extra
      // exchanges). Both quantifiers collapse into ONE per-order
      // aggregate because the base row's own supplier is always a member
      // of the sets being tested:
      //   - EXISTS (other supplier in the order): base's supplier is in
      //     the order's supplier set, so "another exists" ⇔
      //     countDistinct(supplier) ≥ 2;
      //   - NOT EXISTS (other LATE supplier): the base filter makes the
      //     base row itself late, so its supplier is in the late set, and
      //     "no other late" ⇔ countDistinct(late supplier) = 1.
      // Exact same rows out (oracle keeps the EXISTS spelling; verified
      // value-identical at sf0.001/sf0.01). One fact aggregation replaces
      // the two join passes: lineitem scans drop 3 → 2, and ONE
      // fact-sized re-shuffle disappears — a SCALE property (it
      // materializes when lineitem no longer fits broadcast; at sf0.1 the
      // before-plan ran all-broadcast, so the after-plan's SMJ of the
      // base branch makes local wall time parity, plans/r16/tpch_q21_*,
      // VERDICT r16 "what's wrong" #1). The lineitem-scan count is the
      // pinned regression guard (PlanShapeSpec).
      val lo = l.join(o, l("l_orderkey") === o("o_orderkey"))
      // The NOT-EXISTS encoding (nlate == 1) is only sound if the base
      // row itself counts as late, i.e. this predicate is THE SAME
      // expression in the aggregate and in the base filter — one shared
      // Column so the two sides cannot drift (ADVICE r16).
      val isLate = l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS")
      // distinct (order, supplier) pairs first — a plain hash aggregate
      // with map-side partials (no Expand: two countDistincts with
      // different filters would plan a 2-way Expand over the fact) —
      // then per-order counts over the tiny pair table.
      val perOrder = lo
        .groupBy(l("l_orderkey").as("p_ok"), l("l_suppkey").as("p_sk"))
        .agg(max(when(isLate, 1L).otherwise(0L)).as("is_late"))
        .groupBy(col("p_ok"))
        .agg(count(lit(1)).as("nsupp"), sum("is_late").as("nlate"))
      val base = lo
        .filter(isLate)
        .join(sup, l("l_suppkey") === sup("s_suppkey"))
        .select(col("l_orderkey").as("b_ok"), col("s_name"))
      base.join(perOrder, col("b_ok") === col("p_ok"))
        .filter(col("nsupp") >= 2 && col("nlate") === 1)
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }),

    // TPC-H Q22 (global-sales opportunity): scalar-average threshold +
    // anti join. The threshold compare is integer-exact — balance cents
    // times the population count against the cents total — so no
    // float-average ulp can flip a row between engines. The 1-row
    // aggregate broadcasts; customers-without-orders is a hash anti join.
    "tpch_q22" -> ((s, d) => {
      val cust = Tables.customer(s, d).filter(col("c_nationkey") <= 6)
        .withColumn("bal_cents", expr("CAST(round(c_acctbal * 100) AS BIGINT)"))
      val thr = cust.filter(col("c_acctbal") > 0)
        .agg(sum("bal_cents").as("tot"), count(lit(1)).as("n"))
      cust.crossJoin(broadcast(thr))
        .filter(col("bal_cents") * col("n") > col("tot"))
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("long").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"), sum("bal_cents").as("totacctbal_cents"))
        .orderBy("cntrycode")
    }),

    // Dynamic partition pruning: the fact side is a parquet table
    // partitioned by o_orderpriority; the dim side is a filtered
    // constant-size relation. Spark plants a DynamicPruningExpression on
    // the fact scan so only the dim's surviving priorities' directories
    // are listed/read — at 100 TB this is the difference between scanning
    // 2/5 of the table and all of it. PlanShapeSpec pins the
    // dynamicpruning expression in the scan's PartitionFilters.
    "join_dpp" -> ((s, d) => {
      val (fact, dimAll) = dppPair(s, d)
      val dim = dimAll.filter(col("urgency_class") === "hot")
      fact.join(dim, fact("o_orderpriority") === dim("pri"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("price_cents"))
        .orderBy("o_orderpriority")
    }),

    // Interval-overlap join at scale: OSS Spark plans a raw
    // `point BETWEEN start AND end` join as a nested loop (quadratic).
    // The scale shape is BUCKET REPLICATION: each interval is exploded to
    // the day buckets it covers (bounded by interval length), points key
    // by their day, and the join becomes an EQUI-join on the bucket with
    // the range predicate left as a cheap residual — cost is
    // |points| + |intervals|·days, never |points|·|intervals|. Here: 3-day
    // maintenance windows (every 500th order) matched against lineitem
    // ship timestamps.
    "join_interval_bucketed" -> ((s, d) => {
      val win = Tables.orders(s, d).filter(col("o_orderkey") % 500 === 0)
        .select(col("o_orderkey").as("w_id"),
          col("o_orderdate").as("w_start"),
          expr("o_orderdate + INTERVAL 3 DAYS").as("w_end"))
      val winB = win.select(col("w_id"), col("w_start"), col("w_end"),
          explode(expr(
            "sequence(datediff(w_start, to_date('1970-01-01')), " +
              "datediff(w_end, to_date('1970-01-01')))")).as("day"))
      val pts = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_shipdate"),
          expr("datediff(l_shipdate, to_date('1970-01-01'))").as("day"))
      // No dedup pass: each point keys by its OWN single day, so a
      // (window, point) pair can meet in exactly one bucket — the join
      // output already matches the oracle's plain range join row-for-row.
      // (r9 had a post-join .distinct() here; it was a no-op on the data
      // but full-shuffled the largest intermediate — VERDICT r9.)
      winB.join(pts, "day")
        .filter(col("l_shipdate") >= col("w_start") && col("l_shipdate") <= col("w_end"))
        .select(col("w_id"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .groupBy("w_id")
        .agg(count(lit(1)).as("n_hits"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("w_id")
    }),

    // Spatial radius join via grid-cell bucketing — the 2-D sibling of
    // the day-bucket interval join above: a distance predicate is not an
    // equi-join, so the naive plan is an O(n·m) nested loop. Instead,
    // each left point keys to its (cell x, cell y); each right point
    // replicates to its 3×3 cell neighborhood (constant 9× blow-up of
    // the SMALLER side only); the join becomes a hash equi-join on the
    // cell pair and the exact distance check runs post-join. Cell size =
    // radius guarantees no within-radius pair is missed, and a pair can
    // meet in at most one cell (the left point's own), so no dedup pass
    // is needed. Coordinates are integers derived from the portable hash
    // so the distance math is exact in both engines.
    "join_grid_spatial" -> ((s, d) => {
      def coord(prefix: String, k: org.apache.spark.sql.Column) =
        TextOps.hash60(concat(lit(prefix), k.cast("string"))) % 1000L
      val cust = Tables.customer(s, d).select(col("c_custkey"),
        coord("px", col("c_custkey")).as("x"), coord("py", col("c_custkey")).as("y"))
      val supp = Tables.supplier(s, d).select(col("s_suppkey"),
        coord("qx", col("s_suppkey")).as("sx"), coord("qy", col("s_suppkey")).as("sy"))
      graft.ops.GeoOps.radiusJoinGrid(cust, "x", "y", supp, "sx", "sy", 8L)
        .select(col("c_custkey"), col("s_suppkey"), col("x"), col("y"),
          col("sx"), col("sy"), col("dist2"))
        .orderBy("c_custkey", "s_suppkey")
    }),

    // 2-D skyline (Pareto frontier, minimize both axes) WITHOUT the
    // quadratic dominance self-join and without any global sort: a local
    // skyline per x-stripe prunes in parallel (windowed running min-y),
    // then a one-row-per-stripe prefix-min table broadcasts back to
    // finish cross-stripe dominance — no task ever holds more than one
    // stripe (see GeoOps.skyline2D). The oracle cross-checks with the
    // independent NOT EXISTS dominance formulation.
    "skyline_window" -> ((s, d) => {
      def coord(prefix: String, k: org.apache.spark.sql.Column) =
        TextOps.hash60(concat(lit(prefix), k.cast("string"))) % 1000L
      val pts = Tables.customer(s, d)
        .select(coord("px", col("c_custkey")).as("x"),
          coord("py", col("c_custkey")).as("y"))
        .distinct()
      graft.ops.GeoOps.skyline2D(pts, "x", "y", stripeWidth = 64L)
        .orderBy("x", "y")
    }),

    // Distributed triangle counting over the part co-purchase graph.
    // Edges: distinct (order, part) pairs self-joined per order (bounded
    // fan-out — the basket size caps pairs per order). Orientation: each
    // undirected edge is directed from its (degree, id)-smaller endpoint,
    // the classic trick that (a) counts each triangle exactly once and
    // (b) bounds the wedge join's fan-out by sqrt(m) on skewed graphs —
    // hub nodes get in-edges, not out-edges, so no reducer sees a hub's
    // full neighborhood squared. Three shuffles total (edges, degrees,
    // wedge-close), all equi-joins.
    // Degree assortativity of the co-purchase graph (Newman 2002): do
    // hub parts connect to hubs? Pearson correlation of endpoint degrees
    // over the SYMMETRIZED edge list — symmetry makes Σa=Σb and Σa²=Σb²,
    // so the usual 6-sum formula collapses to 4 exact integer sums and
    // one double ratio (mirrored in the oracle). Degrees join back as
    // equi-joins; nothing pairwise beyond the edges themselves.
    "graph_assortativity" -> ((s, d) => {
      val e = copurchaseEdges(s, d)
      val deg = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
      val pairs = e
        .join(deg.select(col("node").as("u"), col("dg").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("dg").as("dv")), "v")
        .select(col("du").as("a"), col("dv").as("b"))
      pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
        .agg(count(lit(1)).as("m2"), sum("a").as("sa"),
          // DECIMAL(38,0) accumulation mirrors the oracle's HUGEINT: a*b over
          // hub degrees overflows Long well below target scale (ANSI throw).
          sum(col("a").cast("decimal(38,0)") * col("b")).as("sab"),
          sum(col("a").cast("decimal(38,0)") * col("a")).as("saa"))
        .selectExpr("m2 div 2 AS n_edges",
          """CAST(floor(1000.0 * (m2 * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sa)
            | / (m2 * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa)) AS BIGINT)
            | AS assortativity_milli""".stripMargin.replaceAll("\n", " "))
    }),

    "graph_triangles" -> ((s, d) => {
      val e = copurchaseEdges(s, d)
      val oriented = Scratch.materialize("oriented_edges", s, d) {
        val deg = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("dg"))
        val du = deg.select(col("node").as("u"), col("dg").as("du"))
        val dv = deg.select(col("node").as("v"), col("dg").as("dv"))
        e.join(du, "u").join(dv, "v")
          .select(
            when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
              col("u")).otherwise(col("v")).as("src"),
            when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
              col("v")).otherwise(col("u")).as("dst"))
      }
      val o1 = oriented.select(col("src").as("a"), col("dst").as("b"))
      val o2 = oriented.select(col("src").as("b2"), col("dst").as("c"))
      val wedges = o1.join(o2, col("b") === col("b2")).select(col("a"), col("b"), col("c"))
      val closing = oriented.select(col("src").as("a2"), col("dst").as("c2"))
      val tri = wedges.join(closing, col("a") === col("a2") && col("c") === col("c2"))
      val nNodes = oriented
        .select(col("src").as("node")).union(oriented.select(col("dst").as("node")))
        .distinct().agg(count(lit(1)).as("n_nodes"))
      val nEdges = e.agg(count(lit(1)).as("n_edges"))
      val nTri = tri.agg(count(lit(1)).as("n_triangles"))
      nNodes.crossJoin(nEdges).crossJoin(nTri)
    }),

    // Power-law exponent of the degree distribution (the "is this a
    // scale-free hub structure" screen behind the hub caps every graph
    // query here relies on): integer floor-log2 OLS over the top-256
    // nodes by degree — the text_zipf_slope machinery pointed at the
    // graph. Top-k is TakeOrderedAndProject; the rank window runs
    // post-limit on 256 rows.
    "graph_degree_powerlaw" -> ((s, d) => {
      val e = copurchaseEdges(s, d)
      val deg = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
        .orderBy(col("dg").desc, col("node").asc).limit(256)
      val w = Window.partitionBy(graft.ops.Cleaning.singlePartitionKey(col("node")))
        .orderBy(col("dg").desc, col("node").asc)
      deg.withColumn("r", row_number().over(w).cast("long"))
        .select((length(bin(col("r"))) - 1).cast("long").as("x"),
          (length(bin(col("dg"))) - 1).cast("long").as("y"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .selectExpr("n",
          """CAST(floor(1000000.0 * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
            | / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)) AS BIGINT)
            | AS slope_ppm""".stripMargin.replaceAll("\n", " "))
    }),

    // Global clustering coefficient = 3·triangles / wedges ("of all
    // open two-paths, how many close?"). Triangles reuse the SAME
    // degree-oriented edge artifact graph_triangles counts on (no hub
    // sees its neighborhood squared); wedges need NO join at all —
    // Σ d(d−1)/2 over the degree table. Coefficient in exact ppm via
    // integer division.
    "graph_clustering_coeff" -> ((s, d) => {
      val e = copurchaseEdges(s, d)
      val oriented = Scratch.materialize("oriented_edges", s, d) {
        val deg = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("dg"))
        val du = deg.select(col("node").as("u"), col("dg").as("du"))
        val dv = deg.select(col("node").as("v"), col("dg").as("dv"))
        e.join(du, "u").join(dv, "v")
          .select(
            when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
              col("u")).otherwise(col("v")).as("src"),
            when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
              col("v")).otherwise(col("u")).as("dst"))
      }
      val o1 = oriented.select(col("src").as("a"), col("dst").as("b"))
      val o2 = oriented.select(col("src").as("b2"), col("dst").as("c"))
      val tri = o1.join(o2, col("b") === col("b2"))
        .join(oriented.select(col("src").as("a2"), col("dst").as("c2")),
          col("a") === col("a2") && col("c") === col("c2"))
        .agg(count(lit(1)).as("n_triangles"))
      val wedges = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
        .agg(sum(expr("(dg * (dg - 1)) div 2")).as("n_wedges"))
      wedges.crossJoin(broadcast(tri))
        .selectExpr("n_wedges", "n_triangles",
          "(3000000 * n_triangles) div n_wedges AS coeff_ppm")
    }),

    // Modularity of the BRAND partition on the co-purchase graph (Newman
    // Q): do same-brand parts co-occur in orders more than a random graph
    // with the same degrees would predict? Q = e_in/m − Σ_c (D_c/2m)²,
    // kept integer until one floor-scaled ratio: ppm =
    // floor(1e6·(4·m·e_in − ΣD_c²)/(4m²)). Community lookup is a
    // broadcast of the part dimension; everything else is the degree
    // table — no pairwise work beyond the edges themselves.
    "graph_modularity" -> ((s, d) => {
      val e = copurchaseEdges(s, d)
      val brand = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
      val labeled = e
        .join(broadcast(brand.select(col("p_partkey").as("u"), col("p_brand").as("bu"))), "u")
        .join(broadcast(brand.select(col("p_partkey").as("v"), col("p_brand").as("bv"))), "v")
      val m = labeled.agg(count(lit(1)).as("m"),
        sum(when(col("bu") === col("bv"), 1L).otherwise(0L)).as("e_in"))
      val degSq = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .join(broadcast(brand.select(col("p_partkey").as("node"), col("p_brand"))), "node")
        .groupBy("p_brand").agg(count(lit(1)).as("dc"))
        .agg(sum(expr("CAST(dc AS DECIMAL(38,0)) * dc")).as("sum_dc2"),
          count(lit(1)).as("n_communities"))
      m.crossJoin(broadcast(degSq))
        .selectExpr("m", "e_in", "n_communities",
          """CAST(floor(1000000.0 *
            | (4.0 * m * e_in - CAST(sum_dc2 AS DOUBLE))
            | / (4.0 * CAST(m AS DOUBLE) * m)) AS BIGINT) AS modularity_ppm"""
            .stripMargin.replaceAll("\n", " "))
    }),

    // Spark 4 RECURSIVE CTE: breadth-first reachability from the smallest
    // co-purchase node, capped at 3 hops — the transitive-closure shape
    // (bill-of-materials, org charts, escalation chains) that previously
    // required driver-side iteration. The recursion fans out as ordinary
    // joins per step; the depth cap bounds work (max-degree ~23 here, so
    // ≤ 23³ paths). hops = min depth per reached node, n_paths = distinct
    // walks — both exact integers.
    // SQL-surface PIVOT clause (the parser path, not the DataFrame
    // .pivot API that agg_pivot covers): line status pivoted to columns
    // with summed cents. Catalyst lowers it to the same two-phase
    // pivot-aggregate; the oracle spells it as CASE aggregation, which
    // is also exactly what a pre-PIVOT SQL dialect would write.
    "sql_pivot_syntax" -> ((s, d) =>
      s.sql(
        s"""SELECT * FROM (
           |  SELECT l_returnflag, l_linestatus,
           |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           |  FROM parquet.`$d/lineitem.parquet`)
           |PIVOT (SUM(cents) FOR l_linestatus IN ('O' AS o_cents, 'F' AS f_cents))
           |ORDER BY l_returnflag""".stripMargin)),

    "sql_recursive_cte" -> ((s, d) => {
      // the recursion re-reads the edge relation once PER STEP, so it
      // must come from the persisted co-purchase cache (via a temp view),
      // not a CTE the planner would re-derive from the self-join each
      // iteration; symmetrized here because BFS walks both directions.
      // r17 (guide §6): the symmetrization itself is ALSO per-step work —
      // the view unioned two scans of the edge artifact, so every
      // UnionLoop iteration planned and ran 2 scans + a union. The
      // symmetric edge list is scratch-materialized once (same ledger as
      // the edges), making each recursion step one plain parquet scan.
      Scratch.materialize("copurchase_sym", s, d) {
        val e = copurchaseEdges(s, d)
        e.select(col("u"), col("v"))
          .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      }.createOrReplaceTempView("graft_copurchase_sym")
      s.sql(
        """WITH RECURSIVE
          |seed AS (SELECT CAST(MIN(u) AS BIGINT) AS s
          |  FROM graft_copurchase_sym),
          |walk(node, depth) AS (
          |  SELECT s AS node, 0 AS depth FROM seed
          |  UNION ALL
          |  SELECT e.v AS node, w.depth + 1 AS depth
          |  FROM walk w JOIN graft_copurchase_sym e ON e.u = w.node
          |  WHERE w.depth < 3)
          |SELECT node, CAST(MIN(depth) AS BIGINT) AS hops,
          |  COUNT(*) AS n_paths
          |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin)
    }),

    // k-core peeling (k=2, two fixed rounds) over the co-purchase graph —
    // the iterative degree-prune every graph-cleaning pipeline runs before
    // expensive analytics (nodes that can't be in a 2-core never close a
    // triangle). Each round is one degree hash-agg + two semi-equi-joins
    // filtering the symmetric edge list; fixed iteration count keeps it a
    // static plan that any engine reproduces (a to-convergence loop would
    // iterate the same plan driver-side). Output: surviving nodes with
    // post-peel degrees.
    // LABEL-PROPAGATION COMMUNITIES (3 synchronous rounds, deterministic):
    // every node starts as its own label; each round it adopts the label
    // most frequent among its neighbors, ties broken by the SMALLEST
    // label — so the fixed 3-round unroll is bit-stable on any engine
    // (synchronous LPA can oscillate, which is exactly why the round
    // count is part of the operator's definition here). Per round: one
    // equi-join of the symmetrized edges with the label table + a
    // rank-1-per-node window (WindowGroupLimit-prunable) — 3 bounded
    // shuffles total, never an iteration-until-convergence driver loop.
    // The community histogram is the modularity-pipeline input.
    "graph_lpa_communities" -> ((s, d) => {
      // materialize the edge artifact BEFORE entering the lpa_sym build:
      // a Scratch.materialize call inside another's mapping function is a
      // nested ConcurrentHashMap.computeIfAbsent on the same map, which
      // throws "Recursive update" when the two keys share a hash bin
      // (caught as a flaky full-suite failure in r9)
      val e = copurchaseEdges(s, d)
      val sym = Scratch.materialize("lpa_sym", s, d) {
        e.select(col("u"), col("v"))
          .union(e.select(col("v").as("u"), col("u").as("v")))
      }
      def propagate(labels: DataFrame): DataFrame = {
        val w = Window.partitionBy("node").orderBy(col("c").desc, col("lbl").asc)
        sym.join(labels.withColumnRenamed("node", "v"), "v")
          .groupBy(col("u").as("node"), col("lbl"))
          .agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("node", "lbl")
      }
      val l0 = sym.select(col("u").as("node")).distinct()
        .withColumn("lbl", col("node"))
      val l3 = (1 to 3).foldLeft(l0)((l, _) => propagate(l))
      l3.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"), min("node").as("min_node"),
          max("node").as("max_node"))
        .orderBy("community")
    }),

    "graph_kcore_peel" -> ((s, d) => {
      val e = copurchaseEdges(s, d)
      val sym = e.select(col("u"), col("v"))
        .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      def peel(edges: DataFrame): DataFrame = {
        val keep = edges.groupBy("u").agg(count(lit(1)).as("dg"))
          .filter(col("dg") >= 2).select("u")
        edges.join(keep, Seq("u"), "left_semi")
          .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
      }
      // each peel consumes its input THREE times (degree agg + two semi
      // joins), so round 1's output must be materialized or round 2
      // re-executes it per consumer — the iterate-then-persist discipline
      // every multi-round graph loop needs (round 0 reads the already-
      // persisted copurchase edges)
      val round1 = Scratch.materialize("kcore_round1", s, d) { peel(sym) }
      peel(round1)
        .groupBy("u").agg(count(lit(1)).as("degree"))
        .orderBy("u")
    }),

    // Gap-based sessionization in batch: the canonical lag + running-sum
    // session-id assignment, then per-session stats. One shuffle on
    // user_id serves both windows AND the final aggregation (same key),
    // so the whole query is a single exchange at any scale. Durations in
    // exact integer milliseconds.
    "events_sessionize_gap" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          expr("CAST(round(value * 100) AS BIGINT)").as("value_c"))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000, 1L)
            .otherwise(0L))
        .withColumn("sess_seq", sum("new_sess").over(w))
        .groupBy("user_id", "sess_seq")
        .agg(count(lit(1)).as("n_events"),
          ((max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))) / 1000L)
            .cast("long").as("duration_ms"),
          sum("value_c").as("value_cents"))
        .orderBy("user_id", "sess_seq")
    }),

    // COMMON-NEIGHBOR link-prediction scoring over the co-purchase graph —
    // the positive-scoring complement to graph_negative_samples (together
    // they are the training set for a link predictor). Candidate pairs are
    // wedges a-mid-c; the quadratic hazard is hub middles (deg(mid)^2
    // wedges), so middles above a degree cap are banned BEFORE the wedge
    // join — the graph analogue of dedup_minhash_capped's hot-band ban,
    // bounding work at n_mid * cap^2. Real edges leave via LeftAnti on the
    // normalized pair; the neighborhood-Jaccard score 1000*cn div
    // (deg(a)+deg(c)-cn) is exact integer; top-20 by (score, pair) is a
    // TakeOrderedAndProject, never a global sort.
    "graph_common_neighbors" -> ((s, d) => {
      val e = copurchaseEdges(s, d)
      val sym = e.select(col("u"), col("v"))
        .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("dg"))
      val mids = deg.filter(col("dg") <= 16).select(col("node").as("m"))
      val s1 = sym.join(mids, col("u") === col("m"))
        .select(col("u").as("mid"), col("v").as("a"))
      val s2 = sym.select(col("u").as("mid2"), col("v").as("c"))
      val cn = s1.join(s2, col("mid") === col("mid2") && col("a") < col("c"))
        .groupBy("a", "c").agg(count(lit(1)).as("cn"))
      val nonEdge = cn.join(e,
        cn("a") === e("u") && cn("c") === e("v"), "left_anti")
      val da = deg.select(col("node").as("a2"), col("dg").as("da"))
      val dc = deg.select(col("node").as("c2"), col("dg").as("dc"))
      nonEdge.join(da, col("a") === col("a2")).join(dc, col("c") === col("c2"))
        .select(col("a"), col("c"), col("cn"),
          expr("1000 * cn div (da + dc - cn)").as("jaccard_milli"))
        .orderBy(col("jaccard_milli").desc, col("a"), col("c"))
        .limit(20)
    }),

    // Count-min sketch with its error bound proven IN the correctness
    // gate (same discipline as agg_approx_distinct / agg_approx_percentile):
    // the sketch is built distributedly (associative partial merges — the
    // mergeable-summaries property is exactly why CMS works at 100 TB),
    // only the KB-sized sketch and the low-cardinality exact table reach
    // the driver, and the output row per key carries the exact count plus
    // a within_bound boolean (est ≥ exact ∧ est ≤ exact + ε·N, fixed
    // seed). The oracle recomputes the exact side and pins the bound true.
    "agg_count_min" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val exact = ev.groupBy("event_type").agg(count(lit(1)).as("exact_n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      val total = exact.map(_._2).sum
      val cms = ev.stat.countMinSketch("event_type", 0.001, 0.99, 42)
      val rows = exact.map { case (k, n) =>
        val est = cms.estimateCount(k)
        (k, n, est >= n && est <= n + (0.001 * total).ceil.toLong)
      }
      rows.toSeq.toDF("event_type", "exact_n", "within_bound")
        .orderBy("event_type")
    }),

    // Mergeable HLL sketches (Apache DataSketches via Spark's
    // hll_sketch_agg family): per-group sketches built in one pass, then
    // UNIONED to a global estimate WITHOUT touching the raw data again —
    // the property that makes sketch stores work at 100 TB (pre-aggregate
    // per partition/day, merge on demand). Error bound proven in-gate:
    // each row carries the exact distinct count and a within-5% boolean
    // for the sketch estimate (lgK=14 ⇒ ~0.8% typical error).
    "agg_hll_union" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val perGroup = li.groupBy("l_returnflag")
        .agg(expr("hll_sketch_agg(l_partkey, 14)").as("sk"))
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("exact_n"))
      val g = perGroup.join(exact, "l_returnflag")
        .select(col("l_returnflag").as("grp"), col("exact_n"),
          expr("hll_sketch_estimate(sk)").as("est"))
      val all = perGroup.agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
        .crossJoin(li.agg(countDistinct("l_partkey").as("exact_n")))
        .select(lit("ALL").as("grp"), col("exact_n"), col("est"))
      g.union(all)
        .select(col("grp"), col("exact_n"),
          (abs(col("est") - col("exact_n")) <= col("exact_n") * 0.05).as("within_5pct"))
        .orderBy("grp")
    }),

    // NEGATIVE SAMPLING over the co-purchase graph — the link-prediction
    // training-data op: for every node, deterministic pseudo-random
    // candidate partners (engine-portable hash → dense node rank), NON-
    // edges kept via an anti-join against the real edge set, first 2
    // valid tries per node. Zero RNG state: rerun-stable, add-only-safe,
    // and the oracle reproduces every sample bit-for-bit. Scale: node
    // ranking is a dimension-sized bounded window (constant non-foldable
    // partition key, same discipline as the post-limit rank windows);
    // candidate generation is map work + one broadcast-sized join back on
    // rank; the anti-join shuffles on the normalized pair key.
    "graph_negative_samples" -> ((s, d) => {
      val edges = copurchaseEdges(s, d)
      val nodes = edges.select(col("u").as("node"))
        .union(edges.select(col("v").as("node"))).distinct()
      val wR = Window.partitionBy(graft.ops.Cleaning.singlePartitionKey(col("node")))
        .orderBy("node")
      val ranked = nodes.withColumn("r", row_number().over(wR).cast("long") - 1L)
      val nNodes = ranked.agg(count(lit(1)).as("n_nodes"))
      val tries = ranked.select(col("node").as("samp_u"))
        .crossJoin(broadcast(nNodes))
        .select(col("samp_u"), col("n_nodes"),
          explode(expr("sequence(0, 5)")).as("try_i"))
        .withColumn("cand_r",
          graft.ops.TextOps.hash60(concat_ws(":", col("samp_u"), col("try_i")))
            % col("n_nodes"))
      val withV = tries.join(broadcast(ranked.select(col("r").as("cand_r"),
          col("node").as("samp_v"))), "cand_r")
        .filter(col("samp_v") =!= col("samp_u"))
      val nonEdges = withV.join(edges,
          least(col("samp_u"), col("samp_v")) === col("u") &&
            greatest(col("samp_u"), col("samp_v")) === col("v"), "left_anti")
      val wK = Window.partitionBy("samp_u").orderBy("try_i")
      nonEdges.withColumn("pick", row_number().over(wK))
        .filter(col("pick") <= 2)
        .select(col("samp_u").as("u"), col("samp_v").as("neg_v"),
          col("try_i").cast("long").as("try_i"), col("pick").cast("long").as("pick"))
        .orderBy("u", "pick")
    }),

    // Misra-Gries heavy-hitter sketch ([[graft.functions.MisraGries]], a
    // native TypedImperativeAggregate) with its guarantees proven in the
    // gate: k=128 counters over the 150-user event stream, so the
    // compress path genuinely fires (the buffer overflows) while the
    // deterministic bounds hold for ANY merge order: est ≤ exact,
    // est ≥ exact − n/(k+1), and every key heavier than n/(k+1) is
    // guaranteed tracked. Only the O(k) summary crosses the merge tree —
    // the sketch the 100-TB "top talkers" pass ships instead of a full
    // groupBy when cardinality explodes.
    "agg_misra_gries" -> ((s, d) => {
      import org.apache.spark.sql.GraftSqlBridge.{toColumn, toExpression}
      val kCounters = 128
      val ev = Tables.events(s, d)
      val mgCol = toColumn(graft.functions.MisraGries(
        toExpression(col("user_id").cast("string")), kCounters).toAggregateExpression())
      val entries = ev.agg(mgCol.as("mg"))
        .select(explode(col("mg")).as("e"))
        .select(col("e.key").as("key"), col("e.est").as("est"))
      val exact = ev.groupBy(col("user_id").cast("string").as("key"))
        .agg(count(lit(1)).as("exact_n"))
      val tot = ev.agg(count(lit(1)).as("total_n"))
      exact.join(broadcast(entries), Seq("key"), "left")
        .crossJoin(broadcast(tot))
        .select(col("key").cast("long").as("user_id"), col("exact_n"),
          (coalesce(col("est"), lit(0L)) <= col("exact_n") &&
            coalesce(col("est"), lit(0L)) >=
              col("exact_n") - (col("total_n") / (kCounters + 1)).cast("long") - 1L)
            .as("within_bound"),
          (col("exact_n") <= (col("total_n") / (kCounters + 1)).cast("long") ||
            coalesce(col("est"), lit(0L)) > 0L).as("tracked_if_heavy"))
        .orderBy("user_id")
    }),

    // Int8 scalar quantization of the embedding corpus — the standard
    // 4× memory compression before ANN serving. Per vector: symmetric
    // scale = max|v|/127, quantize, and emit (a) the integer checksum of
    // the quantized codes — proving the oracle quantizes to the SAME
    // codes — and (b) a reconstruction-error bound (≤ half a step). All
    // HOF map work, no shuffle, no UDF.
    "ann_quantize_int8" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("sc",
          expr("aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x))) / 127"))
        .select(col("vec_id"),
          expr("CAST(size(v) AS BIGINT)").as("dim"),
          expr("CASE WHEN sc = 0 THEN 0 ELSE aggregate(v, 0L, (acc, x) -> acc + CAST(round(x / sc) AS LONG)) END")
            .as("q_sum"),
          expr("CASE WHEN sc = 0 THEN true ELSE aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(round(x / sc) * sc - x))) <= sc * 0.5000001 END")
            .as("within_half_step"))
        .orderBy("vec_id")),

    // Two power iterations of PageRank over the co-purchase graph
    // (undirected → both directions), in PURE INTEGER arithmetic: each
    // node starts at 1e6 ppm, contributions are rank div degree, and the
    // damping step is (85 · Σcontrib) div 100 + 150000 — so the sums are
    // addition-order-independent and the oracle matches bit-for-bit. The
    // iteration is the standard join-aggregate: adj ⋈ ranks on src,
    // hash-agg on dst — one shuffle per iteration at any scale, the same
    // plan Pregel-style engines lower to.
    "pagerank_iter" -> ((s, d) => {
      val e = copurchaseEdges(s, d)
      val adj = Scratch.materialize("pagerank_adj", s, d) {
        e.select(col("u").as("src"), col("v").as("dst"))
          .union(e.select(col("v").as("src"), col("u").as("dst")))
      }
      val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
      def step(ranks: DataFrame): DataFrame =
        adj.join(ranks, "src").join(deg, "src")
          .select(col("dst").as("node"), expr("r div deg").as("contrib"))
          .groupBy("node")
          .agg(expr("150000 + (85 * sum(contrib)) div 100").as("r"))
          .select(col("node").as("src"), col("r"))
      val r0 = deg.select(col("src"), lit(1000000L).as("r"))
      val r2 = step(step(r0))
      r2.select(col("src").as("node"), col("r").as("rank_ppm"))
        .orderBy(col("rank_ppm").desc, col("node").asc)
        .limit(20)
    }),

    // Daily activity spine with forward fill — the time-series gap-fill
    // every metrics pipeline runs. The spine is generated per user from
    // its own [min, max] date range (sequence + explode: distributed, no
    // driver-side calendar), outer-joined to the daily aggregate, and the
    // carried-forward value is last(ignore-nulls) over the date window.
    // One shuffle on user_id serves the aggregate, the spine join AND the
    // fill window.
    "time_gap_fill" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("value_cents"))
      val spine = daily.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("filled_cents",
          last(col("value_cents"), ignoreNulls = true).over(w))
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("value_cents"), lit(0L)).as("value_cents"),
          col("filled_cents"))
        .orderBy("user_id", "day")
    }),

    // LINEAR interpolation of missing hourly points — the numeric
    // complement to time_gap_fill's carry-forward (sensor/metric series
    // want a slope, not a step). Spine join as in time_gap_fill; the
    // surrounding observed values+times come from two frames over ONE
    // exchange on event_type (carry-forward last, carry-backward first,
    // both ignoreNulls), and the interpolated value is the exact integer
    // pv + (nv-pv)*(t-pt) div (nt-pt) over epoch micros — floor division
    // of identical rationals on both engines, no float slope.
    "time_linear_interp" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      val spine = hourly.groupBy("event_type")
        .agg(min("hr").as("h0"), max("hr").as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hr"))
      val w = Window.partitionBy("event_type").orderBy("hr")
      val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(hourly, Seq("event_type", "hr"), "left")
        .withColumn("t", unix_micros(col("hr")))
        .withColumn("pv", last(col("cents"), ignoreNulls = true).over(wPrev))
        .withColumn("pt",
          last(when(col("cents").isNotNull, col("t")), ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("cents"), ignoreNulls = true).over(wNext))
        .withColumn("nt",
          first(when(col("cents").isNotNull, col("t")), ignoreNulls = true).over(wNext))
        .select(col("event_type"),
          date_format(col("hr"), "yyyy-MM-dd HH:mm").as("hr"),
          col("cents").isNotNull.as("observed"),
          when(col("cents").isNotNull, col("cents"))
            .otherwise(expr("pv + (nv - pv) * (t - pt) div (nt - pt)"))
            .as("interp_cents"))
        .orderBy("event_type", "hr")
    }),

    // Schema-evolution read: two parquet batches written with DIFFERENT
    // schemas (the later one adds a column) land in one dataset directory;
    // mergeSchema unions the schemas at read time and nulls the missing
    // column in old batches — the lake-ingest reality every long-lived
    // pipeline hits. The aggregate proves old rows carry NULL and new rows
    // carry data. Footer merging is distributed; nothing driver-side.
    "scan_merge_schema" -> ((s, d) => {
      val base = mergeSchemaDirs.getOrElseUpdate((s, d), {
        val b = s"${sys.props("java.io.tmpdir")}/graft-scratch-$runNonce/merge_schema_${(d.hashCode & 0xffffff).toHexString}"
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
        o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "price_cents")
          .write.mode(SaveMode.Overwrite).parquet(s"$b/batch=v1")
        o.filter(col("o_orderkey") % 2 === 1)
          .write.mode(SaveMode.Overwrite).parquet(s"$b/batch=v2")
        b
      })
      s.read.option("mergeSchema", "true").parquet(base)
        .groupBy("batch")
        .agg(count(lit(1)).as("n"),
          sum("price_cents").as("price_cents_sum"),
          count(col("o_orderstatus")).as("n_with_status"))
        .orderBy("batch")
    }),

    // Token-distribution Shannon entropy per document (boilerplate/spam
    // signal: low entropy = repeated tokens). Two hash aggregations —
    // (doc, token) counts, then per-doc fold. Each term's contribution is
    // rounded to integer micro-nats BEFORE the per-doc sum, so the sum is
    // addition-order-independent and hashes identically in both engines.
    "text_entropy" -> ((s, d) => {
      val tc = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val wn = Window.partitionBy("doc_id")
      tc.withColumn("n", sum("c").over(wn))
        .select(col("doc_id"), col("n"),
          expr("CAST(round((CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c) * 1e6) AS BIGINT)")
            .as("contrib_micro"))
        .groupBy("doc_id")
        .agg(max("n").cast("long").as("n_tokens"),
          sum("contrib_micro").as("entropy_micronats"))
        .orderBy("doc_id")
    }),

    // TF-IDF top-3 terms per document. df comes from one hash agg over
    // the (doc, term) relation; N arrives as a broadcast 1-row aggregate
    // (no driver round-trip); idf is integer-scaled micro-nats so the
    // tf·idf score and its ordering are engine-portable. The per-doc
    // top-3 is a WindowGroupLimit-prunable row_number.
    "text_tfidf_top" -> ((s, d) => {
      val tc = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df_ = tc.groupBy("tok").agg(count(lit(1)).as("df"))
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("tok").asc)
      tc.join(df_, "tok")
        .crossJoin(broadcast(nDocs))
        .withColumn("idf_micro",
          expr("CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 1e6) AS BIGINT)"))
        .withColumn("score", col("tf") * col("idf_micro"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("tok"), col("tf"), col("df"), col("score"))
        .orderBy("doc_id", "rnk")
    }),

    // TPC-H Q2 (minimum-cost supplier) over the derived partsupp. The
    // region-filtered supplier dim is tiny (broadcast); the min-cost-per-
    // part arrives by re-aggregating the candidate relation and equi-
    // joining back — the candidate set is persisted so the derived-ps
    // subplan runs once, and the "min per group then keep the argmin rows"
    // shape stays two hash shuffles (no window over the whole fact). The
    // final total order is unique (s_name and p_partkey break all ties),
    // so the LIMIT boundary is deterministic in both engines.
    "tpch_q2" -> ((s, d) => {
      val p = Tables.part(s, d)
        .filter(col("p_type") === "LARGE" && col("p_size") <= 15)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).filter(col("r_name") === "EUROPE")
      val eur = Tables.supplier(s, d)
        .join(broadcast(n.join(r, n("n_regionkey") === r("r_regionkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val cand = Scratch.materialize("q2_cand", s, d) {
        partsupp(s, d)
          .join(p, col("ps_partkey") === col("p_partkey"))
          .join(eur, col("ps_suppkey") === col("s_suppkey"))
          .select(col("p_partkey"), col("p_name"), col("s_name"),
            col("s_acctbal"), col("n_name"), col("ps_supplycost_cents"))
      }
      val minCost = cand.groupBy(col("p_partkey").as("mk"))
        .agg(min("ps_supplycost_cents").as("min_cost"))
      cand.join(minCost,
          col("p_partkey") === col("mk") &&
            col("ps_supplycost_cents") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("ps_supplycost_cents"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q11 (important stock) over the derived partsupp: per-part
    // inventory value for one nation's suppliers, kept when above 0.1% of
    // that nation's total. The total is a broadcast 1-row aggregate and
    // the threshold compares integers (value·1000 > total) so no float
    // division can flip a row near the boundary. The per-part aggregate is
    // persisted because it feeds both the total and the filter — same
    // two-consumers-of-one-subplan discipline as tpch_q15.
    "tpch_q11" -> ((s, d) => {
      val nat = Tables.nation(s, d).filter(col("n_name") === "NATION_7")
      val byPart = Scratch.materialize("q11_bypart", s, d) {
        partsupp(s, d)
          .join(Tables.supplier(s, d), col("ps_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("ps_partkey"))
          .agg(sum(col("ps_supplycost_cents") * col("ps_availqty")).as("value_cents"))
      }
      val tot = byPart.agg(sum("value_cents").as("tot"))
      byPart.crossJoin(broadcast(tot))
        .filter(col("value_cents") * 1000 > col("tot"))
        .select(col("ps_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("ps_partkey"))
    }),

    // TPC-H Q16 (parts/supplier relationship) over the derived partsupp:
    // distinct supplier counts per (brand, type, size) bucket, excluding
    // one brand, one type family, and "complaint" suppliers — adapted to
    // the schema subset as negative account balance, excluded with a hash
    // anti join (the reference's NOT IN subquery shape). countDistinct
    // expands to the standard two-phase partial aggregate, so the heavy
    // (bucket, supplier) dedup happens map-side before the shuffle.
    "tpch_q16" -> ((s, d) => {
      val p = Tables.part(s, d).filter(
        col("p_brand") =!= "Brand#45" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
      val complaints = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
      partsupp(s, d)
        .join(complaints, col("ps_suppkey") === col("s_suppkey"), "left_anti")
        .join(p, col("ps_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // TPC-H Q20 (potential part promotion) over the derived partsupp:
    // suppliers of "small"-named parts whose lifetime availqty exceeds
    // twice what they shipped of that part in 1996 (the reference's
    // availqty > 0.5·year-demand becomes a >2× lifetime/year ratio — the
    // discriminating version when availqty is itself derived from
    // shipments). Two semi joins: parts gate the pairs, qualifying pairs
    // gate the suppliers — nothing wider than the supplier dim ever
    // leaves the join, and the year aggregate shuffles on the same
    // (part, supplier) key as the derived ps.
    "tpch_q20" -> ((s, d) => {
      val qualParts = Tables.part(s, d)
        .filter(col("p_name").startsWith("small")).select(col("p_partkey"))
      val shipped96 = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
        .groupBy(col("l_partkey").as("sp"), col("l_suppkey").as("ss"))
        .agg(sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("qty_1996"))
      val cand = partsupp(s, d)
        .join(qualParts, col("ps_partkey") === col("p_partkey"), "left_semi")
        .join(shipped96, col("ps_partkey") === col("sp") && col("ps_suppkey") === col("ss"))
        .filter(col("ps_availqty") > col("qty_1996") * 2)
      val nat = Tables.nation(s, d)
        .filter(col("n_name").isin("NATION_3", "NATION_4", "NATION_5"))
      Tables.supplier(s, d)
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(cand, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    }),
  )

  // Shared oracle CTE for the derived partsupp — byte-identical semantics
  // to `partsupp(s, d)` above, so DuckDB rebuilds the same relation.
  private val psCte =
    """WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS ps_availqty,
      |    CAST(MIN(CAST(round(l_extendedprice / l_quantity * 100) AS BIGINT)) AS BIGINT)
      |      AS ps_supplycost_cents
      |  FROM lineitem GROUP BY 1, 2)""".stripMargin

  val oracle: Map[String, String] = Map(
    // The oracle uses the DIRECT range join — DuckDB's IEJoin handles it —
    // so the hash match proves the bucket-replicated form is semantically
    // identical to the naive interval join.
    "join_interval_bucketed" ->
      """WITH win AS (SELECT o_orderkey AS w_id, o_orderdate AS w_start,
        |    o_orderdate + INTERVAL 3 DAY AS w_end
        |  FROM orders WHERE o_orderkey % 500 = 0)
        |SELECT w_id, COUNT(*) AS n_hits,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM win JOIN lineitem
        |  ON l_shipdate >= w_start AND l_shipdate <= w_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "skyline_window" ->
      """WITH pts AS (SELECT DISTINCT
        |    ('0x'||substr(md5('px'||CAST(c_custkey AS VARCHAR)),1,15))::BIGINT % 1000 AS x,
        |    ('0x'||substr(md5('py'||CAST(c_custkey AS VARCHAR)),1,15))::BIGINT % 1000 AS y
        |  FROM customer)
        |SELECT x, y FROM pts p
        |WHERE NOT EXISTS (SELECT 1 FROM pts q
        |  WHERE q.x <= p.x AND q.y <= p.y AND (q.x < p.x OR q.y < p.y))
        |ORDER BY x, y""".stripMargin,
    // Oracle uses the naive distance-predicate join — fine at sf0.01 and
    // exactly what the grid bucketing must reproduce.
    "join_grid_spatial" ->
      """WITH cust AS (SELECT c_custkey,
        |    ('0x'||substr(md5('px'||CAST(c_custkey AS VARCHAR)),1,15))::BIGINT % 1000 AS x,
        |    ('0x'||substr(md5('py'||CAST(c_custkey AS VARCHAR)),1,15))::BIGINT % 1000 AS y
        |  FROM customer),
        |supp AS (SELECT s_suppkey,
        |    ('0x'||substr(md5('qx'||CAST(s_suppkey AS VARCHAR)),1,15))::BIGINT % 1000 AS sx,
        |    ('0x'||substr(md5('qy'||CAST(s_suppkey AS VARCHAR)),1,15))::BIGINT % 1000 AS sy
        |  FROM supplier)
        |SELECT c_custkey, s_suppkey, x, y, sx, sy,
        |  (x-sx)*(x-sx) + (y-sy)*(y-sy) AS dist2
        |FROM cust JOIN supp
        |  ON (x-sx)*(x-sx) + (y-sy)*(y-sy) <= 64
        |ORDER BY c_custkey, s_suppkey""".stripMargin,
    "tpch_q6" ->
      """SELECT
        |  CAST(SUM(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |  AND l_discount >= 0.04 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,

    "tpch_q10" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_cents DESC, c_custkey ASC LIMIT 20""".stripMargin,

    "tpch_q14" ->
      """WITH m AS (SELECT p_type,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS disc_c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= DATE '1996-09-01' AND l_shipdate < DATE '1996-10-01')
        |SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN disc_c ELSE 0 END) AS BIGINT) AS promo_cents,
        |  CAST(SUM(disc_c) AS BIGINT) AS total_cents,
        |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN disc_c ELSE 0 END) * 1000
        |    // SUM(disc_c) AS BIGINT) AS promo_permille
        |FROM m""".stripMargin,

    "tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "tpch_q8" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
        |    THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS nation_cents,
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
        |    THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |    ELSE 0 END) * 1000
        |    // SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |    AS BIGINT) AS share_permille
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE p_type = 'STANDARD' AND r_name = 'AMERICA'
        |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "tpch_q13" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "tpch_q15" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |      AS total_rev_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev_cents
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev_cents = (SELECT MAX(total_rev_cents) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "tpch_q17" ->
      """WITH avgq AS (SELECT l_partkey AS ap, SUM(l_quantity) / COUNT(*) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        |  COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) // 7 AS BIGINT)
        |    AS avg_yearly_cents
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN avgq ON l_partkey = ap
        |WHERE p_brand = 'Brand#23' AND l_quantity < avg_qty * 0.2""".stripMargin,

    "tpch_q4" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "tpch_q9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(round((l_extendedprice * (1 - l_discount)
        |    - p_retailprice * l_quantity * 0.1) * 100) AS BIGINT)) AS BIGINT)
        |    AS profit_cents
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,

    "tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "tpch_q19" ->
      """SELECT
        |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |    AS BIGINT) AS revenue_cents,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "tpch_q21" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY numwait DESC, s_name""".stripMargin,

    "tpch_q22" ->
      """WITH cust AS (SELECT c_custkey, c_nationkey, c_acctbal,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer WHERE c_nationkey <= 6),
        |thr AS (SELECT CAST(SUM(bal_cents) AS BIGINT) AS tot, COUNT(*) AS n
        |  FROM cust WHERE c_acctbal > 0)
        |SELECT CAST(c_nationkey AS BIGINT) AS cntrycode, COUNT(*) AS numcust,
        |  CAST(SUM(bal_cents) AS BIGINT) AS totacctbal_cents
        |FROM cust, thr
        |WHERE bal_cents * n > tot
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // oracle joins the raw table against the same literal dim — pruning
    // must be invisible in the result
    "join_dpp" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders
        |JOIN (SELECT pri FROM (VALUES
        |        ('1-URGENT', 'hot'), ('2-HIGH', 'hot'), ('3-MEDIUM', 'warm'),
        |        ('4-NOT SPECIFIED', 'cold'), ('5-LOW', 'cold')) t(pri, urgency_class)
        |      WHERE urgency_class = 'hot') d
        |  ON o_orderpriority = pri
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sql_pivot_syntax" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS BIGINT) AS o_cents,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS BIGINT) AS f_cents
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "sql_recursive_cte" ->
      """WITH RECURSIVE
        |po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_quantity >= 40),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM po a JOIN po b ON a.o = b.o AND a.p <> b.p),
        |seed AS (SELECT CAST(MIN(u) AS BIGINT) AS s FROM e),
        |walk(node, depth) AS (
        |  SELECT s AS node, 0 AS depth FROM seed
        |  UNION ALL
        |  SELECT e.v AS node, w.depth + 1 AS depth
        |  FROM walk w JOIN e ON e.u = w.node WHERE w.depth < 3)
        |SELECT node, CAST(MIN(depth) AS BIGINT) AS hops,
        |  COUNT(*) AS n_paths
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,
    "graph_degree_powerlaw" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_quantity >= 40),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT node, COUNT(*) AS dg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1
        |  ORDER BY dg DESC, node LIMIT 256),
        |ranked AS (SELECT dg, row_number() OVER (ORDER BY dg DESC, node) AS r FROM deg),
        |xy AS (SELECT CAST(length(bin(r)) - 1 AS BIGINT) AS x,
        |    CAST(length(bin(dg)) - 1 AS BIGINT) AS y FROM ranked),
        |agg AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM xy)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(floor(1000000.0 * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
        |    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)) AS BIGINT)
        |    AS slope_ppm
        |FROM agg""".stripMargin,
    "graph_modularity" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_quantity >= 40),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
        |lab AS (SELECT u, v, pu.p_brand AS bu, pv.p_brand AS bv
        |  FROM e JOIN part pu ON e.u = pu.p_partkey
        |         JOIN part pv ON e.v = pv.p_partkey),
        |m AS (SELECT COUNT(*) AS m,
        |    SUM(CASE WHEN bu = bv THEN 1 ELSE 0 END) AS e_in FROM lab),
        |dg AS (SELECT p_brand, COUNT(*) AS dc FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) n
        |  JOIN part ON n.node = part.p_partkey GROUP BY 1),
        |sq AS (SELECT SUM(dc::HUGEINT * dc) AS sum_dc2,
        |    COUNT(*) AS n_communities FROM dg)
        |SELECT CAST(m AS BIGINT) AS m, CAST(e_in AS BIGINT) AS e_in,
        |  CAST(n_communities AS BIGINT) AS n_communities,
        |  CAST(floor(1000000.0 *
        |    (4.0 * m * e_in - CAST(sum_dc2 AS DOUBLE))
        |    / (4.0 * CAST(m AS DOUBLE) * m)) AS BIGINT) AS modularity_ppm
        |FROM m CROSS JOIN sq""".stripMargin,
    "graph_clustering_coeff" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_quantity >= 40),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT node, COUNT(*) AS dg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |o AS (SELECT CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
        |        THEN e.u ELSE e.v END AS src,
        |      CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
        |        THEN e.v ELSE e.u END AS dst
        |  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
        |tri AS (SELECT COUNT(*) AS n_triangles FROM o o1
        |  JOIN o o2 ON o1.dst = o2.src
        |  JOIN o o3 ON o3.src = o1.src AND o3.dst = o2.dst),
        |w AS (SELECT SUM((dg * (dg - 1)) // 2) AS n_wedges FROM deg)
        |SELECT CAST(n_wedges AS BIGINT) AS n_wedges,
        |  CAST(n_triangles AS BIGINT) AS n_triangles,
        |  CAST((3000000 * n_triangles) // n_wedges AS BIGINT) AS coeff_ppm
        |FROM w CROSS JOIN tri""".stripMargin,
    "graph_assortativity" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_quantity >= 40),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT node, COUNT(*) AS dg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |pairs AS (SELECT du.dg AS a, dv.dg AS b
        |  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
        |sym AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
        |agg AS (SELECT COUNT(*) AS m2, SUM(a) AS sa,
        |    SUM(a::HUGEINT * b) AS sab, SUM(a::HUGEINT * a) AS saa FROM sym)
        |SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
        |  CAST(floor(1000.0 * (m2 * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sa)
        |    / (m2 * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa)) AS BIGINT)
        |    AS assortativity_milli
        |FROM agg""".stripMargin,
    "graph_lpa_communities" -> {
      def round(i: Int): String =
        s"""r$i AS (SELECT node, lbl FROM (
           |    SELECT s0.u AS node, l.lbl, COUNT(*) AS c,
           |      row_number() OVER (PARTITION BY s0.u
           |        ORDER BY COUNT(*) DESC, l.lbl) AS rn
           |    FROM s0 JOIN r${i - 1} l ON s0.v = l.node
           |    GROUP BY 1, 2) t WHERE rn = 1)""".stripMargin
      s"""WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |  FROM lineitem WHERE l_quantity >= 40),
         |e AS (SELECT DISTINCT a.p AS u, b.p AS v
         |  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
         |s0 AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         |r0 AS (SELECT DISTINCT u AS node, u AS lbl FROM s0),
         |${(1 to 3).map(round).mkString(",\n")}
         |SELECT lbl AS community, COUNT(*) AS n_members,
         |  MIN(node) AS min_node, MAX(node) AS max_node
         |FROM r3 GROUP BY 1 ORDER BY community""".stripMargin
    },
    "graph_kcore_peel" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |      FROM lineitem WHERE l_quantity >= 40),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |      FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
        |s0 AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |k1 AS (SELECT u FROM s0 GROUP BY 1 HAVING COUNT(*) >= 2),
        |s1 AS (SELECT s0.u, s0.v FROM s0
        |  WHERE s0.u IN (SELECT u FROM k1) AND s0.v IN (SELECT u FROM k1)),
        |k2 AS (SELECT u FROM s1 GROUP BY 1 HAVING COUNT(*) >= 2),
        |s2 AS (SELECT s1.u, s1.v FROM s1
        |  WHERE s1.u IN (SELECT u FROM k2) AND s1.v IN (SELECT u FROM k2))
        |SELECT u, COUNT(*) AS degree FROM s2 GROUP BY 1 ORDER BY 1""".stripMargin,
    "graph_triangles" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |      FROM lineitem WHERE l_quantity >= 40),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |      FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT node, COUNT(*) AS dg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        |  GROUP BY 1),
        |o AS (SELECT
        |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
        |         THEN e.u ELSE e.v END AS src,
        |    CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND e.u < e.v)
        |         THEN e.v ELSE e.u END AS dst
        |  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
        |tri AS (SELECT COUNT(*) AS n FROM o o1
        |  JOIN o o2 ON o1.dst = o2.src
        |  JOIN o o3 ON o3.src = o1.src AND o3.dst = o2.dst)
        |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
        |       (SELECT COUNT(*) FROM e) AS n_edges,
        |       (SELECT n FROM tri) AS n_triangles""".stripMargin,

    "events_sessionize_gap" ->
      """WITH x AS (SELECT user_id, event_id, ts,
        |    CAST(round(value * 100) AS BIGINT) AS value_c,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |y AS (SELECT *,
        |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 30*60*1000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM x),
        |z AS (SELECT *,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sess_seq
        |  FROM y)
        |SELECT user_id, CAST(sess_seq AS BIGINT) AS sess_seq, COUNT(*) AS n_events,
        |  CAST((max(epoch_us(ts)) - min(epoch_us(ts))) // 1000 AS BIGINT) AS duration_ms,
        |  CAST(SUM(value_c) AS BIGINT) AS value_cents
        |FROM z GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "agg_count_min" ->
      """SELECT event_type, COUNT(*) AS exact_n, true AS within_bound
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "graph_negative_samples" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_quantity >= 40),
        |edges AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)),
        |ranked AS (SELECT node, row_number() OVER (ORDER BY node) - 1 AS r FROM nodes),
        |nn AS (SELECT COUNT(*) AS n_nodes FROM ranked),
        |tries AS (SELECT rk.node AS samp_u, t.i AS try_i,
        |    ('0x' || substr(md5(rk.node || ':' || t.i), 1, 15))::BIGINT % n_nodes AS cand_r
        |  FROM ranked rk, nn, UNNEST(range(0, 6)) AS t(i)),
        |withv AS (SELECT samp_u, try_i, r2.node AS samp_v
        |  FROM tries JOIN ranked r2 ON tries.cand_r = r2.r
        |  WHERE r2.node <> samp_u),
        |nonedges AS (SELECT * FROM withv w WHERE NOT EXISTS (
        |  SELECT 1 FROM edges e
        |  WHERE e.u = LEAST(w.samp_u, w.samp_v)
        |    AND e.v = GREATEST(w.samp_u, w.samp_v))),
        |picked AS (SELECT samp_u, samp_v, try_i,
        |    row_number() OVER (PARTITION BY samp_u ORDER BY try_i) AS pick
        |  FROM nonedges)
        |SELECT samp_u AS u, samp_v AS neg_v, CAST(try_i AS BIGINT) AS try_i,
        |  CAST(pick AS BIGINT) AS pick
        |FROM picked WHERE pick <= 2 ORDER BY u, pick""".stripMargin,

    "agg_misra_gries" ->
      """SELECT user_id, COUNT(*) AS exact_n,
        |  true AS within_bound, true AS tracked_if_heavy
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_hll_union" ->
      """WITH g AS (SELECT l_returnflag AS grp, COUNT(DISTINCT l_partkey) AS exact_n
        |  FROM lineitem GROUP BY 1),
        |a AS (SELECT 'ALL' AS grp, COUNT(DISTINCT l_partkey) AS exact_n FROM lineitem)
        |SELECT grp, exact_n, true AS within_5pct
        |FROM (SELECT * FROM g UNION ALL SELECT * FROM a)
        |ORDER BY grp""".stripMargin,

    "ann_quantize_int8" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127 AS sc FROM e)
        |SELECT vec_id, CAST(len(v) AS BIGINT) AS dim,
        |  CAST(CASE WHEN sc = 0 THEN 0 ELSE
        |    list_sum(list_transform(v, x -> CAST(round(x / sc) AS BIGINT))) END AS BIGINT)
        |    AS q_sum,
        |  CASE WHEN sc = 0 THEN true ELSE
        |    list_max(list_transform(v, x -> abs(round(x / sc) * sc - x))) <= sc * 0.5000001 END
        |    AS within_half_step
        |FROM s ORDER BY vec_id""".stripMargin,

    "pagerank_iter" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |      FROM lineitem WHERE l_quantity >= 40),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |      FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
        |adj AS (SELECT u AS src, v AS dst FROM e
        |        UNION ALL SELECT v AS src, u AS dst FROM e),
        |deg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY 1),
        |r0 AS (SELECT src, CAST(1000000 AS BIGINT) AS r FROM deg),
        |r1 AS (SELECT adj.dst AS src,
        |    CAST(150000 + (85 * SUM(r0.r // deg.deg)) // 100 AS BIGINT) AS r
        |  FROM adj JOIN r0 ON adj.src = r0.src JOIN deg ON adj.src = deg.src
        |  GROUP BY 1),
        |r2 AS (SELECT adj.dst AS src,
        |    CAST(150000 + (85 * SUM(r1.r // deg.deg)) // 100 AS BIGINT) AS r
        |  FROM adj JOIN r1 ON adj.src = r1.src JOIN deg ON adj.src = deg.src
        |  GROUP BY 1)
        |SELECT src AS node, r AS rank_ppm FROM r2
        |ORDER BY rank_ppm DESC, node ASC LIMIT 20""".stripMargin,

    "time_gap_fill" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    COUNT(*) AS n_events,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |  FROM events GROUP BY 1, 2),
        |spine AS (SELECT user_id,
        |    unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))::DATE AS day
        |  FROM daily GROUP BY user_id)
        |SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day,
        |  COALESCE(d.n_events, 0) AS n_events,
        |  COALESCE(d.value_cents, 0) AS value_cents,
        |  last_value(d.value_cents IGNORE NULLS)
        |    OVER (PARTITION BY s.user_id ORDER BY s.day
        |          ROWS UNBOUNDED PRECEDING) AS filled_cents
        |FROM spine s LEFT JOIN daily d
        |  ON s.user_id = d.user_id AND s.day = d.day
        |ORDER BY s.user_id, s.day""".stripMargin,

    "time_linear_interp" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hr,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |spine AS (SELECT event_type,
        |    unnest(generate_series(min(hr), max(hr), INTERVAL 1 HOUR)) AS hr
        |  FROM hourly GROUP BY event_type),
        |j AS (SELECT s.event_type, s.hr, h.cents, epoch_us(s.hr) AS t
        |  FROM spine s LEFT JOIN hourly h
        |    ON s.event_type = h.event_type AND s.hr = h.hr),
        |f AS (SELECT *,
        |    last_value(cents IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN cents IS NOT NULL THEN t END IGNORE NULLS)
        |      OVER wp AS pt,
        |    first_value(cents IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN cents IS NOT NULL THEN t END IGNORE NULLS)
        |      OVER wn AS nt
        |  FROM j
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY hr
        |      ROWS UNBOUNDED PRECEDING),
        |    wn AS (PARTITION BY event_type ORDER BY hr
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M') AS hr,
        |  cents IS NOT NULL AS observed,
        |  CASE WHEN cents IS NOT NULL THEN cents
        |       ELSE pv + (nv - pv) * (t - pt) // (nt - pt) END AS interp_cents
        |FROM f ORDER BY event_type, hr""".stripMargin,

    "graph_common_neighbors" ->
      """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |      FROM lineitem WHERE l_quantity >= 40),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |      FROM po a JOIN po b ON a.o = b.o AND a.p < b.p),
        |sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |deg AS (SELECT u AS node, COUNT(*) AS dg FROM sym GROUP BY 1),
        |mids AS (SELECT node FROM deg WHERE dg <= 16),
        |w AS (SELECT s1.v AS a, s2.v AS c, COUNT(*) AS cn
        |  FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
        |  WHERE s1.u IN (SELECT node FROM mids)
        |  GROUP BY 1, 2),
        |ne AS (SELECT a, c, cn FROM w
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = w.a AND e.v = w.c)),
        |j AS (SELECT a, c, CAST(cn AS BIGINT) AS cn,
        |    CAST(1000 * cn // (da.dg + dc.dg - cn) AS BIGINT) AS jaccard_milli
        |  FROM ne JOIN deg da ON da.node = ne.a JOIN deg dc ON dc.node = ne.c)
        |SELECT a, c, cn, jaccard_milli FROM j
        |ORDER BY jaccard_milli DESC, a, c LIMIT 20""".stripMargin,

    // batch v1 = even keys without the status column; v2 = odd keys with
    // it — the merged read must null the column exactly on v1
    "scan_merge_schema" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders)
        |SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'v1' ELSE 'v2' END AS batch,
        |  COUNT(*) AS n,
        |  CAST(SUM(price_cents) AS BIGINT) AS price_cents_sum,
        |  COUNT(CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END) AS n_with_status
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_entropy" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        |tn AS (SELECT *, SUM(c) OVER (PARTITION BY doc_id) AS n FROM tc)
        |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(round((CAST(c AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / c) * 1e6)
        |    AS BIGINT)) AS BIGINT) AS entropy_micronats
        |FROM tn GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_tfidf_top" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, COUNT(*) AS df FROM tc GROUP BY 1),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (SELECT tc.doc_id, tc.tok, tc.tf, df.df,
        |    tc.tf * CAST(round(ln(CAST(n_docs AS DOUBLE) / df.df) * 1e6) AS BIGINT) AS score
        |  FROM tc JOIN df ON tc.tok = df.tok CROSS JOIN nd),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, tok ASC) AS rnk FROM scored)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok, tf, df, CAST(score AS BIGINT) AS score
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "tpch_q2" -> (psCte +
      """,
        |cand AS (SELECT p_partkey, p_name, s_name, s_acctbal, n_name, ps_supplycost_cents
        |  FROM ps
        |  JOIN part ON ps_partkey = p_partkey
        |  JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_type = 'LARGE' AND p_size <= 15 AND r_name = 'EUROPE'),
        |mc AS (SELECT p_partkey AS mk, MIN(ps_supplycost_cents) AS min_cost
        |  FROM cand GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost_cents
        |FROM cand JOIN mc ON p_partkey = mk AND ps_supplycost_cents = min_cost
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin),

    "tpch_q11" -> (psCte +
      """,
        |bypart AS (SELECT ps_partkey,
        |    CAST(SUM(ps_supplycost_cents * ps_availqty) AS BIGINT) AS value_cents
        |  FROM ps
        |  JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7' GROUP BY 1),
        |tot AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS tot FROM bypart)
        |SELECT ps_partkey, value_cents
        |FROM bypart CROSS JOIN tot
        |WHERE value_cents * 1000 > tot
        |ORDER BY value_cents DESC, ps_partkey""".stripMargin),

    "tpch_q16" -> (psCte +
      """
        |SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM ps
        |JOIN part ON ps_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    "tpch_q20" -> (psCte +
      """,
        |shipped96 AS (SELECT l_partkey AS sp, l_suppkey AS ss,
        |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty_1996
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |  GROUP BY 1, 2),
        |cand AS (SELECT ps_suppkey FROM ps
        |  JOIN shipped96 ON ps_partkey = sp AND ps_suppkey = ss
        |  WHERE ps_availqty > qty_1996 * 2
        |    AND ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'))
        |SELECT s_name, s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_3', 'NATION_4', 'NATION_5')
        |  AND s_suppkey IN (SELECT ps_suppkey FROM cand)
        |ORDER BY s_name""".stripMargin),
  )
}
