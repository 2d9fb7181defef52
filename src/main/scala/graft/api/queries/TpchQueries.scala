package graft.api.queries

import graft.api.Queries._
import graft.api.{Tables => D}
import org.apache.spark.sql.functions._

/** TPC-H shaped relational rows over the sf tables: multi-way joins,
  * grouped aggregates, correlated and HAVING-gated subqueries.
  */
object TpchQueries {

  private val q1Agg = Q(
    (s, d) => D.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
           |  round(sum(l_quantity),2) AS sum_qty,
           |  round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
           |  round(avg(l_discount),6) AS avg_disc,
           |  count(*) AS cnt
           |FROM lineitem GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  private val q3JoinAgg = Q(
    (s, d) => {
      val li = D.lineitem(s, d); val o = D.orders(s, d)
      val c = D.customer(s, d); val n = D.nation(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
             count(lit(1)).as("cnt"))
        .orderBy("n_name")
    },
    Some("""SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, count(*) AS cnt
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY n_name ORDER BY n_name""".stripMargin))

  /** TPC-H Q5 shape: six-table join through region with a date-range filter —
    * the classic star-join scale posture: fact-side shuffles on join keys, the
    * nation/region dimensions broadcast, date + region predicates push into the
    * scans before any join.
    */
  private val q5Region = Q(
    (s, d) => {
      val c = D.customer(s, d); val o = D.orders(s, d); val li = D.lineitem(s, d)
      val sup = D.supplier(s, d); val n = D.nation(s, d); val r = D.region(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(li, o("o_orderkey") === li("l_orderkey"))
        .join(sup, li("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(r("r_name") === "ASIA" &&
          o("o_orderdate") >= lit("1996-01-01") && o("o_orderdate") < lit("1998-01-01"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy("n_name")
    },
    Some("""SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, count(*) AS cnt
           |FROM customer JOIN orders ON c_custkey = o_custkey
           |  JOIN lineitem ON o_orderkey = l_orderkey
           |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           |  JOIN nation ON s_nationkey = n_nationkey
           |  JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
           |GROUP BY n_name ORDER BY n_name""".stripMargin))

  /** TPC-H Q7 shape: bilateral shipping volume between two nations by year —
    * the double-dimension-role join (nation joins TWICE under different
    * aliases, both broadcast), a disjunctive cross-filter, and a year
    * extraction in the grouping key.
    */
  private val q7Volume = Q(
    (s, d) => {
      val li = D.lineitem(s, d); val o = D.orders(s, d)
      val c = D.customer(s, d); val sup = D.supplier(s, d)
      val n1 = D.nation(s, d).select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      val n2 = D.nation(s, d).select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))
      li.join(sup, li("l_suppkey") === sup("s_suppkey"))
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n1), sup("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), c("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
                (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
    Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
           |  round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, count(*) AS cnt
           |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
           |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
           |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
           |   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
           |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
           |ORDER BY supp_nation, cust_nation, l_year""".stripMargin))

  /** TPC-H Q10 shape: returned-item revenue ranking — fact filtered on the
    * return flag, date-bounded orders, broadcast nation, top-20 customers by
    * revenue with a deterministic key tie-break.
    */
  private val q10Returns = Q(
    (s, d) => {
      val li = D.lineitem(s, d); val o = D.orders(s, d)
      val c = D.customer(s, d); val n = D.nation(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(li, o("o_orderkey") === li("l_orderkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .filter(li("l_returnflag") === "R" &&
          o("o_orderdate") >= lit("1996-10-01") && o("o_orderdate") < lit("1997-01-01"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },
    Some("""SELECT c_custkey, c_name, n_name,
           |  round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, count(*) AS cnt
           |FROM customer JOIN orders ON c_custkey = o_custkey
           |  JOIN lineitem ON o_orderkey = l_orderkey
           |  JOIN nation ON c_nationkey = n_nationkey
           |WHERE l_returnflag = 'R'
           |  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
           |GROUP BY c_custkey, c_name, n_name
           |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin))

  /** TPC-H Q16 shape: supplier diversity per part attribute — NOT-IN
    * anti-subquery (negative-balance suppliers excluded) feeding a
    * count(DISTINCT) over a brand/type/size grouping; lineitem stands in for
    * partsupp (the relation the test schema omits). Anti-join broadcasts the
    * excluded-supplier set; the distinct aggregation is the one shuffle.
    */
  private val q16SupplierCnt = Q(
    (s, d) => {
      val li = D.lineitem(s, d); val p = D.part(s, d); val sup = D.supplier(s, d)
      val excluded = sup.filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      li.join(broadcast(excluded), li("l_suppkey") === excluded("s_suppkey"), "left_anti")
        .join(broadcast(p.select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand").asc, col("p_size").asc)
        .limit(25)
    },
    Some("""SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
           |GROUP BY p_brand, p_size
           |ORDER BY supplier_cnt DESC, p_brand, p_size LIMIT 25""".stripMargin))

  /** TPC-H Q22 shape: "rich customers who never ordered" — a global-average
    * scalar subquery (1-row broadcast cross join), an anti-join against the
    * distinct order keys, and a derived group key. The classic
    * correlated-threshold + NOT EXISTS combination.
    */
  private val q22NoOrders = Q(
    (s, d) => {
      val c = D.customer(s, d).filter(col("c_acctbal") > 0)
        .withColumn("cc", (col("c_custkey") % 10).cast("long"))
      val avgBal = c.agg(avg("c_acctbal").as("a"))
      val buyers = D.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_custkey")).distinct()
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("a"))
        .join(broadcast(buyers), c("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("cc")
        .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 2).as("total_bal"))
        .orderBy("cc")
    },
    Some("""WITH grp AS (SELECT c_custkey, c_acctbal, CAST(c_custkey % 10 AS BIGINT) AS cc
           |  FROM customer WHERE c_acctbal > 0),
           |avgbal AS (SELECT avg(c_acctbal) AS a FROM grp),
           |cand AS (SELECT grp.* FROM grp, avgbal WHERE c_acctbal > a),
           |noord AS (SELECT cand.* FROM cand
           |  LEFT JOIN (SELECT DISTINCT o_custkey FROM orders
           |             WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           |               AND o_orderdate < TIMESTAMP '1998-01-01') o
           |    ON c_custkey = o_custkey
           |  WHERE o_custkey IS NULL)
           |SELECT cc, count(*) AS n_cust, round(sum(c_acctbal), 2) AS total_bal
           |FROM noord GROUP BY cc ORDER BY cc""".stripMargin))

  /** TPC-H Q4 shape: priority counting gated by a correlated EXISTS — the
    * canonical EXISTS → LEFT SEMI decorrelation. The semi-join carries a
    * NON-equi conjunct (shipped > 60 days after the order date, standing in
    * for the commit/receipt lateness columns this schema omits): Spark keys
    * the exchange on the equi part (orderkey) and evaluates the date
    * comparison as a join residual, so the shape stays a hash semi-join, not
    * a broadcast-nested-loop. Orders' date range pushes into the scan before
    * anything joins.
    */
  private val q4OrderPriority = Q(
    (s, d) => {
      val o = D.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-07-01") &&
          col("o_orderdate") < lit("1996-10-01"))
      val li = D.lineitem(s, d).select("l_orderkey", "l_shipdate")
      o.join(li, o("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS order_count
           |FROM orders
           |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
           |  AND EXISTS (SELECT 1 FROM lineitem
           |              WHERE l_orderkey = o_orderkey
           |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** TPC-H Q17 shape: small-quantity revenue under a CORRELATED SCALAR
    * subquery (per-part average quantity). Decorrelation: the per-part
    * average is one hash aggregate on the fact's own join key, joined back on
    * l_partkey — co-partitioned with the fact's natural key, no second fact
    * scan shape beyond the aggregate. Quantities are integer-valued, so the
    * avg (exact integer sum / count) compares bit-identically across engines.
    * Output fans out per brand (the single-row TPC-H output makes a weak
    * gate); count is carried alongside so selectivity is hash-locked too.
    */
  private val q17SmallQty = Q(
    (s, d) => {
      val li = D.lineitem(s, d)
      val avgQ = li.groupBy(col("l_partkey").as("ap_partkey"))
        .agg(avg("l_quantity").as("avg_qty"))
      val p = D.part(s, d).select("p_partkey", "p_brand")
      li.join(avgQ, col("l_partkey") === col("ap_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(round(sum("l_extendedprice") / 7.0, 2).as("avg_yearly"),
          count(lit(1)).as("cnt"))
        .orderBy("p_brand")
    },
    Some("""WITH a AS (SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
           |          FROM lineitem GROUP BY 1)
           |SELECT p_brand, round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
           |  count(*) AS cnt
           |FROM lineitem JOIN a ON l_partkey = ap_partkey
           |  JOIN part ON l_partkey = p_partkey
           |WHERE l_quantity < 0.2 * avg_qty
           |GROUP BY p_brand ORDER BY p_brand""".stripMargin))

  /** TPC-H Q20 shape: the nested-IN chain (supplier IN (... part IN (...)
    * HAVING sum > threshold)) — two stacked semi-joins with an aggregate
    * HAVING between them. The part filter broadcasts into the fact as a semi
    * join (never materializing the join), the (suppkey, partkey) aggregate
    * applies the HAVING threshold, and the surviving supplier keys semi-join
    * the supplier table. Quantity sums are integer-exact, so the HAVING edge
    * cannot flip between engines.
    */
  private val q20PartSuppliers = Q(
    (s, d) => {
      val p = D.part(s, d).filter(col("p_name").startsWith("small"))
        .select("p_partkey")
      val qualifying = D.lineitem(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum("l_quantity").as("total_qty"))
        .filter(col("total_qty") > 80)
        .select("l_suppkey").distinct()
      D.supplier(s, d)
        .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },
    Some("""SELECT s_suppkey, s_name FROM supplier
           |WHERE s_suppkey IN (
           |  SELECT l_suppkey FROM lineitem
           |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
           |  GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 80)
           |ORDER BY s_suppkey""".stripMargin))

  /** TPC-H Q21 shape: "suppliers who kept waiting" — the hardest TPC-H
    * decorrelation: one fact alias under BOTH a correlated EXISTS (another
    * supplier contributed to the order) and a correlated NOT EXISTS (no OTHER
    * supplier was late), over finished orders. Late = returnflag 'R' (the
    * schema omits commit/receipt dates). All three self-references become
    * orderkey-keyed semi/anti joins with a suppkey-inequality residual — every
    * exchange keys on l_orderkey, so the three fact sides co-partition and
    * AQE can collapse the pipeline into one stage chain; nation broadcasts.
    */
  private val q21Waiting = Q(
    (s, d) => {
      val li = D.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_returnflag")
      val fOrders = D.orders(s, d).filter(col("o_orderstatus") === "F")
        .select("o_orderkey")
      val l1 = li.filter(col("l_returnflag") === "R")
      val l2 = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      val l3 = l1.select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
      val waiting = l1
        .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(l2, col("l_orderkey") === col("ok2") &&
          col("l_suppkey") =!= col("sk2"), "left_semi")
        .join(l3, col("l_orderkey") === col("ok3") &&
          col("l_suppkey") =!= col("sk3"), "left_anti")
      waiting
        .join(D.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(D.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(25)
    },
    Some("""SELECT s_name, n_name, count(*) AS numwait
           |FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey
           |  JOIN nation ON s_nationkey = n_nationkey
           |WHERE l1.l_returnflag = 'R'
           |  AND l1.l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
           |  AND EXISTS (SELECT 1 FROM lineitem l2
           |              WHERE l2.l_orderkey = l1.l_orderkey
           |                AND l2.l_suppkey <> l1.l_suppkey)
           |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
           |                  WHERE l3.l_orderkey = l1.l_orderkey
           |                    AND l3.l_suppkey <> l1.l_suppkey
           |                    AND l3.l_returnflag = 'R')
           |GROUP BY s_name, n_name ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin))

  /** TPC-H Q14 shape: promo revenue share — fact scan with a pushed date range,
    * broadcast part dimension, one conditional aggregate pass.
    */
  private val q14Promo = Q(
    (s, d) => {
      val li = D.lineitem(s, d); val p = D.part(s, d)
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          round(lit(100.0) * sum(when(col("p_type") === "PROMO", rev).otherwise(0.0)) /
            sum(rev), 4).as("promo_share"),
          count(lit(1)).as("cnt"))
    },
    Some("""SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0 END)
           |         / sum(l_extendedprice*(1-l_discount)), 4) AS promo_share,
           |  count(*) AS cnt
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'""".stripMargin))

  /** TPC-H Q2 shape: minimum-cost supplier — the correlated scalar MIN
    * subquery, decorrelated as a per-part min aggregate joined back on
    * (partkey, cost). The schema omits partsupp, so supply cost is derived as
    * `min(l_extendedprice / l_quantity)` per (part, supplier) — one hash
    * aggregate on the fact. Hash-parity note: the min/equality chain never
    * does arithmetic on the compared values beyond one IEEE division both
    * engines evaluate identically, so `supply_cost = min_cost` cannot flip;
    * the displayed cost is `floor(cost × 10⁴)` — floor of an identical
    * double is engine-exact, where `round` would diverge on half-way
    * boundaries (Spark rounds the shortest decimal repr, DuckDB the binary
    * value; observed 1-ulp flips at sf0.1).
    */
  private val q2MinCost = Q(
    (s, d) => {
      val p = D.part(s, d).filter(col("p_size") <= 10 && col("p_type") === "LARGE")
        .select("p_partkey", "p_name")
      // Part predicate semi-joins BELOW the (partkey, suppkey) aggregate: the
      // per-part min is unaffected by dropping non-qualifying parts, and at
      // fact scale the aggregate input shrinks by the part selectivity (~36×
      // here) instead of aggregating the whole fact and filtering last.
      val li = D.lineitem(s, d)
        .join(broadcast(p.select("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
      val ps = li.groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("supply_cost"))
      val sup = D.supplier(s, d)
        .join(broadcast(D.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(D.region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
      val eu = ps.join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
      val minCost = eu.groupBy(col("ps_partkey").as("mc_partkey"))
        .agg(min("supply_cost").as("min_cost"))
      eu.join(minCost, col("ps_partkey") === col("mc_partkey") &&
          col("supply_cost") === col("min_cost"))
        .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
          col("n_name"), floor(col("supply_cost") * 10000).cast("long").as("cost_e4"))
        .orderBy("p_partkey", "s_suppkey")
    },
    Some("""WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           |    min(l_extendedprice / l_quantity) AS supply_cost
           |  FROM lineitem GROUP BY 1, 2),
           |eu AS (SELECT ps.*, s_suppkey, s_name, n_name
           |  FROM ps JOIN supplier ON ps_suppkey = s_suppkey
           |    JOIN nation ON s_nationkey = n_nationkey
           |    JOIN region ON n_regionkey = r_regionkey
           |  WHERE r_name = 'EUROPE'),
           |mc AS (SELECT ps_partkey AS mc_partkey, min(supply_cost) AS min_cost
           |  FROM eu GROUP BY 1)
           |SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
           |  CAST(floor(supply_cost * 10000) AS BIGINT) AS cost_e4
           |FROM eu JOIN mc ON ps_partkey = mc_partkey AND supply_cost = min_cost
           |  JOIN part ON ps_partkey = p_partkey
           |WHERE p_size <= 10 AND p_type = 'LARGE'
           |ORDER BY p_partkey, s_suppkey""".stripMargin))

  /** TPC-H Q6 shape: the forecasting-revenue-change aggregate — zero joins,
    * every predicate (date range, discount band, quantity cap) pushes into
    * the Parquet scan, one map-side-combinable aggregate. At 100 TB this is
    * the query where pushdown IS the runtime: the scan should show all three
    * PushedFilters and read two columns.
    */
  private val q6Forecast = Q(
    (s, d) => D.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("cnt")),
    Some("""SELECT round(sum(l_extendedprice*l_discount),2) AS revenue, count(*) AS cnt
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin))

  /** TPC-H Q8 shape: national market share — nation joins twice under
    * different roles (customer-side pinned to a region, supplier-side free),
    * and the share is a conditional-sum / total-sum ratio per year. Both
    * nation roles broadcast; the ratio rounds at 6 digits (ulp-safe: the
    * relative error of a double sum is ~1e-16, ten orders below the rounding
    * granularity).
    */
  private val q8MarketShare = Q(
    (s, d) => {
      val li = D.lineitem(s, d); val o = D.orders(s, d)
      val c = D.customer(s, d); val sup = D.supplier(s, d)
      val n1 = D.nation(s, d).select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
      val n2 = D.nation(s, d).select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      val r = D.region(s, d).filter(col("r_name") === "AMERICA")
      val p = D.part(s, d).filter(col("p_type") === "ECONOMY").select("p_partkey")
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(when(col("supp_nation") === "NATION_5", rev).otherwise(0.0)) /
          sum(rev), 6).as("mkt_share"), count(lit(1)).as("cnt"))
        .orderBy("o_year")
    },
    Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           |  round(sum(CASE WHEN n2.n_name = 'NATION_5' THEN l_extendedprice*(1-l_discount) ELSE 0 END)
           |    / sum(l_extendedprice*(1-l_discount)), 6) AS mkt_share, count(*) AS cnt
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
           |  JOIN region ON n1.n_regionkey = r_regionkey
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
           |WHERE r_name = 'AMERICA'
           |  AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY')
           |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
           |GROUP BY 1 ORDER BY o_year""".stripMargin))

  /** TPC-H Q9 shape: product-type profit by nation and year — the widest
    * fact-side join tree in the suite (lineitem × orders × supplier × part)
    * with a substring part filter and a computed profit measure. The schema
    * omits partsupp's ps_supplycost; `0.5 * p_retailprice` stands in, keeping
    * the (price − cost·qty) measure shape. Part/nation broadcast; orders and
    * supplier shuffle on their keys. Hash-parity: the measure is computed in
    * integer 10⁻⁴-currency units — prices/discounts carry 2 decimals, so
    * `round(x·100)` recovers exact integers and
    * `ep_c·(100−d_c) − 50·rp_c·qty` sums exactly in any order; a
    * `round(sum(double),2)` here was observed to straddle a cent boundary
    * between engines at sf0.1.
    */
  private val q9Profit = Q(
    (s, d) => {
      val li = D.lineitem(s, d); val o = D.orders(s, d)
      val sup = D.supplier(s, d); val n = D.nation(s, d)
      val p = D.part(s, d).filter(col("p_name").contains("bolt"))
        .select("p_partkey", "p_retailprice")
      val epC = round(col("l_extendedprice") * 100).cast("long")
      val dC = round(col("l_discount") * 100).cast("long")
      val rpC = round(col("p_retailprice") * 100).cast("long")
      val amountE4 = epC * (lit(100L) - dC) -
        lit(50L) * rpC * col("l_quantity").cast("long")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(amountE4).as("profit_e4"), count(lit(1)).as("cnt"))
        .orderBy(col("n_name").asc, col("o_year").desc)
    },
    Some("""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))
           |      - 50 * CAST(round(p_retailprice*100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS profit_e4,
           |  count(*) AS cnt
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  JOIN nation ON s_nationkey = n_nationkey
           |  JOIN part ON l_partkey = p_partkey
           |WHERE p_name LIKE '%bolt%'
           |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin))

  /** TPC-H Q11 shape: important stock — a grouped aggregate gated by a
    * scalar-subquery fraction of the GLOBAL total (HAVING sum > total ×
    * 0.001). The one-row total broadcasts as a cross join. Hash-parity:
    * the measure is sum(l_quantity) — integer-valued doubles whose sums are
    * exact in any order — so the threshold edge is deterministic across
    * engines (no round-before-compare needed).
    */
  private val q11ImportantStock = Q(
    (s, d) => {
      val natSup = D.supplier(s, d)
        .join(broadcast(D.nation(s, d).filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"), "left_semi")
        .select("s_suppkey")
      val byPart = D.lineitem(s, d)
        .join(broadcast(natSup), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(sum("l_quantity").as("value"))
      val tot = byPart.agg((sum("value") * 0.001).as("threshold"))
      byPart.crossJoin(broadcast(tot))
        .filter(col("value") > col("threshold"))
        .select(col("l_partkey"), col("value").cast("long").as("total_qty"))
        .orderBy(col("total_qty").desc, col("l_partkey").asc)
    },
    Some("""WITH byp AS (SELECT l_partkey, sum(l_quantity) AS value
           |  FROM lineitem
           |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
           |    JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_3')
           |  GROUP BY 1),
           |tot AS (SELECT sum(value) * 0.001 AS threshold FROM byp)
           |SELECT l_partkey, CAST(value AS BIGINT) AS total_qty
           |FROM byp, tot WHERE value > threshold
           |ORDER BY total_qty DESC, l_partkey""".stripMargin))

  /** TPC-H Q12 shape: shipping-mode priority counts — a fact/dimension join
    * with a NON-equi lateness residual (shipped > 60 days after order; the
    * schema omits commit/receipt dates) and two conditional counts per group.
    * Ship mode is derived from l_linenumber (the schema omits l_shipmode) —
    * the derivation is identical SQL in both engines, so the gate still locks
    * the join + conditional-aggregation shape.
    */
  private val q12Shipmode = Q(
    (s, d) => {
      val li = D.lineitem(s, d); val o = D.orders(s, d)
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS") &&
          col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
        .groupBy(when(col("l_linenumber") % 3 === 0, "AIR")
          .when(col("l_linenumber") % 3 === 1, "SHIP")
          .otherwise("TRUCK").as("shipmode"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("shipmode")
    },
    Some("""SELECT CASE CAST(l_linenumber % 3 AS INT) WHEN 0 THEN 'AIR' WHEN 1 THEN 'SHIP'
           |    ELSE 'TRUCK' END AS shipmode,
           |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
           |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           |GROUP BY 1 ORDER BY shipmode""".stripMargin))

  /** TPC-H Q13 shape: customer order-count distribution — the LEFT OUTER
    * join with a predicate in the ON clause (not WHERE: customers with zero
    * qualifying orders must survive with count 0) feeding a second
    * aggregation over the first's result. The double-aggregation is the
    * canonical "distribution of group sizes" pattern.
    */
  private val q13CustDist = Q(
    (s, d) => {
      val c = D.customer(s, d).select("c_custkey")
      val o = D.orders(s, d).select("o_custkey", "o_orderkey", "o_orderpriority")
      c.join(o, col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "4-NOT SPECIFIED", "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    Some("""SELECT c_count, count(*) AS custdist FROM (
           |  SELECT c_custkey, count(o_orderkey) AS c_count
           |  FROM customer LEFT JOIN orders
           |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
           |  GROUP BY c_custkey)
           |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin))

  /** TPC-H Q15 shape: top supplier — a revenue "view" (grouped aggregate), a
    * scalar MAX over it, and an equality-threshold join back. The measure is
    * sum(l_quantity) (integer-exact; see q11) and the bar is 0.8 × max so the
    * gate covers several suppliers rather than the single argmax row; the
    * threshold product is one deterministic IEEE multiply of identical
    * operands in both engines.
    */
  private val q15TopSupplier = Q(
    (s, d) => {
      val rev = D.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
        .groupBy("l_suppkey")
        .agg(sum("l_quantity").as("total_qty"))
      val mx = rev.agg(max("total_qty").as("max_qty"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_qty") >= col("max_qty") * 0.8)
        .join(D.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_qty").cast("long").as("total_qty"))
        .orderBy("s_suppkey")
    },
    Some("""WITH rev AS (SELECT l_suppkey, sum(l_quantity) AS total_qty FROM lineitem
           |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
           |  GROUP BY 1),
           |mx AS (SELECT max(total_qty) AS max_qty FROM rev)
           |SELECT s_suppkey, s_name, CAST(total_qty AS BIGINT) AS total_qty
           |FROM rev, mx JOIN supplier ON l_suppkey = s_suppkey
           |WHERE total_qty >= max_qty * 0.8 ORDER BY s_suppkey""".stripMargin))

  /** TPC-H Q19 shape: disjunctive bracket predicates — three OR'd
    * (brand × size-range × quantity-range) conjunctions spanning BOTH join
    * sides, the classic test that an optimizer keeps the equi-join hashed and
    * evaluates the disjunction as a residual (not a nested-loop), while
    * pushing the per-side portions (brand/size → part scan) down.
    */
  private val q19Disjunctive = Q(
    (s, d) => {
      val li = D.lineitem(s, d)
      val p = D.part(s, d).select("p_partkey", "p_brand", "p_size")
      val cond =
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#5" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#7" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("cnt"))
    },
    Some("""SELECT round(sum(l_extendedprice*(1-l_discount)),2) AS revenue, count(*) AS cnt
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
           |   OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
           |   OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin))

  /** TPC-H Q18 shape: large-order customers via a HAVING-gated aggregate
    * subquery joined back to its dimensions. The aggregate runs ONCE (one
    * shuffle on l_orderkey), the HAVING prunes before the joins, and both
    * dimension joins broadcast — the filtered key set is tiny by design.
    */
  private val q18LargeOrders = Q(
    (s, d) => {
      val li = D.lineitem(s, d); val o = D.orders(s, d); val c = D.customer(s, d)
      val big = li.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("total_qty"))
        .filter(col("total_qty") > 250)
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_totalprice"), round(col("total_qty"), 2).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
    },
    Some("""SELECT c_name, c_custkey, o_orderkey, o_totalprice, round(total_qty, 2) AS total_qty
           |FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
           |      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250) big
           |JOIN orders ON o_orderkey = l_orderkey
           |JOIN customer ON c_custkey = o_custkey
           |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin))

  val all: Map[String, Q] = Map(
    "q1_agg" -> q1Agg,
    "q3_join_agg" -> q3JoinAgg,
    "q5_region" -> q5Region,
    "q7_volume" -> q7Volume,
    "q10_returns" -> q10Returns,
    "q16_supplier_cnt" -> q16SupplierCnt,
    "q22_no_orders" -> q22NoOrders,
    "q4_order_priority" -> q4OrderPriority,
    "q17_small_qty" -> q17SmallQty,
    "q20_part_suppliers" -> q20PartSuppliers,
    "q21_waiting" -> q21Waiting,
    "q14_promo" -> q14Promo,
    "q2_min_cost" -> q2MinCost,
    "q6_forecast" -> q6Forecast,
    "q8_market_share" -> q8MarketShare,
    "q9_profit" -> q9Profit,
    "q11_important_stock" -> q11ImportantStock,
    "q12_shipmode" -> q12Shipmode,
    "q13_custdist" -> q13CustDist,
    "q15_top_supplier" -> q15TopSupplier,
    "q19_disjunctive" -> q19Disjunctive,
    "q18_large_orders" -> q18LargeOrders)
}
