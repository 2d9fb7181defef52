package graft.api

import graft.functions.{FilterDsl, HashingEmbedder}
import graft.operators.Search
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-facing query registry: every operator from SURVEY.md §2 (plus the
  * training-data-pipeline extensions) is exercised by a named query with a DuckDB
  * oracle. Design rules for oracle hash-parity:
  *   - every output is explicitly ordered with a total deterministic order;
  *   - doubles are rounded AND ordered by their rounded value with an id tie-break,
  *     so a last-ulp divergence between engines cannot reorder rows;
  *   - counts/ranks are cast to BIGINT on the Spark side (DuckDB windows/counts are
  *     BIGINT);
  *   - string hashing common to both engines uses md5 hex (identical in both).
  */
object Queries {

  case class Q(run: (SparkSession, String) => DataFrame, oracle: Option[String])

  private val D = Tables

  /** Shared query text used by the search-family queries. */
  val searchQuery = "table scan merge"

  /** Query text for the gated M1 embed→search lifecycle (must stay free of SQL
    * metacharacters — it is spliced into the oracle as a string literal). */
  val m1Query = "data pipeline quality"
  val searchTerms: Seq[String] = Search.tokenize(searchQuery).distinct

  // ------------------------------------------------------------ relational core

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

  /** Snapshot diff ([[graft.operators.Maintenance.diffTables]]): the CDC
    * primitive — v2 is derived in-query (every 13th doc dropped, every 7th
    * rewritten, two appended), and each key's added/removed/changed/unchanged
    * classification is gated. The diff runs on (key, md5) projections only.
    */
  private val j7SnapshotDiff = Q(
    (s, d) => {
      val v1 = D.documents(s, d).select("doc_id", "text")
      val v2 = v1.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [edited v2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(
          D.documents(s, d).select((col("doc_id") + 100000).as("doc_id"), col("text"))
            .filter(col("doc_id") === 100001 || col("doc_id") === 100002))
      graft.operators.Maintenance.diffTables(v1, v2, "doc_id", "text")
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")
    },
    Some("""WITH v1 AS (SELECT doc_id, text FROM documents),
           |v2 AS (SELECT doc_id,
           |    CASE WHEN doc_id % 7 = 0 THEN text || ' [edited v2]' ELSE text END AS text
           |  FROM documents WHERE doc_id % 13 <> 0
           |  UNION ALL
           |  SELECT doc_id + 100000, text FROM documents
           |  WHERE doc_id + 100000 IN (100001, 100002)),
           |d AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
           |    CASE WHEN v1.doc_id IS NULL THEN 'added'
           |         WHEN v2.doc_id IS NULL THEN 'removed'
           |         WHEN md5(v1.text) = md5(v2.text) THEN 'unchanged'
           |         ELSE 'changed' END AS status
           |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
           |SELECT status, count(*) AS n FROM d GROUP BY status ORDER BY status""".stripMargin))

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

  private val w1RankWindow = Q(
    (s, d) => {
      val w = Window.partitionBy("event_type").orderBy(col("value").desc, col("event_id").asc)
      D.events(s, d)
        .select(col("event_type"), col("event_id"),
                row_number().over(w).cast("long").as("rnk"))
        .filter(col("rnk") <= 3)
        .orderBy("event_type", "rnk")
    },
    Some("""SELECT event_type, event_id, rnk FROM (
           |  SELECT event_type, event_id,
           |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk
           |  FROM events) WHERE rnk <= 3 ORDER BY event_type, rnk""".stripMargin))

  private val a4WatermarkMax = Q(
    (s, d) => D.events(s, d).agg(
      date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("max_ts"),
      count(lit(1)).as("cnt")),
    Some("SELECT strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts, count(*) AS cnt FROM events"))

  // -------------------------------------------------------------- filter / slice

  private val p3FilterDsl = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      docs.filter(FilterDsl.filterColumn("""lang = "en" and n_chars > "200"""", docs.schema))
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    },
    Some("SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en' AND n_chars > 200 ORDER BY doc_id"))

  private val p8FetchSlice = Q(
    (s, d) => D.documents(s, d)
      .select(col("doc_id"),
              array_join(slice(split(col("text"), " "), 3, 8), " ").as("snippet"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), 3, 10), ' ') AS snippet
           |FROM documents ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------- chunk fan-out (M5/F1)

  /** Fixed-size 400/100 char chunks with global sequential ids — the SQL-expressible
    * splitter variant (the recursive splitter is unit-tested for parity instead).
    * Production id assignment uses zipWithIndex (Indexing.buildChunks); the global
    * row_number here keeps the query oracle-checkable at test scale.
    */
  def chunkFanout(s: SparkSession, d: String): DataFrame =
    chunkFanoutDf(D.documents(s, d))

  def chunkFanoutDf(documents: DataFrame): DataFrame = {
    val sized = documents
      .select(col("doc_id"), col("text"),
        greatest(lit(1L), ceil((length(col("text")) - lit(100)) / lit(300.0)).cast("long")).as("n"))
    // Global sequential ids without a global window over the chunk rows: the
    // order-dependent part is a running count over narrow (doc_id, n) pairs —
    // the single-partition window exchange never carries text, and the fan-out
    // itself stays fully parallel. chunk_id = docs-before-me + chunk_number + 1.
    // (At true scale id assignment is zipWithIndex — Indexing.buildChunks.)
    val offsets = sized.select(col("doc_id"), col("n"))
      .withColumn("doc_offset", coalesce(sum("n").over(
        Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("doc_id", "doc_offset")
    sized.join(offsets, "doc_id")
      .select(col("doc_id"), col("text"), col("doc_offset"),
        explode(sequence(lit(0L), col("n") - 1)).as("chunk_number"))
      .select(
        col("doc_id"), col("chunk_number"),
        expr("substring(text, cast(chunk_number*300 + 1 as int), 400)").as("chunk_text"),
        (col("doc_offset") + col("chunk_number") + lit(1L)).as("chunk_id"))
  }

  private val chunkFanoutSql =
    """SELECT row_number() OVER (ORDER BY doc_id, i) AS chunk_id, doc_id, i AS chunk_number,
      |  substring(text, CAST(i*300 + 1 AS INT), 400) AS chunk_text
      |FROM (SELECT doc_id, text,
      |        unnest(generate_series(0, CAST(greatest(1, ceil((length(text)-100)/300.0)) AS BIGINT) - 1)) AS i
      |      FROM documents)""".stripMargin

  private val m5ChunkFanout = Q(
    (s, d) => chunkFanout(s, d)
      .select("chunk_id", "doc_id", "chunk_number", "chunk_text")
      .orderBy("doc_id", "chunk_number"),
    Some(s"SELECT chunk_id, doc_id, chunk_number, chunk_text FROM ($chunkFanoutSql) ORDER BY doc_id, chunk_number"))

  /** The RECURSIVE character splitter (F1, TextSplitter 400/100 — the
    * reference's LangChain-default splitting semantics) hash-gated: every
    * doc's chunk count + chunk-stream md5. The oracle replays the greedy
    * merge loop (LangChain `_merge_splits`: emit on overflow, then slide the
    * window dropping head splits until the carried tail fits the overlap
    * budget) as a DuckDB recursive CTE — one step per word, state = the
    * current split list + its joined length; the drop-head while-loop
    * resolves in-step by scanning candidate drop counts over prefix sums.
    * Faithfulness precondition, enforced SYMMETRICALLY in both engines so
    * the gate stays correct under any corpus: docs containing newlines (a
    * coarser separator would win) or a word ≥ chunkSize (per-char recursion
    * would trigger) are excluded from the gate on BOTH sides. On the driver
    * corpus nothing is excluded — the space-separator merge path IS the
    * splitter here. TextSplitterSpec covers the recursive/oversize paths.
    */
  private val splitRecursive = Q(
    (s, d) => {
      val splitter = new graft.functions.TextSplitter(400, 100)
      val splitUdf = udf((t: String) => splitter.split(t))
      D.documents(s, d)
        .filter(!col("text").contains("\n") &&
          !expr("exists(split(text, ' '), w -> length(w) >= 400)"))
        .select(col("doc_id"), splitUdf(col("text")).as("chunks"))
        .select(col("doc_id"), size(col("chunks")).cast("long").as("n_chunks"),
          md5(array_join(col("chunks"), "\u001f")).as("stream_md5"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE base AS (
           |  SELECT doc_id, text FROM documents
           |  WHERE text NOT LIKE '%' || chr(10) || '%'
           |    AND len(list_filter(string_split(text, ' '), x -> length(x) >= 400)) = 0),
           |$splitStateCtesSql
           |SELECT b.doc_id, CAST(coalesce(f.n_chunks, 0) AS BIGINT) AS n_chunks,
           |  md5(coalesce(f.acc, '')) AS stream_md5
           |FROM base b LEFT JOIN (SELECT doc_id, n_chunks, acc FROM st WHERE done) f USING (doc_id)
           |ORDER BY b.doc_id""".stripMargin))


  /** The recursive-splitter state machine (TextSplitter 400/100, space
    * separator) as CTE text, shared by `split_recursive` and
    * `m1b_full_lifecycle`. Expects a prior CTE `base(doc_id, text)` already
    * filtered by the symmetric faithfulness guards; yields `st` whose
    * `done` rows carry (doc_id, acc = chr(31)-joined chunks, n_chunks).
    * Must appear under a WITH RECURSIVE prefix.
    */
  private def splitStateCtesSql: String =
    s"""wt AS (SELECT doc_id, string_split(text, ' ') AS ws FROM base),
       |words AS (SELECT doc_id, wi, ws[wi] AS w, length(ws[wi]) AS wl
       |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS wi FROM wt)),
       |st AS (
       |  SELECT doc_id, 1 AS wi, CAST([] AS VARCHAR[]) AS cur, 0 AS total,
       |         '' AS acc, 0 AS n_chunks, false AS done
       |  FROM base
       |  UNION ALL
       |  SELECT doc_id, wi + 1,
       |    CASE WHEN fin THEN cur
       |         WHEN ovf THEN list_slice(cur, jstar + 1, len(cur)) || [w]
       |         ELSE cur || [w] END,
       |    CASE WHEN fin THEN total
       |         WHEN ovf THEN tj + wl + (CASE WHEN len(cur) - jstar > 0 THEN 1 ELSE 0 END)
       |         ELSE total + wl + (CASE WHEN len(cur) > 0 THEN 1 ELSE 0 END) END,
       |    CASE WHEN (fin OR ovf) AND em <> ''
       |         THEN acc || (CASE WHEN n_chunks > 0 THEN chr(31) ELSE '' END) || em
       |         ELSE acc END,
       |    n_chunks + (CASE WHEN (fin OR ovf) AND em <> '' THEN 1 ELSE 0 END),
       |    fin
       |  FROM (
       |    SELECT *, CASE WHEN ovf THEN tots[jstar + 1] ELSE 0 END AS tj
       |    FROM (
       |      SELECT *, CASE WHEN ovf THEN js[1] ELSE 0 END AS jstar
       |      FROM (
       |        SELECT *,
       |          (NOT fin AND len(cur) > 0 AND total + wl + 1 > 400) AS ovf,
       |          CASE WHEN len(cur) > 0 AND (fin OR total + wl + 1 > 400)
       |               THEN trim(array_to_string(cur, ' ')) ELSE '' END AS em,
       |          list_filter(generate_series(0, len(cur)),
       |            j -> NOT (tots[j + 1] > 100 OR
       |                      (tots[j + 1] + wl + (CASE WHEN len(cur) - j > 0 THEN 1 ELSE 0 END) > 400
       |                       AND tots[j + 1] > 0))) AS js
       |        FROM (
       |          SELECT s.doc_id, s.wi, s.cur, s.total, s.acc, s.n_chunks,
       |            (w3.doc_id IS NULL) AS fin,
       |            coalesce(w3.w, '') AS w, coalesce(w3.wl, 0) AS wl,
       |            list_transform(generate_series(0, len(s.cur)),
       |              j -> s.total - CASE WHEN j = 0 THEN 0 ELSE
       |                CAST(list_sum(list_transform(generate_series(1, j),
       |                  i -> length(s.cur[i]) + CASE WHEN i < len(s.cur) THEN 1 ELSE 0 END)) AS INT) END) AS tots
       |          FROM (SELECT * FROM st WHERE NOT done) s
       |          LEFT JOIN words w3 ON w3.doc_id = s.doc_id AND w3.wi = s.wi
       |        )
       |      )
       |    )
       |  )
       |)
""".stripMargin


  /** One BPE training round as CTE text: pair counts over the previous
    * round's symbol lists (weighted by word frequency), the deterministic
    * argmax (count desc, then lexicographic pair — Scala's minBy(-c, a, b)),
    * and the merge APPLIED by a fuse-leftmost recursion (provably equivalent
    * to the trainer's single left-to-right pass: fusing at i can never
    * create a match before i, since that would need b == a+b). */
  private def bpeTrainRoundSql(k: Int): String = {
    val prev = if (k > 1) s"apply${k - 1}_fin" else "syms0"
    s""",
       |pairs$k AS (SELECT l[i] AS a, l[i+1] AS b, sum(c) AS pc
       |  FROM (SELECT l, c, unnest(generate_series(1, len(l) - 1)) AS i FROM $prev)
       |  GROUP BY 1, 2),
       |best$k AS (SELECT a, b FROM pairs$k ORDER BY pc DESC, a, b LIMIT 1),
       |apply$k AS (
       |  SELECT w, c, l, false AS done FROM $prev
       |  UNION ALL
       |  SELECT w, c,
       |    CASE WHEN fi IS NULL THEN l
       |         ELSE list_slice(l, 1, fi - 1) || [l[fi] || l[fi + 1]] || list_slice(l, fi + 2, len(l)) END,
       |    fi IS NULL
       |  FROM (
       |    SELECT w, c, l,
       |      (list_filter(generate_series(1, len(l) - 1),
       |        i -> l[i] = ba AND l[i+1] = bb))[1] AS fi
       |    FROM (SELECT s.w, s.c, s.l, b.a AS ba, b.b AS bb
       |          FROM (SELECT * FROM apply$k WHERE NOT done) s, best$k b))),
       |apply${k}_fin AS (SELECT w, c, l FROM apply$k WHERE done)""".stripMargin
  }

  /** The PRODUCTION BPE trainer ([[graft.functions.Bpe.train]] — distributed
    * word-frequency aggregation + driver merge loop) hash-gated for its first
    * 3 rounds, the `cluster_kmeans_train` unrolled-round parity contract:
    * each round's argmax is only right if the previous round's merge was
    * APPLIED right, so the gate covers pair counting, the deterministic
    * tie-break, and the fuse pass transitively. (The frozen-artifact
    * `bpe_encode` gates the encoder; together trainer + encoder are both
    * oracle-covered.)
    */
  private val bpeTrainRounds = Q(
    (s, d) => {
      val model = graft.functions.Bpe.train(
        D.documents(s, d).select("text"), "text", nMerges = 3)
      val sp = s
      import sp.implicits._
      model.merges.zipWithIndex
        .map { case ((a, b), i) => (i + 1L, a, b) }
        .toDF("rank", "left_s", "right_s").orderBy("rank")
    },
    Some(s"""WITH RECURSIVE wf AS (
            |  SELECT t AS w, count(*) AS c FROM (
            |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t
            |    FROM documents) GROUP BY t),
            |syms0 AS (SELECT w, c,
            |  list_transform(generate_series(1, length(w)), i -> w[i]) || ['</w>'] AS l FROM wf)${bpeTrainRoundSql(1)}${bpeTrainRoundSql(2)}${bpeTrainRoundSql(3)}
            |SELECT CAST(1 AS BIGINT) AS rank, a AS left_s, b AS right_s FROM best1
            |UNION ALL SELECT CAST(2 AS BIGINT), a, b FROM best2
            |UNION ALL SELECT CAST(3 AS BIGINT), a, b FROM best3
            |ORDER BY rank""".stripMargin))

  /** The reference's EXACT create-path lifecycle, hash-gated end to end:
    * header chunk + RECURSIVE splitter ([[graft.operators.Indexing.splitDocuments]]
    * with the real TextSplitter — chunk 0 = header, the converter contract) →
    * the production murmur hashing embedder ([[graft.operators.Indexing.attachEmbeddings]])
    * → cosine top-10 ([[Search.vectorTopK]]). The oracle COMPOSES the two
    * round-8 replay machines: the per-word splitter state CTEs feed their
    * chr(31)-joined chunk streams into the murmur-embed/cosine chain. Chunk
    * identity is (doc_id, chunk_number) — global zipWithIndex ids stay
    * order-dependent and spec-gated; the synthetic doc_id·10000+chunk_number
    * key exists only for deterministic tie-breaks. Same symmetric splitter
    * guards as `split_recursive` (plus excluding chr(31) itself, the stream
    * separator); nothing is excluded on this corpus.
    */
  private val m1bFullLifecycle = Q(
    (s, d) => {
      val emb = HashingEmbedder.default
      val docs = D.documents(s, d)
        .filter(!col("text").contains("\n") &&
          !expr("exists(split(text, ' '), w -> length(w) >= 400)") &&
          !col("text").contains("\u001f"))
        .select(col("doc_id"), col("doc_id").cast("string").as("id"), col("text"))
      val withChunks = graft.operators.Indexing.splitDocuments(
        docs, new graft.functions.TextSplitter(400, 100))
      val chunks = withChunks
        .select(col("doc_id"),
          posexplode(col("chunks")).as(Seq("chunk_number", "chunk")))
        .select(col("doc_id"), col("chunk_number").cast("long").as("chunk_number"),
          col("chunk.indexedData").as("chunk_text"))
        .filter(lower(col("chunk_text")).rlike("[a-z0-9]"))
        .withColumn("chunk_id", col("doc_id") * 10000 + col("chunk_number"))
      val embedded = graft.operators.Indexing.attachEmbeddings(chunks, "chunk_text", emb)
      Search.vectorTopK(embedded, "embedding", emb.embed(m1Query), 10, "cosine",
          idCol = "chunk_id")
        .select(col("doc_id"), col("chunk_number"), round(-col("score"), 6).as("sim"))
        .orderBy(col("sim").desc, col("doc_id"), col("chunk_number"))
    },
    Some(s"""WITH RECURSIVE base AS (
            |  SELECT doc_id, text FROM documents
            |  WHERE text NOT LIKE '%' || chr(10) || '%'
            |    AND len(list_filter(string_split(text, ' '), x -> length(x) >= 400)) = 0
            |    AND text NOT LIKE '%' || chr(31) || '%'),
            |$splitStateCtesSql,
            |chunksrc AS (
            |  SELECT doc_id, CAST(0 AS BIGINT) AS chunk_number,
            |    CAST(doc_id AS VARCHAR) AS chunk_text FROM base
            |  UNION ALL
            |  SELECT doc_id, CAST(ci AS BIGINT) AS chunk_number, cs[ci] AS chunk_text
            |  FROM (SELECT doc_id, cs, unnest(generate_series(1, len(cs))) AS ci
            |        FROM (SELECT doc_id, string_split(acc, chr(31)) AS cs
            |              FROM st WHERE done AND acc <> ''))),
            |c AS (
            |  SELECT doc_id * 10000 + chunk_number AS chunk_id, doc_id, chunk_number, chunk_text
            |  FROM chunksrc WHERE regexp_matches(lower(chunk_text), '[a-z0-9]')
            |  UNION ALL
            |  SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), '$m1Query'),
            |$embedSearchCtesSql
            |SELECT doc_id, chunk_number, round(sc, 6) AS sim
            |FROM topk ORDER BY round(sc, 6) DESC, chunk_id""".stripMargin))

  // --------------------------------------------------------------------- dedup

  private val dedupExact = Q(
    (s, d) => D.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("is_dup",
        (col("doc_id") > min("doc_id").over(Window.partitionBy("h"))).cast("int"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, md5(text) AS h,
           |  CAST(doc_id > min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_dup
           |FROM documents ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------------- vector search

  /** Double-precision cosine in DuckDB SQL. `list_cosine_similarity` computes in
    * float32 and diverges from Spark's double math; this form matches bit-for-bit
    * after rounding.
    */
  /** Squared L2 in DuckDB with the same arithmetic as the codegen'd l2_sq_f
    * expression: per-element double subtraction, double accumulation.
    */
  private def l2Sql(v: String, q: String): String =
    s"""list_sum(list_transform(list_zip($v, $q),
       |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))""".stripMargin

  private def cosSql(v: String, q: String): String =
    s"""list_sum(list_transform(list_zip($v, $q), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
       |    ( sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) *
       |      sqrt(list_sum(list_transform($q, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) )""".stripMargin

  private def queryVec(s: SparkSession, d: String): Array[Float] =
    D.embeddings(s, d).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray

  private val t1VectorTopK = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      Search.vectorTopK(emb, "embedding", queryVec(s, d), 10, "cosine", idCol = "vec_id")
        .select(col("vec_id"), round(-col("score"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            |scored AS (
            |  SELECT vec_id, ${cosSql("embedding", "(SELECT e FROM q)")} AS s
            |  FROM embeddings WHERE vec_id <> 0),
            |topk AS (SELECT vec_id, s FROM scored ORDER BY s DESC, vec_id LIMIT 10)
            |SELECT vec_id, round(s, 6) AS sim FROM topk ORDER BY round(s, 6) DESC, vec_id""".stripMargin))

  /** Batch kNN: top-5 corpus neighbors for each of 5 query vectors in one pass
    * (broadcast query batch; per-query window over narrow score triples).
    */
  private val t1bVectorBatch = Q(
    (s, d) => {
      val emb = D.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val corpus = emb.filter(col("vec_id") >= 5)
      Search.vectorTopKBatch(corpus, "embedding", "vec_id",
          queries, "qid", "qv", k = 5, metric = "cosine")
        .select(col("qid"), col("vec_id"), round(-col("score"), 6).as("sim"), col("rank"))
        .orderBy("qid", "rank")
    },
    Some(s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
            |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5),
            |scored AS (SELECT qid, vec_id, ${cosSql("embedding", "qv")} AS s
            |           FROM corpus CROSS JOIN qs),
            |ranked AS (SELECT qid, vec_id, s,
            |  row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS rank FROM scored)
            |SELECT qid, vec_id, round(s, 6) AS sim, rank FROM ranked
            |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin))

  // ---------------------------------------------------------------------- BM25

  /** DuckDB CTEs computing BM25 (k1=1.2, b=0.75) over `documents` for searchTerms. */
  private def bm25Sql(conjunctive: Boolean, k: Int,
                      from: String = "documents",
                      tieBreak: String = "doc_id"): String = {
    val termList = searchTerms.map(t => s"'$t'").mkString(", ")
    val gate = if (conjunctive) s"WHERE matched = ${searchTerms.length}" else ""
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
       |  FROM $from),
       |dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
       |corpus AS (SELECT count(*) AS n, avg(dlen) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ($termList) GROUP BY doc_id, term),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id,
       |    sum( ln(1 + (corpus.n - df.df + 0.5)/(df.df + 0.5))
       |         * (tf.tf*(1.2+1))/(tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dlen/corpus.avgdl)) ) AS score,
       |    count(DISTINCT tf.term) AS matched
       |  FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN corpus
       |  GROUP BY tf.doc_id),
       |gated AS (SELECT doc_id, score FROM scored $gate),
       |topk AS (SELECT doc_id, score FROM gated ORDER BY round(score,5) DESC, $tieBreak LIMIT $k)
       |SELECT doc_id, round(score,5) AS score FROM topk""".stripMargin
  }

  private def bm25Spark(s: SparkSession, d: String, conjunctive: Boolean, k: Int): DataFrame =
    Search.bm25TopK(D.documents(s, d), "doc_id", "text", searchQuery, k,
      conjunctive = conjunctive, selectByRounded = Some(5))
      .select(col("docId").as("doc_id"), round(col("score"), 5).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)

  private val t2Bm25TopK = Q(
    (s, d) => bm25Spark(s, d, conjunctive = true, 10),
    Some(bm25Sql(conjunctive = true, 10) + " ORDER BY score DESC, doc_id"))

  /** Same result as t2 but via the PREBUILT postings index ([[graft.operators.Bm25Indexer]]) —
    * the plan that survives 100 TB: query-time reads only the query terms'
    * postings (term-sorted parquet → row-group pruning) plus two tiny broadcast
    * stats tables. No full-corpus scan or tokenize at search time.
    */
  private val t2bBm25Postings = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_bm25_idx_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused", selectByRounded = Some(5))
      idx.index(docs)
      idx.search(searchQuery, 10)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some(bm25Sql(conjunctive = true, 10) + " ORDER BY score DESC, doc_id"))

  /** The LSM postings lifecycle gated at SEARCH time: full index build, then
    * ONE incremental merge doing both delete (doc_id % 13 ids tombstone;
    * their text tokenizes ONLY for the O(changed) df/avgdl decrements) and
    * update (doc_id % 7 re-tokenize with appended text under FRESH ids past
    * a 1e7 offset — removed ids never return, the tombstone-soundness
    * contract), then a top-k search served from base ∪ delta ⊖ tombstones
    * with stats summed from base ⊕ delta. The oracle replays BM25 over the
    * post-lifecycle corpus, replicating the indexer's chunk-id tie-break
    * (replaced docs carry the offset) so the k-boundary is engine-stable.
    */
  private val t2cBm25LsmSearch = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_bm25_lsm_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused", selectByRounded = Some(5))
      idx.index(docs)
      val removed = docs.filter(col("chunkId") % 13 === 0 || col("chunkId") % 7 === 0)
        .select(col("chunkId").as("docId"), col("indexedData"))
      val replacement = docs
        .filter(col("chunkId") % 7 === 0 && col("chunkId") % 13 =!= 0)
        .select((col("chunkId") + 10000000L).as("chunkId"),
          concat(col("indexedData"), lit(" updated")).as("indexedData"))
      idx.updateIncremental(removed, replacement)
      idx.search(searchQuery, 10)
        .select((col("chunkId") % 10000000L).as("doc_id"),
          round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some(bm25Sql(conjunctive = true, 10,
      from = """(SELECT doc_id,
                |   text || CASE WHEN doc_id % 7 = 0 THEN ' updated' ELSE '' END AS text
                | FROM documents WHERE doc_id % 13 <> 0)""".stripMargin,
      tieBreak = """(CASE WHEN doc_id % 7 = 0 THEN doc_id + 10000000 ELSE doc_id END)""")
      + " ORDER BY score DESC, doc_id"))

  /** The suggest-key artifact's full lifecycle, gated cross-engine: index,
    * build the delete-key artifact, then ONE incremental merge that deletes
    * (%13) and replaces (%7, appending a token that EXISTS NOWHERE before
    * the update). Since round 13 the update MAINTAINS the artifact (batch
    * keys appended, sidecar restamped), so the suggestions come from the
    * maintained artifact ∩ live termDf on the no-anti-join fast path: a
    * missed key append drops the new token's suggestion, a stale-key
    * resurrection re-ranks by dead terms — either flips the hash. Oracle =
    * brute-force levenshtein over the post-lifecycle vocabulary.
    */
  private val suggestLifecycle = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_suggest_lsm_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused")
      idx.index(docs)
      idx.buildSuggestKeys() // over the PRE-update vocabulary — deliberately stale
      val removed = docs.filter(col("chunkId") % 13 === 0 || col("chunkId") % 7 === 0)
        .select(col("chunkId").as("docId"), col("indexedData"))
      val replacement = docs
        .filter(col("chunkId") % 7 === 0 && col("chunkId") % 13 =!= 0)
        .select((col("chunkId") + 10000000L).as("chunkId"),
          concat(col("indexedData"), lit(" qqnewterm")).as("indexedData"))
      idx.updateIncremental(removed, replacement)
      idx.suggest(Seq("tabel", "qurey", "qqnewtrm"), maxEdits = 2, topK = 3)
        .orderBy("q", "rank")
    },
    Some("""WITH corpus AS (SELECT doc_id,
           |    text || CASE WHEN doc_id % 7 = 0 THEN ' qqnewterm' ELSE '' END AS text
           |  FROM documents WHERE doc_id % 13 <> 0),
           |toks AS (SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
           |  FROM corpus),
           |vocab AS (SELECT term, count(DISTINCT doc_id) AS term_df FROM toks GROUP BY term),
           |qs AS (SELECT unnest(['tabel','qurey','qqnewtrm']) AS q),
           |cand AS (SELECT q, term AS suggestion,
           |    CAST(levenshtein(q, term) AS BIGINT) AS dist, term_df
           |  FROM qs CROSS JOIN vocab WHERE levenshtein(q, term) <= 2),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY q
           |    ORDER BY dist, term_df DESC, suggestion) AS rn FROM cand)
           |SELECT q, suggestion, dist, term_df, CAST(rn AS BIGINT) AS rank
           |FROM rk WHERE rn <= 3 ORDER BY q, rank""".stripMargin))

  /** FRESH-artifact suggest ([[graft.operators.Bm25Indexer.suggest]] with a
    * matching vocab stamp): the artifact was built from exactly this termDf
    * state, so the vocab-sized live-vs-artifact anti-join and on-the-fly
    * delta keys are SKIPPED outright (plan shape spec-pinned in SuggestSpec)
    * — this oracle gates that the shortcut loses no candidate: results must
    * equal DuckDB's brute-force cross-join levenshtein over the full
    * vocabulary. Complements `suggest_lifecycle`, which deliberately
    * exercises the STALE path (update after build).
    */
  private val suggestFresh = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_suggest_fresh_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused")
      idx.index(docs)
      idx.buildSuggestKeys()
      idx.suggest(Seq("tabel", "qurey", "custmer"), maxEdits = 2, topK = 3)
        .orderBy("q", "rank")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
           |  FROM documents),
           |vocab AS (SELECT term, count(DISTINCT doc_id) AS term_df FROM toks GROUP BY term),
           |qs AS (SELECT unnest(['tabel','qurey','custmer']) AS q),
           |cand AS (SELECT q, term AS suggestion,
           |    CAST(levenshtein(q, term) AS BIGINT) AS dist, term_df
           |  FROM qs CROSS JOIN vocab WHERE levenshtein(q, term) <= 2),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY q
           |    ORDER BY dist, term_df DESC, suggestion) AS rn FROM cand)
           |SELECT q, suggestion, dist, term_df, CAST(rn AS BIGINT) AS rank
           |FROM rk WHERE rn <= 3 ORDER BY q, rank""".stripMargin))

  /** Boolean MATCH over the PREBUILT index
    * ([[graft.operators.Bm25Indexer.booleanSearch]]): candidates from set
    * algebra on per-term posting id sets (NOT carried symbolically as a
    * complement — no universe scan), ranked by BM25 over the positive
    * terms. Same semantics as the scan-path `ql_boolean_search`, served
    * from term-pruned postings reads.
    */
  private val qlBooleanIndex = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_bool_idx_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused", selectByRounded = Some(5))
      idx.index(docs)
      idx.booleanSearch("(join AND vector) OR (spark NOT hash)", 20)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
           |  FROM documents),
           |dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
           |corpus AS (SELECT count(*) AS n, avg(dlen) AS avgdl FROM dl),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           |  WHERE term IN ('join', 'spark', 'vector') GROUP BY doc_id, term),
           |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
           |scored AS (
           |  SELECT tf.doc_id,
           |    sum( ln(1 + (corpus.n - df.df + 0.5)/(df.df + 0.5))
           |         * (tf.tf*(1.2+1))/(tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dlen/corpus.avgdl)) ) AS score
           |  FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN corpus
           |  GROUP BY tf.doc_id),
           |wl AS (SELECT doc_id, list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM documents),
           |cand AS (SELECT doc_id FROM wl
           |  WHERE (list_contains(w, 'join') AND list_contains(w, 'vector'))
           |     OR (list_contains(w, 'spark') AND NOT list_contains(w, 'hash'))),
           |topk AS (SELECT s.doc_id, s.score FROM scored s JOIN cand USING (doc_id)
           |  ORDER BY round(s.score, 5) DESC, s.doc_id LIMIT 20)
           |SELECT doc_id, round(score, 5) AS score FROM topk
           |ORDER BY score DESC, doc_id""".stripMargin))

  /** Double negation + De Morgan inside the boolean MATCH, served from the
    * index ([[graft.operators.QueryLang.nnf]] +
    * [[graft.operators.Bm25Indexer.booleanSearch]]): the query normalizes
    * to negation normal form before atom collection AND candidate
    * evaluation, so `NOT (NOT vector AND NOT join) NOT NOT spark`
    * ≡ `(vector OR join) AND spark` — candidates correct and all three
    * atoms BM25-scored. Gates the r15 NNF fix (the lifecycle property's
    * `NOT NOT b*` counterexample class): without NNF the index path
    * returned an EMPTY frame here while the scan path matched.
    */
  private val qlDoubleNegation = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_nnf_idx_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused", selectByRounded = Some(5))
      idx.index(docs)
      idx.booleanSearch("NOT (NOT vector AND NOT join) NOT NOT spark", 20)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
           |  FROM documents),
           |dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
           |corpus AS (SELECT count(*) AS n, avg(dlen) AS avgdl FROM dl),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           |  WHERE term IN ('vector', 'join', 'spark') GROUP BY doc_id, term),
           |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
           |scored AS (
           |  SELECT tf.doc_id,
           |    sum( ln(1 + (corpus.n - df.df + 0.5)/(df.df + 0.5))
           |         * (tf.tf*(1.2+1))/(tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dlen/corpus.avgdl)) ) AS score
           |  FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN corpus
           |  GROUP BY tf.doc_id),
           |wl AS (SELECT doc_id, list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM documents),
           |cand AS (SELECT doc_id FROM wl
           |  WHERE NOT (NOT list_contains(w, 'vector') AND NOT list_contains(w, 'join'))
           |    AND NOT NOT list_contains(w, 'spark')),
           |topk AS (SELECT s.doc_id, s.score FROM scored s JOIN cand USING (doc_id)
           |  ORDER BY round(s.score, 5) DESC, s.doc_id LIMIT 20)
           |SELECT doc_id, round(score, 5) AS score FROM topk
           |ORDER BY score DESC, doc_id""".stripMargin))

  /** The unified tokenizer on PUNCTUATED text, scan path
    * ([[graft.operators.QueryLang.booleanSearch]] with its r15 default
    * tokenizer = the index family's `[^a-z0-9]+` split): the same MATCH
    * query over a hyphen-joined rendering of the corpus returns exactly the
    * results of the space-joined original — the single-tokenizer contract
    * the reference holds engine-wide (FTS5 unicode61). DuckDB replays the
    * hyphenation and the regex split independently.
    */
  private val qlPunctuatedScan = Q(
    (s, d) => graft.operators.QueryLang.booleanSearch(
      D.documents(s, d)
        .withColumn("text", regexp_replace(col("text"), " ", "-")),
      "doc_id", "text", "(join AND vector) OR (spark NOT hash)", k = 30),
    Some("""WITH tok AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(replace(text, ' ', '-')),
           |      '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(list_contains(w, 'join')::int + list_contains(w, 'spark')::int
           |       + list_contains(w, 'vector')::int AS BIGINT) AS n_matched,
           |  CAST(len(list_filter(w, x -> x IN ('join', 'spark', 'vector'))) AS BIGINT) AS tf_total
           |FROM tok
           |WHERE (list_contains(w, 'join') AND list_contains(w, 'vector'))
           |   OR (list_contains(w, 'spark') AND NOT list_contains(w, 'hash'))
           |ORDER BY n_matched DESC, tf_total DESC, doc_id LIMIT 30""".stripMargin))

  /** Punctuated QUERY atoms on the scan path (r16 ADVICE): `parse` only
    * lowercases, so before [[graft.operators.QueryLang.normalize]] the atom
    * `hash-join` compiled to `array_contains(_t, "hash-join")` — a token the
    * engine tokenizer can never emit — and silently returned empty while the
    * index path matched. Now the atom re-tokenizes to `hash AND join` and a
    * punctuated quoted phrase widens in place (`"vector-search"` ≡
    * `"vector search"`), the scan==index contract applied to the QUERY side.
    */
  private val qlPunctuatedAtom = Q(
    (s, d) => graft.operators.QueryLang.booleanSearch(
      D.documents(s, d), "doc_id", "text",
      "hash-join OR \"vector-search\"", k = 30),
    Some("""WITH tok AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
           |      x -> x <> '') AS w
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(list_contains(w, 'hash')::int + list_contains(w, 'join')::int
           |       + list_contains(w, 'vector')::int + list_contains(w, 'search')::int
           |       AS BIGINT) AS n_matched,
           |  CAST(len(list_filter(w, x -> x IN ('hash', 'join', 'vector', 'search')))
           |       AS BIGINT) AS tf_total
           |FROM tok
           |WHERE (list_contains(w, 'hash') AND list_contains(w, 'join'))
           |   OR (len(w) >= 2 AND len(list_filter(generate_series(1, len(w) - 1),
           |         i -> w[i] = 'vector' AND w[i+1] = 'search')) > 0)
           |ORDER BY n_matched DESC, tf_total DESC, doc_id LIMIT 30""".stripMargin))

  /** Quoted-phrase atoms inside the boolean MATCH, served from the index
    * ([[graft.operators.Bm25Indexer.booleanSearch]] + the positional
    * artifact): `"hash join" OR (spark NOT vector)` — the phrase atom's
    * candidate ids come from ≤2 term-pruned POSITION reads, the boolean
    * algebra and BM25 ranking compose unchanged. The full FTS5 MATCH
    * grammar (terms, phrases, NEAR, boolean) now answers from the index.
    */
  private val qlBooleanPhraseIndex = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_boolph_idx_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused", selectByRounded = Some(5))
      idx.indexWithPhrase(docs) // one tokenize+explode pass builds both artifacts
      idx.booleanSearch("\"hash join\" OR (spark NOT vector)", 20)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
           |  FROM documents),
           |dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
           |corpus AS (SELECT count(*) AS n, avg(dlen) AS avgdl FROM dl),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           |  WHERE term IN ('hash', 'join', 'spark') GROUP BY doc_id, term),
           |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
           |scored AS (
           |  SELECT tf.doc_id,
           |    sum( ln(1 + (corpus.n - df.df + 0.5)/(df.df + 0.5))
           |         * (tf.tf*(1.2+1))/(tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dlen/corpus.avgdl)) ) AS score
           |  FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN corpus
           |  GROUP BY tf.doc_id),
           |wl AS (SELECT doc_id, list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM documents),
           |cand AS (SELECT doc_id FROM wl
           |  WHERE (len(w) >= 2 AND len(list_filter(generate_series(1, len(w) - 1),
           |           i -> w[i] = 'hash' AND w[i+1] = 'join')) > 0)
           |     OR (list_contains(w, 'spark') AND NOT list_contains(w, 'vector'))),
           |topk AS (SELECT s.doc_id, s.score FROM scored s JOIN cand USING (doc_id)
           |  ORDER BY round(s.score, 5) DESC, s.doc_id LIMIT 20)
           |SELECT doc_id, round(score, 5) AS score FROM topk
           |ORDER BY score DESC, doc_id""".stripMargin))

  /** Boolean MATCH × metadata filter
    * ([[graft.operators.Bm25Indexer.booleanSearch]] + the filter DSL): the
    * reference gates every FTS5 MATCH behind
    * `doc_id IN (SELECT ... WHERE <filter>)` (sqllite_indexer.py:64-74); we
    * replay that as ONE id semi-join against the FINAL candidate set — the
    * boolean algebra (including the NOT) evaluates over the FULL corpus
    * first, then the filter gates, and BM25 stats stay corpus-global exactly
    * like the filtered ranked search. The oracle re-derives candidates from
    * re-tokenized text and applies the same late conjunction.
    */
  private val qlBooleanFiltered = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_boolf_idx_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"),
          col("lang"), col("n_chars"))
      docs.write.mode("overwrite").parquet(s"$dir/chunks")
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/chunks", selectByRounded = Some(5))
      idx.index(docs)
      val f = FilterDsl.filterColumn("""lang = "en" and n_chars > "200"""",
        graft.core.Tables.open(s, s"$dir/chunks").schema)
      idx.booleanSearch("(join AND vector) OR (spark NOT hash)", 20, Some(f))
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
           |  FROM documents),
           |dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
           |corpus AS (SELECT count(*) AS n, avg(dlen) AS avgdl FROM dl),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           |  WHERE term IN ('join', 'spark', 'vector') GROUP BY doc_id, term),
           |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
           |scored AS (
           |  SELECT tf.doc_id,
           |    sum( ln(1 + (corpus.n - df.df + 0.5)/(df.df + 0.5))
           |         * (tf.tf*(1.2+1))/(tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dlen/corpus.avgdl)) ) AS score
           |  FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN corpus
           |  GROUP BY tf.doc_id),
           |wl AS (SELECT doc_id, lang, n_chars, list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM documents),
           |cand AS (SELECT doc_id FROM wl
           |  WHERE ((list_contains(w, 'join') AND list_contains(w, 'vector'))
           |     OR (list_contains(w, 'spark') AND NOT list_contains(w, 'hash')))
           |    AND lang = 'en' AND n_chars > 200),
           |topk AS (SELECT s.doc_id, s.score FROM scored s JOIN cand USING (doc_id)
           |  ORDER BY round(s.score, 5) DESC, s.doc_id LIMIT 20)
           |SELECT doc_id, round(score, 5) AS score FROM topk
           |ORDER BY score DESC, doc_id""".stripMargin))

  /** Prefix atoms in boolean MATCH over the index
    * ([[graft.operators.QueryLang.Prefix]] +
    * [[graft.operators.Bm25Indexer.booleanSearch]]): FTS5's `tok*` prefix
    * queries — candidates come from a RANGE-predicate postings read
    * (`startsWith` prunes the term-sorted segments by row-group stats, same
    * class as the exact-term reads), and the prefix scores as the SET of
    * vocabulary terms it expands to, each with its own df/idf. The oracle
    * replays the expansion with `LIKE 'vec%'` over re-tokenized text.
    */
  private val qlPrefixIndex = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_prefix_idx_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused", selectByRounded = Some(5))
      idx.index(docs)
      idx.booleanSearch("vec* AND (spark OR join) NOT hash", 20)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
           |  FROM documents),
           |dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
           |corpus AS (SELECT count(*) AS n, avg(dlen) AS avgdl FROM dl),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           |  WHERE term IN ('spark', 'join') OR term LIKE 'vec%'
           |  GROUP BY doc_id, term),
           |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
           |scored AS (
           |  SELECT tf.doc_id,
           |    sum( ln(1 + (corpus.n - df.df + 0.5)/(df.df + 0.5))
           |         * (tf.tf*(1.2+1))/(tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dlen/corpus.avgdl)) ) AS score
           |  FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN corpus
           |  GROUP BY tf.doc_id),
           |wl AS (SELECT doc_id, list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM documents),
           |cand AS (SELECT doc_id FROM wl
           |  WHERE len(list_filter(w, x -> x LIKE 'vec%')) > 0
           |    AND (list_contains(w, 'spark') OR list_contains(w, 'join'))
           |    AND NOT list_contains(w, 'hash')),
           |topk AS (SELECT s.doc_id, s.score FROM scored s JOIN cand USING (doc_id)
           |  ORDER BY round(s.score, 5) DESC, s.doc_id LIMIT 20)
           |SELECT doc_id, round(score, 5) AS score FROM topk
           |ORDER BY score DESC, doc_id""".stripMargin))

  /** FTS5 phrase-prefix atoms in boolean MATCH over the index
    * ([[graft.operators.QueryLang.Phrase]] `lastPrefix` /
    * [[graft.operators.QueryLang.NearOp]] `lastPrefix` +
    * [[graft.operators.Bm25Indexer.booleanSearch]]): SQLite FTS5 — the
    * reference's text engine (sqllite_indexer.py:106-114) — accepts a
    * trailing `*` on the LAST token of a quoted phrase (`"hash jo"*`) and on
    * NEAR operands (`NEAR(spark vec*, 6)`). Here the prefix-marked last slot
    * reads positions by a RANGE predicate on the term-sorted positional
    * artifact (matching vocab terms' per-doc position arrays merge before
    * the shift-intersect), and the stem scores as its vocabulary expansion.
    * The oracle replays both atoms over re-tokenized text with
    * `LIKE 'stem%'` on the prefix slots.
    */
  private val qlPhrasePrefixIndex = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_phpre_idx_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused", selectByRounded = Some(5))
      idx.indexWithPhrase(docs) // one tokenize+explode pass builds both artifacts
      idx.booleanSearch("\"hash jo\"* OR NEAR(spark vec*, 6)", 20)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
           |  FROM documents),
           |dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
           |corpus AS (SELECT count(*) AS n, avg(dlen) AS avgdl FROM dl),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           |  WHERE term IN ('hash', 'spark') OR term LIKE 'jo%' OR term LIKE 'vec%'
           |  GROUP BY doc_id, term),
           |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
           |scored AS (
           |  SELECT tf.doc_id,
           |    sum( ln(1 + (corpus.n - df.df + 0.5)/(df.df + 0.5))
           |         * (tf.tf*(1.2+1))/(tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dlen/corpus.avgdl)) ) AS score
           |  FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN corpus
           |  GROUP BY tf.doc_id),
           |wl AS (SELECT doc_id, list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM documents),
           |pp AS (SELECT doc_id FROM wl
           |  WHERE len(w) >= 2 AND len(list_filter(generate_series(1, len(w) - 1),
           |        i -> w[i] = 'hash' AND w[i+1] LIKE 'jo%')) > 0),
           |f AS (SELECT doc_id, w,
           |    list_filter(generate_series(1, len(w)), i -> w[i] = 'spark') AS pa,
           |    list_filter(generate_series(1, len(w)), i -> w[i] LIKE 'vec%') AS pb
           |  FROM wl
           |  WHERE list_contains(w, 'spark') AND len(list_filter(w, x -> x LIKE 'vec%')) > 0),
           |spans AS (SELECT doc_id,
           |    list_min(list_transform(
           |      list_filter(
           |        list_transform(generate_series(1, len(w)), s -> struct_pack(
           |          e := greatest(list_min(list_filter(pa, p -> p >= s)),
           |                        list_min(list_filter(pb, p -> p >= s))),
           |          st := s)),
           |        x -> x.st <= least(list_max(pa), list_max(pb))
           |             AND (list_contains(pa, x.st) OR list_contains(pb, x.st))),
           |      z -> z.e - z.st + 1)) AS span_len
           |  FROM f),
           |nearc AS (SELECT doc_id FROM spans WHERE span_len <= 6),
           |cand AS (SELECT doc_id FROM pp UNION SELECT doc_id FROM nearc),
           |topk AS (SELECT s.doc_id, s.score FROM scored s JOIN cand USING (doc_id)
           |  ORDER BY round(s.score, 5) DESC, s.doc_id LIMIT 20)
           |SELECT doc_id, round(score, 5) AS score FROM topk
           |ORDER BY score DESC, doc_id""".stripMargin))

  /** FTS5 initial-token anchors (`^`) in boolean MATCH over the index
    * ([[graft.operators.QueryLang.First]] +
    * [[graft.operators.Bm25Indexer.booleanSearch]]): FTS5's "a phrase
    * beginning with ^ matches only when its first token is the first token
    * in the column". Anchors wrap terms, prefixes, and (prefix-)phrases
    * (`^key`, `^ta*`, `^"the fast"`); on the index path the anchor is a
    * POSITION predicate — the atom's occurrence starts from the positional
    * artifact, filtered to position 1. The oracle replays with `w[1]`
    * predicates over re-tokenized text.
    */
  private val qlAnchorIndex = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_anchor_idx_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused", selectByRounded = Some(5))
      idx.indexWithPhrase(docs) // one tokenize+explode pass builds both artifacts
      idx.booleanSearch("(^key AND spark) OR ^ta* OR ^\"the fast\"", 20)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
           |  FROM documents),
           |dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
           |corpus AS (SELECT count(*) AS n, avg(dlen) AS avgdl FROM dl),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           |  WHERE term IN ('key', 'spark', 'the', 'fast') OR term LIKE 'ta%'
           |  GROUP BY doc_id, term),
           |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
           |scored AS (
           |  SELECT tf.doc_id,
           |    sum( ln(1 + (corpus.n - df.df + 0.5)/(df.df + 0.5))
           |         * (tf.tf*(1.2+1))/(tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dlen/corpus.avgdl)) ) AS score
           |  FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN corpus
           |  GROUP BY tf.doc_id),
           |wl AS (SELECT doc_id, list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM documents),
           |cand AS (SELECT doc_id FROM wl
           |  WHERE (w[1] = 'key' AND list_contains(w, 'spark'))
           |     OR w[1] LIKE 'ta%'
           |     OR (len(w) >= 2 AND w[1] = 'the' AND w[2] = 'fast')),
           |topk AS (SELECT s.doc_id, s.score FROM scored s JOIN cand USING (doc_id)
           |  ORDER BY round(s.score, 5) DESC, s.doc_id LIMIT 20)
           |SELECT doc_id, round(score, 5) AS score FROM topk
           |ORDER BY score DESC, doc_id""".stripMargin))

  /** Boolean MATCH as a fusion participant
    * ([[graft.operators.Bm25Indexer.booleanCandidates]] +
    * [[graft.operators.Search.vectorTopK]]): the MATCH candidate set — pure
    * posting-set algebra, no scoring — gates a VECTOR search's rows before
    * its top-k cut, the way `CollectionManager.search(matchQuery = ...)`
    * gates every index before RRF (and the reference composes MATCH with its
    * metadata gate inside one indexer query, sqllite_indexer.py:64-74). The
    * oracle re-derives the candidates from re-tokenized text and replays the
    * gated cosine top-k.
    */
  private val qlMatchFused = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_matchfuse_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused")
      idx.index(docs)
      val gate = idx.booleanCandidates("(join AND vector) OR (spark NOT hash)")
        .select(col("docId").as("vec_id"))
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
        .join(gate, Seq("vec_id"), "left_semi")
      Search.vectorTopK(emb, "embedding", queryVec(s, d), 15, "cosine", idCol = "vec_id")
        .select(col("vec_id"), round(-col("score"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            |wl AS (SELECT doc_id, list_filter(
            |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
            |  FROM documents),
            |cand AS (SELECT doc_id FROM wl
            |  WHERE (list_contains(w, 'join') AND list_contains(w, 'vector'))
            |     OR (list_contains(w, 'spark') AND NOT list_contains(w, 'hash'))),
            |scored AS (
            |  SELECT vec_id, ${cosSql("embedding", "(SELECT e FROM q)")} AS s
            |  FROM embeddings JOIN cand ON vec_id = doc_id WHERE vec_id <> 0),
            |topk AS (SELECT vec_id, s FROM scored ORDER BY s DESC, vec_id LIMIT 15)
            |SELECT vec_id, round(s, 6) AS sim FROM topk
            |ORDER BY round(s, 6) DESC, vec_id""".stripMargin))

  /** Document-level boolean MATCH roll-up
    * ([[graft.operators.Bm25Indexer.booleanHits]] + the
    * `CollectionManager.booleanSearchDocs` shape): chunks come from the
    * SQL-replayable fan-out (m5), the index is built over CHUNKS, boolean
    * candidates rank by BM25 per chunk, and each DOCUMENT ranks by its best
    * chunk (the W2 doc-rank convention) — the oracle replays the fan-out,
    * the per-chunk scoring, the boolean gate, and the max-per-doc roll-up.
    */
  private val qlMatchDocs = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_matchdocs_").toString
      val chunks = chunkFanout(s, d)
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused", selectByRounded = Some(5))
      idx.index(chunks.select(col("chunk_id").as("chunkId"),
        col("chunk_text").as("indexedData")))
      idx.booleanHits("(join AND vector) OR (spark NOT hash)")
        .join(chunks.select(col("chunk_id").as("docId"), col("doc_id")), Seq("docId"))
        .groupBy("doc_id").agg(max("score").as("score"))
        .orderBy(round(col("score"), 5).desc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some(s"""WITH chunks AS ($chunkFanoutSql),
           |toks AS (
           |  SELECT chunk_id, unnest(list_filter(
           |    regexp_split_to_array(lower(chunk_text), '[^a-z0-9]+'), x -> x <> '')) AS term
           |  FROM chunks),
           |dl AS (SELECT chunk_id, count(*) AS dlen FROM toks GROUP BY chunk_id),
           |corpus AS (SELECT count(*) AS n, avg(dlen) AS avgdl FROM dl),
           |tf AS (SELECT chunk_id, term, count(*) AS tf FROM toks
           |  WHERE term IN ('join', 'spark', 'vector') GROUP BY chunk_id, term),
           |df AS (SELECT term, count(DISTINCT chunk_id) AS df FROM tf GROUP BY term),
           |scored AS (
           |  SELECT tf.chunk_id,
           |    sum( ln(1 + (corpus.n - df.df + 0.5)/(df.df + 0.5))
           |         * (tf.tf*(1.2+1))/(tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dlen/corpus.avgdl)) ) AS score
           |  FROM tf JOIN df USING(term) JOIN dl USING(chunk_id) CROSS JOIN corpus
           |  GROUP BY tf.chunk_id),
           |wl AS (SELECT chunk_id, doc_id, list_filter(
           |    regexp_split_to_array(lower(chunk_text), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM chunks),
           |cand AS (SELECT chunk_id FROM wl
           |  WHERE (list_contains(w, 'join') AND list_contains(w, 'vector'))
           |     OR (list_contains(w, 'spark') AND NOT list_contains(w, 'hash'))),
           |perdoc AS (SELECT c.doc_id, max(s.score) AS score
           |  FROM scored s JOIN cand USING (chunk_id)
           |  JOIN chunks c USING (chunk_id)
           |  GROUP BY c.doc_id),
           |topk AS (SELECT doc_id, score FROM perdoc
           |  ORDER BY round(score, 5) DESC, doc_id LIMIT 20)
           |SELECT doc_id, round(score, 5) AS score FROM topk
           |ORDER BY score DESC, doc_id""".stripMargin))

  /** NEAR atoms INSIDE the boolean MATCH grammar, served from the index
    * ([[graft.operators.QueryLang.Near]] +
    * [[graft.operators.Bm25Indexer.booleanSearch]]): FTS5's MATCH embeds
    * `NEAR(...)` as an atom of the boolean algebra — here
    * `NEAR(spark vector, 8) OR (join NOT hash)`. The NEAR atom's candidate
    * ids come from ≤2 term-pruned POSITION reads (window = span length ≤ 8),
    * union/anti compose them with the term sets, BM25 ranks over the
    * positive terms. The oracle re-derives the NEAR window from re-tokenized
    * text with the same start-at-an-occurrence span logic as
    * `ql_near_index`, then replays the boolean and the scoring in SQL.
    */
  private val qlBooleanNearIndex = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_boolnear_idx_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused", selectByRounded = Some(5))
      idx.indexWithPhrase(docs) // one tokenize+explode pass builds both artifacts
      idx.booleanSearch("NEAR(spark vector, 8) OR (join NOT hash)", 20)
        .select(col("chunkId").as("doc_id"), round(col("score"), 5).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
           |  FROM documents),
           |dl AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
           |corpus AS (SELECT count(*) AS n, avg(dlen) AS avgdl FROM dl),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
           |  WHERE term IN ('join', 'spark', 'vector') GROUP BY doc_id, term),
           |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
           |scored AS (
           |  SELECT tf.doc_id,
           |    sum( ln(1 + (corpus.n - df.df + 0.5)/(df.df + 0.5))
           |         * (tf.tf*(1.2+1))/(tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dlen/corpus.avgdl)) ) AS score
           |  FROM tf JOIN df USING(term) JOIN dl USING(doc_id) CROSS JOIN corpus
           |  GROUP BY tf.doc_id),
           |wl AS (SELECT doc_id, list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM documents),
           |f AS (SELECT doc_id, w,
           |    list_filter(generate_series(1, len(w)), i -> w[i] = 'spark') AS pa,
           |    list_filter(generate_series(1, len(w)), i -> w[i] = 'vector') AS pb
           |  FROM wl
           |  WHERE list_contains(w, 'spark') AND list_contains(w, 'vector')),
           |spans AS (SELECT doc_id,
           |    list_min(list_transform(
           |      list_filter(
           |        list_transform(generate_series(1, len(w)), s -> struct_pack(
           |          e := greatest(list_min(list_filter(pa, p -> p >= s)),
           |                        list_min(list_filter(pb, p -> p >= s))),
           |          st := s)),
           |        x -> x.st <= least(list_max(pa), list_max(pb))
           |             AND (list_contains(pa, x.st) OR list_contains(pb, x.st))),
           |      z -> z.e - z.st + 1)) AS span_len
           |  FROM f),
           |nearc AS (SELECT doc_id FROM spans WHERE span_len <= 8),
           |boolc AS (SELECT doc_id FROM wl
           |  WHERE list_contains(w, 'join') AND NOT list_contains(w, 'hash')),
           |cand AS (SELECT doc_id FROM nearc UNION SELECT doc_id FROM boolc),
           |topk AS (SELECT s.doc_id, s.score FROM scored s JOIN cand USING (doc_id)
           |  ORDER BY round(s.score, 5) DESC, s.doc_id LIMIT 20)
           |SELECT doc_id, round(score, 5) AS score FROM topk
           |ORDER BY score DESC, doc_id""".stripMargin))

  /** NEAR over the positional index ([[graft.operators.Bm25Indexer.near]],
    * FTS5 `NEAR(a b c, n)`): all terms within a ≤12-token window, ranked by
    * the minimal span — evaluated from ≤3 term-pruned position reads, never
    * the token stream. Oracle = the scan-semantics replay with the window
    * cut (same candidate/window logic as `ql_minspan_search`).
    */
  private val qlNearIndex = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_near_idx_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused")
      idx.indexWithPhrase(docs) // one tokenize+explode pass builds both artifacts
      idx.near(Seq("spark", "vector", "window"), window = 12, k = 25)
        .select(col("docId").as("doc_id"), col("span_len"), col("span_start"))
        .orderBy(col("span_len"), col("doc_id"))
    },
    Some("""WITH tok AS (SELECT doc_id, list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM documents),
           |f AS (SELECT doc_id, w,
           |    list_filter(generate_series(1, len(w)), i -> w[i] = 'spark') AS pa,
           |    list_filter(generate_series(1, len(w)), i -> w[i] = 'vector') AS pb,
           |    list_filter(generate_series(1, len(w)), i -> w[i] = 'window') AS pc
           |  FROM tok
           |  WHERE list_contains(w, 'spark') AND list_contains(w, 'vector')
           |    AND list_contains(w, 'window')),
           |c AS (SELECT doc_id, list_filter(
           |    list_transform(generate_series(1, len(w)), s -> struct_pack(
           |      e := greatest(list_min(list_filter(pa, p -> p >= s)),
           |                    list_min(list_filter(pb, p -> p >= s)),
           |                    list_min(list_filter(pc, p -> p >= s))),
           |      st := s)),
           |    x -> x.st <= least(list_max(pa), list_max(pb), list_max(pc))
           |         AND (list_contains(pa, x.st) OR list_contains(pb, x.st)
           |              OR list_contains(pc, x.st))) AS cand
           |  FROM f),
           |sel AS (SELECT doc_id, cand,
           |    list_min(list_transform(cand, z -> z.e - z.st + 1)) AS span_len
           |  FROM c WHERE len(cand) > 0)
           |SELECT doc_id, CAST(span_len AS BIGINT) AS span_len,
           |  CAST(list_min(list_transform(
           |    list_filter(cand, z -> z.e - z.st + 1 = span_len), z -> z.st)) AS BIGINT)
           |    AS span_start
           |FROM sel WHERE span_len <= 12
           |ORDER BY span_len, doc_id LIMIT 25""".stripMargin))

  /** Positional-index lifecycle ([[graft.operators.Bm25Indexer.phrase]]):
    * index → build the positional artifact → incremental delete+replace
    * APPENDING two fresh "hash join" occurrences per replaced doc → phrase
    * query. Replaced docs' occurrences are only reachable through the
    * positions_delta union and deleted docs must die via the shared
    * tombstones, so the hash gates the artifact's whole LSM contract.
    */
  private val phraseLifecycle = Q(
    (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_phrase_lsm_").toString
      val docs = D.documents(s, d)
        .select(col("doc_id").as("chunkId"), col("text").as("indexedData"))
      val idx = new graft.operators.Bm25Indexer(
        s, dir, chunksPath = s"$dir/unused")
      idx.indexWithPhrase(docs) // one tokenize+explode pass builds both artifacts
      val removed = docs.filter(col("chunkId") % 13 === 0 || col("chunkId") % 7 === 0)
        .select(col("chunkId").as("docId"), col("indexedData"))
      val replacement = docs
        .filter(col("chunkId") % 7 === 0 && col("chunkId") % 13 =!= 0)
        .select((col("chunkId") + 10000000L).as("chunkId"),
          concat(col("indexedData"), lit(" hash join hash join")).as("indexedData"))
      idx.updateIncremental(removed, replacement)
      idx.phrase(Seq("hash", "join"), k = 200)
        .select(col("docId").as("doc_id"), col("phrase_tf"), col("first_pos"))
        .orderBy(col("phrase_tf").desc, col("doc_id"))
    },
    Some("""WITH corpus AS (SELECT
           |    CASE WHEN doc_id % 7 = 0 THEN doc_id + 10000000 ELSE doc_id END AS doc_id,
           |    text || CASE WHEN doc_id % 7 = 0 THEN ' hash join hash join' ELSE '' END AS text
           |  FROM documents WHERE doc_id % 13 <> 0),
           |tok AS (SELECT doc_id, list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM corpus),
           |p AS (SELECT doc_id, list_filter(generate_series(1, len(w) - 1),
           |        i -> w[i] = 'hash' AND w[i+1] = 'join') AS hits
           |  FROM tok WHERE len(w) >= 2)
           |SELECT doc_id, CAST(len(hits) AS BIGINT) AS phrase_tf,
           |  CAST(hits[1] AS BIGINT) AS first_pos
           |FROM p WHERE len(hits) > 0
           |ORDER BY phrase_tf DESC, doc_id LIMIT 200""".stripMargin))

  // ----------------------------------------------------------------------- RRF

  private val a1RrfFusion = Q(
    (s, d) => {
      import graft.plans.VectorFunctions.cosineF
      val emb = D.embeddings(s, d)
      val vecList = emb
        .select(col("vec_id").as("id"),
                round(cosineF(col("embedding"), typedLit(queryVec(s, d))), 6).as("s"))
        .orderBy(col("s").desc, col("id").asc).limit(20)
      val bmList = bm25Spark(s, d, conjunctive = false, 20)
        .select(col("doc_id").as("id"), col("score").as("s"))
      Search.rrfFuse(Seq(vecList, bmList), "id", "s", Seq(false, false), 60, 10)
        .select(col("id"), round(col("rrfScore"), 6).as("rrf_score"),
                col("bestRank").cast("long").as("best_rank"))
        .orderBy(col("rrf_score").desc, col("id").asc)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            |vscored AS (
            |  SELECT vec_id AS id, round(${cosSql("embedding", "(SELECT e FROM q)")}, 6) AS s
            |  FROM embeddings),
            |vtop AS (SELECT id, s FROM vscored ORDER BY s DESC, id LIMIT 20),
            |vrank AS (SELECT id, row_number() OVER (ORDER BY s DESC, id) AS rank FROM vtop),
            |btop AS (${bm25Sql(conjunctive = false, 20).replace("\n", "\n  ")}),
            |brank AS (SELECT doc_id AS id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM btop),
            |allr AS (SELECT * FROM vrank UNION ALL SELECT * FROM brank),
            |fused AS (SELECT id, sum(1.0/(60+rank)) AS rrf, min(rank) AS best_rank FROM allr GROUP BY id)
            |SELECT id, round(rrf, 6) AS rrf_score, best_rank FROM fused
            |ORDER BY round(rrf, 6) DESC, id LIMIT 10""".stripMargin))

  /** Weighted RRF ([[graft.operators.Search.rrfFuse]] with `weights`): the
    * per-index importance knob over plain RRF — here vector counts 2× BM25.
    * Same plan shape as `a1_rrf_fusion`; the weighted scores and the
    * re-ordering they cause are what the gate locks.
    */
  private val a1bWeightedRrf = Q(
    (s, d) => {
      import graft.plans.VectorFunctions.cosineF
      val emb = D.embeddings(s, d)
      val vecList = emb
        .select(col("vec_id").as("id"),
                round(cosineF(col("embedding"), typedLit(queryVec(s, d))), 6).as("s"))
        .orderBy(col("s").desc, col("id").asc).limit(20)
      val bmList = bm25Spark(s, d, conjunctive = false, 20)
        .select(col("doc_id").as("id"), col("score").as("s"))
      Search.rrfFuse(Seq(vecList, bmList), "id", "s", Seq(false, false), 60, 10,
          weights = Seq(2.0, 1.0))
        .select(col("id"), round(col("rrfScore"), 6).as("rrf_score"),
                col("bestRank").cast("long").as("best_rank"))
        .orderBy(col("rrf_score").desc, col("id").asc)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            |vscored AS (
            |  SELECT vec_id AS id, round(${cosSql("embedding", "(SELECT e FROM q)")}, 6) AS s
            |  FROM embeddings),
            |vtop AS (SELECT id, s FROM vscored ORDER BY s DESC, id LIMIT 20),
            |vrank AS (SELECT id, row_number() OVER (ORDER BY s DESC, id) AS rank, 2.0 AS w FROM vtop),
            |btop AS (${bm25Sql(conjunctive = false, 20).replace("\n", "\n  ")}),
            |brank AS (SELECT doc_id AS id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank, 1.0 AS w FROM btop),
            |allr AS (SELECT * FROM vrank UNION ALL SELECT * FROM brank),
            |fused AS (SELECT id, sum(w/(60+rank)) AS rrf, min(rank) AS best_rank FROM allr GROUP BY id)
            |SELECT id, round(rrf, 6) AS rrf_score, best_rank FROM fused
            |ORDER BY round(rrf, 6) DESC, id LIMIT 10""".stripMargin))

  // ----------------------------------------------------- dedup family (extensions)

  /** Shared DuckDB fragments: tokens and word-3-gram shingles of documents.text. */
  private val toksSql =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
  private def shinglesSqlFrom(toks: String): String =
    s"""CASE WHEN len($toks) < 3 THEN [array_to_string($toks, ' ')]
       |ELSE list_transform(generate_series(1, len($toks) - 2),
       |       i -> array_to_string(($toks)[i:i+2], ' ')) END""".stripMargin
  private val shinglesCte =
    s"""toks AS (SELECT doc_id, $toksSql AS t FROM documents),
       |sh AS (SELECT doc_id, ${shinglesSqlFrom("t")} AS sh FROM toks)""".stripMargin

  private val dedupMinhashLsh = Q(
    (s, d) => graft.operators.Dedup.minhashLsh(D.documents(s, d), "doc_id", "text")
      .select(col("doc_id"), col("sig0"), col("sig1"), col("sig2"), col("sig3"),
        col("b0_size").cast("long").as("b0_size"),
        col("b1_size").cast("long").as("b1_size"), col("is_candidate"))
      .orderBy("doc_id"),
    Some(s"""WITH $shinglesCte,
            |m AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS m FROM sh),
            |sig AS (SELECT doc_id,
            |  list_min(list_transform(m, x -> substring(x, 1, 8))) AS sig0,
            |  list_min(list_transform(m, x -> substring(x, 9, 8))) AS sig1,
            |  list_min(list_transform(m, x -> substring(x, 17, 8))) AS sig2,
            |  list_min(list_transform(m, x -> substring(x, 25, 8))) AS sig3
            |  FROM m),
            |z AS (SELECT doc_id, sig0, sig1, sig2, sig3,
            |  count(*) OVER (PARTITION BY sig0 || sig1) AS b0_size,
            |  count(*) OVER (PARTITION BY sig2 || sig3) AS b1_size FROM sig)
            |SELECT doc_id, sig0, sig1, sig2, sig3, b0_size, b1_size,
            |  CAST(b0_size > 1 OR b1_size > 1 AS INT) AS is_candidate
            |FROM z ORDER BY doc_id""".stripMargin))

  /** Incremental dedup-on-arrival ([[graft.operators.Dedup.incrementalNearDups]]):
    * docs 400+ arrive as the "new batch" and gate against the persisted
    * signature table of docs 0..399 — the corpus side contributes only its
    * narrow signature columns, never text, and the new batch broadcasts.
    */
  private val dedupIncremental = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      val existingSigs = graft.operators.Dedup.minhashSignatures(
          docs.filter(col("doc_id") < 400), "doc_id", "text")
        .withColumnRenamed("doc_id", "ex_id")
      graft.operators.Dedup.incrementalNearDups(
          docs.filter(col("doc_id") >= 400), existingSigs, "doc_id", "text")
        .orderBy("doc_id")
    },
    Some(s"""WITH $shinglesCte,
            |m AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS m FROM sh),
            |sig AS (SELECT doc_id,
            |  list_min(list_transform(m, x -> substring(x, 1, 8))) AS sig0,
            |  list_min(list_transform(m, x -> substring(x, 9, 8))) AS sig1,
            |  list_min(list_transform(m, x -> substring(x, 17, 8))) AS sig2,
            |  list_min(list_transform(m, x -> substring(x, 25, 8))) AS sig3
            |  FROM m),
            |b AS (SELECT doc_id, sig0 || sig1 AS band0, sig2 || sig3 AS band1 FROM sig),
            |exb AS (SELECT doc_id AS ex_id, unnest([band0, band1]) AS band
            |        FROM b WHERE doc_id < 400),
            |newb AS (SELECT doc_id, unnest([band0, band1]) AS band
            |         FROM b WHERE doc_id >= 400),
            |hits AS (SELECT doc_id, min(ex_id) AS dup_of
            |         FROM newb JOIN exb USING (band) GROUP BY doc_id)
            |SELECT d.doc_id, hits.dup_of, hits.dup_of IS NOT NULL AS is_dup
            |FROM (SELECT doc_id FROM documents WHERE doc_id >= 400) d
            |LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin))

  /** The LSH candidate-pair JOIN itself (bucket-local self-join + exact Jaccard
    * verify) — the path that replaces all-pairs at scale. Gated separately from
    * dedup_minhash_lsh, which only checks signatures/band occupancy.
    */
  private val dedupLshPairs = Q(
    (s, d) => graft.operators.Dedup.minhashCandidatePairs(
        D.documents(s, d), "doc_id", "text", minJaccard = 0.2)
      .orderBy(col("jaccard").desc, col("id_a").asc, col("id_b").asc).limit(20),
    Some(s"""WITH $shinglesCte,
            |m AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS m FROM sh),
            |b AS (SELECT doc_id,
            |  list_min(list_transform(m, x -> substring(x, 1, 8))) ||
            |  list_min(list_transform(m, x -> substring(x, 9, 8))) AS band0 FROM m),
            |dsh AS (SELECT doc_id, list_distinct(sh) AS sh FROM sh),
            |pairs AS (
            |  SELECT a.doc_id AS id_a, c.doc_id AS id_b,
            |    len(list_intersect(x.sh, y.sh)) AS inter,
            |    len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS uni
            |  FROM b a JOIN b c ON a.band0 = c.band0 AND a.doc_id < c.doc_id
            |  JOIN dsh x ON x.doc_id = a.doc_id
            |  JOIN dsh y ON y.doc_id = c.doc_id)
            |SELECT id_a, id_b, round(inter / uni, 6) AS jaccard FROM pairs
            |WHERE inter / uni >= 0.2
            |ORDER BY round(inter / uni, 6) DESC, id_a, id_b LIMIT 20""".stripMargin))

  /** C4-style line-level boilerplate removal, compared by md5 of the rebuilt
    * text (keeps oracle rows narrow).
    */
  private val dedupLines = Q(
    (s, d) => graft.operators.Dedup.lineDedup(D.documents(s, d), "doc_id", "text",
        maxOccurrences = 2)
      .select(col("doc_id"), col("n_lines"), col("n_kept"), md5(col("cleaned")).as("h"))
      .orderBy("doc_id"),
    Some("""WITH base AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
           |idx AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i, ls FROM base),
           |lines AS (SELECT doc_id, i, ls[i] AS line FROM idx),
           |cnt AS (SELECT line, count(*) AS c FROM lines GROUP BY line),
           |joined AS (SELECT l.doc_id, l.i, l.line, c.c FROM lines l JOIN cnt c USING(line))
           |SELECT doc_id, count(*) AS n_lines,
           |  CAST(sum(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  md5(coalesce(string_agg(CASE WHEN c <= 2 THEN line END, chr(10) ORDER BY i), '')) AS h
           |FROM joined GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  private val dedupSimhash = Q(
    (s, d) => D.documents(s, d)
      .select(col("doc_id"), graft.operators.Dedup.simhash16("text").as("fp"))
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id, CAST(coalesce(list_sum(list_transform(generate_series(1, 16), j ->
            |  CASE WHEN coalesce(list_sum(list_transform(m, x ->
            |    CASE WHEN strpos('0123456789abcdef', x[j:j]) >= 9 THEN 1 ELSE -1 END)), 0) > 0
            |  THEN 1 << (j - 1) ELSE 0 END)), 0) AS BIGINT) AS fp
            |FROM (SELECT doc_id, list_transform($toksSql, t -> md5(t)) AS m FROM documents)
            |ORDER BY doc_id""".stripMargin))

  private val dedupNgramJaccard = Q(
    (s, d) => graft.operators.Dedup.ngramJaccardPairs(
        D.documents(s, d).filter(col("doc_id") < 100), "doc_id", "text")
      .orderBy(col("jaccard").desc, col("id_a").asc, col("id_b").asc).limit(10),
    Some(s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id < 100),
            |sh AS (SELECT doc_id, list_distinct(${shinglesSqlFrom("t")}) AS sh FROM toks),
            |pairs AS (
            |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            |    len(list_intersect(a.sh, b.sh)) AS inter,
            |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
            |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            |SELECT id_a, id_b, round(inter / uni, 6) AS jaccard FROM pairs
            |ORDER BY round(inter / uni, 6) DESC, id_a, id_b LIMIT 10""".stripMargin))

  private val dedupEmbedding = Q(
    (s, d) => graft.operators.Dedup.embeddingNearDupPairs(
        D.embeddings(s, d), "vec_id", "embedding", minCosine = -1.0, bits = 8)
      .orderBy(col("cos").desc, col("id_a").asc, col("id_b").asc).limit(20),
    Some(s"""WITH b AS (SELECT vec_id, embedding,
            |  array_to_string(list_transform(embedding[1:8],
            |    x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
            |  FROM embeddings),
            |pairs AS (
            |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
            |    ${cosSql("a.embedding", "b2.embedding")} AS c
            |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
            |SELECT id_a, id_b, round(c, 6) AS cos FROM pairs
            |ORDER BY round(c, 6) DESC, id_a, id_b LIMIT 20""".stripMargin))

  /** Transitive near-dup clusters: minhash band collisions form edges; connected
    * components (iterative min-label propagation) merge chains a pairwise check
    * misses. Canonical doc = min id per component.
    */
  private val dedupClusters = Q(
    (s, d) => {
      // Persist the signatures: the band self-joins would otherwise re-inline
      // the whole shingle→md5→min expression tree into both join sides (id +
      // 2 band strings per doc — tiny, and the expensive lineage runs once).
      val lsh = graft.operators.Dedup.minhashLsh(D.documents(s, d), "doc_id", "text")
        .select(col("doc_id").as("id"), col("band0"), col("band1"))
        .persist()
      val e0 = lsh.select(col("id"), col("band0").as("b"))
      val e1 = lsh.select(col("id"), col("band1").as("b"))
      def pairs(side: DataFrame) = {
        val a = side.select(col("id").as("src"), col("b"))
        val bb = side.select(col("id").as("dst"), col("b"))
        a.join(bb, "b").filter(col("src") < col("dst")).select("src", "dst")
      }
      val edges = pairs(e0).unionByName(pairs(e1)).distinct()
      graft.operators.Dedup.connectedComponentsAuto(lsh.select("id"), edges)
        .select(col("id").as("doc_id"), col("component"),
          (col("id") === col("component")).cast("int").as("is_canonical"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $shinglesCte,
            |m AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS m FROM sh),
            |sig AS (SELECT doc_id,
            |  list_min(list_transform(m, x -> substring(x, 1, 8))) ||
            |  list_min(list_transform(m, x -> substring(x, 9, 8))) AS band0,
            |  list_min(list_transform(m, x -> substring(x, 17, 8))) ||
            |  list_min(list_transform(m, x -> substring(x, 25, 8))) AS band1
            |  FROM m),
            |edges AS (
            |  SELECT a.doc_id AS src, b.doc_id AS dst FROM sig a JOIN sig b
            |    ON a.band0 = b.band0 AND a.doc_id <> b.doc_id
            |  UNION
            |  SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
            |    ON a.band1 = b.band1 AND a.doc_id <> b.doc_id),
            |reach AS (
            |  SELECT doc_id AS id, doc_id AS lab FROM sig
            |  UNION
            |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id)
            |SELECT id AS doc_id, min(lab) AS component,
            |  CAST(id = min(lab) AS INT) AS is_canonical
            |FROM reach GROUP BY id ORDER BY id""".stripMargin.replace(
              "WITH toks", "WITH RECURSIVE toks")))

  /** The composed curation pipeline a training-data run actually executes:
    * exact-dup flag + language-ID + quality score → one keep/drop decision per
    * document. Each signal is its own scan-free reuse of the operators above.
    */
  private val pipelineFilter = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      val dup = docs.select(col("doc_id"), md5(col("text")).as("h"))
        .withColumn("is_dup",
          (col("doc_id") > min("doc_id").over(Window.partitionBy("h"))).cast("int"))
        .select("doc_id", "is_dup")
      val lang = graft.operators.TextAnalysis.langId(
          docs.select("doc_id", "text"), "text").select("doc_id", "pred_lang")
      val quality = graft.operators.TextAnalysis.qualitySignals(
          docs.select("doc_id", "text"), "text")
        .select(col("doc_id"), col("quality_score"), col("n_tokens"))
      dup.join(lang, "doc_id").join(quality, "doc_id")
        .withColumn("keep",
          (col("is_dup") === 0 && col("pred_lang") === "en" &&
            col("quality_score") >= 0.5 && col("n_tokens") >= 10).cast("int"))
        .select("doc_id", "is_dup", "pred_lang", "quality_score", "keep")
        .orderBy("doc_id")
    },
    Some {
      val allStops = graft.operators.TextAnalysis.langMarkers.values.flatten.toSeq
        .distinct.sorted.map(w => s"'$w'").mkString(", ")
      val hits = graft.operators.TextAnalysis.langMarkers.toSeq.sortBy(_._1).map {
        case (l, ws) =>
          val list = ws.map(w => s"'$w'").mkString(", ")
          s"len(list_filter(t, x -> x IN ($list))) AS score_$l"
      }.mkString(",\n  ")
      s"""WITH x AS (SELECT doc_id, text, $toksSql AS t FROM documents),
         |dup AS (
         |  SELECT doc_id,
         |    CAST(doc_id > min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_dup
         |  FROM documents),
         |lang AS (
         |  SELECT doc_id, $hits FROM x),
         |langp AS (
         |  SELECT doc_id,
         |    CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
         |         WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
         |         WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
         |         WHEN score_es >= score_fr THEN 'es'
         |         ELSE 'fr' END AS pred_lang
         |  FROM lang),
         |sig AS (
         |  SELECT doc_id, len(t) AS n_tokens,
         |    round(coalesce(list_sum(list_transform(t, w -> length(w))), 0) / greatest(len(t), 1), 4) AS mean_word_len,
         |    round(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) / greatest(length(text), 1), 4) AS alnum_ratio,
         |    round(len(list_filter(t, w -> w IN ($allStops))) / greatest(len(t), 1), 4) AS stopword_ratio
         |  FROM x),
         |q AS (
         |  SELECT doc_id, n_tokens,
         |    round(least(n_tokens / 50.0, 1.0) * 0.4 +
         |      CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0 END +
         |      alnum_ratio * 0.2 +
         |      CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 0.2 ELSE 0 END, 4) AS quality_score
         |  FROM sig)
         |SELECT dup.doc_id, is_dup, pred_lang, quality_score,
         |  CAST(is_dup = 0 AND pred_lang = 'en' AND quality_score >= 0.5 AND n_tokens >= 10 AS INT) AS keep
         |FROM dup JOIN langp ON dup.doc_id = langp.doc_id JOIN q ON dup.doc_id = q.doc_id
         |ORDER BY dup.doc_id""".stripMargin
    })

  // --------------------------------------------------- text analysis (extensions)

  private val textLangid = Q(
    (s, d) => graft.operators.TextAnalysis.langId(
        D.documents(s, d).select("doc_id", "text"), "text")
      .select(col("doc_id"), col("score_de").cast("long"), col("score_en").cast("long"),
        col("score_es").cast("long"), col("score_fr").cast("long"), col("pred_lang"))
      .orderBy("doc_id"),
    Some {
      val hits = graft.operators.TextAnalysis.langMarkers.toSeq.sortBy(_._1).map {
        case (l, ws) =>
          val list = ws.map(w => s"'$w'").mkString(", ")
          s"len(list_filter(t, x -> x IN ($list))) AS score_$l"
      }.mkString(",\n  ")
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |s AS (SELECT doc_id, $hits FROM toks)
         |SELECT doc_id, score_de, score_en, score_es, score_fr,
         |  CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
         |       WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
         |       WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
         |       WHEN score_es >= score_fr THEN 'es'
         |       ELSE 'fr' END AS pred_lang
         |FROM s ORDER BY doc_id""".stripMargin
    })

  private val textQuality = Q(
    (s, d) => graft.operators.TextAnalysis.qualitySignals(
        D.documents(s, d).select("doc_id", "text"), "text")
      .select("doc_id", "n_tokens", "mean_word_len", "alnum_ratio",
        "stopword_ratio", "quality_score")
      .orderBy("doc_id"),
    Some {
      val allStops = graft.operators.TextAnalysis.langMarkers.values.flatten.toSeq
        .distinct.sorted.map(w => s"'$w'").mkString(", ")
      s"""WITH x AS (
         |  SELECT doc_id, text, $toksSql AS t FROM documents),
         |sig AS (
         |  SELECT doc_id,
         |    len(t) AS n_tokens,
         |    round(coalesce(list_sum(list_transform(t, w -> length(w))), 0) / greatest(len(t), 1), 4) AS mean_word_len,
         |    round(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) / greatest(length(text), 1), 4) AS alnum_ratio,
         |    round(len(list_filter(t, w -> w IN ($allStops))) / greatest(len(t), 1), 4) AS stopword_ratio
         |  FROM x)
         |SELECT doc_id, n_tokens, mean_word_len, alnum_ratio, stopword_ratio,
         |  round(least(n_tokens / 50.0, 1.0) * 0.4 +
         |    CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0 END +
         |    alnum_ratio * 0.2 +
         |    CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 0.2 ELSE 0 END, 4) AS quality_score
         |FROM sig ORDER BY doc_id""".stripMargin
    })

  /** Gopher-style repetition quality signals: within-doc duplicate-line
    * fraction + most-frequent-bigram share.
    */
  private val textRepetition = Q(
    (s, d) => graft.operators.TextAnalysis.repetitionSignals(
        D.documents(s, d).select("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "n_lines", "n_distinct_lines", "dup_line_frac",
        "n_bigrams", "top_bigram_frac")
      .orderBy("doc_id"),
    Some(s"""WITH ln AS (
            |  SELECT doc_id,
            |    len(string_split(text, chr(10))) AS n_lines,
            |    len(list_distinct(string_split(text, chr(10)))) AS n_distinct_lines
            |  FROM documents),
            |tok AS (SELECT doc_id, $toksSql AS t FROM documents),
            |bg AS (SELECT doc_id,
            |  CASE WHEN len(t) < 2 THEN [] ELSE list_transform(generate_series(1, len(t) - 1),
            |    i -> t[i] || ' ' || t[i + 1]) END AS b FROM tok),
            |ex AS (SELECT doc_id, unnest(b) AS bigram FROM bg),
            |cnt AS (SELECT doc_id, bigram, count(*) AS c FROM ex GROUP BY doc_id, bigram),
            |top AS (SELECT doc_id, max(c) AS top_c FROM cnt GROUP BY doc_id),
            |base AS (SELECT doc_id, len(b) AS n_bigrams FROM bg)
            |SELECT l.doc_id, l.n_lines, l.n_distinct_lines,
            |  round((l.n_lines - l.n_distinct_lines) / greatest(l.n_lines, 1), 4) AS dup_line_frac,
            |  b.n_bigrams,
            |  round(coalesce(t.top_c, 0) / greatest(b.n_bigrams, 1), 4) AS top_bigram_frac
            |FROM ln l JOIN base b USING(doc_id) LEFT JOIN top t USING(doc_id)
            |ORDER BY l.doc_id""".stripMargin))

  /** Exact size-distribution percentiles per language (p50/p90/p99 of
    * n_chars) — the dataset-card quantile panel. Spark's exact `percentile`
    * and DuckDB's `quantile_cont` share the linear-interpolation definition,
    * so the gate pins the interpolation math itself. At 100 TB switch to
    * `percentile_approx` (t-digest) — same plan shape, bounded memory.
    */
  private val corpusPercentiles = Q(
    (s, d) => D.documents(s, d)
      .groupBy("lang")
      .agg(percentile(col("n_chars"), typedlit(Seq(0.5, 0.9, 0.99))).as("_q"))
      .select(col("lang"),
        round(element_at(col("_q"), 1), 4).as("p50"),
        round(element_at(col("_q"), 2), 4).as("p90"),
        round(element_at(col("_q"), 3), 4).as("p99"))
      .orderBy("lang"),
    Some("""SELECT lang,
           |  round(qs[1], 4) AS p50, round(qs[2], 4) AS p90, round(qs[3], 4) AS p99
           |FROM (SELECT lang, quantile_cont(n_chars, [0.5, 0.9, 0.99]) AS qs
           |      FROM documents GROUP BY lang)
           |ORDER BY lang""".stripMargin))

  /** CUBE over (lang, source): every aggregation granularity — per pair, per
    * lang, per source, grand total — in ONE pass (Spark expands grouping sets
    * map-side; no re-scan per level). The OLAP rollup panel of a corpus card.
    */
  private val corpusCube = Q(
    (s, d) => D.documents(s, d)
      .cube("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy(asc_nulls_first("lang"), asc_nulls_first("source")),
    Some("""SELECT lang, source, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM documents GROUP BY CUBE (lang, source)
           |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin))

  /** PIVOT: per-source doc counts as one column per language (fixed value
    * list — at scale an unpinned pivot needs a distinct-scan first; pinning
    * the columns keeps it one pass). Oracle spells it as portable CASE sums.
    */
  private val corpusPivot = Q(
    (s, d) => D.documents(s, d)
      .groupBy("source")
      .pivot("lang", Seq("en", "de", "fr", "es", "zh"))
      .agg(count(lit(1)))
      .select(col("source"),
        coalesce(col("en"), lit(0L)).as("n_en"),
        coalesce(col("de"), lit(0L)).as("n_de"),
        coalesce(col("fr"), lit(0L)).as("n_fr"),
        coalesce(col("es"), lit(0L)).as("n_es"),
        coalesce(col("zh"), lit(0L)).as("n_zh"))
      .orderBy("source"),
    Some("""SELECT source,
           |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
           |  CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
           |  CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
           |  CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
           |  CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh
           |FROM documents GROUP BY source ORDER BY source""".stripMargin))

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

  /** Heavy hitters: top-5 tokens per language by document frequency — the
    * vocabulary panel of a corpus card (and the classic top-k-per-group
    * shape: explode map-side, one (lang, token) aggregate, a k-row window
    * per group). Document frequency (distinct docs) rather than raw count so
    * a single repetitive doc can't dominate the list.
    */
  private val corpusHeavyHitters = Q(
    (s, d) => {
      val toks = D.documents(s, d).select(col("lang"), col("doc_id"),
          explode(array_distinct(
            graft.operators.Search.tokensCol(col("text")))).as("token"))
      val counts = toks.groupBy("lang", "token")
        .agg(count(lit(1)).as("df"))
      counts.withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("df").desc, col("token").asc)))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk").cast("long").as("rk"), col("token"), col("df"))
        .orderBy("lang", "rk")
    },
    Some("""WITH t AS (SELECT lang, doc_id,
           |    unnest(list_distinct(list_filter(
           |      regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS token
           |  FROM documents),
           |c AS (SELECT lang, token, count(*) AS df FROM t GROUP BY lang, token),
           |r AS (SELECT lang, token, df,
           |    row_number() OVER (PARTITION BY lang ORDER BY df DESC, token ASC) AS rk
           |  FROM c)
           |SELECT lang, rk, token, df FROM r WHERE rk <= 5 ORDER BY lang, rk""".stripMargin))

  /** Dataset-card statistics per (lang, source): doc/token counts, size
    * distribution, mean quality — one scan + one hash aggregation.
    */
  private val corpusStats = Q(
    (s, d) => graft.operators.TextAnalysis.corpusStats(
        D.documents(s, d).select("doc_id", "lang", "source", "text"),
        "text", Seq("lang", "source"))
      .orderBy("lang", "source"),
    Some {
      val allStops = graft.operators.TextAnalysis.langMarkers.values.flatten.toSeq
        .distinct.sorted.map(w => s"'$w'").mkString(", ")
      s"""WITH x AS (SELECT doc_id, lang, source, text, $toksSql AS t FROM documents),
         |sig AS (
         |  SELECT doc_id, lang, source,
         |    len(t) AS n_tokens, length(text) AS n_chars,
         |    round(coalesce(list_sum(list_transform(t, w -> length(w))), 0) / greatest(len(t), 1), 4) AS mwl,
         |    round(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) / greatest(length(text), 1), 4) AS ar,
         |    round(len(list_filter(t, w -> w IN ($allStops))) / greatest(len(t), 1), 4) AS sr
         |  FROM x),
         |q AS (
         |  SELECT lang, source, n_tokens, n_chars,
         |    round(least(n_tokens / 50.0, 1.0) * 0.4 +
         |      CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0 END +
         |      ar * 0.2 +
         |      CASE WHEN sr BETWEEN 0.01 AND 0.6 THEN 0.2 ELSE 0 END, 4) AS quality
         |  FROM sig)
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(min(n_chars) AS BIGINT) AS min_chars,
         |  CAST(max(n_chars) AS BIGINT) AS max_chars,
         |  round(avg(n_chars), 2) AS avg_chars,
         |  round(avg(quality), 4) AS avg_quality
         |FROM q GROUP BY lang, source ORDER BY lang, source""".stripMargin
    })

  /** Capstone curation pipeline composing the pipeline operators end-to-end:
    * line-level boilerplate removal → quality gate on the CLEANED text →
    * simhash near-dup removal (keep min doc id per fingerprint) → per-language
    * survivor statistics. One declarative plan; every stage reuses the
    * oracle-gated operator it composes.
    */
  private val pipelineCuration = Q(
    (s, d) => {
      // expressed through the config-driven Pipeline API — hashing against the
      // same oracle proves the wrapper composes the stages identically to the
      // hand-written plan it replaced
      val curated = graft.operators.Pipeline.curate(
        D.documents(s, d).select("doc_id", "lang", "text"), "doc_id", "text",
        graft.operators.Pipeline.CurationConfig(
          lineDedupMaxOccurrences = Some(2),
          minTokens = 40, minQuality = 0.5,
          nearDedup = true))
      curated.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .orderBy("lang")
    },
    Some {
      val allStops = graft.operators.TextAnalysis.langMarkers.values.flatten.toSeq
        .distinct.sorted.map(w => s"'$w'").mkString(", ")
      s"""WITH base AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
         |idx AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i, ls FROM base),
         |lines AS (SELECT doc_id, i, ls[i] AS line FROM idx),
         |lcnt AS (SELECT line, count(*) AS c FROM lines GROUP BY line),
         |joined AS (SELECT l.doc_id, l.i, l.line, c.c FROM lines l JOIN lcnt c USING(line)),
         |reb AS (SELECT doc_id, coalesce(string_agg(CASE WHEN c <= 2 THEN line END, chr(10) ORDER BY i), '') AS cleaned
         |        FROM joined GROUP BY doc_id),
         |tk AS (SELECT r.doc_id, d.lang, r.cleaned,
         |         list_filter(regexp_split_to_array(lower(r.cleaned), '[^a-z0-9]+'), x -> x <> '') AS t
         |       FROM reb r JOIN documents d USING(doc_id)),
         |sig AS (SELECT doc_id, lang, t, len(t) AS n_tokens,
         |    round(coalesce(list_sum(list_transform(t, w -> length(w))), 0) / greatest(len(t), 1), 4) AS mwl,
         |    round(length(regexp_replace(lower(cleaned), '[^a-z0-9 ]', '', 'g')) / greatest(length(cleaned), 1), 4) AS ar,
         |    round(len(list_filter(t, w -> w IN ($allStops))) / greatest(len(t), 1), 4) AS sr
         |  FROM tk),
         |q AS (SELECT doc_id, lang, t, n_tokens,
         |    round(least(n_tokens / 50.0, 1.0) * 0.4 +
         |      CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0 END +
         |      ar * 0.2 +
         |      CASE WHEN sr BETWEEN 0.01 AND 0.6 THEN 0.2 ELSE 0 END, 4) AS quality
         |  FROM sig),
         |kept AS (SELECT doc_id, lang, n_tokens,
         |    CAST(coalesce(list_sum(list_transform(generate_series(1, 16), j ->
         |      CASE WHEN coalesce(list_sum(list_transform(list_transform(t, x -> md5(x)), x ->
         |        CASE WHEN strpos('0123456789abcdef', x[j:j]) >= 9 THEN 1 ELSE -1 END)), 0) > 0
         |      THEN 1 << (j - 1) ELSE 0 END)), 0) AS BIGINT) AS fp
         |  FROM q WHERE n_tokens >= 40 AND quality >= 0.5),
         |uniq AS (SELECT * FROM kept QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp))
         |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM uniq GROUP BY lang ORDER BY lang""".stripMargin
    })

  /** THE capstone gate: the ENTIRE config-driven curation pipeline —
    * line-dedup → token/quality gates → simhash near-dedup → per-domain cap →
    * benchmark decontamination → stratified mixture sampling — one
    * declarative plan through [[graft.operators.Pipeline.curate]], and the
    * whole per-doc survivor list hash-matched against a single DuckDB
    * replication of all six stages. URLs are planted (7 sites) so the domain
    * cap has site identity; the benchmark is every 41st doc's RAW text.
    */
  private val pipelineFull = Q(
    (s, d) => {
      val planted = D.documents(s, d).select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" https://site"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")).as("text"))
      val bench = D.documents(s, d).filter(col("doc_id") % 41 === 0)
        .select(col("doc_id").as("bench_id"), col("text").as("bench_text"))
      graft.operators.Pipeline.curate(
          planted, "doc_id", "text",
          graft.operators.Pipeline.CurationConfig(
            lineDedupMaxOccurrences = Some(2),
            minTokens = 40, minQuality = 0.5,
            nearDedup = true,
            domainCap = Some(40),
            sampleRates = Some(Map("en" -> 0.8, "de" -> 1.0)),
            sampleDefaultRate = 0.5),
          benchmark = Some((bench, "bench_id", "bench_text")),
          stratumCol = Some("lang"))
        .select(col("doc_id"), col("lang"), col("n_tokens").cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
    Some {
      val allStops = graft.operators.TextAnalysis.langMarkers.values.flatten.toSeq
        .distinct.sorted.map(w => s"'$w'").mkString(", ")
      def hex(r: Double) = graft.operators.Curation.rateThresholdHex(r)
      s"""WITH docs0 AS (SELECT doc_id, lang,
         |    text || ' https://site' || (doc_id % 7) || '.example.com/p/' || doc_id AS text
         |  FROM documents),
         |base AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs0),
         |idx AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i, ls FROM base),
         |lines AS (SELECT doc_id, i, ls[i] AS line FROM idx),
         |lcnt AS (SELECT line, count(*) AS c FROM lines GROUP BY line),
         |joined AS (SELECT l.doc_id, l.i, l.line, c.c FROM lines l JOIN lcnt c USING(line)),
         |reb AS (SELECT doc_id, coalesce(string_agg(CASE WHEN c <= 2 THEN line END, chr(10) ORDER BY i), '') AS cleaned
         |        FROM joined GROUP BY doc_id),
         |tk AS (SELECT r.doc_id, d.lang, r.cleaned,
         |         list_filter(regexp_split_to_array(lower(r.cleaned), '[^a-z0-9]+'), x -> x <> '') AS t
         |       FROM reb r JOIN docs0 d USING(doc_id)),
         |sig AS (SELECT doc_id, lang, cleaned, t, len(t) AS n_tokens,
         |    round(coalesce(list_sum(list_transform(t, w -> length(w))), 0) / greatest(len(t), 1), 4) AS mwl,
         |    round(length(regexp_replace(lower(cleaned), '[^a-z0-9 ]', '', 'g')) / greatest(length(cleaned), 1), 4) AS ar,
         |    round(len(list_filter(t, w -> w IN ($allStops))) / greatest(len(t), 1), 4) AS sr
         |  FROM tk),
         |q AS (SELECT doc_id, lang, cleaned, t, n_tokens,
         |    round(least(n_tokens / 50.0, 1.0) * 0.4 +
         |      CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 0.2 ELSE 0 END +
         |      ar * 0.2 +
         |      CASE WHEN sr BETWEEN 0.01 AND 0.6 THEN 0.2 ELSE 0 END, 4) AS quality
         |  FROM sig),
         |kept AS (SELECT doc_id, lang, cleaned, t, n_tokens,
         |    CAST(coalesce(list_sum(list_transform(generate_series(1, 16), j ->
         |      CASE WHEN coalesce(list_sum(list_transform(list_transform(t, x -> md5(x)), x ->
         |        CASE WHEN strpos('0123456789abcdef', x[j:j]) >= 9 THEN 1 ELSE -1 END)), 0) > 0
         |      THEN 1 << (j - 1) ELSE 0 END)), 0) AS BIGINT) AS fp
         |  FROM q WHERE n_tokens >= 40 AND quality >= 0.5),
         |uniq AS (SELECT * FROM kept QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)),
         |dom AS (SELECT *, list_extract(list_distinct(list_transform(
         |    regexp_extract_all(cleaned, 'https?://[A-Za-z0-9.-]+(?:/[^\\s]*)?'),
         |    u -> regexp_extract(u, 'https?://([A-Za-z0-9.-]+)', 1))), 1) AS d1
         |  FROM uniq),
         |cap AS (SELECT * FROM dom QUALIFY
         |  row_number() OVER (PARTITION BY d1 ORDER BY length(cleaned) DESC, doc_id ASC) <= 40),
         |csh AS (SELECT doc_id, CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
         |    ELSE list_transform(generate_series(1, len(t) - 12),
         |           i -> array_to_string(t[i:i+12], ' ')) END AS sh FROM cap),
         |cng AS (SELECT doc_id, unnest(sh) AS ng FROM csh),
         |btoks AS (SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
         |  FROM documents WHERE doc_id % 41 = 0),
         |bsh AS (SELECT doc_id, CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
         |    ELSE list_transform(generate_series(1, len(t) - 12),
         |           i -> array_to_string(t[i:i+12], ' ')) END AS sh FROM btoks),
         |bng AS (SELECT DISTINCT unnest(sh) AS ng FROM bsh),
         |contaminated AS (SELECT DISTINCT doc_id FROM cng JOIN bng USING (ng)),
         |clean AS (SELECT cap.* FROM cap LEFT JOIN contaminated c USING (doc_id)
         |  WHERE c.doc_id IS NULL),
         |samp AS (SELECT * FROM clean WHERE CASE lang
         |    WHEN 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '${hex(0.8)}'
         |    WHEN 'de' THEN TRUE
         |    ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '${hex(0.5)}' END)
         |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM samp ORDER BY doc_id""".stripMargin
    })

  /** PII redaction ([[graft.operators.Curation.redactPii]]): the documents table
    * has no organic PII, so both engines append the SAME deterministic
    * synthetic contacts (email always; phone on even ids; ip on ids%3==0)
    * before redacting — regex semantics, replacement order, and counts are
    * what the hash gate locks.
    */
  private val pipelineRedactPii = Q(
    (s, d) => {
      val pii = D.documents(s, d).select(col("doc_id"),
        concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" call +1 555 0"),
              lpad((col("doc_id") % 1000).cast("string"), 3, "0"))).otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
            .otherwise(lit(""))).as("text"))
      graft.operators.Curation.redactPii(pii, "text")
        .select(col("doc_id"), md5(col("redacted")).as("h"),
          col("n_emails"), col("n_ips"), col("n_phones"))
        .orderBy("doc_id")
    },
    Some("""WITH pii AS (SELECT doc_id,
           |    text || ' contact user' || doc_id || '@example.com'
           |      || (CASE WHEN doc_id % 2 = 0
           |          THEN ' call +1 555 0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
           |          ELSE '' END)
           |      || (CASE WHEN doc_id % 3 = 0
           |          THEN ' host 10.0.' || (doc_id % 256) || '.7' ELSE '' END) AS t
           |  FROM documents)
           |SELECT doc_id,
           |  md5(regexp_replace(regexp_replace(regexp_replace(t,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           |    '\+\d{1,3} \d{3} \d{4}', '<PHONE>', 'g')) AS h,
           |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
           |  CAST(len(regexp_extract_all(t, '\+\d{1,3} \d{3} \d{4}')) AS BIGINT) AS n_phones
           |FROM pii ORDER BY doc_id""".stripMargin))

  /** Benchmark decontamination ([[graft.operators.Curation.decontaminate]]):
    * 13-gram overlap flags, benchmark = every 41st document (a stand-in
    * benchmark corpus drawn from the same table so the oracle sees it too).
    * The corpus side joins the broadcast benchmark hash set — no corpus
    * shuffle; the oracle joins raw ngrams (same flags barring a 64-bit hash
    * collision).
    */
  private val pipelineDecontaminate = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      val bench = docs.filter(col("doc_id") % 41 === 0)
        .select(col("doc_id").as("bench_id"), col("text").as("bench_text"))
      graft.operators.Curation.decontaminate(
          docs, bench, "doc_id", "text", "bench_id", "bench_text", n = 13)
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
           |  FROM documents),
           |sh AS (SELECT doc_id, CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
           |    ELSE list_transform(generate_series(1, len(t) - 12),
           |           i -> array_to_string(t[i:i+12], ' ')) END AS sh FROM toks),
           |doc_ng AS (SELECT doc_id, unnest(sh) AS ng FROM sh),
           |bench_ng AS (SELECT DISTINCT ng FROM doc_ng WHERE doc_id % 41 = 0),
           |hits AS (SELECT d.doc_id, count(DISTINCT d.ng) AS n
           |  FROM doc_ng d JOIN bench_ng b USING (ng) GROUP BY d.doc_id)
           |SELECT doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_contaminated_ngrams,
           |  coalesce(n, 0) > 0 AS contaminated
           |FROM documents LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin))

  /** Sentence-shape signals ([[graft.operators.TextAnalysis.sentenceStats]]):
    * count + mean/max sentence length from terminal-punctuation segmentation
    * — the quality axis token stats miss.
    */
  private val textSentences = Q(
    (s, d) => graft.operators.TextAnalysis.sentenceStats(
        D.documents(s, d).select("doc_id", "text"), "text")
      .select("doc_id", "n_sentences", "mean_sentence_chars", "max_sentence_chars")
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  CAST(len(s) AS BIGINT) AS n_sentences,
           |  round(coalesce(list_sum(list_transform(s, x -> length(x))), 0)
           |    / greatest(len(s), 1), 4) AS mean_sentence_chars,
           |  CAST(coalesce(list_max(list_transform(s, x -> length(x))), 0) AS BIGINT)
           |    AS max_sentence_chars
           |FROM (SELECT doc_id,
           |    list_filter(regexp_split_to_array(text, '[.!?]+\s+'), x -> x <> '') AS s
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin))

  /** Unicode NFC normalization ([[graft.operators.TextAnalysis.withNormalizedText]]):
    * both engines implement UAX #15, so the HASH of the normalized text is
    * gateable. The corpus is ASCII, so the query plants decomposed sequences
    * (e+combining-acute, i+combining-diaeresis) and extra spacing on every
    * row — the gate proves real composition work, not a pass-through.
    */
  private val textNormalize = Q(
    (s, d) => {
      val planted = D.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" café  naïve\t")).as("text"))
      graft.operators.TextAnalysis.withNormalizedText(planted, "text")
        .select(col("doc_id"), md5(col("norm_text")).as("h"),
          length(col("norm_text")).cast("long").as("n_chars_norm"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, md5(norm) AS h, CAST(length(norm) AS BIGINT) AS n_chars_norm
           |FROM (SELECT doc_id,
           |    trim(regexp_replace(nfc_normalize(
           |      text || ' cafe' || chr(769) || '  nai' || chr(776) || 've' || chr(9)),
           |      '\s+', ' ', 'g')) AS norm
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin))

  /** Character-entropy quality signal
    * ([[graft.operators.TextAnalysis.withCharEntropy]]): the compression-proxy
    * score (low ⇒ boilerplate, anomalously high ⇒ binary junk). abs() kills
    * the −0.0-vs-0.0 hash hazard on degenerate inputs (entropy is ≥ 0).
    */
  private val textEntropy = Q(
    (s, d) => graft.operators.TextAnalysis.withCharEntropy(D.documents(s, d), "text")
      .select(col("doc_id"), abs(col("entropy")).as("entropy"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, abs(round(-coalesce(list_sum(list_transform(cnt,
           |    c -> (c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE)))), 0), 4)) AS entropy
           |FROM (SELECT doc_id, len(ch) AS n,
           |        list_transform(list_distinct(ch), c -> len(list_filter(ch, x -> x = c))) AS cnt
           |      FROM (SELECT doc_id,
           |              list_transform(generate_series(1, length(text)), i -> text[i:i]) AS ch
           |            FROM documents))
           |ORDER BY doc_id""".stripMargin))

  /** Per-domain provenance stats ([[graft.operators.Curation.withDomains]]):
    * the documents table has no organic URLs, so both engines append the same
    * deterministic links before extracting — URL regex, domain capture, and
    * per-domain distinct-doc counts are what the hash gate locks.
    */
  private val textDomains = Q(
    (s, d) => {
      val withUrls = D.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" see https://site"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/page/"), col("doc_id").cast("string"),
          when(col("doc_id") % 3 === 0, lit(" http://cdn.example.net/x"))
            .otherwise(lit(""))).as("text"))
      graft.operators.Curation.withDomains(withUrls, "text")
        .select(col("doc_id"), explode(col("domains")).as("domain"))
        .groupBy("domain").agg(count(lit(1)).as("n_docs"))
        .orderBy("domain")
    },
    Some("""WITH t AS (SELECT doc_id,
           |    text || ' see https://site' || (doc_id % 7) || '.example.com/page/' || doc_id
           |      || (CASE WHEN doc_id % 3 = 0 THEN ' http://cdn.example.net/x' ELSE '' END) AS tx
           |  FROM documents),
           |u AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |    regexp_extract_all(tx, 'https?://[A-Za-z0-9.-]+(?:/[^\s]*)?'),
           |    x -> regexp_extract(x, 'https?://([A-Za-z0-9.-]+)', 1)))) AS domain
           |  FROM t)
           |SELECT domain, count(*) AS n_docs FROM u GROUP BY domain ORDER BY domain""".stripMargin))

  /** CCNet-style bigram-LM perplexity ([[graft.operators.LanguageModel]]):
    * add-α smoothed bigram model trained on the corpus itself, each document
    * scored by mean −ln p(w2|w1) and perplexity. The whole path — top-V vocab
    * cut (count-desc, token-asc tie-break), OOV→unk mapping, bigram counts,
    * left-marginal denominator, smoothing arithmetic — is replicated in
    * DuckDB, so train AND score hash-gate end to end. All double math is
    * forced to DOUBLE in the oracle (DuckDB's bare 0.1 is DECIMAL).
    */
  private val textLmPerplexity = Q(
    (s, d) => graft.operators.LanguageModel.bigramPerplexity(
        D.documents(s, d).select("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH toks AS (
           |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
           |                             x -> x <> '') AS ts
           |  FROM documents),
           |tok_rows AS (SELECT unnest(ts) AS tok FROM toks),
           |vocab AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM tok_rows GROUP BY tok)
           |          ORDER BY c DESC, tok ASC LIMIT 4096),
           |vsz AS (SELECT count(*) + 1 AS v FROM vocab),
           |pairs AS (
           |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
           |    i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS bg
           |  FROM toks WHERE len(ts) >= 2),
           |mapped AS (
           |  SELECT doc_id,
           |    CASE WHEN v1.tok IS NULL THEN '<unk>' ELSE p.bg['w1'] END AS w1,
           |    CASE WHEN v2.tok IS NULL THEN '<unk>' ELSE p.bg['w2'] END AS w2
           |  FROM pairs p LEFT JOIN vocab v1 ON p.bg['w1'] = v1.tok
           |               LEFT JOIN vocab v2 ON p.bg['w2'] = v2.tok),
           |bc AS (SELECT w1, w2, count(*) AS c_bg FROM mapped GROUP BY w1, w2),
           |marg AS (SELECT w1, sum(c_bg) AS c_left FROM bc GROUP BY w1),
           |scored AS (
           |  SELECT m.doc_id,
           |    -ln((COALESCE(bc.c_bg, 0) + 0.1::DOUBLE) /
           |        (COALESCE(marg.c_left, 0) + 0.1::DOUBLE * (SELECT v FROM vsz))) AS nll
           |  FROM mapped m LEFT JOIN bc USING (w1, w2) LEFT JOIN marg USING (w1)),
           |agg AS (SELECT doc_id, count(*) AS n_bigrams, avg(nll) AS a
           |        FROM scored GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams,
           |  round(agg.a, 6) AS avg_nll, round(exp(round(agg.a, 6)), 4) AS ppl
           |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin))

  /** Z-order clustering key ([[graft.operators.ZOrder]]): the Morton
    * bit-interleave of (l_partkey, l_suppkey) that [[graft.operators.ZOrder.clusterByMorton]]
    * range-partitions clustered writes on. The Spark expression and the
    * oracle's bit arithmetic are generated from the same Scala loop, so the
    * gate pins the exact key. ZOrderSpec covers the layout half (per-file
    * min/max tiles shrink).
    */
  private val zorderKey = Q(
    (s, d) => D.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        graft.operators.ZOrder.mortonKey(
          col("l_partkey").cast("long").bitwiseAND(lit(65535L)),
          col("l_suppkey").cast("long").bitwiseAND(lit(65535L)), 16).as("zkey"))
      .orderBy("zkey", "l_orderkey", "l_linenumber"),
    Some(s"""SELECT l_orderkey, l_linenumber,
            |  ${graft.operators.ZOrder.mortonSql(
                  "l_partkey::BIGINT & 65535", "l_suppkey::BIGINT & 65535", 16)} AS zkey
            |FROM lineitem ORDER BY zkey, l_orderkey, l_linenumber""".stripMargin))

  /** Weighted sampling without replacement
    * ([[graft.operators.Curation.weightedSample]], Efraimidis–Spirakis):
    * top-30 docs per language by ln(u)/w with w = max(1, |text|). The uniform
    * draw is the shared exact-integer hash32 (Spark `conv`, oracle digit-sum
    * generated from the same constant table), so the gate pins the exact
    * sample, not just its size.
    */
  private val sampleWeighted = Q(
    (s, d) => graft.operators.Curation.weightedSample(
        D.documents(s, d).select(col("doc_id"), col("lang"),
          greatest(length(col("text")), lit(1)).cast("long").as("w")),
        "doc_id", "lang", "w", n = 30, salt = "w1")
      .select("lang", "doc_id", "es_key")
      .orderBy(col("lang"), col("es_key").desc, col("doc_id")),
    Some(s"""WITH h AS (SELECT doc_id, lang,
            |    substring(md5('w1' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx,
            |    CAST(greatest(length(text), 1) AS BIGINT) AS w FROM documents),
            |v AS (SELECT doc_id, lang, w,
            |    ${graft.operators.Curation.hash32DigitSumSql("hx")} AS hv FROM h),
            |k AS (SELECT doc_id, lang,
            |    round(ln((hv + 0.5::DOUBLE) / 4294967296.0::DOUBLE) / w, 9) AS es_key
            |  FROM v),
            |r AS (SELECT doc_id, lang, es_key,
            |    row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id ASC) AS rn
            |  FROM k)
            |SELECT lang, doc_id, es_key FROM r WHERE rn <= 30
            |ORDER BY lang, es_key DESC, doc_id""".stripMargin))

  /** Per-domain document cap ([[graft.operators.Curation.capPerKey]] over
    * [[graft.operators.Curation.withDomains]]'s first domain): keep the 40
    * largest docs per domain — the C4/RefinedWeb boilerplate-site guard.
    */
  private val curateDomainCap = Q(
    (s, d) => {
      val withUrls = D.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" https://site"), (col("doc_id") % 7).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")).as("text"))
      val dd = graft.operators.Curation.withDomains(withUrls, "text")
        .select(col("doc_id"), element_at(col("domains"), 1).as("domain"),
          length(col("text")).cast("long").as("sz"))
      graft.operators.Curation.capPerKey(dd, "domain", "doc_id", "sz", n = 40)
        .select("domain", "doc_id", "sz").orderBy("domain", "doc_id")
    },
    Some("""WITH t AS (SELECT doc_id,
           |    text || ' https://site' || (doc_id % 7) || '.example.com/p/' || doc_id AS tx
           |  FROM documents),
           |d AS (SELECT doc_id,
           |    list_extract(list_distinct(list_transform(
           |      regexp_extract_all(tx, 'https?://[A-Za-z0-9.-]+(?:/[^\s]*)?'),
           |      x -> regexp_extract(x, 'https?://([A-Za-z0-9.-]+)', 1))), 1) AS domain,
           |    CAST(length(tx) AS BIGINT) AS sz FROM t),
           |r AS (SELECT domain, doc_id, sz,
           |    row_number() OVER (PARTITION BY domain ORDER BY sz DESC, doc_id ASC) AS rn
           |  FROM d)
           |SELECT domain, doc_id, sz FROM r WHERE rn <= 40
           |ORDER BY domain, doc_id""".stripMargin))

  /** Cross-document repeated 8-token spans
    * ([[graft.operators.Dedup.repeatedSpans]]): per doc, how many window
    * positions and distinct spans are shared with ≥1 other document — the
    * fixed-width distributed stand-in for suffix-array substring dedup.
    */
  private val dedupSpans = Q(
    (s, d) => graft.operators.Dedup.repeatedSpans(
        D.documents(s, d).select("doc_id", "text"), "doc_id", "text",
        nTokens = 8, minDocs = 2)
      .orderBy("doc_id"),
    Some("""WITH toks AS (
           |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
           |                             x -> x <> '') AS ts
           |  FROM documents),
           |spans AS (
           |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 7),
           |    i -> md5(array_to_string(ts[i:i+7], ' ')))) AS span_hash
           |  FROM toks WHERE len(ts) >= 8),
           |shared AS (SELECT span_hash FROM
           |  (SELECT span_hash, count(DISTINCT doc_id) AS nd FROM spans GROUP BY span_hash)
           |  WHERE nd >= 2)
           |SELECT doc_id, count(*) AS n_shared_positions,
           |  count(DISTINCT span_hash) AS n_shared_spans
           |FROM spans JOIN shared USING (span_hash)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Exact token-window duplicate spans
    * ([[graft.operators.Dedup.exactTokenSpans]]): the collision-free,
    * span-merged upgrade of `dedup_spans` — maximal merged runs of 8-token
    * windows shared with ≥1 other document, as [start, end) token-index
    * spans. The oracle replays windows by literal string, the min≠max
    * cross-doc class test, and the gaps-and-islands merge.
    */
  private val dedupTokenSpans = Q(
    (s, d) => graft.operators.Dedup.exactTokenSpans(
        D.documents(s, d).select("doc_id", "text"), "doc_id", "text",
        nTokens = 8, crossDocOnly = true)
      .orderBy("doc_id", "tok_start"),
    Some("""WITH toks AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
           |                x -> x <> '') AS ts
           |  FROM documents),
           |w AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 7)) AS i
           |  FROM toks WHERE len(ts) >= 8),
           |wins AS (SELECT doc_id, i - 1 AS off, array_to_string(ts[i:i+7], ' ') AS g
           |  FROM w),
           |sh AS (SELECT g FROM (
           |    SELECT g, min(doc_id) AS a, max(doc_id) AS b FROM wins GROUP BY g)
           |  WHERE a <> b),
           |dup AS (SELECT doc_id, off AS s, off + 8 AS e FROM wins JOIN sh USING (g)),
           |fl AS (SELECT doc_id, s, e,
           |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
           |  FROM dup),
           |isl AS (SELECT doc_id, s, e, sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM fl)
           |SELECT doc_id, min(s) AS tok_start, max(e) AS tok_end, count(*) AS n_windows
           |FROM isl GROUP BY doc_id, island ORDER BY doc_id, tok_start""".stripMargin))

  /** Distributed prefix-doubling suffix ranks
    * ([[graft.operators.SuffixArray.prefixRanks]]): the dense rank of every
    * suffix's first 16 characters across the whole corpus. The oracle is the
    * brute-force form — `dense_rank() OVER (ORDER BY substr(text, off+1, 16))`
    * — so the gate proves the O(log L)-round doubling (per-doc `lead` shift +
    * range-partitioned two-pass global dense rank, no global window) lands on
    * the exact lexicographic ranking. ASCII corpus ⇒ Spark char-code order ==
    * DuckDB binary collation.
    */
  private val textSuffixRanks = Q(
    (s, d) => graft.operators.SuffixArray.prefixRanks(
        D.documents(s, d).select("doc_id", "text"), "doc_id", "text", targetLen = 16)
      .select(col("doc_id"), col("off").cast("long").as("off"), col("rank"))
      .orderBy("doc_id", "off"),
    Some("""WITH pos AS (SELECT doc_id, text,
           |    unnest(generate_series(0, length(text) - 1)) AS off
           |  FROM documents WHERE length(text) >= 1)
           |SELECT doc_id, off,
           |  CAST(dense_rank() OVER (ORDER BY substr(text, off + 1, 16)) AS BIGINT) AS rank
           |FROM pos ORDER BY doc_id, off""".stripMargin))

  /** Full suffix array ([[graft.operators.SuffixArray.suffixArray]]) over a
    * deterministic 20% document slice: every (doc, offset) suffix with its
    * 1-based global lexicographic rank, exact ties broken by (doc_id, off) so
    * ranks are a permutation of 1..n. The oracle is
    * `row_number() OVER (ORDER BY substr(text, off+1), doc_id, off)` — the
    * doubling runs to the longest text (O(log maxLen) rounds) with the
    * all-distinct early exit, and the gate proves the permutation matches
    * byte-order suffix sorting exactly (duplicate documents exercise the
    * cross-document tie-break for real).
    */
  private val textSuffixArray = Q(
    (s, d) => graft.operators.SuffixArray.suffixArray(
        D.documents(s, d).where(col("doc_id") % 5 === 0).select("doc_id", "text"),
        "doc_id", "text")
      .select(col("doc_id"), col("off").cast("long").as("off"), col("sa_rank"))
      .orderBy("doc_id", "off"),
    Some("""WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
           |pos AS (SELECT doc_id, text,
           |    unnest(generate_series(0, length(text) - 1)) AS off FROM t)
           |SELECT doc_id, off,
           |  CAST(row_number() OVER (ORDER BY substr(text, off + 1), doc_id, off) AS BIGINT)
           |    AS sa_rank
           |FROM pos ORDER BY doc_id, off""".stripMargin))

  /** LCP array + longest-repeated-substring mining
    * ([[graft.operators.SuffixArray.lcpArray]]): top 25 adjacent-suffix
    * longest-common-prefix lengths over the same 20% slice as
    * `text_suffix_array` — row 1 IS the corpus's longest repeated substring.
    * The oracle recomputes each pair's LCP by the monotone prefix-equality
    * count (`substr(a,1,k) = substr(b,1,k)` holds exactly for k ≤ LCP), with
    * the same 64-char cap applied by truncating the compared suffixes.
    */
  private val textLcpTopk = Q(
    (s, d) => {
      // Exercise the prebuilt-SA seam (the shape an SA+LCP+spans mining
      // session uses — the doubling loop runs once, the frame is reused):
      val docs = D.documents(s, d).where(col("doc_id") % 5 === 0)
        .select("doc_id", "text")
      val sa = graft.operators.SuffixArray.suffixArray(docs, "doc_id", "text")
      graft.operators.SuffixArray.lcpArray(docs, sa, "doc_id", "text", maxLcp = 64)
        .select(col("doc_id"), col("off").cast("long").as("off"), col("sa_rank"), col("lcp"))
        .orderBy(col("lcp").desc, col("sa_rank")).limit(25)
    },
    Some("""WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
           |pos AS (SELECT doc_id, text,
           |    unnest(generate_series(0, length(text) - 1)) AS off FROM t),
           |sa AS (SELECT doc_id, off, substr(text, off + 1, 64) AS suf,
           |    row_number() OVER (ORDER BY substr(text, off + 1), doc_id, off) AS sa_rank
           |  FROM pos),
           |lc AS (SELECT a.doc_id, a.off, a.sa_rank,
           |    CAST(len(list_filter(generate_series(1, least(len(a.suf), len(b.suf))),
           |      k -> substr(a.suf, 1, k) = substr(b.suf, 1, k))) AS BIGINT) AS lcp
           |  FROM sa a JOIN sa b ON a.sa_rank = b.sa_rank + 1)
           |SELECT doc_id, off, sa_rank, lcp FROM lc
           |ORDER BY lcp DESC, sa_rank LIMIT 25""".stripMargin))

  /** ExactSubstr duplicate spans ([[graft.operators.SuffixArray.duplicateSpans]],
    * arXiv:2107.06499 §4.1): maximal merged spans of 24-char windows that
    * re-occur in ANOTHER document — the collision-free upgrade of the hashed
    * `dedup_spans` stand-in. The oracle replays it literally: group the
    * substr windows, keep classes spanning ≥2 docs, merge overlapping/touching
    * windows per doc by the classic gaps-and-islands (`max(e) OVER (... 1
    * PRECEDING)`), which is exactly [[graft.operators.Intervals.mergeIntervals]].
    */
  private val dedupExactSubstr = Q(
    (s, d) => graft.operators.SuffixArray.duplicateSpans(
        D.documents(s, d).select("doc_id", "text"), "doc_id", "text",
        minLen = 24, crossDocOnly = true)
      .orderBy("doc_id", "span_start"),
    Some("""WITH pos AS (SELECT doc_id, text,
           |    unnest(generate_series(0, length(text) - 24)) AS off
           |  FROM documents WHERE length(text) >= 24),
           |wins AS (SELECT doc_id, off, substr(text, off + 1, 24) AS g FROM pos),
           |sh AS (SELECT g FROM (
           |    SELECT g, count(DISTINCT doc_id) AS nd FROM wins GROUP BY g) WHERE nd >= 2),
           |dup AS (SELECT doc_id, off AS s, off + 24 AS e FROM wins JOIN sh USING (g)),
           |fl AS (SELECT doc_id, s, e,
           |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
           |  FROM dup),
           |isl AS (SELECT doc_id, s, e, sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM fl)
           |SELECT doc_id, min(s) AS span_start, max(e) AS span_end, count(*) AS n_grams
           |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin))

  /** Cross-corpus exact-substring decontamination
    * ([[graft.operators.SuffixArray.contaminatedSpans]]): maximal merged
    * spans of TRAIN documents whose 16-char window re-occurs verbatim in the
    * benchmark slice (every 41st doc — the same split as
    * `bloom_decontaminate`, but collision-free spans instead of ngram-hash
    * probes). The oracle joins train windows against the DISTINCT benchmark
    * window set and replays the gaps-and-islands merge.
    */
  private val decontamSubstr = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      graft.operators.SuffixArray.contaminatedSpans(
        docs.filter(col("doc_id") % 41 =!= 0).select("doc_id", "text"),
        docs.filter(col("doc_id") % 41 === 0).select("doc_id", "text"),
        "doc_id", "text", minLen = 16)
        .orderBy("doc_id", "span_start")
    },
    Some("""WITH be AS (SELECT text FROM documents WHERE doc_id % 41 = 0),
           |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 41 <> 0),
           |bw AS (SELECT DISTINCT substr(text, off + 1, 16) AS g FROM
           |  (SELECT text, unnest(generate_series(0, length(text) - 16)) AS off
           |   FROM be WHERE length(text) >= 16)),
           |tw AS (SELECT doc_id, off, substr(text, off + 1, 16) AS g FROM
           |  (SELECT doc_id, text, unnest(generate_series(0, length(text) - 16)) AS off
           |   FROM tr WHERE length(text) >= 16)),
           |dup AS (SELECT doc_id, off AS s, off + 16 AS e FROM tw JOIN bw USING (g)),
           |fl AS (SELECT doc_id, s, e,
           |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
           |  FROM dup),
           |isl AS (SELECT doc_id, s, e, sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM fl)
           |SELECT doc_id, min(s) AS span_start, max(e) AS span_end, count(*) AS n_grams
           |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin))

  /** Sharded ExactSubstr ([[graft.operators.SuffixArray.shardedDuplicateSpans]]):
    * the 100-TB posture of `dedup_exact_substr` made code, gated in the
    * regime sharding exists for — minLen 160 is ABOVE the direct-path cap,
    * so every window class must come from a doubling run, and the sharded
    * form bounds each run to one doc-hash shard (+ the seed-selected
    * auxiliary group that recovers cross-shard duplicates exactly). The
    * oracle is the GLOBAL replay — same SQL shape as `dedup_exact_substr`
    * at 160 — because the sharded run's contract is bit-equality with the
    * global result.
    */
  private val shardDupSpans = Q(
    (s, d) => graft.operators.SuffixArray.shardedDuplicateSpans(
        D.documents(s, d).select("doc_id", "text"), "doc_id", "text",
        minLen = 160, crossDocOnly = true, nShards = 2,
        // explicit opt-in: toy-scale gate on local[32] has the headroom for
        // concurrent shard runs; the bounded-peak-state default is 1
        shardParallelism = 4)
      .orderBy("doc_id", "span_start"),
    Some("""WITH pos AS (SELECT doc_id, text,
           |    unnest(generate_series(0, length(text) - 160)) AS off
           |  FROM documents WHERE length(text) >= 160),
           |wins AS (SELECT doc_id, off, substr(text, off + 1, 160) AS g FROM pos),
           |sh AS (SELECT g FROM (
           |    SELECT g, count(DISTINCT doc_id) AS nd FROM wins GROUP BY g) WHERE nd >= 2),
           |dup AS (SELECT doc_id, off AS s, off + 160 AS e FROM wins JOIN sh USING (g)),
           |fl AS (SELECT doc_id, s, e,
           |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
           |  FROM dup),
           |isl AS (SELECT doc_id, s, e, sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM fl)
           |SELECT doc_id, min(s) AS span_start, max(e) AS span_end, count(*) AS n_grams
           |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin))

  /** Sharded decontamination ([[graft.operators.SuffixArray.shardedContaminatedSpans]]):
    * `decontam_substr`'s semantics with the train corpus split into doc-hash
    * shards, each checked against the WHOLE benchmark — the posture that
    * lets a fixed cluster decontaminate an arbitrarily large train set. Rank
    * path forced (directMaxLen = 8 < minLen = 16) so each shard runs a real
    * doubling; oracle = the global replay, because sharding train against a
    * replicated bench is exactly the global predicate.
    */
  private val shardDecontam = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      // train slice (% 3): the corpus's train∩bench overlaps max out well
      // below the direct-path cap, so this gate FORCES the rank path
      // (directMaxLen = 8 < minLen = 16) to exercise the sharded doubling
      // machinery — and pays the per-shard-run fixed job cost 3×. The gate's
      // job is the cross-engine equality of that machinery, not throughput;
      // full-corpus scaling is measured in Stress (shard_decontam row).
      graft.operators.SuffixArray.shardedContaminatedSpans(
        docs.filter(col("doc_id") % 41 =!= 0 && col("doc_id") % 3 === 0)
          .select("doc_id", "text"),
        docs.filter(col("doc_id") % 41 === 0).select("doc_id", "text"),
        "doc_id", "text", minLen = 16, nShards = 3, directMaxLen = 8,
        // explicit opt-in as in shard_dup_spans: concurrency for the toy
        // gate, while the library default stays bounded-peak-state (1)
        shardParallelism = 4)
        .orderBy("doc_id", "span_start")
    },
    Some("""WITH be AS (SELECT text FROM documents WHERE doc_id % 41 = 0),
           |tr AS (SELECT doc_id, text FROM documents
           |  WHERE doc_id % 41 <> 0 AND doc_id % 3 = 0),
           |bw AS (SELECT DISTINCT substr(text, off + 1, 16) AS g FROM
           |  (SELECT text, unnest(generate_series(0, length(text) - 16)) AS off
           |   FROM be WHERE length(text) >= 16)),
           |tw AS (SELECT doc_id, off, substr(text, off + 1, 16) AS g FROM
           |  (SELECT doc_id, text, unnest(generate_series(0, length(text) - 16)) AS off
           |   FROM tr WHERE length(text) >= 16)),
           |dup AS (SELECT doc_id, off AS s, off + 16 AS e FROM tw JOIN bw USING (g)),
           |fl AS (SELECT doc_id, s, e,
           |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
           |  FROM dup),
           |isl AS (SELECT doc_id, s, e, sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM fl)
           |SELECT doc_id, min(s) AS span_start, max(e) AS span_end, count(*) AS n_grams
           |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin))

  /** Token n-gram overlap score ([[graft.operators.Dedup.ngramOverlap]]):
    * per train document, the fraction of its 4-gram occurrences present
    * verbatim in the benchmark slice — the scored decontamination companion
    * to `decontam_substr`'s exact spans. Bench side broadcasts (eval suites
    * are small by nature); train side is one pass.
    */
  private val decontamNgramOverlap = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      graft.operators.Dedup.ngramOverlap(
        docs.filter(col("doc_id") % 41 =!= 0).select("doc_id", "text"),
        docs.filter(col("doc_id") % 41 === 0).select("doc_id", "text"),
        "doc_id", "text", n = 4)
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
           |  FROM documents),
           |g AS (SELECT doc_id, list_transform(generate_series(1, len(w) - 3),
           |        i -> array_to_string(w[i:i+3], ' ')) AS gs
           |  FROM tok WHERE len(w) >= 4),
           |be AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 41 = 0),
           |tr AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM g
           |  WHERE doc_id % 41 <> 0)
           |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           |  CAST(count(*) AS BIGINT) AS n_hit,
           |  round(count(*) / n_grams, 6) AS overlap_frac
           |FROM tr JOIN be USING (g)
           |GROUP BY doc_id, n_grams ORDER BY doc_id""".stripMargin))

  /** Table profiling ([[graft.operators.Profiling.profile]]): per-column
    * completeness + exact cardinality in ONE aggregation pass — the report
    * a pipeline runs before trusting a corpus drop.
    */
  private val profileColumns = Q(
    (s, d) => graft.operators.Profiling.profile(
      D.orders(s, d),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
      .orderBy("column"),
    Some("""WITH n AS (SELECT count(*) AS n FROM orders)
           |SELECT 'o_orderkey' AS "column", CAST(count(o_orderkey) AS BIGINT) AS n_nonnull,
           |  CAST((SELECT n FROM n) - count(o_orderkey) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders
           |UNION ALL
           |SELECT 'o_custkey', CAST(count(o_custkey) AS BIGINT),
           |  CAST((SELECT n FROM n) - count(o_custkey) AS BIGINT),
           |  CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
           |UNION ALL
           |SELECT 'o_orderstatus', CAST(count(o_orderstatus) AS BIGINT),
           |  CAST((SELECT n FROM n) - count(o_orderstatus) AS BIGINT),
           |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
           |UNION ALL
           |SELECT 'o_orderpriority', CAST(count(o_orderpriority) AS BIGINT),
           |  CAST((SELECT n FROM n) - count(o_orderpriority) AS BIGINT),
           |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders
           |ORDER BY "column"""".stripMargin))

  /** Boolean text query ([[graft.operators.QueryLang.booleanSearch]]):
    * AND/OR/NOT with parentheses compiled to ONE codegen'd predicate over
    * the tokenized text — the FTS5 MATCH boolean surface the reference's
    * conjunctive prep never exposes. Rank = (positive terms matched desc,
    * their tf desc, id asc); scan-shaped, no shuffle before the top-k.
    */
  private val qlBooleanSearch = Q(
    (s, d) => graft.operators.QueryLang.booleanSearch(
      D.documents(s, d), "doc_id", "text",
      "(join AND vector) OR (spark NOT hash)", k = 30),
    Some("""WITH tok AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(list_contains(w, 'join')::int + list_contains(w, 'spark')::int
           |       + list_contains(w, 'vector')::int AS BIGINT) AS n_matched,
           |  CAST(len(list_filter(w, x -> x IN ('join', 'spark', 'vector'))) AS BIGINT) AS tf_total
           |FROM tok
           |WHERE (list_contains(w, 'join') AND list_contains(w, 'vector'))
           |   OR (list_contains(w, 'spark') AND NOT list_contains(w, 'hash'))
           |ORDER BY n_matched DESC, tf_total DESC, doc_id LIMIT 30""".stripMargin))

  /** Exact phrase search ([[graft.operators.QueryLang.phraseSearch]]):
    * verbatim token-sequence occurrences with count + first position. The
    * postings-backed twin (positionalPostings → ≤|phrase| term-pruned reads,
    * the interactive-search plan at 100 TB) is spec-pinned equal to this
    * scan in QueryLangSpec.
    */
  private val qlPhraseSearch = Q(
    (s, d) => graft.operators.QueryLang.phraseSearch(
      D.documents(s, d), "doc_id", "text", Seq("hash", "join"), k = 100),
    Some("""WITH tok AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM documents),
           |p AS (SELECT doc_id, list_filter(generate_series(1, len(w) - 1),
           |        i -> w[i] = 'hash' AND w[i+1] = 'join') AS hits
           |  FROM tok WHERE len(w) >= 2)
           |SELECT doc_id, CAST(len(hits) AS BIGINT) AS phrase_tf,
           |  CAST(hits[1] AS BIGINT) AS first_pos
           |FROM p WHERE len(hits) > 0
           |ORDER BY phrase_tf DESC, doc_id LIMIT 100""".stripMargin))

  /** Proximity search ([[graft.operators.QueryLang.minSpanSearch]]): among
    * docs holding EVERY query term, the smallest token window covering all
    * of them — NEAR-style ranking. A minimal window starts at a term
    * occurrence, so the per-row cost is occurrences × terms × tokens.
    */
  private val qlMinspanSearch = Q(
    (s, d) => graft.operators.QueryLang.minSpanSearch(
      D.documents(s, d), "doc_id", "text",
      Seq("spark", "vector", "window"), k = 25),
    Some("""WITH tok AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM documents),
           |f AS (SELECT doc_id, w,
           |    list_filter(generate_series(1, len(w)), i -> w[i] = 'spark') AS pa,
           |    list_filter(generate_series(1, len(w)), i -> w[i] = 'vector') AS pb,
           |    list_filter(generate_series(1, len(w)), i -> w[i] = 'window') AS pc
           |  FROM tok
           |  WHERE list_contains(w, 'spark') AND list_contains(w, 'vector')
           |    AND list_contains(w, 'window')),
           |c AS (SELECT doc_id, list_filter(
           |    list_transform(generate_series(1, len(w)), s -> struct_pack(
           |      e := greatest(list_min(list_filter(pa, p -> p >= s)),
           |                    list_min(list_filter(pb, p -> p >= s)),
           |                    list_min(list_filter(pc, p -> p >= s))),
           |      st := s)),
           |    x -> x.st <= least(list_max(pa), list_max(pb), list_max(pc))
           |         AND (list_contains(pa, x.st) OR list_contains(pb, x.st)
           |              OR list_contains(pc, x.st))) AS cand
           |  FROM f),
           |sel AS (SELECT doc_id, cand,
           |    list_min(list_transform(cand, z -> z.e - z.st + 1)) AS span_len
           |  FROM c WHERE len(cand) > 0)
           |SELECT doc_id, CAST(span_len AS BIGINT) AS span_len,
           |  CAST(list_min(list_transform(
           |    list_filter(cand, z -> z.e - z.st + 1 = span_len), z -> z.st)) AS BIGINT)
           |    AS span_start
           |FROM sel ORDER BY span_len, doc_id LIMIT 25""".stripMargin))

  /** The (term, doc-frequency) vocabulary of the documents corpus — the
    * shared input of the query-assist operators below (and at engine scale,
    * a projection of the BM25 termDf table).
    */
  private def docVocab(s: SparkSession, d: String): DataFrame =
    D.documents(s, d)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), x -> x <> '')")).as("term"))
      .groupBy("term").agg(countDistinct(col("doc_id")).as("term_df"))

  /** Spelling suggestion ([[graft.operators.Suggest.spellSuggest]]): SymSpell
    * deletion-neighborhood join (NOT a vocab × query cross join), exact under
    * Levenshtein ≤ 2, top-3 per misspelling by (distance, df desc, term).
    * The oracle IS the cross join — DuckDB's `levenshtein` over every
    * (query, vocab) pair — so the gate proves the delete-key join loses no
    * candidate the brute-force path finds.
    */
  private val spellSuggest = Q(
    (s, d) => {
      import s.implicits._
      val qs = Seq("tabel", "qurey", "windw", "scann", "custmer", "jion").toDF("q")
      graft.operators.Suggest.spellSuggest(
          docVocab(s, d), "term", "term_df", qs, "q", maxEdits = 2, topK = 3)
        .orderBy("q", "rank")
    },
    Some("""WITH vocab AS (SELECT term, count(DISTINCT doc_id) AS term_df
           |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
           |          x -> x <> '')) AS term FROM documents) GROUP BY term),
           |qs AS (SELECT unnest(['tabel','qurey','windw','scann','custmer','jion']) AS q),
           |cand AS (SELECT q, term AS suggestion,
           |    CAST(levenshtein(q, term) AS BIGINT) AS dist, term_df
           |  FROM qs CROSS JOIN vocab WHERE levenshtein(q, term) <= 2),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY q
           |    ORDER BY dist, term_df DESC, suggestion) AS rn FROM cand)
           |SELECT q, suggestion, dist, term_df, CAST(rn AS BIGINT) AS rank
           |FROM rk WHERE rn <= 3 ORDER BY q, rank""".stripMargin))

  /** Prefix autocomplete ([[graft.operators.Suggest.autocomplete]]): top
    * completions of "s" by (df desc, term) — one pushdown-friendly
    * startsWith filter + top-k over the vocabulary table.
    */
  private val autocompletePrefix = Q(
    (s, d) => graft.operators.Suggest.autocomplete(
        docVocab(s, d), "term", "term_df", "s", k = 8)
      .orderBy(col("term_df").desc, col("suggestion").asc),
    Some("""WITH vocab AS (SELECT term, count(DISTINCT doc_id) AS term_df
           |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
           |          x -> x <> '')) AS term FROM documents) GROUP BY term)
           |SELECT term AS suggestion, term_df FROM vocab
           |WHERE term LIKE 's%'
           |ORDER BY term_df DESC, suggestion LIMIT 8""".stripMargin))

  /** Best-window snippet highlighting ([[graft.operators.Suggest.highlightSnippet]]):
    * per document, the earliest 8-word window with the most query-term hits —
    * pure per-row array expressions, replayed with DuckDB list lambdas.
    */
  private val searchHighlight = Q(
    (s, d) => graft.operators.Suggest.highlightSnippet(
        D.documents(s, d), "doc_id", "text",
        Seq("spark", "join", "query"), window = 8)
      .orderBy("doc_id"),
    Some("""WITH ws AS (SELECT doc_id,
           |    list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
           |sc AS (SELECT doc_id, w,
           |    list_transform(generate_series(0, greatest(len(w) - 8, 0)),
           |      i -> len(list_filter(w[i+1:i+8],
           |             x -> len(list_filter(
           |                    list_filter(regexp_split_to_array(lower(x), '[^a-z0-9]+'),
           |                                y -> y <> ''),
           |                    t -> list_contains(['spark','join','query'], t))) > 0))) AS scores
           |  FROM ws),
           |mx AS (SELECT doc_id, w, scores, list_max(scores) AS best FROM sc)
           |SELECT doc_id,
           |  array_to_string(list_slice(w, list_position(scores, best),
           |    list_position(scores, best) + 7), ' ') AS snippet,
           |  CAST(best AS BIGINT) AS n_hits
           |FROM mx WHERE best > 0 ORDER BY doc_id""".stripMargin))

  /** Faceted result counts ([[graft.operators.Suggest.facetCounts]]): for the
    * hit set of a term search, the per-dimension top-value histogram a search
    * UI renders (facet = lang, source) — one map-side groupBy per facet.
    */
  private val facetCountsQ = Q(
    (s, d) => {
      val hits = D.documents(s, d).where(expr(
        "array_contains(filter(split(text, ' '), x -> x <> ''), 'spark')"))
      graft.operators.Suggest.facetCounts(hits, Seq("lang", "source"), topK = 5)
        .orderBy("facet", "rank")
    },
    Some("""WITH hits AS (SELECT * FROM documents
           |  WHERE list_contains(list_filter(string_split(text, ' '), x -> x <> ''), 'spark')),
           |u AS (
           |  SELECT 'lang' AS facet, CAST(lang AS VARCHAR) AS value,
           |      count(*) AS n FROM hits GROUP BY lang
           |  UNION ALL
           |  SELECT 'source' AS facet, CAST(source AS VARCHAR) AS value,
           |      count(*) AS n FROM hits GROUP BY source),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY facet
           |    ORDER BY n DESC, value) AS rn FROM u)
           |SELECT facet, value, n, CAST(rn AS BIGINT) AS rank
           |FROM rk WHERE rn <= 5 ORDER BY facet, rank""".stripMargin))

  /** ExactSubstr remediation ([[graft.operators.SuffixArray.stripSpans]]):
    * cut every cross-doc duplicated 24-char span (the `dedup_exact_substr`
    * span set) out of the text and hash-gate the CLEANED corpus — md5 +
    * length of every surviving text, so the oracle proves the segment
    * reassembly byte-for-byte, not just the span arithmetic.
    */
  private val dedupStripSpans = Q(
    (s, d) => {
      val docs = D.documents(s, d).select("doc_id", "text")
      val spans = graft.operators.SuffixArray.duplicateSpans(
        docs, "doc_id", "text", minLen = 24, crossDocOnly = true)
      graft.operators.SuffixArray.stripSpans(docs, spans, "doc_id", "text")
        .select(col("doc_id"), length(col("text")).cast("long").as("clean_len"),
          md5(col("text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH pos AS (SELECT doc_id, text,
           |    unnest(generate_series(0, length(text) - 24)) AS off
           |  FROM documents WHERE length(text) >= 24),
           |wins AS (SELECT doc_id, off, substr(text, off + 1, 24) AS g FROM pos),
           |sh AS (SELECT g FROM (
           |    SELECT g, count(DISTINCT doc_id) AS nd FROM wins GROUP BY g) WHERE nd >= 2),
           |dup AS (SELECT doc_id, off AS s, off + 24 AS e FROM wins JOIN sh USING (g)),
           |fl AS (SELECT doc_id, s, e,
           |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
           |  FROM dup),
           |isl AS (SELECT doc_id, s, e, sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM fl),
           |sp AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM isl GROUP BY doc_id, island),
           |tails AS (SELECT p.doc_id, max(p.e) AS gs, CAST(length(d.text) AS BIGINT) AS ge
           |  FROM sp p JOIN documents d USING (doc_id) GROUP BY p.doc_id, length(d.text)),
           |segs AS (SELECT doc_id,
           |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS gs, s AS ge
           |  FROM sp
           |  UNION ALL SELECT doc_id, gs, ge FROM tails),
           |clean AS (SELECT g.doc_id,
           |    string_agg(substr(d.text, CAST(g.gs AS INT) + 1, CAST(g.ge - g.gs AS INT)),
           |               '' ORDER BY g.gs) AS ct
           |  FROM segs g JOIN documents d USING (doc_id) GROUP BY g.doc_id)
           |SELECT d.doc_id,
           |  CAST(length(coalesce(c.ct, d.text)) AS BIGINT) AS clean_len,
           |  md5(coalesce(c.ct, d.text)) AS clean_md5
           |FROM documents d LEFT JOIN clean c USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin))

  /** Corpus-level contamination report over the same split as
    * `decontam_substr`: how many train docs carry a verbatim-16-char overlap
    * with the benchmark, and what fraction of their characters the merged
    * spans cover — the go/no-go health metric a pipeline reads before
    * training. One row; fractions at 6dp with the ROUND-before-compare
    * contract.
    */
  private val decontamReport = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      val train = docs.filter(col("doc_id") % 41 =!= 0).select("doc_id", "text")
      val spans = graft.operators.SuffixArray.contaminatedSpans(
        train, docs.filter(col("doc_id") % 41 === 0).select("doc_id", "text"),
        "doc_id", "text", minLen = 16)
      val perDoc = spans.groupBy("doc_id")
        .agg(sum(col("span_end") - col("span_start")).as("_cov"))
      train.join(perDoc, Seq("doc_id"), "left")
        .agg(
          count(lit(1)).as("n_train_docs"),
          count(col("_cov")).as("n_contaminated_docs"),
          round(sum(coalesce(col("_cov"), lit(0L)))
            / sum(length(col("text")).cast("long")), 6).as("contaminated_char_frac"))
    },
    Some("""WITH be AS (SELECT text FROM documents WHERE doc_id % 41 = 0),
           |tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 41 <> 0),
           |bw AS (SELECT DISTINCT substr(text, off + 1, 16) AS g FROM
           |  (SELECT text, unnest(generate_series(0, length(text) - 16)) AS off
           |   FROM be WHERE length(text) >= 16)),
           |tw AS (SELECT doc_id, off, substr(text, off + 1, 16) AS g FROM
           |  (SELECT doc_id, text, unnest(generate_series(0, length(text) - 16)) AS off
           |   FROM tr WHERE length(text) >= 16)),
           |dup AS (SELECT doc_id, off AS s, off + 16 AS e FROM tw JOIN bw USING (g)),
           |fl AS (SELECT doc_id, s, e,
           |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS nw
           |  FROM dup),
           |isl AS (SELECT doc_id, s, e, sum(nw) OVER (PARTITION BY doc_id ORDER BY s, e
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM fl),
           |sp AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM isl GROUP BY doc_id, island),
           |pd AS (SELECT doc_id, sum(e - s) AS cov FROM sp GROUP BY doc_id)
           |SELECT count(*) AS n_train_docs,
           |  count(pd.cov) AS n_contaminated_docs,
           |  round(sum(coalesce(pd.cov, 0)) / sum(CAST(length(tr.text) AS BIGINT)), 6)
           |    AS contaminated_char_frac
           |FROM tr LEFT JOIN pd USING (doc_id)""".stripMargin))

  /** Product-quantization ADC search ([[graft.operators.Pq]]): fixed
    * centroids (sub-vectors of corpus ids 1..16, the same replayable recipe
    * as `cluster_assign`/IVF) make encode AND the asymmetric-distance top-k
    * SQL-expressible, so compression + search hash-gate end to end. The
    * Spark cut over-fetches raw then cuts on the ROUNDED distance with an id
    * tie-break, mirroring the oracle exactly.
    */
  /** Shared DuckDB CTE block replaying PQ fit (vec_id 1..16 sub-vectors as
    * centroids) + encode + ADC against the vec_id=0 query — ends with the
    * `adc` table (vec_id, adc); [[annPqAdc]] and [[annPqRerank]] build on it.
    */
  private def pqAdcCtes: String =
    s"""WITH grid AS (SELECT unnest(generate_series(0, 7)) AS sub),
       |cent AS (SELECT g.sub, e.vec_id - 1 AS cid,
       |    e.embedding[g.sub*8+1 : g.sub*8+8] AS cvec
       |  FROM grid g CROSS JOIN
       |    (SELECT vec_id, embedding FROM embeddings WHERE vec_id BETWEEN 1 AND 16) e),
       |subs AS (SELECT v.vec_id, g.sub, v.embedding[g.sub*8+1 : g.sub*8+8] AS svec
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0) v
       |  CROSS JOIN grid g),
       |enc AS (SELECT vec_id, sub, cid FROM (
       |    SELECT v.vec_id, v.sub, c.cid, ${l2Sql("v.svec", "c.cvec")} AS dc,
       |      row_number() OVER (PARTITION BY v.vec_id, v.sub
       |                         ORDER BY dc ASC, c.cid ASC) AS rn
       |    FROM subs v JOIN cent c ON v.sub = c.sub) WHERE rn = 1),
       |q0 AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
       |lut AS (SELECT c.sub, c.cid,
       |    ${l2Sql("c.cvec", "q.e[c.sub*8+1 : c.sub*8+8]")} AS qd
       |  FROM cent c CROSS JOIN q0 q),
       |adc AS (SELECT e.vec_id, sum(l.qd) AS adc
       |  FROM enc e JOIN lut l ON e.sub = l.sub AND e.cid = l.cid
       |  GROUP BY e.vec_id)""".stripMargin

  /** Shared DuckDB CTE block replaying the SQ8 pipeline — per-dimension
    * min/max fit over the corpus, uint8 encode (floor, 255-clamped),
    * midpoint dequantization, and the L2 distance to the vec_id=0 query
    * summed in dimension order (list_sum over an ordered comprehension, the
    * float-parity rule) — ends with the `sqd` table (vec_id, dist).
    */
  private def sq8Ctes: String =
    """WITH corp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
      |mm AS (SELECT d, min(CAST(embedding[d] AS DOUBLE)) AS mn,
      |    max(CAST(embedding[d] AS DOUBLE)) AS mx
      |  FROM corp CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) GROUP BY d),
      |mv AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM mm),
      |q0 AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
      |vh AS (SELECT c.vec_id,
      |    list_transform(generate_series(1, 64), i ->
      |      m.mns[i]
      |      + ((CASE WHEN m.mxs[i] = m.mns[i] THEN 0
      |          ELSE least(255, floor((CAST(c.embedding[i] AS DOUBLE) - m.mns[i])
      |                                / ((m.mxs[i] - m.mns[i]) / 256))) END) + 0.5)
      |        * ((m.mxs[i] - m.mns[i]) / 256)) AS vhat
      |  FROM corp c CROSS JOIN mv m),
      |sqd AS (SELECT v.vec_id, """.stripMargin +
      l2Sql("v.vhat", "q.e") +
      """ AS dist
      |  FROM vh v CROSS JOIN q0 q)""".stripMargin

  /** SQ8 scalar-quantized search ([[graft.operators.Sq]]): per-dimension
    * min/max fit + uint8 encode + midpoint-dequantized L2 — 4× smaller scans
    * than the flat path, hash-gated end to end (fit aggregates are exact,
    * everything after is double math replayed bit-for-bit). Over-fetch then
    * cut on the ROUNDED distance with an id tie-break, the PQ gate's recipe.
    */
  private val annSq8Topk = Q(
    (s, d) => {
      val emb = D.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val model = graft.operators.Sq.fit(corpus, "embedding")
      val codes = graft.operators.Sq.encode(corpus, "vec_id", "embedding", model)
      graft.operators.Sq.searchTopK(codes, "vec_id", "code", model, queryVec(s, d), 50)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
    },
    Some(s"""$sq8Ctes
            |SELECT vec_id, round(dist, 6) AS dist FROM sqd
            |ORDER BY round(dist, 6), vec_id LIMIT 10""".stripMargin))

  /** SQ8 shortlist → exact re-rank ([[graft.operators.Sq.rerankTopK]], the
    * IndexRefineFlat pattern): quantized scan over-fetches 50, full-precision
    * vectors re-score via a pushed-down IN-list lookup, true top-10 wins.
    */
  private val annSq8Rerank = Q(
    (s, d) => {
      val emb = D.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val model = graft.operators.Sq.fit(corpus, "embedding")
      val codes = graft.operators.Sq.encode(corpus, "vec_id", "embedding", model)
      graft.operators.Sq.rerankTopK(codes, corpus, "vec_id", "code", "embedding",
          model, queryVec(s, d), k = 10, shortlist = 50)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
    },
    Some(s"""$sq8Ctes,
            |short AS (SELECT vec_id FROM sqd ORDER BY dist ASC, vec_id LIMIT 50),
            |rer AS (SELECT e.vec_id, ${l2Sql("e.embedding", "q.e")} AS dist
            |  FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q0 q)
            |SELECT vec_id, round(dist, 6) AS dist FROM rer
            |ORDER BY round(dist, 6) ASC, vec_id LIMIT 10""".stripMargin))

  private val annPqAdc = Q(
    (s, d) => {
      val emb = D.embeddings(s, d)
      val model = graft.operators.Pq.fitFromIds(
        emb.filter(col("vec_id").between(1, 16)), "vec_id", "embedding",
        numSub = 8, k = 16)
      val codes = graft.operators.Pq.encode(
        emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", model)
      graft.operators.Pq.adcTopK(codes, "vec_id", "code", model, queryVec(s, d), 50)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy(col("adc"), col("vec_id")).limit(10)
    },
    Some(s"""$pqAdcCtes
            |SELECT vec_id, round(adc, 6) AS adc FROM adc
            |ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin))

  /** ADC shortlist → exact re-rank ([[graft.operators.Pq.adcRerankTopK]] —
    * FAISS `IndexRefineFlat`): the quantized scan over-fetches 50 candidates,
    * their full-precision vectors re-score with exact L2 via a PUSHED-DOWN
    * IN-list point lookup, and the true top-10 wins. The oracle replays both
    * stages, so the gate proves the refined order — not just the shortlist —
    * matches.
    */
  private val annPqRerank = Q(
    (s, d) => {
      val emb = D.embeddings(s, d)
      val model = graft.operators.Pq.fitFromIds(
        emb.filter(col("vec_id").between(1, 16)), "vec_id", "embedding",
        numSub = 8, k = 16)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val codes = graft.operators.Pq.encode(corpus, "vec_id", "embedding", model)
      graft.operators.Pq.adcRerankTopK(codes, corpus, "vec_id", "code", "embedding",
          model, queryVec(s, d), k = 10, shortlist = 50)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
    },
    Some(s"""$pqAdcCtes,
            |short AS (SELECT vec_id FROM adc ORDER BY adc ASC, vec_id LIMIT 50),
            |rer AS (SELECT e.vec_id, ${l2Sql("e.embedding", "q.e")} AS dist
            |  FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q0 q)
            |SELECT vec_id, round(dist, 6) AS dist FROM rer
            |ORDER BY round(dist, 6) ASC, vec_id LIMIT 10""".stripMargin))

  /** Late-interaction maxsim ([[Search.maxSimTopK]], ColBERT-style): docs are
    * 50 vector-bags (vec_id mod 50 over the corpus vectors), the query is
    * vec_ids 0–2; score = Σ_q max_doc-vec cosine. One doc-keyed hash
    * aggregate with per-query codegen'd max columns — no join, no explode.
    * Per-query maxima round to 6dp before a FIXED-ORDER sum on both engines,
    * so the gate hashes the exact scores.
    */
  private val t1cMaxsim = Q(
    (s, d) => {
      val emb = D.embeddings(s, d)
      val qvs = emb.filter(col("vec_id").between(0, 2)).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray).toSeq
      val corpus = emb.filter(col("vec_id") >= 5)
        .select((col("vec_id") % 50).as("doc"), col("embedding"))
      Search.maxSimTopK(corpus, "doc", "embedding", qvs, 10)
    },
    Some(s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qv
            |  FROM embeddings WHERE vec_id BETWEEN 0 AND 2),
            |corpus AS (SELECT vec_id % 50 AS doc, embedding
            |  FROM embeddings WHERE vec_id >= 5),
            |sims AS (SELECT doc, qid, ${cosSql("embedding", "qv")} AS s
            |  FROM corpus CROSS JOIN qs),
            |mx AS (SELECT doc,
            |    round(max(CASE WHEN qid = 0 THEN s END), 6) AS m0,
            |    round(max(CASE WHEN qid = 1 THEN s END), 6) AS m1,
            |    round(max(CASE WHEN qid = 2 THEN s END), 6) AS m2
            |  FROM sims GROUP BY doc)
            |SELECT doc, round(m0 + m1 + m2, 6) AS maxsim FROM mx
            |ORDER BY round(m0 + m1 + m2, 6) DESC, doc LIMIT 10""".stripMargin))

  /** Full IVF-PQ composition ([[graft.operators.Ann]] coarse lists ×
    * [[graft.operators.Pq]] codes): probe the 4 lists nearest the query,
    * ADC-score only their members' codes — the FAISS IVF-PQ search shape
    * (sans residual encoding, documented in Pq's scaladoc). Probe selection
    * happens driver-side with the same (dist, cid)-ordered double math the
    * oracle's `probe` CTE replays, so the whole path hash-gates.
    */
  private val annIvfPqTopk = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val centroids = D.embeddings(s, d)
        .filter(col("vec_id").between(1, 16)).orderBy("vec_id")
        .collect().map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      val qv = queryVec(s, d)
      val probes: Seq[Int] = centroids.zipWithIndex.map { case (c, i) =>
        var dd = 0.0; var j = 0
        while (j < c.length) { val t = qv(j).toDouble - c(j); dd += t * t; j += 1 }
        (dd, i + 1) // cid = vec_id of the coarse centroid
      }.sortBy(identity).take(4).map(_._2).toSeq
      val model = graft.operators.Pq.fitFromIds(
        D.embeddings(s, d).filter(col("vec_id").between(1, 16)),
        "vec_id", "embedding", numSub = 8, k = 16)
      val cand = graft.operators.Ann.assignListsWithDist(emb, "embedding", centroids)
        .select(col("vec_id"), (col("listId") + 1).as("cid"), col("embedding"))
        .filter(col("cid").isin(probes: _*))
      val codes = graft.operators.Pq.encode(cand, "vec_id", "embedding", model)
      graft.operators.Pq.adcTopK(codes, "vec_id", "code", model, qv, 50)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy(col("adc"), col("vec_id")).limit(10)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            |cent AS (SELECT vec_id AS cid, embedding AS c FROM embeddings
            |         WHERE vec_id BETWEEN 1 AND 16),
            |probe AS (SELECT cid FROM
            |  (SELECT cid, ${l2Sql("c", "(SELECT e FROM q)")} AS pd FROM cent)
            |  ORDER BY pd ASC, cid LIMIT 4),
            |dists AS (SELECT v.vec_id, v.embedding, c.cid,
            |    ${l2Sql("v.embedding", "c.c")} AS dc
            |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0) v
            |  CROSS JOIN cent c),
            |assigned AS (SELECT vec_id, embedding, cid FROM
            |  (SELECT vec_id, embedding, cid,
            |     row_number() OVER (PARTITION BY vec_id ORDER BY dc ASC, cid ASC) AS rn
            |   FROM dists)
            |  WHERE rn = 1),
            |cand AS (SELECT vec_id, embedding FROM assigned
            |         WHERE cid IN (SELECT cid FROM probe)),
            |grid AS (SELECT unnest(generate_series(0, 7)) AS sub),
            |pcent AS (SELECT g.sub, e.vec_id - 1 AS pcid,
            |    e.embedding[g.sub*8+1 : g.sub*8+8] AS cvec
            |  FROM grid g CROSS JOIN
            |    (SELECT vec_id, embedding FROM embeddings WHERE vec_id BETWEEN 1 AND 16) e),
            |subs AS (SELECT v.vec_id, g.sub, v.embedding[g.sub*8+1 : g.sub*8+8] AS svec
            |  FROM cand v CROSS JOIN grid g),
            |enc AS (SELECT vec_id, sub, pcid FROM (
            |    SELECT v.vec_id, v.sub, c.pcid, ${l2Sql("v.svec", "c.cvec")} AS dc,
            |      row_number() OVER (PARTITION BY v.vec_id, v.sub
            |                         ORDER BY dc ASC, c.pcid ASC) AS rn
            |    FROM subs v JOIN pcent c ON v.sub = c.sub) WHERE rn = 1),
            |lut AS (SELECT c.sub, c.pcid,
            |    ${l2Sql("c.cvec", "q.e[c.sub*8+1 : c.sub*8+8]")} AS qd
            |  FROM pcent c CROSS JOIN q),
            |adc AS (SELECT e.vec_id, sum(l.qd) AS adc
            |  FROM enc e JOIN lut l ON e.sub = l.sub AND e.pcid = l.pcid
            |  GROUP BY e.vec_id)
            |SELECT vec_id, round(adc, 6) AS adc FROM adc
            |ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin))

  /** RESIDUAL-encoded IVF-PQ — the faithful FAISS IVF-PQ recipe the plain
    * composition above documents as omitted: one global PQ codebook is
    * trained on residuals (v − coarse centroid of v's own list; training
    * set = vec 17..32, since 1..16 ARE the centroids and self-residuals are
    * zero), candidates in the 4 probed lists encode their residuals, and
    * each probed list scores against a LUT built from the QUERY's residual
    * vs that list's centroid. Residual float math goes through
    * [[graft.operators.Pq.residualCol]] (double-subtract, float-round) so
    * both engines compute bit-identical residuals — the whole train → encode
    * → per-list ADC path hash-gates. Per-list top-50 then global top-10
    * equals the oracle's global cut (a list's global-top members are in its
    * own top-50 by construction).
    */
  private val annIvfPqResidual = Q(
    (s, d) => {
      val embAll = D.embeddings(s, d)
      val emb = embAll.filter(col("vec_id") =!= 0)
      val centroids = embAll.filter(col("vec_id").between(1, 16)).orderBy("vec_id")
        .collect().map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      val qv = queryVec(s, d)
      val probes: Seq[Int] = centroids.zipWithIndex.map { case (c, i) =>
        var dd = 0.0; var j = 0
        while (j < c.length) { val t = qv(j).toDouble - c(j); dd += t * t; j += 1 }
        (dd, i + 1)
      }.sortBy(identity).take(4).map(_._2).toSeq
      val assigned = graft.operators.Ann.assignListsWithDist(emb, "embedding", centroids)
        .select(col("vec_id"), (col("listId") + 1).as("cid"), col("embedding"))
      val residual = (2 to 16).foldLeft(
        when(col("cid") === 1,
          graft.operators.Pq.residualCol(col("embedding"), centroids(0)))) {
        (acc, c) => acc.when(col("cid") === c,
          graft.operators.Pq.residualCol(col("embedding"), centroids(c - 1)))
      }
      val withRes = assigned.withColumn("res", residual)
      val model = graft.operators.Pq.fitFromIds(
        withRes.filter(col("vec_id").between(17, 32))
          .select(col("vec_id"), col("res").as("embedding")),
        "vec_id", "embedding", numSub = 8, k = 16)
      probes.map { l =>
        val qr = graft.operators.Pq.residualVec(qv, centroids(l - 1))
        val codes = graft.operators.Pq.encode(
          withRes.filter(col("cid") === l)
            .select(col("vec_id"), col("res").as("embedding")),
          "vec_id", "embedding", model)
        graft.operators.Pq.adcTopK(codes, "vec_id", "code", model, qr, 50)
      }.reduce(_ unionByName _)
        .select(col("vec_id"), round(col("adc"), 6).as("adc"))
        .orderBy(col("adc"), col("vec_id")).limit(10)
    },
    Some {
      val resExpr = (v: String, c: String) =>
        s"list_transform(list_zip($v, $c), x -> CAST(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE) AS REAL))"
      s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
         |cent AS (SELECT vec_id AS cid, embedding AS c FROM embeddings
         |         WHERE vec_id BETWEEN 1 AND 16),
         |probe AS (SELECT cid FROM
         |  (SELECT cid, ${l2Sql("c", "(SELECT e FROM q)")} AS pd FROM cent)
         |  ORDER BY pd ASC, cid LIMIT 4),
         |dists AS (SELECT v.vec_id, v.embedding, c.cid,
         |    ${l2Sql("v.embedding", "c.c")} AS dc
         |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0) v
         |  CROSS JOIN cent c),
         |assigned AS (SELECT vec_id, embedding, cid FROM
         |  (SELECT vec_id, embedding, cid,
         |     row_number() OVER (PARTITION BY vec_id ORDER BY dc ASC, cid ASC) AS rn
         |   FROM dists)
         |  WHERE rn = 1),
         |res AS (SELECT a.vec_id, a.cid, ${resExpr("a.embedding", "c.c")} AS r
         |  FROM assigned a JOIN cent c ON a.cid = c.cid),
         |grid AS (SELECT unnest(generate_series(0, 7)) AS sub),
         |pcent AS (SELECT g.sub, t.vec_id - 17 AS pcid,
         |    t.r[g.sub*8+1 : g.sub*8+8] AS cvec
         |  FROM grid g CROSS JOIN
         |    (SELECT vec_id, r FROM res WHERE vec_id BETWEEN 17 AND 32) t),
         |cand AS (SELECT vec_id, cid, r FROM res
         |         WHERE cid IN (SELECT cid FROM probe)),
         |subs AS (SELECT v.vec_id, v.cid, g.sub, v.r[g.sub*8+1 : g.sub*8+8] AS svec
         |  FROM cand v CROSS JOIN grid g),
         |enc AS (SELECT vec_id, cid, sub, pcid FROM (
         |    SELECT v.vec_id, v.cid, v.sub, c.pcid, ${l2Sql("v.svec", "c.cvec")} AS dc,
         |      row_number() OVER (PARTITION BY v.vec_id, v.sub
         |                         ORDER BY dc ASC, c.pcid ASC) AS rn
         |    FROM subs v JOIN pcent c ON v.sub = c.sub) WHERE rn = 1),
         |qres AS (SELECT p.cid, ${resExpr("(SELECT e FROM q)", "c.c")} AS qr
         |  FROM probe p JOIN cent c ON p.cid = c.cid),
         |lut AS (SELECT s.cid, pc.sub, pc.pcid,
         |    ${l2Sql("pc.cvec", "s.qr[pc.sub*8+1 : pc.sub*8+8]")} AS qd
         |  FROM pcent pc CROSS JOIN qres s),
         |adcl AS (SELECT e.vec_id, sum(l.qd) AS adc
         |  FROM enc e JOIN lut l
         |    ON e.cid = l.cid AND e.sub = l.sub AND e.pcid = l.pcid
         |  GROUP BY e.vec_id)
         |SELECT vec_id, round(adc, 6) AS adc FROM adcl
         |ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin
    })

  /** Per-node triangle counts over the co-supply graph (suppliers that ship
    * within the same order, one month of orders) —
    * [[graft.operators.Graphs.triangleCounts]]. The month predicate pushes
    * into the orders scan before the edge-building self-join; the triangle
    * join itself reuses one canonical edge exchange across both hash joins.
    */
  private val graphTriangles = Q(
    (s, d) => {
      val li = D.lineitem(s, d); val o = D.orders(s, d)
      val os = o.filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-02-01"))
      val sl = li.join(os, li("l_orderkey") === os("o_orderkey"))
        .select(col("l_orderkey").as("k"), col("l_suppkey").as("sk"))
      val edges = sl.join(sl.toDF("k", "sk2"), "k")
        .filter(col("sk") =!= col("sk2"))
        .select(col("sk").as("src"), col("sk2").as("dst"))
      graft.operators.Graphs.triangleCounts(edges)
        .orderBy(col("n_triangles").desc, col("node"))
        .limit(20)
    },
    Some("""WITH sl AS (SELECT l_orderkey AS k, l_suppkey AS sk
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |  WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-02-01'),
           |e AS (SELECT DISTINCT x.sk AS a, y.sk AS b
           |  FROM sl x JOIN sl y ON x.k = y.k AND x.sk < y.sk),
           |tri AS (SELECT e1.a, e1.b, e2.b AS c
           |  FROM e e1 JOIN e e2 ON e1.b = e2.a
           |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
           |pn AS (SELECT node, count(*) AS n_triangles FROM (
           |    SELECT a AS node FROM tri
           |    UNION ALL SELECT b FROM tri
           |    UNION ALL SELECT c FROM tri)
           |  GROUP BY node)
           |SELECT node, n_triangles FROM pn
           |ORDER BY n_triangles DESC, node LIMIT 20""".stripMargin))

  /** Bounded BFS over the undirected trade graph from the lexically smallest
    * customer node ([[graft.operators.Graphs.hopDistances]]): hop histogram
    * with per-level min/max node. The oracle unrolls the three frontier
    * rounds as min-aggregate CTEs — hop counts are exact integers, so the
    * gate is exact, no rounding anywhere.
    */
  private val graphBfs = Q(
    (s, d) => {
      val li = D.lineitem(s, d); val o = D.orders(s, d)
      // distinct + checkpoint ONCE: both the source-node aggregate and the
      // BFS rounds read the materialized edge set instead of re-deriving the
      // lineitem ⋈ orders plan (the derivation ran twice before this)
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct().localCheckpoint()
      val src = edges.agg(min("src").as("node"))
      graft.operators.Graphs.hopDistances(edges, src, maxHops = 3)
        .groupBy("hops")
        .agg(count(lit(1)).as("n_nodes"),
          min("node").as("first_node"), max("node").as("last_node"))
        .orderBy("hops")
    },
    Some {
      val iterCtes = (1 to 3).map { i =>
        s"""d$i AS (SELECT node, min(hops) AS hops FROM (
           |    SELECT * FROM d${i - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, d${i - 1}.hops + 1 AS hops
           |    FROM e JOIN d${i - 1} ON e.src = d${i - 1}.node)
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH eo AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT src, dst FROM eo UNION SELECT dst, src FROM eo),
         |d0 AS (SELECT min(src) AS node, 0 AS hops FROM eo),
         |$iterCtes
         |SELECT hops, count(*) AS n_nodes, min(node) AS first_node, max(node) AS last_node
         |FROM d3 GROUP BY hops ORDER BY hops""".stripMargin
    })

  /** Three-step conversion funnel (view → click within the hour → purchase
    * before the hour closes) over the events stream: per-step user counts
    * and conversion rates. Each step is a type-filtered scan (predicate
    * pushed) joined against the previous step's per-user watermark, keyed
    * on user_id throughout — the standard product-analytics min-chain
    * shape. Second-resolution timestamps via the established
    * unix_timestamp ↔ floor(epoch()) parity.
    */
  private val eventsFunnel = Q(
    (s, d) => {
      val ev = D.events(s, d).select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("tsec"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("tsec").as("t1"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("tsec") > col("t1") && col("tsec") <= col("t1") + 3600)
        .groupBy("user_id").agg(min("tsec").as("t2"), min("t1").as("t1"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("tsec") > col("t2") && col("tsec") <= col("t1") + 3600)
        .groupBy("user_id").agg(min("tsec").as("t3"))
      val base = v.agg(count(lit(1)).as("n_base"))
      v.agg(count(lit(1)).as("n_users")).withColumn("step", lit("1_view"))
        .unionByName(c.agg(count(lit(1)).as("n_users")).withColumn("step", lit("2_click")))
        .unionByName(p.agg(count(lit(1)).as("n_users")).withColumn("step", lit("3_purchase")))
        .crossJoin(broadcast(base))
        .select(col("step"), col("n_users"),
          round(col("n_users") / col("n_base").cast("double"), 4).as("conv_rate"))
        .orderBy("step")
    },
    Some("""WITH ev AS (SELECT user_id, event_type,
           |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
           |v AS (SELECT user_id, min(tsec) AS t1 FROM ev
           |  WHERE event_type = 'view' GROUP BY user_id),
           |c AS (SELECT e.user_id, min(e.tsec) AS t2, min(v.t1) AS t1
           |  FROM ev e JOIN v ON e.user_id = v.user_id
           |  WHERE e.event_type = 'click' AND e.tsec > v.t1 AND e.tsec <= v.t1 + 3600
           |  GROUP BY e.user_id),
           |p AS (SELECT e.user_id, min(e.tsec) AS t3
           |  FROM ev e JOIN c ON e.user_id = c.user_id
           |  WHERE e.event_type = 'purchase' AND e.tsec > c.t2 AND e.tsec <= c.t1 + 3600
           |  GROUP BY e.user_id),
           |base AS (SELECT count(*) AS n_base FROM v),
           |counts AS (
           |  SELECT '1_view' AS step, count(*) AS n_users FROM v
           |  UNION ALL SELECT '2_click', count(*) FROM c
           |  UNION ALL SELECT '3_purchase', count(*) FROM p)
           |SELECT step, n_users, round(n_users / CAST(n_base AS DOUBLE), 4) AS conv_rate
           |FROM counts CROSS JOIN base ORDER BY step""".stripMargin))

  /** Prefix-filtered exact Jaccard join over the FULL corpus
    * ([[graft.operators.Dedup.jaccardJoinPrefix]]) — the scale path for the
    * brute-force `dedup_ngram_jaccard` (which the oracle runs literally):
    * every pair at shingle-Jaccard ≥ 0.6, candidates from prefix-shingle
    * equality under the df-asc global order, verified exactly. The oracle IS
    * the all-pairs join, so the gate proves the pruned algorithm loses
    * nothing.
    */
  private val dedupJaccardJoin = Q(
    (s, d) => graft.operators.Dedup.jaccardJoinPrefix(
        D.documents(s, d), "doc_id", "text", threshold = 0.6)
      .orderBy("id_a", "id_b"),
    Some(s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
            |sh AS (SELECT doc_id, list_distinct(${shinglesSqlFrom("t")}) AS sh FROM toks),
            |pairs AS (
            |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            |    len(list_intersect(a.sh, b.sh)) AS inter,
            |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
            |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            |SELECT id_a, id_b, round(inter / CAST(uni AS DOUBLE), 6) AS jaccard
            |FROM pairs WHERE round(inter / CAST(uni AS DOUBLE), 6) >= 0.6
            |ORDER BY id_a, id_b""".stripMargin))

  /** Edit-distance-1 join over the corpus vocabulary
    * ([[graft.operators.Dedup.editDistanceJoin]]) — typo/variant mining via
    * FastSS deletion neighborhoods: candidates come from EQUALITY on a
    * deleted-character variant (a pure equi-join — the O(|V|²) levenshtein
    * cross join appears nowhere), then verify through the codegen'd built-in
    * levenshtein. The string set is the 4–12-char vocabulary plus a
    * deterministic mid-character-deletion "typo" of each token (both engines
    * derive it with identical substring math), so the join provably recovers
    * every typo→source edge. The oracle IS the brute-force levenshtein
    * all-pairs join, so hash parity proves the neighborhood pruning lossless.
    */
  private val dedupEditJoin = Q(
    (s, d) => {
      val base = D.documents(s, d)
        .select(explode(graft.operators.Search.tokensCol(col("text"))).as("t"))
        .filter(length(col("t")).between(4, 12)).distinct()
      val mid = "cast(floor(length(t)/2) as int)"
      val strs = base.select(col("t").as("s"))
        .unionByName(base.select(
          expr(s"concat(substring(t, 1, $mid), substring(t, $mid + 2))").as("s")))
        .distinct()
      graft.operators.Dedup.editDistanceJoin(strs, "s")
        .orderBy("s_a", "s_b")
    },
    Some("""WITH toks AS (SELECT DISTINCT unnest(list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t
           |  FROM documents),
           |base AS (SELECT t FROM toks WHERE length(t) BETWEEN 4 AND 12),
           |strs AS (SELECT DISTINCT s FROM (
           |  SELECT t AS s FROM base
           |  UNION ALL
           |  SELECT concat(substring(t, 1, CAST(floor(length(t)/2) AS INT)),
           |                substring(t, CAST(floor(length(t)/2) AS INT) + 2)) AS s
           |  FROM base))
           |SELECT a.s AS s_a, b.s AS s_b,
           |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
           |FROM strs a JOIN strs b ON a.s < b.s
           |WHERE levenshtein(a.s, b.s) <= 1
           |ORDER BY s_a, s_b""".stripMargin))

  /** MMR diversity re-rank over the cosine top-10
    * ([[graft.operators.Mmr.rerank]]): five greedy picks at λ = 0.7. The
    * oracle replays the selection as unrolled pick-CTEs — every input the
    * greedy loop sees is a 6dp-rounded engine value (query sims from the
    * proven top-k pattern, pairwise sims from the same cosine), and the
    * diversity subtraction writes `(1 − 0.7)` on BOTH sides (the binary64
    * subtraction ≠ literal 0.3 — spelling it identically is what makes the
    * argmax sequence bit-identical).
    */
  private val searchMmrRerank = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val short = Search.vectorTopK(emb, "embedding", queryVec(s, d), 10, "cosine",
          idCol = "vec_id")
        .select(col("vec_id"), round(-col("score"), 6).as("qs"), col("embedding"))
      graft.operators.Mmr.rerank(short, "vec_id", "qs", "embedding", k = 5, lam = 0.7)
        .orderBy("pick_rank")
    },
    Some {
      val picks = (2 to 5).map { i =>
        s"""r$i AS (SELECT c.vec_id, 0.7 * c.qs - (1 - 0.7) * (
           |    SELECT max(p.ps) FROM pairs p
           |    WHERE p.ai = c.vec_id AND p.bi IN (SELECT vec_id FROM s${i - 1})) AS sc
           |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM s${i - 1})),
           |p$i AS (SELECT vec_id, sc FROM r$i ORDER BY sc DESC, vec_id LIMIT 1),
           |s$i AS (SELECT vec_id FROM s${i - 1} UNION ALL SELECT vec_id FROM p$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
         |cand AS (SELECT vec_id, round(s, 6) AS qs, embedding FROM (
         |    SELECT vec_id, embedding, ${cosSql("embedding", "(SELECT e FROM q)")} AS s
         |    FROM embeddings WHERE vec_id <> 0
         |    ORDER BY s DESC, vec_id LIMIT 10)),
         |pairs AS (SELECT a.vec_id AS ai, b.vec_id AS bi,
         |    round(${cosSql("a.embedding", "b.embedding")}, 6) AS ps
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         |p1 AS (SELECT vec_id, 0.7 * qs AS sc FROM cand
         |  ORDER BY 0.7 * qs DESC, vec_id LIMIT 1),
         |s1 AS (SELECT vec_id FROM p1),
         |$picks
         |SELECT pick_rank, vec_id, round(sc, 6) AS mmr_score FROM (
         |  SELECT 1 AS pick_rank, vec_id, sc FROM p1
         |  UNION ALL SELECT 2, vec_id, sc FROM p2
         |  UNION ALL SELECT 3, vec_id, sc FROM p3
         |  UNION ALL SELECT 4, vec_id, sc FROM p4
         |  UNION ALL SELECT 5, vec_id, sc FROM p5)
         |ORDER BY pick_rank""".stripMargin
    })

  /** Segment-local customer ranking: spend quartiles and percentile ranks
    * within each nation — ntile + percent_rank over a nation-partitioned
    * window (the §2.5 ranking functions not yet exercised elsewhere).
    * Windows partition by nation, so the sort is segment-local — the
    * scale-safe way to use rank windows (a GLOBAL ntile would funnel the
    * corpus through one partition; for global cuts use
    * [[graft.operators.Sketches.histQuantiles]] thresholds instead).
    */
  private val w6NtileQuartile = Q(
    (s, d) => {
      val o = D.orders(s, d); val c = D.customer(s, d); val n = D.nation(s, d)
      val spend = o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name", "c_custkey")
        .agg(round(sum("o_totalprice"), 2).as("spend"))
      val w = Window.partitionBy("n_name")
        .orderBy(col("spend").desc, col("c_custkey"))
      spend
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", round(percent_rank().over(w), 4))
        .orderBy("n_name", "c_custkey")
    },
    Some("""WITH spend AS (SELECT n_name, c_custkey,
           |    round(sum(o_totalprice), 2) AS spend
           |  FROM orders JOIN customer ON o_custkey = c_custkey
           |  JOIN nation ON c_nationkey = n_nationkey
           |  GROUP BY n_name, c_custkey)
           |SELECT n_name, c_custkey, spend,
           |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           |  round(percent_rank() OVER w, 4) AS pct_rank
           |FROM spend
           |WINDOW w AS (PARTITION BY n_name ORDER BY spend DESC, c_custkey)
           |ORDER BY n_name, c_custkey""".stripMargin))

  /** EWMA-smoothed daily metric per event type: events pre-aggregate to a
    * (type, day) mean table — metadata-sized, ONE exchange over the raw
    * stream — then the exponential smoothing runs as a decay-weighted join
    * over a bounded 30-day horizon ((1−α)³⁰ ≈ 1e-3 at α = 0.2; truncated
    * EWMA is the production form — an unbounded recursive window neither
    * scales nor replays). Adjusted-EWMA normalization (Σw·x / Σw), 4dp
    * round absorbing pow/sum ulp drift.
    */
  private val eventsEwma = Q(
    (s, d) => {
      val daily = D.events(s, d)
        .select(col("event_type"),
          floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("day"),
          col("value"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"), (sum("value") / count(lit(1))).as("day_mean"))
      val a = daily.select(col("event_type"), col("day").as("t"),
        col("n").as("n_t"), col("day_mean").as("x_t"))
      val b = daily.select(col("event_type"), col("day").as("j"), col("day_mean").as("x_j"))
      a.join(b, Seq("event_type"))
        .filter(col("j") <= col("t") && col("j") > col("t") - 30)
        .withColumn("w", pow(lit(0.8), (col("t") - col("j")).cast("double")))
        .groupBy(col("event_type"), col("t").as("day"))
        .agg(first(col("n_t")).as("n"),
          round(first(col("x_t")), 4).as("day_mean"),
          round(sum(col("w") * col("x_j")) / sum(col("w")), 4).as("ewma"))
        .orderBy("event_type", "day")
    },
    Some("""WITH daily AS (SELECT event_type,
           |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
           |    count(*) AS n, sum(value) / count(*) AS day_mean
           |  FROM events GROUP BY event_type, day)
           |SELECT a.event_type, a.day AS day, a.n AS n,
           |  round(a.day_mean, 4) AS day_mean,
           |  round(sum(pow(0.8, CAST(a.day - b.day AS DOUBLE)) * b.day_mean)
           |    / sum(pow(0.8, CAST(a.day - b.day AS DOUBLE))), 4) AS ewma
           |FROM daily a JOIN daily b ON a.event_type = b.event_type
           |  AND b.day <= a.day AND b.day > a.day - 30
           |GROUP BY a.event_type, a.day, a.n, a.day_mean
           |ORDER BY a.event_type, a.day""".stripMargin))

  /** Overlapping activity intervals merged per user: each event opens a
    * 30-minute interval [epoch-second, +1800], and [[graft.operators.Intervals
    * .mergeIntervals]] scan-lines them into maximal islands — one exchange on
    * user_id whose clustering the window sort AND the island group-by both
    * reuse (no second shuffle). The oracle replays the identical running-max
    * island detection in DuckDB window SQL, so island boundaries — not just
    * counts — are hash-gated. All arithmetic is exact integer epoch seconds.
    */
  private val eventsIntervalsMerge = Q(
    (s, d) => {
      val iv = D.events(s, d).select(col("user_id"),
        floor(unix_timestamp(col("ts"))).cast("long").as("s"))
        .withColumn("e", col("s") + 1800L)
      graft.operators.Intervals.mergeIntervals(iv, Seq("user_id"), "s", "e")
        .select(col("user_id"), col("island_start"), col("island_end"),
          col("n_intervals"))
        .orderBy("user_id", "island_start")
    },
    Some("""WITH iv AS (SELECT user_id,
           |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
           |    CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e
           |  FROM events),
           |flagged AS (SELECT user_id, s, e,
           |    CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
           |      OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |    THEN 1 ELSE 0 END AS new_island
           |  FROM iv),
           |islands AS (SELECT user_id, s, e,
           |    sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           |  FROM flagged)
           |SELECT user_id, min(s) AS island_start, max(e) AS island_end,
           |  count(*) AS n_intervals
           |FROM islands GROUP BY user_id, island
           |ORDER BY user_id, island_start""".stripMargin))

  /** Per-(user, type) daily series densified with LOCF gap-fill
    * ([[graft.operators.Intervals.gapFillDaily]]): the day grid explodes from
    * each key's [min, max] span (rows-out bounded by keys × span-days), and
    * the carry-forward is one `last(_, ignoreNulls)` window riding the same
    * exchange as the span aggregate. The oracle builds the identical grid via
    * generate_series and fills with `last_value(v IGNORE NULLS)` — engines
    * agree on every filled cell, gated at 4dp on the summed daily value.
    */
  private val eventsGapfill = Q(
    (s, d) => {
      val daily = D.events(s, d).select(col("user_id"), col("event_type"),
          floor(unix_timestamp(col("ts")) / lit(86400L)).cast("long").as("day"),
          col("value"))
        .groupBy("user_id", "event_type", "day")
        .agg(sum("value").as("v"))
      graft.operators.Intervals.gapFillDaily(daily,
          Seq("user_id", "event_type"), "day", "v")
        .select(col("user_id"), col("event_type"), col("day"),
          round(col("v"), 4).as("value"), col("is_filled"))
        .orderBy("user_id", "event_type", "day")
    },
    Some("""WITH daily AS (SELECT user_id, event_type,
           |    CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day,
           |    sum(value) AS v
           |  FROM events GROUP BY user_id, event_type, day),
           |span AS (SELECT user_id, event_type, min(day) AS d0, max(day) AS d1
           |  FROM daily GROUP BY user_id, event_type),
           |grid AS (SELECT user_id, event_type,
           |    unnest(generate_series(d0, d1)) AS day
           |  FROM span)
           |SELECT g.user_id, g.event_type, g.day,
           |  round(last_value(daily.v IGNORE NULLS) OVER (
           |    PARTITION BY g.user_id, g.event_type ORDER BY g.day
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value,
           |  CAST(daily.v IS NULL AS BIGINT) AS is_filled
           |FROM grid g LEFT JOIN daily
           |  ON g.user_id = daily.user_id AND g.event_type = daily.event_type
           |  AND g.day = daily.day
           |ORDER BY g.user_id, g.event_type, g.day""".stripMargin))

  /** Weekly retention cohorts over the events stream: users cohorted by the
    * week of their first signup, counted in each later week they produced
    * any event — the product-analytics triangle matrix. Weeks are
    * epoch-day ÷ 7 (no calendar/timezone dependency to drift between
    * engines); everything is exact integer arithmetic, so the gate needs no
    * rounding except the retention-rate ratio.
    */
  private val eventsRetention = Q(
    (s, d) => {
      val ev = D.events(s, d).select(col("user_id"), col("event_type"),
        floor(unix_timestamp(col("ts")) / lit(86400L * 7)).cast("long").as("week"))
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("week").as("cohort_week"))
      val active = ev.select(col("user_id"), col("week")).distinct()
      val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
      cohort.join(active, "user_id")
        .filter(col("week") >= col("cohort_week"))
        .select(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"),
          col("user_id"))
        .groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("n_active"))
        .join(sizes, "cohort_week")
        .select(col("cohort_week"), col("week_offset"), col("n_active"),
          round(col("n_active") / col("cohort_size").cast("double"), 4).as("retention"))
        .orderBy("cohort_week", "week_offset")
    },
    Some("""WITH ev AS (SELECT user_id, event_type,
           |    CAST(floor(floor(epoch(ts)) / 604800) AS BIGINT) AS week FROM events),
           |cohort AS (SELECT user_id, min(week) AS cohort_week FROM ev
           |  WHERE event_type = 'signup' GROUP BY user_id),
           |active AS (SELECT DISTINCT user_id, week FROM ev),
           |sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM cohort
           |  GROUP BY cohort_week),
           |cells AS (SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
           |    count(DISTINCT a.user_id) AS n_active
           |  FROM cohort c JOIN active a ON c.user_id = a.user_id
           |  WHERE a.week >= c.cohort_week
           |  GROUP BY c.cohort_week, a.week - c.cohort_week)
           |SELECT x.cohort_week, x.week_offset, x.n_active,
           |  round(x.n_active / CAST(s.cohort_size AS DOUBLE), 4) AS retention
           |FROM cells x JOIN sizes s ON x.cohort_week = s.cohort_week
           |ORDER BY x.cohort_week, x.week_offset""".stripMargin))

  /** Per-type z-score outlier flagging over the events stream — the
    * statistical anomaly gate of a metrics pipeline: events whose value sits
    * more than 3 population standard deviations from their type's mean. The
    * per-type moment table is metadata-sized and broadcasts back into the
    * scan; z-scores round to 4dp before the cut so an ulp cannot flip a
    * flag between engines (the threshold compares the ROUNDED value both
    * sides — same trick as the weighted-sample sort key).
    */
  private val eventsAnomaly = Q(
    (s, d) => {
      val ev = D.events(s, d).select(col("event_id"), col("event_type"), col("value"))
      val stats = ev.groupBy("event_type").agg(
        (sum("value") / count(lit(1))).as("mu"),
        sqrt(sum(col("value") * col("value")) / count(lit(1)) -
          (sum("value") / count(lit(1))) * (sum("value") / count(lit(1)))).as("sigma"))
      ev.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"),
          round((col("value") - col("mu")) / col("sigma"), 4).as("z"))
        .filter(abs(col("z")) > 3.0)
        .orderBy("event_id")
    },
    Some("""WITH stats AS (SELECT event_type,
           |    sum(value) / count(*) AS mu,
           |    sqrt(sum(value * value) / count(*)
           |      - (sum(value) / count(*)) * (sum(value) / count(*))) AS sigma
           |  FROM events GROUP BY event_type)
           |SELECT event_id, e.event_type,
           |  round((e.value - s.mu) / s.sigma, 4) AS z
           |FROM events e JOIN stats s ON e.event_type = s.event_type
           |WHERE abs(round((e.value - s.mu) / s.sigma, 4)) > 3.0
           |ORDER BY event_id""".stripMargin))

  /** Dominant principal component of the embedding corpus
    * ([[graft.operators.Pca]]): one fixed-buffer covariance aggregation,
    * three power-iteration rounds, Rayleigh-quotient eigenvalue (emitted as
    * the i = −1 row). The oracle rebuilds the centered covariance from an
    * element-exploded self-join and replays the iterations — covariance
    * entries and each round's normalized iterate meet at 9dp rounds, the
    * engine's standard sum-order-drift absorber.
    */
  private val pcaTopComponent = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val cov = graft.operators.Pca.covariance(emb, "embedding", 64)
      val v = graft.operators.Pca.topComponent(cov, 64, iters = 3)
      val lam = graft.operators.Pca.rayleigh(cov, v)
      v.select(col("i"), round(col("loading"), 6).as("loading"))
        .unionByName(lam.select(lit(-1).as("i"), col("eigenvalue").as("loading")))
        .orderBy("i")
    },
    Some {
      val iterCtes = (1 to 3).map { i =>
        s"""w$i AS (SELECT c.i AS i, sum(c.c * v${i - 1}.v) AS w
           |  FROM cov c JOIN v${i - 1} ON c.j = v${i - 1}.i GROUP BY c.i),
           |n$i AS (SELECT sqrt(sum(w * w)) AS nrm FROM w$i),
           |v$i AS (SELECT i, round(w / nrm, 9) AS v FROM w$i CROSS JOIN n$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH grid AS (SELECT unnest(generate_series(0, 63)) AS i),
         |emb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
         |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM emb),
         |ex AS (SELECT vec_id, g.i AS i, CAST(embedding[g.i + 1] AS DOUBLE) AS x
         |  FROM emb CROSS JOIN grid g),
         |mean AS (SELECT i, sum(x) / n AS m FROM ex CROSS JOIN cnt GROUP BY i, n),
         |cov AS (SELECT a.i AS i, b.i AS j,
         |    round(sum(a.x * b.x) / cnt.n - ma.m * mb.m, 9) AS c
         |  FROM ex a JOIN ex b USING (vec_id)
         |  CROSS JOIN cnt
         |  JOIN mean ma ON ma.i = a.i
         |  JOIN mean mb ON mb.i = b.i
         |  GROUP BY a.i, b.i, cnt.n, ma.m, mb.m),
         |v0 AS (SELECT i, 0.125 AS v FROM grid),
         |$iterCtes,
         |ray AS (SELECT round(sum(a.v * c.c * b.v), 6) AS loading
         |  FROM cov c JOIN v3 a ON a.i = c.i JOIN v3 b ON b.i = c.j)
         |SELECT i, round(v, 6) AS loading FROM v3
         |UNION ALL SELECT -1 AS i, loading FROM ray
         |ORDER BY i""".stripMargin
    })

  /** Per-node community assignment after three synchronous
    * label-propagation rounds over the month co-supply graph
    * ([[graft.operators.Graphs.labelPropagation]]). The deterministic
    * variant — ties to the smallest label — lets the oracle replay every
    * round with a row_number window; the gate is every node's label (any
    * divergence in any round moves some node's label), exact with no
    * rounding anywhere. Dense graphs collapse to few communities under LPA
    * (the known behavior), which is why the gate is assignments, not
    * community sizes.
    */
  private val graphCommunities = Q(
    (s, d) => {
      val li = D.lineitem(s, d); val o = D.orders(s, d)
      val os = o.filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-02-01"))
      val sl = li.join(os, li("l_orderkey") === os("o_orderkey"))
        .select(col("l_orderkey").as("k"), col("l_suppkey").as("sk"))
      val edges = sl.join(sl.toDF("k", "sk2"), "k")
        .filter(col("sk") =!= col("sk2"))
        .select(col("sk").as("src"), col("sk2").as("dst"))
      graft.operators.Graphs.labelPropagation(edges, iters = 3)
        .orderBy("node")
    },
    Some {
      val iterCtes = (1 to 3).map { i =>
        s"""c$i AS (SELECT e.dst AS node, l${i - 1}.label AS label, count(*) AS c
           |  FROM e JOIN l${i - 1} ON e.src = l${i - 1}.node
           |  GROUP BY e.dst, l${i - 1}.label),
           |t$i AS (SELECT node, label FROM (
           |    SELECT node, label,
           |      row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
           |    FROM c$i) WHERE rn = 1),
           |l$i AS (SELECT n.node AS node, coalesce(t.label, n.node) AS label
           |  FROM nodes n LEFT JOIN t$i t USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH sl AS (SELECT l_orderkey AS k, l_suppkey AS sk
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-02-01'),
         |eo AS (SELECT DISTINCT x.sk AS src, y.sk AS dst
         |  FROM sl x JOIN sl y ON x.k = y.k AND x.sk < y.sk),
         |e AS (SELECT src, dst FROM eo UNION SELECT dst, src FROM eo),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |l0 AS (SELECT node, node AS label FROM nodes),
         |$iterCtes
         |SELECT node, label FROM l3 ORDER BY node""".stripMargin
    })

  /** In-engine quality-classifier training
    * ([[graft.operators.Training.logRegGD]]): logistic regression predicting
    * lang = 'en' from three SQL-replicable features (scaled char count,
    * English-stopword ratio, distinct-token ratio), three rounds of
    * full-batch gradient descent with per-round 9dp weight rounding — the
    * [[graft.operators.Graphs.pageRank]] bit-reproducibility contract
    * applied to model training. The oracle replays every round as
    * gradient-CTE + weight-CTE pairs; output is the final model plus its
    * training accuracy.
    */
  private val qualityLrTrain = Q(
    (s, d) => {
      import s.implicits._
      val enStops = Seq("the", "a", "of", "and", "is", "to", "in")
        .map(w => s"'$w'").mkString(", ")
      val feat = D.documents(s, d)
        .withColumn("_t", graft.operators.Search.tokensCol(col("text")))
        .select(
          when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
          (col("n_chars") / lit(300.0)).as("x_chars"),
          (expr(s"size(filter(_t, t -> t IN ($enStops)))") /
            greatest(size(col("_t")), lit(1)).cast("double")).as("x_stop"),
          (expr("size(array_distinct(_t))") /
            greatest(size(col("_t")), lit(1)).cast("double")).as("x_dist"))
      val m = graft.operators.Training.logRegGD(
        feat, "y", Seq("x_chars", "x_stop", "x_dist"), iters = 3, lr = 0.5)
      val acc = graft.operators.Training.accuracy(feat, "y", m)
      Seq(
        ("bias", m.bias), ("n", m.n.toDouble), ("train_acc", acc),
        ("w_chars", m.weights(0)), ("w_dist", m.weights(2)), ("w_stop", m.weights(1)))
        .toDF("param", "value")
        .select(col("param"), round(col("value"), 6).as("value"))
        .orderBy("param")
    },
    Some {
      val grad = (i: Int) =>
        s"""ga$i AS (SELECT sum(e) AS g0, sum(e * x1) AS g1, sum(e * x2) AS g2, sum(e * x3) AS g3
           |  FROM (SELECT 1.0 / (1.0 + exp(-(b + w1 * x1 + w2 * x2 + w3 * x3))) - y AS e,
           |          x1, x2, x3
           |        FROM feat CROSS JOIN wa${i - 1})),
           |wa$i AS (SELECT round(b - 0.5 * g0 / n, 9) AS b,
           |    round(w1 - 0.5 * g1 / n, 9) AS w1,
           |    round(w2 - 0.5 * g2 / n, 9) AS w2,
           |    round(w3 - 0.5 * g3 / n, 9) AS w3
           |  FROM wa${i - 1} CROSS JOIN ga$i CROSS JOIN cnt)""".stripMargin
      val iterCtes = (1 to 3).map(grad).mkString(",\n")
      s"""WITH tok AS (SELECT lang, n_chars, $toksSql AS t FROM documents),
         |feat AS (SELECT
         |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         |    n_chars / 300.0 AS x1,
         |    len(list_filter(t, w -> w IN ('the', 'a', 'of', 'and', 'is', 'to', 'in')))
         |      / CAST(greatest(len(t), 1) AS DOUBLE) AS x2,
         |    len(list_distinct(t)) / CAST(greatest(len(t), 1) AS DOUBLE) AS x3
         |  FROM tok),
         |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM feat),
         |wa0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
         |$iterCtes,
         |sel AS (
         |  SELECT 'bias' AS param, b AS value FROM wa3
         |  UNION ALL SELECT 'n', n FROM cnt
         |  UNION ALL SELECT 'train_acc',
         |    (SELECT round(avg(CASE WHEN (b + w1 * x1 + w2 * x2 + w3 * x3 >= 0) = (y = 1.0)
         |                           THEN 1.0 ELSE 0.0 END), 6)
         |     FROM feat CROSS JOIN wa3)
         |  UNION ALL SELECT 'w_chars', w1 FROM wa3
         |  UNION ALL SELECT 'w_dist', w3 FROM wa3
         |  UNION ALL SELECT 'w_stop', w2 FROM wa3)
         |SELECT param, round(value, 6) AS value FROM sel ORDER BY param""".stripMargin
    })

  /** Flesch readability per document
    * ([[graft.operators.TextAnalysis.readability]]): vowel-group syllable
    * heuristic + sentence segmentation, surfaced as flesch_ease / fk_grade.
    * Counts are exact integers; the two scores involve only IEEE-exact
    * arithmetic (no transcendentals), so 4dp rounding is belt-and-braces.
    */
  private val textReadability = Q(
    (s, d) => graft.operators.TextAnalysis.readability(
        D.documents(s, d).select("doc_id", "text"), "text")
      .select("doc_id", "n_words", "n_syllables", "n_sentences_r",
        "flesch_ease", "fk_grade")
      .orderBy("doc_id"),
    Some(s"""WITH x AS (SELECT doc_id, text, $toksSql AS t FROM documents),
            |sig AS (SELECT doc_id,
            |    len(t) AS n_words,
            |    CAST(coalesce(list_sum(list_transform(t,
            |      w -> len(regexp_extract_all(w, '[aeiouy]+')))), 0) AS BIGINT) AS n_syllables,
            |    CAST(greatest(len(list_filter(regexp_split_to_array(text, '[.!?]+\\s+'),
            |      x -> x <> '')), 1) AS BIGINT) AS n_sentences_r
            |  FROM x)
            |SELECT doc_id, n_words, n_syllables, n_sentences_r,
            |  round(206.835 - 1.015 * (n_words / CAST(n_sentences_r AS DOUBLE))
            |    - 84.6 * (n_syllables / CAST(greatest(n_words, 1) AS DOUBLE)), 4) AS flesch_ease,
            |  round(0.39 * (n_words / CAST(n_sentences_r AS DOUBLE))
            |    + 11.8 * (n_syllables / CAST(greatest(n_words, 1) AS DOUBLE)) - 15.59, 4) AS fk_grade
            |FROM sig ORDER BY doc_id""".stripMargin))

  /** Target corpus shares for the mixture planner (shared between the Spark
    * call and the generated oracle CASE).
    */
  private val planShares = Seq("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2)

  /** Mixture-rate planning ([[graft.operators.Curation.mixturePlan]]): from
    * target per-language shares and a token budget to the per-language keep
    * rates that stratifiedSample executes — the planning half of training-mix
    * construction, one |strata|-row aggregate.
    */
  private val sampleMixturePlan = Q(
    (s, d) => graft.operators.Curation.mixturePlan(
        D.documents(s, d).select(col("lang"),
          size(expr("filter(split(text, '\\\\s+'), x -> x != '')")).cast("long")
            .as("n_tok")),
        "lang", "n_tok", planShares.toMap, budget = 100000L)
      .orderBy("lang"),
    Some(s"""SELECT lang, count(*) AS n_docs,
            |  CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
            |    x -> x <> ''))) AS BIGINT) AS n_tokens,
            |  ${planShares.map { case (k, v) => s"WHEN lang = '$k' THEN ${v}::DOUBLE" }
                 .mkString("CASE ", " ", " ELSE 0.0::DOUBLE END")} AS target_share,
            |  round(least(1.0::DOUBLE,
            |    100000.0::DOUBLE * ${planShares.map { case (k, v) => s"WHEN lang = '$k' THEN ${v}::DOUBLE" }
                 .mkString("CASE ", " ", " ELSE 0.0::DOUBLE END")}
            |    / greatest(CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
            |        x -> x <> ''))) AS DOUBLE), 1.0::DOUBLE)), 6) AS rate
            |FROM documents GROUP BY lang ORDER BY lang""".stripMargin))

  /** Training-mix rates for the stratified-sampling query (shared between the
    * Spark call and the generated oracle CASE so they can never drift).
    */
  private val mixRates = Seq("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1)
  private val mixDefault = 0.05

  /** Reproducible stratified sampling
    * ([[graft.operators.Curation.stratifiedSample]]): per-language keep rates
    * decided by an md5 threshold compare — rerun-stable at any parallelism.
    * The oracle CASE is generated from the same rate table and threshold
    * function, so the hash gate pins the exact draw, not just the rates.
    */
  private val sampleStratified = Q(
    (s, d) => graft.operators.Curation.stratifiedSample(
        D.documents(s, d), "doc_id", "lang",
        mixRates.toMap, defaultRate = mixDefault)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id"),
    Some {
      def hex(r: Double) = graft.operators.Curation.rateThresholdHex(r)
      val arms = mixRates.map { case (l, r) => s"WHEN '$l' THEN '${hex(r)}'" }
        .mkString(" ")
      s"""SELECT doc_id, lang FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) <
         |  CASE lang $arms ELSE '${hex(mixDefault)}' END
         |ORDER BY doc_id""".stripMargin
    })

  /** Token-budget shard packing ([[graft.operators.Curation.packByTokenBudget]]):
    * documents virtually concatenate in (source, doc_id) order and cut every
    * 5000 chars into training shards — a distributed prefix sum (per-bucket
    * windows + a #buckets-row offset table), never a global single-partition
    * window. The oracle computes the same two-level cumulative math.
    */
  /** Fixed-length sequence packing ([[graft.operators.Curation.packSequences]]):
    * the 2048-token pretraining pack as pure offset metadata — every doc's
    * global offset, sequence range, and span count, cut positions included.
    * Same distributed prefix sum as `sample_pack_shards`; the whole layout is
    * hash-gated.
    */
  private val samplePackSequences = Q(
    (s, d) => graft.operators.Curation.packSequences(
        D.documents(s, d).select("doc_id", "source", "n_chars"),
        bucketCol = "source", orderCol = "doc_id",
        tokensCol = "n_chars", seqLen = 2048L)
      .select(col("doc_id"), col("global_offset"),
        col("seq_start"), col("seq_end"), col("n_seqs"))
      .orderBy("doc_id"),
    Some("""WITH bt AS (SELECT source, sum(n_chars) AS t FROM documents GROUP BY source),
           |off AS (SELECT source, CAST(coalesce(sum(t) OVER (ORDER BY source
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
           |  FROM bt),
           |w AS (SELECT doc_id, source, n_chars,
           |    CAST(coalesce(sum(n_chars) OVER (PARTITION BY source
           |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS before FROM documents),
           |g AS (SELECT doc_id, n_chars, o + before AS global_offset
           |  FROM w JOIN off USING (source))
           |SELECT doc_id, global_offset,
           |  global_offset // 2048 AS seq_start,
           |  CASE WHEN n_chars > 0 THEN (global_offset + n_chars - 1) // 2048
           |       ELSE global_offset // 2048 END AS seq_end,
           |  CASE WHEN n_chars > 0
           |       THEN (global_offset + n_chars - 1) // 2048 - global_offset // 2048 + 1
           |       ELSE 0 END AS n_seqs
           |FROM g ORDER BY doc_id""".stripMargin))

  private val samplePackShards = Q(
    (s, d) => graft.operators.Curation.packByTokenBudget(
        D.documents(s, d).select("doc_id", "source", "n_chars"),
        bucketCol = "source", orderCol = "doc_id",
        tokensCol = "n_chars", budget = 5000L)
      .select(col("doc_id"), col("source"), col("shard_id"))
      .orderBy("doc_id"),
    Some("""WITH bt AS (SELECT source, sum(n_chars) AS t FROM documents GROUP BY source),
           |off AS (SELECT source, CAST(coalesce(sum(t) OVER (ORDER BY source
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
           |  FROM bt),
           |w AS (SELECT doc_id, source, CAST(coalesce(sum(n_chars) OVER (PARTITION BY source
           |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
           |  FROM documents)
           |SELECT w.doc_id, w.source, CAST(floor((o + before) / 5000) AS BIGINT) AS shard_id
           |FROM w JOIN off USING (source) ORDER BY doc_id""".stripMargin))

  /** Deterministic per-epoch training-order shuffle
    * ([[graft.operators.Curation.epochShuffle]]): shard and within-shard
    * position are pure functions of (doc_id, epoch) — the oracle re-deals the
    * identical order from the same md5 draw, proving reruns and re-partitions
    * cannot change what the loader streams. Per-row hash + per-shard windows;
    * no global sort.
    */
  private val sampleEpochShuffle = Q(
    (s, d) => graft.operators.Curation.epochShuffle(
        D.documents(s, d).select("doc_id"), "doc_id", epoch = 3, nShards = 8)
      .select(col("doc_id"), col("shard_id"), col("shard_pos"))
      .orderBy("doc_id"),
    Some(s"""WITH h AS (SELECT doc_id,
            |    substring(md5('epoch3:' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
            |  FROM documents),
            |v AS (SELECT doc_id,
            |    CAST(${graft.operators.Curation.hash32DigitSumSql("hx")} AS BIGINT) AS hv
            |  FROM h)
            |SELECT doc_id, hv % 8 AS shard_id,
            |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) - 1
            |    AS BIGINT) AS shard_pos
            |FROM v ORDER BY doc_id""".stripMargin))

  /** PMI collocation mining ([[graft.operators.TextAnalysis.collocations]]):
    * top-25 word pairs by pointwise mutual information with a min-count floor
    * of 5 — corpus-level phrase discovery (the word2vec phrase pass). One
    * pair-keyed aggregate + broadcast vocab joins; the oracle replays counts
    * and the ln exactly (6dp round absorbs libm's last ulp, the BM25-idf
    * trade).
    */
  private val textCollocations = Q(
    (s, d) => graft.operators.TextAnalysis.collocations(
      D.documents(s, d), "text", minCount = 5L, topK = 25),
    Some("""WITH d AS (
           |  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
           |                     x -> x <> '') AS ts
           |  FROM documents),
           |pairs AS (
           |  SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS p
           |  FROM d WHERE len(ts) >= 2),
           |bg AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS c_ab
           |  FROM pairs GROUP BY 1, 2),
           |ug AS (SELECT w, count(*) AS c_w FROM
           |  (SELECT unnest(ts) AS w FROM d) GROUP BY w),
           |n AS (SELECT sum(c_ab) AS n_total FROM bg)
           |SELECT w1, w2, c_ab,
           |  round(ln(CAST(c_ab * n_total AS DOUBLE) / (a.c_w * b.c_w)), 6) AS pmi
           |FROM bg JOIN ug a ON bg.w1 = a.w JOIN ug b ON bg.w2 = b.w CROSS JOIN n
           |WHERE c_ab >= 5
           |ORDER BY pmi DESC, w1, w2 LIMIT 25""".stripMargin))

  /** PageRank over the customer→supplier trade graph
    * ([[graft.operators.Graphs.pageRank]], 5 iterations): a fact-table join
    * derives the edge list, then the Pregel-shaped iteration ranks supplier
    * authority. The oracle unrolls the same 5 iterations with the same
    * per-iteration 9dp round, so the whole fixed point hash-gates — the
    * deterministic-iteration recipe that also proves partition-invariance.
    */
  private val graphPagerank = Q(
    (s, d) => {
      val li = D.lineitem(s, d); val o = D.orders(s, d)
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      graft.operators.Graphs.pageRank(edges, iters = 5)
        .select(col("node"), round(col("rank"), 6).as("pagerank"))
        .orderBy(round(col("rank"), 6).desc, col("node"))
        .limit(100)
    },
    Some {
      val iterCtes = (1 to 5).map { i =>
        s"""c$i AS (SELECT e.dst AS node, sum(r${i - 1}.rank / o.outdeg) AS in_sum
           |  FROM eo e JOIN r${i - 1} ON e.src = r${i - 1}.node
           |  JOIN outdeg o ON e.src = o.src
           |  GROUP BY e.dst),
           |r$i AS (SELECT n.node, round(0.15 + 0.85 * coalesce(c.in_sum, 0.0), 9) AS rank
           |  FROM nodes n LEFT JOIN c$i c USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH eo AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM eo GROUP BY src),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM eo UNION ALL SELECT dst FROM eo)),
         |r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes),
         |$iterCtes
         |SELECT node, round(rank, 6) AS pagerank FROM r5
         |ORDER BY round(rank, 6) DESC, node LIMIT 100""".stripMargin
    })

  /** PageRank with dangling-mass redistribution over the same trade graph
    * ([[graft.operators.Graphs.pageRank]] `redistributeDangling = true`, the
    * stochastic-matrix form): suppliers only ever appear as edge DESTINATIONS
    * here, so every supplier is a dangling node and the redistribution term is
    * live in every round — rank' = (1−d) + d·(Σ_in rank/outdeg + danglingSum/N).
    * The oracle unrolls the 5 iterations with the same per-round dangling-sum
    * scalar and the same 9dp round, hash-gating the mass-conserving fixed
    * point exactly as the base query gates the drop-mass one.
    */
  private val graphPagerankDangling = Q(
    (s, d) => {
      val li = D.lineitem(s, d); val o = D.orders(s, d)
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
      graft.operators.Graphs.pageRank(edges, iters = 5,
          redistributeDangling = true)
        .select(col("node"), round(col("rank"), 6).as("pagerank"))
        .orderBy(round(col("rank"), 6).desc, col("node"))
        .limit(100)
    },
    Some {
      val iterCtes = (1 to 5).map { i =>
        s"""ds$i AS (SELECT coalesce(sum(rank), 0.0) AS d_sum
           |  FROM r${i - 1} JOIN dang USING (node)),
           |c$i AS (SELECT e.dst AS node, sum(r${i - 1}.rank / o.outdeg) AS in_sum
           |  FROM eo e JOIN r${i - 1} ON e.src = r${i - 1}.node
           |  JOIN outdeg o ON e.src = o.src
           |  GROUP BY e.dst),
           |r$i AS (SELECT n.node,
           |    round(0.15 + 0.85 * (coalesce(c.in_sum, 0.0) + d.d_sum / nn.n), 9) AS rank
           |  FROM nodes n LEFT JOIN c$i c USING (node) CROSS JOIN ds$i d CROSS JOIN nn)""".stripMargin
      }.mkString(",\n")
      s"""WITH eo AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM eo GROUP BY src),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM eo UNION ALL SELECT dst FROM eo)),
         |dang AS (SELECT n.node FROM nodes n
         |  WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = n.node)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes),
         |$iterCtes
         |SELECT node, round(rank, 6) AS pagerank FROM r5
         |ORDER BY round(rank, 6) DESC, node LIMIT 100""".stripMargin
    })

  /** Legacy index-artifact migration roundtrip (SURVEY §2.9 M7,
    * [[graft.sources.LegacyChroma]] over the from-scratch
    * [[graft.sources.Pickle]] codec): the embeddings table is exported to the
    * reference's legacy pickle wire form (`{"ids", "embeddings", "metadatas"}`
    * protocol-2 stream, chroma_indexer.py:181) and re-imported, and the query
    * emits per-entry dim / double-precision L2 norm / metadata echo from the
    * REIMPORTED rows. The oracle computes the same projection straight from
    * parquet — hash parity proves the codec roundtrip is lossless (float →
    * pickle double → float is exact; any parse drift breaks id order, dim,
    * norm, or the echoed metadata). Parse is driver-side by construction
    * (a legacy artifact is one in-memory blob — the reference's own
    * `pickle.loads` path); everything downstream is a distributed frame.
    */
  private val m7LegacyImport = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
        .select(col("vec_id").cast("string").as("id"), col("embedding"),
          map(lit("source"), lit("legacy"),
            lit("label"), col("label").cast("string")).as("metadata"))
      val bytes = graft.sources.LegacyChroma.exportPickled(emb)
      val imported = graft.sources.LegacyChroma.importPickled(s, bytes)
      imported.select(
          col("id"),
          size(col("embedding")).as("dim"),
          round(sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 6).as("l2_norm"),
          col("metadata")("source").as("source"),
          col("metadata")("label").as("label"))
        .orderBy(col("id").cast("long"))
    },
    Some("""SELECT CAST(vec_id AS VARCHAR) AS id, CAST(len(embedding) AS INT) AS dim,
           |  round(sqrt(list_sum(list_transform(embedding,
           |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           |  'legacy' AS source, CAST(label AS VARCHAR) AS label
           |FROM embeddings WHERE vec_id <> 0 ORDER BY vec_id""".stripMargin))

  /** Deterministic Lloyd k-means training ([[graft.operators.Training.kMeansLloyd]],
    * k=4 seeded from corpus vectors 1..4, 3 rounds): the trained-centroid
    * complement to `cluster_assign`'s fixed-centroid assignment and the
    * bit-reproducible alternative to the MLlib IVF quantizer. The oracle
    * unrolls the same 3 rounds — ROUND(dist, 6) argmin with lowest-cid ties,
    * ROUND(avg, 9) centroid update, empty clusters keep their centroid — so
    * the whole training fixed point hash-gates, partition-invariantly.
    */
  private val clusterKmeansTrain = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val init = emb.filter(col("vec_id").between(1, 4))
        .select((col("vec_id") - 1).as("cid"),
          posexplode(col("embedding")).as(Seq("dim", "cval")))
      graft.operators.Training.kMeansLloyd(emb, "vec_id", "embedding", init, iters = 3)
        .select(col("cid").cast("long").as("cluster_id"), col("dim"),
          round(col("cval"), 6).as("c"))
        .orderBy("cluster_id", "dim")
    },
    Some {
      val iterCtes = (1 to 3).map { i =>
        s"""d$i AS (SELECT p.vid, c.cid,
           |    round(sum((p.val - c.cval) * (p.val - c.cval)), 6) AS dist
           |  FROM pts p JOIN c${i - 1} c USING (dim) GROUP BY p.vid, c.cid),
           |a$i AS (SELECT vid, cid FROM (
           |    SELECT vid, cid, row_number() OVER (PARTITION BY vid
           |      ORDER BY dist ASC, cid ASC) AS rn FROM d$i) WHERE rn = 1),
           |c$i AS (SELECT prev.cid, prev.dim,
           |    round(coalesce(m.m, prev.cval), 9) AS cval
           |  FROM c${i - 1} prev LEFT JOIN (
           |    SELECT a.cid, p.dim, avg(p.val) AS m
           |    FROM pts p JOIN a$i a USING (vid) GROUP BY a.cid, p.dim) m
           |  ON prev.cid = m.cid AND prev.dim = m.dim)""".stripMargin
      }.mkString(",\n")
      s"""WITH pts AS (SELECT vec_id AS vid,
         |    CAST(z[2] AS INT) - 1 AS dim, CAST(z[1] AS DOUBLE) AS val
         |  FROM (SELECT vec_id,
         |      unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS z
         |    FROM embeddings WHERE vec_id <> 0)),
         |c0 AS (SELECT vid - 1 AS cid, dim, val AS cval FROM pts
         |  WHERE vid BETWEEN 1 AND 4),
         |$iterCtes
         |SELECT CAST(cid AS BIGINT) AS cluster_id, dim, round(cval, 6) AS c
         |FROM c3 ORDER BY cluster_id, dim""".stripMargin
    })

  /** End-to-end TRAINED-quantizer IVF search: k-means training
    * ([[graft.operators.Training.kMeansLloyd]], k=4, 3 rounds), assignment of
    * every vector to its trained list, probe of the 2 query-nearest lists, and
    * exact top-10 inside them — the whole ANN index lifecycle hash-gated in
    * one query (`ann_ivf_topk` gates probing under FIXED centroids; this gates
    * the pipeline that produces them too). Every distance comparison uses the
    * trainer's parity contract — double math over the exploded points with
    * ROUND(dist, 6) before any argmin/top-k cut — so assignment, probe choice
    * and ranking are engine- and partitioning-invariant. The production path
    * is [[graft.operators.Ann.buildIvfDeterministic]] (float centroids,
    * codegen'd distances); this gated variant keeps the oracle-replayable
    * double form end to end.
    */
  private val annIvfTrainedTopk = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val init = emb.filter(col("vec_id").between(1, 4))
        .select((col("vec_id") - 1).as("cid"),
          posexplode(col("embedding")).as(Seq("dim", "cval")))
      val cent = graft.operators.Training.kMeansLloyd(
        emb, "vec_id", "embedding", init, iters = 3)
      val pts = emb.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "val")))
        .withColumn("val", col("val").cast("double"))
      val qpts = D.embeddings(s, d).filter(col("vec_id") === 0)
        .select(posexplode(col("embedding")).as(Seq("dim", "qval")))
        .withColumn("qval", col("qval").cast("double"))
      val probe = cent.join(broadcast(qpts), "dim")
        .groupBy("cid")
        .agg(round(sum((col("cval") - col("qval")) * (col("cval") - col("qval"))), 6)
          .as("pd"))
        .orderBy(col("pd"), col("cid")).limit(2).select("cid")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("dist"), col("cid"))
      val assigned = pts.join(broadcast(cent), "dim")
        .groupBy("vec_id", "cid")
        .agg(round(sum((col("val") - col("cval")) * (col("val") - col("cval"))), 6)
          .as("dist"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("vec_id", "cid")
      val cand = assigned.join(broadcast(probe), Seq("cid"), "left_semi")
      pts.join(cand.select("vec_id"), Seq("vec_id"), "left_semi")
        .join(broadcast(qpts), "dim")
        .groupBy("vec_id")
        .agg(round(sum((col("val") - col("qval")) * (col("val") - col("qval"))), 6)
          .as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
    },
    Some {
      val iterCtes = (1 to 3).map { i =>
        s"""d$i AS (SELECT p.vid, c.cid,
           |    round(sum((p.val - c.cval) * (p.val - c.cval)), 6) AS dist
           |  FROM pts p JOIN c${i - 1} c USING (dim) GROUP BY p.vid, c.cid),
           |a$i AS (SELECT vid, cid FROM (
           |    SELECT vid, cid, row_number() OVER (PARTITION BY vid
           |      ORDER BY dist ASC, cid ASC) AS rn FROM d$i) WHERE rn = 1),
           |c$i AS (SELECT prev.cid, prev.dim,
           |    round(coalesce(m.m, prev.cval), 9) AS cval
           |  FROM c${i - 1} prev LEFT JOIN (
           |    SELECT a.cid, p.dim, avg(p.val) AS m
           |    FROM pts p JOIN a$i a USING (vid) GROUP BY a.cid, p.dim) m
           |  ON prev.cid = m.cid AND prev.dim = m.dim)""".stripMargin
      }.mkString(",\n")
      s"""WITH pts AS (SELECT vec_id AS vid,
         |    CAST(z[2] AS INT) - 1 AS dim, CAST(z[1] AS DOUBLE) AS val
         |  FROM (SELECT vec_id,
         |      unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS z
         |    FROM embeddings WHERE vec_id <> 0)),
         |qpts AS (SELECT CAST(z[2] AS INT) - 1 AS dim, CAST(z[1] AS DOUBLE) AS qval
         |  FROM (SELECT unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS z
         |    FROM embeddings WHERE vec_id = 0)),
         |c0 AS (SELECT vid - 1 AS cid, dim, val AS cval FROM pts
         |  WHERE vid BETWEEN 1 AND 4),
         |$iterCtes,
         |probe AS (SELECT cid FROM (
         |    SELECT c.cid, round(sum((c.cval - q.qval) * (c.cval - q.qval)), 6) AS pd
         |    FROM c3 c JOIN qpts q USING (dim) GROUP BY c.cid)
         |  ORDER BY pd ASC, cid ASC LIMIT 2),
         |df AS (SELECT p.vid, c.cid,
         |    round(sum((p.val - c.cval) * (p.val - c.cval)), 6) AS dist
         |  FROM pts p JOIN c3 c USING (dim) GROUP BY p.vid, c.cid),
         |af AS (SELECT vid, cid FROM (
         |    SELECT vid, cid, row_number() OVER (PARTITION BY vid
         |      ORDER BY dist ASC, cid ASC) AS rn FROM df) WHERE rn = 1),
         |cand AS (SELECT vid FROM af WHERE cid IN (SELECT cid FROM probe)),
         |scored AS (SELECT p.vid,
         |    round(sum((p.val - q.qval) * (p.val - q.qval)), 6) AS dist
         |  FROM pts p JOIN qpts q USING (dim) JOIN cand USING (vid)
         |  GROUP BY p.vid)
         |SELECT vid AS vec_id, dist FROM scored
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin
    })

  /** Per-doc tf-idf keywords ([[graft.operators.TextAnalysis.keywords]]):
    * top-3 terms per document — the dataset-card drill-down signal. Postings
    * exchange + vocab-keyed df join (AQE decides broadcast) + per-doc top-k
    * window; ranking cut on the 6dp-rounded score.
    */
  private val textKeywords = Q(
    (s, d) => graft.operators.TextAnalysis.keywords(
        D.documents(s, d), "doc_id", "text", topK = 3)
      .orderBy("doc_id", "rk"),
    Some("""WITH toks AS (SELECT doc_id,
           |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
           |                       x -> x <> '')) AS term
           |  FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
           |dfv AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           |n AS (SELECT count(*) AS n_docs FROM documents),
           |s AS (SELECT doc_id, term, tf,
           |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
           |  FROM tf JOIN dfv USING (term) CROSS JOIN n),
           |r AS (SELECT doc_id, term, tf, tfidf,
           |    CAST(row_number() OVER (PARTITION BY doc_id
           |      ORDER BY tfidf DESC, term) AS BIGINT) AS rk
           |  FROM s)
           |SELECT doc_id, term, tf, tfidf, rk FROM r WHERE rk <= 3
           |ORDER BY doc_id, rk""".stripMargin))

  /** Embedding-space cluster assignment + per-cluster stats
    * ([[graft.operators.Ann.assignListsWithDist]] with fixed centroids —
    * corpus vectors 1..8 — so assignment replays in SQL): the topic-bucket
    * organization pass of a corpus card. Narrow map + one 8-group aggregate.
    */
  private val clusterAssign = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val centroids = D.embeddings(s, d)
        .filter(col("vec_id").between(1, 8)).orderBy("vec_id")
        .collect().map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      graft.operators.Ann.assignListsWithDist(emb, "embedding", centroids)
        .groupBy(col("listId").cast("long").as("cluster_id"))
        .agg(count(lit(1)).as("n"), round(avg(col("listDist")), 6).as("mean_dist"),
          min("vec_id").as("min_vec_id"), max("vec_id").as("max_vec_id"))
        .orderBy("cluster_id")
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS c FROM embeddings
            |         WHERE vec_id BETWEEN 1 AND 8),
            |dists AS (SELECT v.vec_id, c.cid, ${l2Sql("v.embedding", "c.c")} AS dc
            |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0) v
            |  CROSS JOIN cent c),
            |assigned AS (SELECT vec_id, cid, dc FROM
            |  (SELECT vec_id, cid, dc,
            |     row_number() OVER (PARTITION BY vec_id ORDER BY dc ASC, cid ASC) AS rn
            |   FROM dists)
            |  WHERE rn = 1)
            |SELECT CAST(cid - 1 AS BIGINT) AS cluster_id, count(*) AS n,
            |  round(avg(dc), 6) AS mean_dist,
            |  min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
            |FROM assigned GROUP BY cid ORDER BY cluster_id""".stripMargin))

  private val textTokens = Q(
    (s, d) => graft.operators.TextAnalysis.tokenCounts(
        D.documents(s, d).select("doc_id", "text"), "text")
      .select("doc_id", "ws_tokens", "bpe_tokens", "approx_tokens")
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS ws_tokens,
           |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_tokens,
           |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_tokens
           |FROM documents ORDER BY doc_id""".stripMargin))

  private val textFingerprint = Q(
    (s, d) => graft.operators.TextAnalysis.fingerprintDf(
        D.documents(s, d).select("doc_id", "text"), "text")
      .select(col("doc_id"), size(col("fingerprints")).cast("long").as("n_fp"),
        array_min(col("fingerprints")).as("min_fp"), md5(col("text")).as("h"))
      .orderBy("doc_id"),
    Some("""WITH h AS (
           |  SELECT doc_id, text,
           |    CASE WHEN length(text) < 7 THEN [substring(md5(text), 1, 8)]
           |    ELSE list_transform(generate_series(1, length(text) - 6),
           |           i -> substring(md5(substring(text, i, 7)), 1, 8)) END AS hs
           |  FROM documents),
           |fp AS (
           |  SELECT doc_id, text, list_distinct(
           |    CASE WHEN len(hs) <= 5 THEN [list_min(hs)]
           |    ELSE list_transform(generate_series(1, len(hs) - 4),
           |           i -> list_min(hs[i:i+4])) END) AS fps
           |  FROM h)
           |SELECT doc_id, len(fps) AS n_fp, list_min(fps) AS min_fp, md5(text) AS h
           |FROM fp ORDER BY doc_id""".stripMargin))

  /** Containment near-dup detection ([[graft.operators.Dedup.containmentPairs]]):
    * asymmetric fingerprint overlap — how much of doc A lives inside doc B —
    * over the same winnowing fingerprints the oracle replicates for
    * text_fingerprint, so the whole explode → bucket-join → ratio path
    * hash-gates.
    */
  private val dedupContainment = Q(
    (s, d) => graft.operators.Dedup.containmentPairs(
        D.documents(s, d), "doc_id", "text", minContainment = 0.5,
        maxFingerprintDf = 100)
      .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))
      .orderBy(round(col("containment"), 6).desc, col("id_a").asc, col("id_b").asc)
      .limit(20),
    Some("""WITH h AS (
           |  SELECT doc_id, text,
           |    CASE WHEN length(text) < 7 THEN [substring(md5(text), 1, 8)]
           |    ELSE list_transform(generate_series(1, length(text) - 6),
           |           i -> substring(md5(substring(text, i, 7)), 1, 8)) END AS hs
           |  FROM documents),
           |fp AS (
           |  SELECT doc_id, list_distinct(
           |    CASE WHEN len(hs) <= 5 THEN [list_min(hs)]
           |    ELSE list_transform(generate_series(1, len(hs) - 4),
           |           i -> list_min(hs[i:i+4])) END) AS fps
           |  FROM h),
           |e AS (SELECT doc_id, unnest(fps) AS f FROM fp),
           |keep AS (SELECT f FROM e GROUP BY f HAVING count(*) <= 100),
           |ke AS (SELECT doc_id, f FROM e JOIN keep USING (f)),
           |s AS (SELECT doc_id, count(*) AS n_a FROM ke GROUP BY doc_id),
           |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
           |      FROM ke a JOIN ke b ON a.f = b.f AND a.doc_id <> b.doc_id
           |      GROUP BY 1, 2)
           |SELECT id_a, id_b, round(shared / n_a, 6) AS containment
           |FROM p JOIN s ON s.doc_id = id_a
           |WHERE shared / n_a >= 0.5
           |ORDER BY round(shared / n_a, 6) DESC, id_a, id_b LIMIT 20""".stripMargin))

  // ------------------------------------- incremental update / joins / set ops

  /** J3: simulated incremental update — docs with doc_id % 7 = 0 are "re-read" with
    * appended text; their old chunks are anti-joined away and new chunks appended
    * with ids continuing past the old high-water mark (SURVEY §3.3).
    */
  private val j3IncrementalUpdate = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      val oldChunks = chunkFanout(s, d)
      val changed = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" updated")))
      val kept = oldChunks.join(changed.select("doc_id"), Seq("doc_id"), "left_anti")
        .select("doc_id", "chunk_number")
      val newChunks = chunkFanoutDf(changed).select("doc_id", "chunk_number")
      kept.withColumn("status", lit("kept"))
        .unionByName(newChunks.withColumn("status", lit("updated")))
        .groupBy("doc_id", "status").agg(count(lit(1)).as("n_chunks"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           |  CASE WHEN doc_id % 7 = 0 THEN 'updated' ELSE 'kept' END AS status,
           |  CAST(greatest(1, ceil((length(text) + CASE WHEN doc_id % 7 = 0 THEN 8 ELSE 0 END - 100) / 300.0)) AS BIGINT) AS n_chunks
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** The BUCKETED collection lifecycle gated end to end on REAL on-disk
    * state: create (16 buckets) → incremental update (doc_id % 7 re-read
    * with appended text; only dirty buckets rewrite) → delete (doc_id % 13;
    * dirty buckets again) through [[graft.core.CollectionManager]], then the
    * surviving chunks table is the result. Docs are pre-chunked (one chunk =
    * full text) so the gate isolates the update/bucketing semantics — the
    * splitter has its own gates (split_recursive, m1b). Gated facts, per
    * doc: the post-lifecycle indexed text hash (anti-join + replace routed
    * through pmod(hash(id), 16) bucket dirs), the chunk-id-past-HWM flag
    * (id sequence continues across a bucketed update), and survival
    * (bucketed delete removes exactly the requested ids).
    */
  private val j3bBucketedLifecycle = Q(
    (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed_").toString
      val cm = new graft.core.CollectionManager(
        s, tmp, graft.functions.HashingEmbedder.default)
      def asDocs(df: DataFrame) = df.select(
        col("doc_id").cast("string").as("id"),
        concat(lit("doc://"), col("doc_id")).as("url"),
        map(lit("lang"), col("lang")).as("metadata"),
        col("text"),
        array(struct(col("text").as("indexedData"),
          map().cast("map<string,string>").as("metadata"))).as("chunks"))
      val docs = D.documents(s, d)
      cm.create("j3b", asDocs(docs), nBuckets = 16)
      val hwm = cm.readManifest("j3b").lastIndexItemId
      cm.update("j3b", asDocs(docs.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" updated")))))
      val delIds = docs.filter(col("doc_id") % 13 === 0)
        .select(col("doc_id").cast("string")).collect().map(_.getString(0)).toSeq
      cm.delete("j3b", delIds)
      cm.chunks("j3b")
        .groupBy(col("documentId").cast("long").as("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          (min("chunkId") > hwm).as("replaced"),
          md5(max("indexedData").cast("binary")).as("h"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, CAST(1 AS BIGINT) AS n_chunks,
           |  (doc_id % 7 = 0) AS replaced,
           |  md5(text || CASE WHEN doc_id % 7 = 0 THEN ' updated' ELSE '' END) AS h
           |FROM documents WHERE doc_id % 13 <> 0
           |ORDER BY doc_id""".stripMargin))

  private val j4SemiAnti = Q(
    (s, d) => {
      val c = D.customer(s, d); val o = D.orders(s, d); val n = D.nation(s, d)
      // Semi/anti in one pass: left join against the distinct order keys and split
      // on match presence (equivalent to left_semi + left_anti without the
      // ambiguous double self-join).
      val ordKeys = o.select(col("o_custkey")).distinct()
      val flagged = c.join(ordKeys, c("c_custkey") === ordKeys("o_custkey"), "left")
        .select(col("c_nationkey"), col("o_custkey").isNotNull.as("has_o"))
      val counts = flagged.groupBy("c_nationkey").agg(
        sum(when(col("has_o"), 1L).otherwise(0L)).as("with_orders"),
        sum(when(col("has_o"), 0L).otherwise(1L)).as("without_orders"))
      broadcast(n).join(counts, n("n_nationkey") === counts("c_nationkey"), "left")
        .select(col("n_name"),
          coalesce(col("with_orders"), lit(0L)).as("with_orders"),
          coalesce(col("without_orders"), lit(0L)).as("without_orders"))
        .orderBy("n_name")
    },
    // CAST→BIGINT: DuckDB returns sum(INTEGER) as HUGEINT which pandas reads as
    // float64 (hash mismatch vs Spark's long). The c_nationkey IS NOT NULL guard
    // keeps a customer-less nation at without_orders=0 (the LEFT JOIN's phantom
    // NULL row would otherwise fall into the ELSE branch and count as 1).
    Some("""SELECT n_name,
           |  CAST(coalesce(sum(CASE WHEN has_o THEN 1 ELSE 0 END), 0) AS BIGINT) AS with_orders,
           |  CAST(coalesce(sum(CASE WHEN c_nationkey IS NOT NULL AND NOT has_o THEN 1 ELSE 0 END), 0) AS BIGINT) AS without_orders
           |FROM nation LEFT JOIN (
           |  SELECT c_nationkey, EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_o
           |  FROM customer) c ON c_nationkey = n_nationkey
           |GROUP BY n_name ORDER BY n_name""".stripMargin))

  private val u2SetOps = Q(
    (s, d) => {
      val cn = D.customer(s, d).select(col("c_nationkey").cast("long").as("k")).distinct()
      val sn = D.supplier(s, d).select(col("s_nationkey").cast("long").as("k")).distinct()
      // intersect/except would re-shuffle + re-distinct each of the three legs;
      // one full-outer join of the two already-distinct sets classifies every
      // key in a single pass (one exchange per side, reused). Keys are non-null
      // here, so join equality matches set-op NULL semantics.
      cn.withColumn("in_c", lit(1))
        .join(sn.withColumn("in_s", lit(1)), Seq("k"), "full_outer")
        .withColumn("op",
          when(col("in_c").isNotNull && col("in_s").isNotNull, "both")
            .when(col("in_c").isNotNull, "cust_only")
            .otherwise("supp_only"))
        .select("op", "k").orderBy("op", "k")
    },
    Some("""SELECT 'both' AS op, k FROM (
           |  SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS k FROM customer
           |  INTERSECT SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier)
           |UNION ALL SELECT 'cust_only', k FROM (
           |  SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS k FROM customer
           |  EXCEPT SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier)
           |UNION ALL SELECT 'supp_only', k FROM (
           |  SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS k FROM supplier
           |  EXCEPT SELECT DISTINCT CAST(c_nationkey AS BIGINT) FROM customer)
           |ORDER BY op, k""".stripMargin))

  // ------------------------------------------- streaming-shaped + scalar batteries

  /** Tumbling 1-hour windowed aggregation over the events stream table — the batch
    * expression of the Structured Streaming update path (SURVEY §2.10); the same
    * plan runs under readStream + withWatermark.
    */
  /** Sliding (hopping) event-time window — the second Structured Streaming
    * window shape (`window(ts, size, slide)`): with size 1h / slide 30m each
    * event belongs to EXACTLY size/slide = 2 epoch-aligned windows, which the
    * oracle materializes as an unnest of the two bucket starts. The batch
    * `window()` expression here is the identical operator streaming uses;
    * StreamingSpec covers the incremental execution.
    */
  private val st2SlidingWindow = Q(
    (s, d) => D.events(s, d)
      .groupBy(col("event_type"), window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("cnt"), col("sum_value"))
      .orderBy("event_type", "win_start"),
    Some("""SELECT event_type,
           |  strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
           |  count(*) AS cnt, round(sum(value), 2) AS sum_value
           |FROM (SELECT event_type, value,
           |        unnest([time_bucket(INTERVAL 30 MINUTE, ts),
           |                time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws
           |      FROM events)
           |GROUP BY 1, 2 ORDER BY event_type, win_start""".stripMargin))

  /** Native `session_window` (the third Structured Streaming window shape).
    * MEASURED convention (streaming AND batch, StreamingSpec pins both): a
    * session's window is `[first, last + gap]`-touching — an event landing
    * EXACTLY `gap` after the last still MERGES (adjacent windows touch), and
    * only a strictly-larger silence starts a new session. Round 8 documented
    * this operator as `>=`-starts-new; that was WRONG, and the oracle only
    * passed because the generated events never land an exact-gap pair. The
    * gate now (a) encodes the true `>`-starts-new rule in raw-timestamp
    * arithmetic (no epoch flooring — session_window compares raw times,
    * unlike w3_sessionize's floored-seconds rule) and (b) UNIONS a
    * constructed boundary family — reserved user −1 with events at exact
    * 30-minute touches chained across the merge and one beyond — so the
    * boundary semantics are load-bearing in the hash, not accidental.
    */
  private val st3SessionWindow = Q(
    (s, d) => {
      import s.implicits._
      val boundary = Seq(
        // 10:00 → 10:30 → 11:00: two exact-gap touches chain into ONE
        // session [10:00, 11:30); 12:00:00.001 is strictly beyond → new
        (-1L, java.sql.Timestamp.valueOf("2026-03-01 10:00:00"), 1.0),
        (-1L, java.sql.Timestamp.valueOf("2026-03-01 10:30:00"), 2.0),
        (-1L, java.sql.Timestamp.valueOf("2026-03-01 11:00:00"), 3.0),
        (-1L, new java.sql.Timestamp(
          java.sql.Timestamp.valueOf("2026-03-01 11:30:00").getTime + 1L), 4.0))
        .toDF("user_id", "ts", "value")
      D.events(s, d).select("user_id", "ts", "value")
        .unionByName(boundary)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
        .select(col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
          date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
          col("cnt"), col("sum_value"))
        .orderBy("user_id", "sess_start")
    },
    Some("""WITH ev AS (
           |  SELECT user_id, ts, value FROM events
           |  UNION ALL
           |  SELECT * FROM (VALUES
           |    (CAST(-1 AS BIGINT), TIMESTAMP '2026-03-01 10:00:00', 1.0),
           |    (CAST(-1 AS BIGINT), TIMESTAMP '2026-03-01 10:30:00', 2.0),
           |    (CAST(-1 AS BIGINT), TIMESTAMP '2026-03-01 11:00:00', 3.0),
           |    (CAST(-1 AS BIGINT), TIMESTAMP '2026-03-01 11:30:00.001', 4.0)
           |  ) AS b(user_id, ts, value)),
           |marked AS (
           |  SELECT user_id, ts, value,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
           |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           |sess AS (SELECT user_id, ts, value,
           |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM marked)
           |SELECT user_id,
           |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
           |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS sess_end,
           |  count(*) AS cnt, round(sum(value), 2) AS sum_value
           |FROM sess GROUP BY user_id, sid
           |ORDER BY user_id, sess_start""".stripMargin))

  /** F2 HTML→text gated on a CONSTRUCTED family: each doc's text is wrapped
    * in deterministic HTML (head style block, entity-laden h1 header,
    * sentence-per-<p> body, a script tag with raw `<`/`&` inside) and run
    * through the PRODUCTION `Converters.htmlToText`; the oracle computes the
    * expected extraction directly from the construction. This gates the
    * script/style strip, tag split, entity decode (&amp; &lt; &gt; &quot;),
    * trim-drop-join — on inputs whose expected output is provable. Symmetric
    * guards exclude docs whose raw text contains markup metacharacters or
    * control chars (Scala trim strips all ctrl chars, SQL trim only spaces);
    * nothing is excluded on this corpus. The '. '→'.</p><p>' replace and the
    * oracle's string_split('. ') agree because both scan left-to-right
    * non-overlapping.
    */
  private val f2HtmlExtract = Q(
    (s, d) => {
      val docs = D.documents(s, d)
        .filter(!col("text").contains("<") && !col("text").contains(">") &&
          !col("text").contains("&") && !col("text").rlike("[\\x00-\\x1f]"))
      val html = concat(
        lit("<html><head><style>p { color: red }</style></head><body><h1>Doc "),
        col("doc_id"),
        lit(" &amp; &lt;ref&gt; &quot;q&quot;</h1><p>"),
        expr("replace(text, '. ', '.</p><p>')"),
        lit("</p><script>if (1 < 2) { alert(\"x & y\"); }</script></body></html>"))
      docs.select(col("doc_id"),
          graft.sources.Converters.htmlToTextUdf(html).as("txt"))
        .select(col("doc_id"),
          size(split(col("txt"), "\n", -1)).cast("long").as("n_lines"),
          md5(col("txt")).as("text_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH base AS (
           |  SELECT doc_id, text FROM documents
           |  WHERE text NOT LIKE '%<%' AND text NOT LIKE '%>%'
           |    AND text NOT LIKE '%&%' AND NOT regexp_matches(text, '[\x00-\x1f]')),
           |pieces AS (
           |  SELECT doc_id,
           |    list_filter(list_transform(generate_series(1, len(segs)),
           |      k -> trim(CASE WHEN k < len(segs) THEN segs[k] || '.' ELSE segs[k] END)),
           |      x -> x <> '') AS ps
           |  FROM (SELECT doc_id, string_split(text, '. ') AS segs FROM base)),
           |expected AS (
           |  SELECT doc_id,
           |    'Doc ' || doc_id || ' & <ref> "q"' ||
           |      (CASE WHEN len(ps) > 0 THEN chr(10) || array_to_string(ps, chr(10)) ELSE '' END) AS exp
           |  FROM pieces)
           |SELECT doc_id, CAST(len(string_split(exp, chr(10))) AS BIGINT) AS n_lines,
           |  md5(exp) AS text_md5
           |FROM expected ORDER BY doc_id""".stripMargin))

  /** F3 ADF→text gated on a constructed tree: each doc's sentences become
    * ADF blocks with TWO inlines each — the real text and a null-text inline
    * (gating the traversal's `coalesce(text, '')`) — and run through the
    * production [[graft.sources.Converters.adfToText]] two-level
    * flatten/transform; the oracle computes the expected join directly.
    */
  private val f3AdfExtract = Q(
    (s, d) => {
      val docs = D.documents(s, d)
        .filter(!col("text").rlike("[\\x00-\\x1f]"))
      val segs = split(col("text"), java.util.regex.Pattern.quote(". "), -1)
      val adf = transform(segs, seg => struct(
        array(struct(seg.as("text")),
              struct(lit(null).cast("string").as("text"))).as("content")))
      docs.select(col("doc_id"),
          graft.sources.Converters.adfToText(adf).as("txt"))
        .select(col("doc_id"),
          size(split(col("txt"), "\n", -1)).cast("long").as("n_lines"),
          md5(col("txt")).as("text_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH base AS (
           |  SELECT doc_id, text FROM documents
           |  WHERE NOT regexp_matches(text, '[\x00-\x1f]')),
           |expected AS (
           |  SELECT doc_id, array_to_string(
           |    flatten(list_transform(string_split(text, '. '), x -> [x, ''])),
           |    chr(10)) AS exp
           |  FROM base)
           |SELECT doc_id, CAST(len(string_split(exp, chr(10))) AS BIGINT) AS n_lines,
           |  md5(exp) AS text_md5
           |FROM expected ORDER BY doc_id""".stripMargin))

  private val st1TumblingWindow = Q(
    (s, d) => D.events(s, d)
      .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("cnt"), col("sum_value"))
      .orderBy("event_type", "hour"),
    Some("""SELECT event_type,
           |  strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS hour,
           |  count(*) AS cnt, round(sum(value), 2) AS sum_value
           |FROM events GROUP BY 1, 2 ORDER BY event_type, hour""".stripMargin))

  /** Scalar-function battery (SURVEY §2.8): JSON extraction (F3-analog), date parts
    * and epoch (F8), string split/concat (F6/F9/F11) — all on the events table.
    */
  private val fScalarJson = Q(
    (s, d) => D.events(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        unix_timestamp(date_trunc("second", col("ts"))).as("epoch_s"),
        concat_ws("-", col("event_type"), col("user_id")).as("type_user"),
        split(col("event_type"), "_").getItem(0).as("type_prefix"),
        lower(col("event_type")).as("type_lower"))
      .orderBy("event_id"),
    Some("""SELECT event_id,
           |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           |  CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS m,
           |  epoch(date_trunc('second', ts))::BIGINT AS epoch_s,
           |  event_type || '-' || user_id AS type_user,
           |  string_split(event_type, '_')[1] AS type_prefix,
           |  lower(event_type) AS type_lower
           |FROM events ORDER BY event_id""".stripMargin))

  /** As-of join: each purchase event picks the user's most recent click at or
    * before it ([[graft.operators.AsOf.asOfJoin]] — one shuffle, no range join);
    * oracle = DuckDB's native ASOF LEFT JOIN.
    */
  private val j5AsofJoin = Q(
    (s, d) => {
      val ev = D.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      // unique (user_id, ts) on the right side: keep the max click id per instant
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      graft.operators.AsOf.asOfJoin(purchases, clicks,
          Seq("user_id"), "ts", "ts", Seq("click_id"))
        .select(col("event_id"), col("user_id"), col("click_id"))
        .orderBy("event_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
           |c AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
           |      WHERE event_type = 'click' GROUP BY user_id, ts)
           |SELECT p.event_id, p.user_id, c.click_id
           |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
           |ORDER BY p.event_id""".stripMargin))

  /** Range join ([[graft.operators.RangeJoin.pointInInterval]]): clicks within
    * ±5 minutes of a same-user error — time-bin bucketing turns the inequality
    * join into an equi-join on (user, bin) + exact containment filter; the
    * oracle is the plain inequality join.
    */
  private val j6RangeJoin = Q(
    (s, d) => {
      val ev = D.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          (col("ts") - expr("INTERVAL 5 MINUTES")).as("w_start"),
          (col("ts") + expr("INTERVAL 5 MINUTES")).as("w_end"))
      graft.operators.RangeJoin.pointInInterval(
          clicks, "cts", errors, "w_start", "w_end", Seq("user_id"), binSeconds = 600L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct("click_id").as("n_clicks"),
          countDistinct("error_id").as("n_errors"))
        .orderBy("user_id")
    },
    Some("""WITH c AS (SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click'),
           |e AS (SELECT user_id, event_id AS error_id, ts FROM events WHERE event_type = 'error')
           |SELECT c.user_id, count(*) AS n_pairs,
           |  count(DISTINCT c.click_id) AS n_clicks, count(DISTINCT e.error_id) AS n_errors
           |FROM c JOIN e ON c.user_id = e.user_id
           |  AND c.ts BETWEEN e.ts - INTERVAL 5 MINUTE AND e.ts + INTERVAL 5 MINUTE
           |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin))

  /** Gap-based sessionization over the events stream table: a >30-minute silence
    * from the same user starts a new session (lag + running sum of boundaries —
    * the batch twin of Structured Streaming session windows).
    */
  /** Running-frame window breadth (W-family): per user in event-time order,
    * a cumulative running total (integer cents — float window sums associate
    * differently across engines), the lead-gap to the next event, and the
    * ordinal. Exercises running frames + lead + row_number in one keyed pass.
    */
  private val w5RunningMetrics = Q(
    (s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      D.events(s, d)
        .withColumn("_cents", floor(col("value") * 100).cast("long"))
        .withColumn("running_cents", sum("_cents").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("next_gap_s",
          unix_timestamp(lead("ts", 1).over(byUser)) - unix_timestamp(col("ts")))
        .withColumn("rn", row_number().over(byUser).cast("long"))
        .select(col("event_id"), col("user_id"), col("rn"),
          col("running_cents"), col("next_gap_s"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
           |  CAST(row_number() OVER w AS BIGINT) AS rn,
           |  CAST(sum(CAST(floor(value * 100) AS BIGINT))
           |    OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
           |  CAST(floor(epoch(lead(ts) OVER w)) - floor(epoch(ts)) AS BIGINT) AS next_gap_s
           |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |ORDER BY event_id""".stripMargin))

  private val w3Sessionize = Q(
    (s, d) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      D.events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("new_session",
          (col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800).cast("long"))
        .withColumn("session_no", sum("new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_no")
        .agg(count(lit(1)).as("n_events"),
          (unix_timestamp(max("ts")) - unix_timestamp(min("ts"))).as("duration_s"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          max("n_events").as("max_events"),
          max("duration_s").as("max_duration_s"))
        .orderBy("user_id")
    },
    Some("""WITH marked AS (
           |  SELECT user_id, ts, event_id,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |         OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800 THEN 1 ELSE 0 END AS new_session
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |sessions AS (
           |  SELECT user_id, ts,
           |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |      ROWS UNBOUNDED PRECEDING) AS session_no
           |  FROM marked),
           |per_session AS (
           |  SELECT user_id, session_no, count(*) AS n_events,
           |    CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_s
           |  FROM sessions GROUP BY user_id, session_no)
           |SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_events,
           |  max(duration_s) AS max_duration_s
           |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** Salted two-phase aggregation (skew mitigation) — must produce exactly the
    * plain GROUP BY result, so the oracle IS the plain GROUP BY.
    */
  private val skewSaltedAgg = Q(
    (s, d) => graft.operators.Skew.saltedAgg(
        D.events(s, d), Seq("event_type"), col("event_id"),
        Map("value" -> "sum", "event_id" -> "count"), numSalts = 16)
      .select(col("event_type"), round(col("sum_value"), 2).as("sum_value"),
        col("count_event_id").as("cnt"))
      .orderBy("event_type"),
    Some("""SELECT event_type, round(sum(value), 2) AS sum_value, count(event_id) AS cnt
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Salted equi-join (hot-key spread: big side salts, small side replicates
    * per salt) — lossless, so the oracle is the plain join.
    */
  private val skewSaltedJoin = Q(
    (s, d) => {
      val big = D.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
      val small = D.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(big, small, "l_orderkey",
          saltSource = col("l_quantity"), numSalts = 8)
        .groupBy("o_orderpriority")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  // --- murmur3_x86_32 replayed in DuckDB SQL (Scala MurmurHash3.stringHash) ---
  // Every arithmetic step is masked to 32 bits; multiplies go through HUGEINT
  // because BIGINT×BIGINT would overflow before the mask. Constants are the
  // public murmur3 constants (0xcc9e2d51, 0x1b873593, 0xe6546b64, 0x85ebca6b,
  // 0xc2b2ae35) in decimal.
  private def mhMul(e: String, c: Long): String =
    s"CAST(((CAST($e AS HUGEINT) * $c) % 4294967296) AS BIGINT)"
  private def mhRotl(e: String, r: Int): String =
    s"(((($e) << $r) | (($e) >> ${32 - r})) & 4294967295)"
  /** mixLast's k-transform: k*c1, rotl15, k*c2 — applied to a 32-bit block. */
  private def mhK(d: String): String =
    mhMul(mhRotl(mhMul(d, 3432918353L), 15), 461845907L)
  /** One mix round as a list_reduce lambda body: h ← (rotl13(h ⊕ K(d)))·5 + c. */
  private def mhMixLambda: String =
    s"CAST((${mhRotl(s"xor(h, ${mhK("d")})", 13)} * 5 + 3864292196) % 4294967296 AS BIGINT)"

  /** Full M1 embed → search lifecycle, hash-gated end to end: SQL-expressible
    * chunk fan-out (the m5 splitter variant) → the PRODUCTION murmur hashing
    * embedder ([[graft.operators.Indexing.attachEmbeddings]] calling
    * [[HashingEmbedder]] — uni+bigram feature hashing, signed, L2-normalized) →
    * cosine top-10 against the same embedder's query vector
    * ([[Search.vectorTopK]]). The oracle replays Scala's
    * `MurmurHash3.stringHash` bit-for-bit in DuckDB SQL (char-pair blocks via
    * `list_reduce`, odd-tail mixLast, ⊕length, avalanche), rebuilds each
    * 64-dim vector (idx = h mod 64, sign = 1−2·bit31, v = float32(count·(1/√Σc²))),
    * and reuses the proven double-precision cosine form from t1. Zero-feature
    * chunks are excluded on both sides (their cosine is NaN by construction).
    * Reference anchor: sentence_embeder.py:10-14 — embed → index → search is
    * the core lifecycle. Spec: EmbedderOracleSpec pins the murmur goldens.
    */
  private val m1EmbedPipeline = Q(
    (s, d) => {
      val emb = HashingEmbedder.default
      val chunks = chunkFanout(s, d)
        .filter(lower(col("chunk_text")).rlike("[a-z0-9]"))
      val embedded = graft.operators.Indexing.attachEmbeddings(
        chunks, "chunk_text", emb)
      Search.vectorTopK(embedded, "embedding", emb.embed(m1Query), 10, "cosine",
          idCol = "chunk_id")
        .select(col("chunk_id"), col("doc_id"), col("chunk_number"),
          round(-col("score"), 6).as("sim"))
        .orderBy(col("sim").desc, col("chunk_id").asc)
    },
    Some(s"""WITH c AS (
            |  SELECT chunk_id, doc_id, chunk_number, chunk_text FROM ($chunkFanoutSql)
            |  WHERE regexp_matches(lower(chunk_text), '[a-z0-9]')
            |  UNION ALL
            |  SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), '$m1Query'),
            |$embedSearchCtesSql
            |SELECT chunk_id, doc_id, chunk_number, round(sc, 6) AS sim
            |FROM topk ORDER BY round(sc, 6) DESC, chunk_id""".stripMargin))

  /** The murmur-embed → cosine-top-10 CTE chain, shared by `m1_embed_pipeline`
    * and `m1b_full_lifecycle`. Expects a prior CTE
    * `c(chunk_id, doc_id, chunk_number, chunk_text)` that includes the
    * chunk_id = -1 query sentinel and excludes zero-feature chunks; yields
    * `topk(chunk_id, doc_id, chunk_number, sc)`.
    */
  private def embedSearchCtesSql: String =
    s"""tl AS (SELECT chunk_id, doc_id, chunk_number,
       |    list_filter(regexp_split_to_array(lower(chunk_text), '[^a-z0-9]+'), x -> x <> '') AS ts
       |  FROM c),
       |feats AS (SELECT chunk_id, unnest(
       |    ts || list_transform(generate_series(1, len(ts) - 1), i -> ts[i] || ' ' || ts[i+1])
       |  ) AS f FROM tl),
       |h0 AS (SELECT chunk_id, f, list_reduce(
       |    list_prepend(CAST(42 AS BIGINT),
       |      list_transform(generate_series(1, length(f) // 2),
       |        j -> CAST(unicode(substr(f, 2*j - 1, 1)) * 65536 + unicode(substr(f, 2*j, 1)) AS BIGINT))),
       |    (h, d) -> $mhMixLambda) AS hb FROM feats),
       |h1 AS (SELECT chunk_id, xor(CASE WHEN length(f) % 2 = 1
       |    THEN xor(hb, ${mhK("unicode(substr(f, length(f), 1))")}) ELSE hb END,
       |    length(f)) AS hx FROM h0),
       |h2 AS (SELECT chunk_id, xor(hx, hx >> 16) AS a1 FROM h1),
       |h3 AS (SELECT chunk_id, ${mhMul("a1", 2246822507L)} AS a2 FROM h2),
       |h4 AS (SELECT chunk_id, xor(a2, a2 >> 13) AS a3 FROM h3),
       |h5 AS (SELECT chunk_id, ${mhMul("a3", 3266489909L)} AS a4 FROM h4),
       |hf AS (SELECT chunk_id, xor(a4, a4 >> 16) AS h FROM h5),
       |acc AS (SELECT chunk_id, CAST(h % 64 AS INT) AS idx,
       |    SUM(CAST(1 - 2 * ((h >> 31) & 1) AS DOUBLE)) AS cacc
       |  FROM hf GROUP BY 1, 2),
       |nrm AS (SELECT chunk_id, 1.0 / sqrt(SUM(cacc * cacc)) AS inv FROM acc GROUP BY 1),
       |dense AS (SELECT t.chunk_id, s.i,
       |    coalesce(CAST(a.cacc * n.inv AS FLOAT), CAST(0 AS FLOAT)) AS v
       |  FROM (SELECT DISTINCT chunk_id FROM tl) t
       |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i) s
       |  LEFT JOIN acc a ON a.chunk_id = t.chunk_id AND a.idx = s.i
       |  JOIN nrm n ON n.chunk_id = t.chunk_id),
       |vecs AS (SELECT chunk_id, list(v ORDER BY i) AS emb FROM dense GROUP BY chunk_id),
       |q AS (SELECT emb AS e FROM vecs WHERE chunk_id = -1),
       |meta AS (SELECT chunk_id, doc_id, chunk_number FROM tl WHERE chunk_id <> -1),
       |scored AS (SELECT m.chunk_id, m.doc_id, m.chunk_number,
       |    ${cosSql("v.emb", "(SELECT e FROM q)")} AS sc
       |  FROM vecs v JOIN meta m ON v.chunk_id = m.chunk_id),
       |topk AS (SELECT * FROM scored ORDER BY sc DESC, chunk_id LIMIT 10)""".stripMargin

  /** Fixed BPE merge table for the gated encode query — the first 24 merges
    * [[graft.functions.Bpe.train]] produces over the sf0.01 documents corpus,
    * frozen as a model artifact the same way `ann_ivf_topk` fixes its
    * centroids: the TRAINING loop is driver-iterative (spec-gated, BpeSpec),
    * while the greedy encoder — the production path every countTokens /
    * token-budget-packing call takes — is hash-gated end to end below.
    * Merge symbols never contain spaces, so the oracle ranks pairs as
    * "left right" strings (the merges-file ship format).
    */
  private val bpeFixedMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "e" -> "</w>", "n" -> "</w>", "er" -> "</w>", "o" -> "w",
    "ow" -> "</w>", "o" -> "r", "s" -> "t", "h" -> "</w>", "a" -> "t",
    "l" -> "u", "i" -> "n", "a" -> "</w>", "g" -> "</w>", "y" -> "</w>",
    "a" -> "r", "p" -> "ar", "t" -> "</w>", "i" -> "n</w>", "j" -> "o",
    "jo" -> "in</w>", "a" -> "s", "as" -> "h</w>", "h" -> "ash</w>")

  /** Production BPE greedy encode ([[graft.functions.Bpe.BpeModel.encodeWord]])
    * hash-gated: EVERY doc's full token stream (count + md5) under the
    * fixed merge table. The oracle replays the EXACT greedy loop in DuckDB —
    * a recursive CTE whose state is the per-word symbol list; each step finds
    * the lowest-rank adjacent pair (leftmost on ties, `list_position` is
    * first-match) and merges that ONE occurrence, exactly the Scala loop.
    * Note DuckDB's `list_position` returns 0 (not NULL) for a missing
    * element — the `nullif(…, 0)` is what makes unranked pairs sort last.
    */
  private val bpeEncode = Q(
    (s, d) => {
      val model = graft.functions.Bpe.BpeModel(bpeFixedMerges)
      val encodeUdf = udf((t: String) => model.encode(t))
      D.documents(s, d)
        .select(col("doc_id"), encodeUdf(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_bpe"),
          md5(array_join(col("toks"), " ")).as("stream_md5"))
        .orderBy("doc_id")
    },
    Some {
      val mLit = bpeFixedMerges.map { case (a, b) => s"'$a $b'" }
        .mkString("[", ", ", "]")
      s"""WITH RECURSIVE base AS (
         |  SELECT doc_id, text FROM documents),
         |wl AS (SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
         |  FROM base),
         |words0 AS (
         |  SELECT doc_id, wpos,
         |    list_transform(generate_series(1, length(ws[wpos])), i -> ws[wpos][i]) || ['</w>'] AS s
         |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS wpos FROM wl)),
         |enc AS (
         |  SELECT doc_id, wpos, s, false AS done FROM words0
         |  UNION ALL
         |  SELECT doc_id, wpos,
         |    CASE WHEN minr IS NULL OR minr = 100000 THEN s
         |         ELSE list_slice(s, 1, bi - 1) || [s[bi] || s[bi + 1]] || list_slice(s, bi + 2, len(s)) END,
         |    (minr IS NULL OR minr = 100000) AS done
         |  FROM (
         |    SELECT doc_id, wpos, s,
         |      list_aggregate(ranks, 'min') AS minr,
         |      list_position(ranks, list_aggregate(ranks, 'min')) AS bi
         |    FROM (
         |      SELECT doc_id, wpos, s,
         |        list_transform(generate_series(1, len(s) - 1),
         |          i -> coalesce(nullif(list_position($mLit, s[i] || ' ' || s[i + 1]), 0), 100000)) AS ranks
         |      FROM enc WHERE NOT done))),
         |fin AS (SELECT doc_id, wpos, s FROM enc WHERE done),
         |toks AS (SELECT doc_id, wpos, tpos, s[tpos] AS tok
         |  FROM (SELECT doc_id, wpos, s, unnest(generate_series(1, len(s))) AS tpos FROM fin)),
         |joined AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY wpos, tpos) AS stream,
         |    count(*) AS n_toks FROM toks GROUP BY doc_id)
         |SELECT b.doc_id, coalesce(j.n_toks, 0) AS n_bpe,
         |  md5(coalesce(j.stream, '')) AS stream_md5
         |FROM base b LEFT JOIN joined j USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin
    })

  // ---------------------------------------------------- ANN + multimodal binary

  /** IVF approximate kNN with FIXED centroids (corpus vectors 1..16) so the
    * whole scale path — nearest-list assignment, nProbe probe-set selection,
    * brute-force top-k inside the probed lists — replays exactly in DuckDB and
    * is hash-gated. The k-means fit itself ([[graft.operators.Ann.buildIvf]])
    * is not SQL-expressible and stays spec-covered (AnnMultimodalSpec); the
    * probe machinery is identical either way ([[graft.operators.Ann.searchIvf]]).
    */
  private val annIvfTopk = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val centroids = D.embeddings(s, d)
        .filter(col("vec_id").between(1, 16)).orderBy("vec_id")
        .collect().map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      val idx = graft.operators.Ann.IvfIndex(
        graft.operators.Ann.assignLists(emb, "embedding", centroids),
        centroids, "embedding")
      graft.operators.Ann.searchIvf(idx, queryVec(s, d), 10, nProbe = 4)
        .select(col("vec_id"), round(col("score"), 6).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            |cent AS (SELECT vec_id AS cid, embedding AS c FROM embeddings
            |         WHERE vec_id BETWEEN 1 AND 16),
            |probe AS (SELECT cid FROM
            |  (SELECT cid, ${l2Sql("c", "(SELECT e FROM q)")} AS pd FROM cent)
            |  ORDER BY pd ASC, cid LIMIT 4),
            |dists AS (SELECT v.vec_id, v.embedding, c.cid,
            |    ${l2Sql("v.embedding", "c.c")} AS dc
            |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0) v
            |  CROSS JOIN cent c),
            |assigned AS (SELECT vec_id, embedding, cid FROM
            |  (SELECT vec_id, embedding, cid,
            |     row_number() OVER (PARTITION BY vec_id ORDER BY dc ASC, cid ASC) AS rn
            |   FROM dists)
            |  WHERE rn = 1),
            |cand AS (SELECT vec_id, embedding FROM assigned
            |         WHERE cid IN (SELECT cid FROM probe)),
            |scored AS (SELECT vec_id,
            |    ${l2Sql("embedding", "(SELECT e FROM q)")} AS dd FROM cand),
            |topk AS (SELECT vec_id, dd FROM scored ORDER BY dd ASC, vec_id LIMIT 10)
            |SELECT vec_id, round(dd, 6) AS dist FROM topk
            |ORDER BY round(dd, 6) ASC, vec_id""".stripMargin))

  /** ANN recall evaluation ([[graft.operators.Ann.searchIvfBatch]] +
    * [[graft.operators.Ann.recallAtK]]): the offline quality loop an index
    * rebuild runs — a 20-query batch probes IVF (nProbe=4 of 16 lists) in ONE
    * plan (broadcast probe table, per-query window over narrow triples), the
    * same batch runs exact brute-force, and recall@10 per query is the gated
    * output. Both the batch probe path AND the metric are hash-checked.
    */
  private val annRecallEval = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val centroids = D.embeddings(s, d)
        .filter(col("vec_id").between(1, 16)).orderBy("vec_id")
        .collect().map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      val idx = graft.operators.Ann.IvfIndex(
        graft.operators.Ann.assignLists(emb, "embedding", centroids),
        centroids, "embedding")
      val qRows = D.embeddings(s, d)
        .filter(col("vec_id").between(100, 119)).orderBy("vec_id")
        .collect().map(r => (r.getAs[Long]("vec_id"),
          r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
      val approx = graft.operators.Ann.searchIvfBatch(idx, qRows.toSeq, 10, nProbe = 4)
      import s.implicits._
      val qDf = qRows.toSeq.toDF("qid", "qvec")
      val exact = graft.operators.Search.vectorTopKBatch(
        emb, "embedding", "vec_id", qDf, "qid", "qvec", 10)
      graft.operators.Ann.recallAtK(approx, exact, "qid", "vec_id", 10)
        .select(col("qid"), round(col("recall"), 6).as("recall"))
        .orderBy("qid")
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS c FROM embeddings
            |         WHERE vec_id BETWEEN 1 AND 16),
            |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
            |      WHERE vec_id BETWEEN 100 AND 119),
            |corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
            |adists AS (SELECT v.vec_id, v.embedding, c.cid,
            |    ${l2Sql("v.embedding", "c.c")} AS dc
            |  FROM corpus v CROSS JOIN cent c),
            |assigned AS (SELECT vec_id, embedding, cid FROM
            |  (SELECT vec_id, embedding, cid,
            |     row_number() OVER (PARTITION BY vec_id ORDER BY dc ASC, cid ASC) AS rn
            |   FROM adists)
            |  WHERE rn = 1),
            |pdist AS (SELECT q.qid, c.cid, ${l2Sql("c.c", "q.qv")} AS pd
            |  FROM q CROSS JOIN cent c),
            |probe AS (SELECT qid, cid FROM
            |  (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY pd ASC, cid ASC) AS rn
            |   FROM pdist)
            |  WHERE rn <= 4),
            |ascore AS (SELECT p.qid, a.vec_id, ${l2Sql("a.embedding", "q.qv")} AS dd
            |  FROM probe p JOIN assigned a ON a.cid = p.cid JOIN q ON q.qid = p.qid),
            |approx AS (SELECT qid, vec_id FROM
            |  (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dd ASC, vec_id ASC) AS rn
            |   FROM ascore)
            |  WHERE rn <= 10),
            |escore AS (SELECT q.qid, v.vec_id, ${l2Sql("v.embedding", "q.qv")} AS dd
            |  FROM corpus v CROSS JOIN q),
            |exact AS (SELECT qid, vec_id FROM
            |  (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY dd ASC, vec_id ASC) AS rn
            |   FROM escore)
            |  WHERE rn <= 10),
            |hits AS (SELECT e.qid, count(*) AS nh FROM exact e
            |  JOIN approx a ON a.qid = e.qid AND a.vec_id = e.vec_id GROUP BY e.qid)
            |SELECT q.qid, round(coalesce(nh, 0) / 10.0, 6) AS recall
            |FROM q LEFT JOIN hits ON q.qid = hits.qid ORDER BY q.qid""".stripMargin))

  /** Labeled retrieval-quality gate ([[graft.operators.RelevanceEval]]): MRR
    * and recall@10 of exact-cosine retrieval where ground truth is the
    * embeddings table's own `label` column (relevant = same label, self
    * excluded). The oracle replays ranking AND both metrics in SQL — rr and
    * recall are ratios of small exact integers, so the gate is hash-tight
    * even though the ranking came from float distances (rank order is pinned
    * by the same (distance, id) sort both engines evaluate).
    */
  private val evalMrr = Q(
    (s, d) => {
      import s.implicits._
      val emb = D.embeddings(s, d)
      val corpus = emb.filter(col("vec_id") =!= 0)
      val qRows = emb.filter(col("vec_id").between(100, 119)).orderBy("vec_id")
        .collect().map(r => (r.getAs[Long]("vec_id"),
          r.getAs[scala.collection.Seq[Float]]("embedding").toArray,
          r.getAs[Int]("label")))
      val qDf = qRows.toSeq.map(t => (t._1, t._2)).toDF("qid", "qvec")
      // rank-after-exclusion: drop the self row from the k=11 shortlist, then
      // RE-rank the survivors. (A plain rank-1 shift would break if an exact-
      // duplicate corpus vector with a smaller vec_id out-ranked self: self
      // would sit at rank 2 and the duplicate would shift to rank 0.)
      val results = graft.operators.Search.vectorTopKBatch(
          corpus, "embedding", "vec_id", qDf, "qid", "qvec", 11)
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("rank").asc)).cast("long"))
      val labels = corpus.select(col("vec_id"), col("label"))
        .join(broadcast(qRows.toSeq.map(t => (t._1, t._3)).toDF("qid", "qlabel")),
          col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"))
      graft.operators.RelevanceEval.perQuery(
          results, labels, "qid", "vec_id", "rank", 10)
        .select(col("qid"), round(col("rr"), 6).as("rr"), col("n_hits"),
          round(col("recall"), 6).as("recall"))
        .orderBy("qid")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
            |      FROM embeddings WHERE vec_id BETWEEN 100 AND 119),
            |corpus AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id <> 0),
            |scored AS (SELECT q.qid, v.vec_id, ${l2Sql("v.embedding", "q.qv")} AS dd
            |  FROM corpus v CROSS JOIN q WHERE v.vec_id <> q.qid),
            |top AS (SELECT qid, vec_id, rnk FROM
            |  (SELECT qid, vec_id, row_number() OVER
            |     (PARTITION BY qid ORDER BY dd ASC, vec_id ASC) AS rnk FROM scored)
            |  WHERE rnk <= 10),
            |labels AS (SELECT q.qid, v.vec_id FROM q
            |  JOIN corpus v ON v.label = q.ql AND v.vec_id <> q.qid),
            |nrel AS (SELECT qid, count(*) AS n_relevant FROM labels GROUP BY qid),
            |hits AS (SELECT t.qid, min(t.rnk) AS first_rank, count(*) AS n_hits
            |  FROM top t JOIN labels l ON l.qid = t.qid AND l.vec_id = t.vec_id
            |  GROUP BY t.qid)
            |SELECT n.qid, round(coalesce(1.0 / first_rank, 0), 6) AS rr,
            |  coalesce(n_hits, 0) AS n_hits,
            |  round(coalesce(n_hits, 0) / least(n_relevant, 10), 6) AS recall
            |FROM nrel n LEFT JOIN hits h ON h.qid = n.qid ORDER BY n.qid""".stripMargin))

  /** Sign-LSH multi-probe ANN ([[graft.operators.Ann.searchSignLsh]]): scan only
    * the query's sign bucket plus its Hamming-1 neighbors, brute-force cosine
    * inside. The oracle replicates bucket assignment + probe-set expansion in
    * SQL, so the scan-reduction path itself is hash-gated (not just spec'd).
    */
  private val annLshTopk = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      graft.operators.Ann.searchSignLsh(emb, "embedding", queryVec(s, d), 5,
          bits = 6, probeHamming = 1, metric = "cosine")
        .select(col("vec_id"), round(-col("score"), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            |qb AS (SELECT array_to_string(list_transform((SELECT e FROM q)[1:6],
            |         x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS b),
            |probes AS (
            |  SELECT b AS p FROM qb
            |  UNION ALL
            |  SELECT b[1:i-1] || (CASE WHEN b[i:i] = '1' THEN '0' ELSE '1' END) || b[i+1:] AS p
            |  FROM qb, (SELECT unnest(generate_series(1, 6)) AS i)),
            |bucketed AS (
            |  SELECT vec_id, embedding, array_to_string(list_transform(embedding[1:6],
            |    x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
            |  FROM embeddings WHERE vec_id <> 0),
            |cand AS (SELECT vec_id, embedding FROM bucketed WHERE bucket IN (SELECT p FROM probes)),
            |scored AS (SELECT vec_id, ${cosSql("embedding", "(SELECT e FROM q)")} AS s FROM cand),
            |topk AS (SELECT vec_id, s FROM scored ORDER BY s DESC, vec_id LIMIT 5)
            |SELECT vec_id, round(s, 6) AS sim FROM topk ORDER BY round(s, 6) DESC, vec_id""".stripMargin))

  /** Graph-ANN ([[graft.operators.GraphAnn.nswTopK]]): per-partition NSW
    * shards + global merge, run here in EXHAUSTIVE mode (efSearch far above
    * any shard size), where the graph walk provably visits every node — so
    * the result equals exact brute force and the whole shard/merge pipeline
    * hash-gates against a plain top-k oracle. The approximate regime (the
    * recall/speed trade) is not SQL-expressible and is recall-gated in
    * GraphAnnSpec instead.
    */
  private val annGraphTopk = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
        .repartitionByRange(4, col("vec_id"))
      graft.operators.GraphAnn.nswTopK(emb, "vec_id", "embedding",
          Seq((0L, queryVec(s, d))), 10, m = 8, efConstruction = 32,
          efSearch = 1 << 20)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
    },
    Some(s"""WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            |scored AS (SELECT vec_id,
            |    ${l2Sql("embedding", "(SELECT e FROM q)")} AS dd
            |  FROM embeddings WHERE vec_id <> 0),
            |topk AS (SELECT vec_id, dd FROM scored ORDER BY dd ASC, vec_id LIMIT 10)
            |SELECT vec_id, round(dd, 6) AS dist FROM topk
            |ORDER BY round(dd, 6) ASC, vec_id""".stripMargin))

  /** Multimodal plumbing, oracle-checkable slice: treat text as an opaque binary
    * column; byte length + content hash are the portable metadata ops (decode /
    * features / frame-sampling are stub-backed and spec-tested instead).
    */
  private val mmBinaryMeta = Q(
    (s, d) => D.documents(s, d)
      .select(col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("byte_len"),
        md5(col("text").cast("binary")).as("h"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS h
           |FROM documents ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------- chunk→document grouping (A2)

  private val a2GroupDocs = Q(
    (s, d) => {
      val chunks = chunkFanout(s, d).select("chunk_id", "doc_id", "chunk_text")
      val ranked = Search
        .bm25TopK(chunks, "chunk_id", "chunk_text", searchQuery, 30,
          conjunctive = false, selectByRounded = Some(5))
        .select(col("docId").as("chunk_id"), round(col("score"), 5).as("score"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("chunk_id").asc)).cast("long"))
      ranked.join(chunks.select("chunk_id", "doc_id"), "chunk_id")
        .groupBy("doc_id")
        .agg(min("rank").as("doc_rank"), count(lit(1)).as("matched_chunks"))
        .orderBy(col("doc_rank").asc, col("doc_id").asc)
        .limit(10)
    },
    Some(s"""WITH chunks AS ($chunkFanoutSql),
            |toks AS (
            |  SELECT chunk_id, unnest(list_filter(regexp_split_to_array(lower(chunk_text), '[^a-z0-9]+'), x -> x <> '')) AS term
            |  FROM chunks),
            |dl AS (SELECT chunk_id, count(*) AS dlen FROM toks GROUP BY chunk_id),
            |corpus AS (SELECT count(*) AS n, avg(dlen) AS avgdl FROM dl),
            |tf AS (SELECT chunk_id, term, count(*) AS tf FROM toks
            |       WHERE term IN (${searchTerms.map(t => s"'$t'").mkString(", ")}) GROUP BY chunk_id, term),
            |df AS (SELECT term, count(DISTINCT chunk_id) AS df FROM tf GROUP BY term),
            |scored AS (
            |  SELECT tf.chunk_id,
            |    sum( ln(1 + (corpus.n - df.df + 0.5)/(df.df + 0.5))
            |         * (tf.tf*(1.2+1))/(tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dlen/corpus.avgdl)) ) AS score
            |  FROM tf JOIN df USING(term) JOIN dl USING(chunk_id) CROSS JOIN corpus
            |  GROUP BY tf.chunk_id),
            |topc AS (SELECT chunk_id, score FROM scored ORDER BY round(score,5) DESC, chunk_id LIMIT 30),
            |ranked AS (SELECT chunk_id, row_number() OVER (ORDER BY round(score,5) DESC, chunk_id) AS rank FROM topc)
            |SELECT c.doc_id, min(r.rank) AS doc_rank, count(*) AS matched_chunks
            |FROM ranked r JOIN chunks c USING(chunk_id)
            |GROUP BY c.doc_id ORDER BY doc_rank, c.doc_id LIMIT 10""".stripMargin))

  // ------------------------------------------------ sketches / semantic dedup

  /** Bloom-filter decontamination ([[graft.operators.Sketches.bloomDecontaminate]]):
    * the 100 TB shape of `pipeline_decontaminate` — the corpus probes a fixed
    * 128 KiB bitset per ngram instead of joining a benchmark hash table. The
    * bloom is DETERMINISTIC (md5-word bits), so the oracle replicates the
    * bitset — including any false positives — from the same benchmark rows
    * (every 41st doc), making the probe path hash-gated end to end.
    */
  private val bloomM = 1 << 20
  private val bloomDecontaminate = Q(
    (s, d) => {
      val docs = D.documents(s, d)
      val bench = docs.filter(col("doc_id") % 41 === 0)
        .select(col("doc_id").as("bench_id"), col("text").as("bench_text"))
      graft.operators.Sketches.bloomDecontaminate(
          docs, bench, "doc_id", "text", "bench_id", "bench_text", n = 13, m = bloomM)
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id,
            |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
            |  FROM documents),
            |sh AS (SELECT doc_id, CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
            |    ELSE list_transform(generate_series(1, len(t) - 12),
            |           i -> array_to_string(t[i:i+12], ' ')) END AS sh FROM toks),
            |ng AS (SELECT doc_id, unnest(sh) AS g FROM sh),
            |doc_ng AS (SELECT doc_id, md5(g) AS h FROM ng),
            |bits AS (SELECT DISTINCT unnest([
            |    ${(0 until 4).map(j => graft.operators.Sketches.bloomBitSql("h", j, bloomM)).mkString(",\n|    ")}]) AS b
            |  FROM (SELECT DISTINCT h FROM doc_ng WHERE doc_id % 41 = 0)),
            |probe AS (SELECT DISTINCT doc_id, h,
            |    ${(0 until 4).map(j => graft.operators.Sketches.bloomBitSql("h", j, bloomM) + s" AS b$j").mkString(",\n|    ")}
            |  FROM doc_ng),
            |flagged AS (SELECT doc_id, h FROM probe
            |  WHERE b0 IN (SELECT b FROM bits) AND b1 IN (SELECT b FROM bits)
            |    AND b2 IN (SELECT b FROM bits) AND b3 IN (SELECT b FROM bits)),
            |hits AS (SELECT doc_id, count(DISTINCT h) AS n FROM flagged GROUP BY doc_id)
            |SELECT doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_flagged,
            |  coalesce(n, 0) > 0 AS flagged
            |FROM documents LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin))

  /** KMV distinct-count sketch ([[graft.operators.Sketches.kmvDistinct]]):
    * per-language distinct 3-gram-shingle estimate from the 64 smallest
    * md5-word hashes (3-9k true distincts per language, so the estimation
    * branch — not the exact-below-k fallback — is what the gate locks). The
    * estimate itself is oracle-gated, because the hash is the engine-shared
    * [[graft.operators.Curation.hash32]]. `n_exact` (distinct hashes, exact)
    * rides along to show the error; at scale you would drop it and keep only
    * the fixed-size sketch.
    */
  private val kmvK = 64
  private val sketchDistinctKmv = Q(
    (s, d) => {
      val hashed = graft.operators.Dedup.withShingles(
          D.documents(s, d).select("doc_id", "lang", "text"),
          "doc_id", "text", n = 3, keep = Seq("lang"))
        .select(col("lang"), explode(col("sh")).as("g"))
        .select(col("lang"), graft.operators.Curation.hash32(col("g"), "k1").as("h"))
      val exact = hashed.groupBy("lang").agg(countDistinct("h").as("n_exact"))
      graft.operators.Sketches.kmvDistinct(hashed, "lang", "h", kmvK)
        .join(exact, "lang")
        .select("lang", "n_kmv", "kmv_estimate", "n_exact")
        .orderBy("lang")
    },
    Some(s"""WITH toks AS (SELECT lang,
            |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
            |  FROM documents),
            |shl AS (SELECT lang, unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
            |    ELSE list_transform(generate_series(1, len(t) - 2),
            |           i -> array_to_string(t[i:i+2], ' ')) END) AS g FROM toks),
            |hx AS (SELECT DISTINCT lang, substring(md5('k1' || g), 1, 8) AS hx8 FROM shl),
            |hv AS (SELECT lang, ${graft.operators.Curation.hash32DigitSumSql("hx8")} AS hv FROM hx),
            |r AS (SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv ASC) AS rn FROM hv),
            |agg AS (SELECT lang, count(*) AS n_distinct,
            |    max(CASE WHEN rn = $kmvK THEN hv END) AS kth FROM r GROUP BY lang)
            |SELECT lang, CAST(least(n_distinct, $kmvK) AS BIGINT) AS n_kmv,
            |  round(CASE WHEN n_distinct < $kmvK THEN CAST(n_distinct AS DOUBLE)
            |    ELSE ${kmvK - 1} * 4294967296.0 / kth END, 4) AS kmv_estimate,
            |  CAST(n_distinct AS BIGINT) AS n_exact
            |FROM agg ORDER BY lang""".stripMargin))

  /** Count-min sketch heavy hitters ([[graft.operators.Sketches.cmsBuild]] /
    * [[graft.operators.Sketches.cmsEstimate]]): token frequencies from a
    * fixed 4×1024 counter grid instead of a corpus-sized count table; the 25
    * highest-frequency tokens' estimates ride next to their exact counts (the
    * CMS overestimate property — collisions only add — is visible in the
    * gated output). Grid hashing = the same md5 words as the Bloom filter, so
    * the oracle rebuilds the identical grid.
    */
  private val cmsW = 1024
  private val sketchCmsTopk = Q(
    (s, d) => {
      val toks = D.documents(s, d)
        .select(explode(graft.operators.Search.tokensCol(col("text"))).as("tok"))
      val cms = graft.operators.Sketches.cmsBuild(toks, md5(col("tok")), cmsW)
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
      val cand = exact.orderBy(col("n_exact").desc, col("tok").asc).limit(25)
      graft.operators.Sketches.cmsEstimate(cms, cand, "tok", md5(col("tok")), cmsW)
        .join(cand, "tok")
        .select(col("tok"), col("n_exact"), col("cms_estimate"))
        .orderBy(col("n_exact").desc, col("tok").asc)
    },
    Some(s"""WITH tok AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
            |    x -> x <> '')) AS t FROM documents),
            |hx AS (SELECT t, md5(t) AS h FROM tok),
            |pos AS (${(0 until 4).map(j =>
                s"SELECT h, $j AS r, ${graft.operators.Sketches.bloomBitSql("h", j, cmsW)} AS b FROM hx")
              .mkString("\n|  UNION ALL ")}),
            |cms AS (SELECT r, b, count(*) AS c FROM pos GROUP BY r, b),
            |exact AS (SELECT t, count(*) AS n_exact FROM tok GROUP BY t),
            |cand AS (SELECT t, n_exact FROM (SELECT t, n_exact,
            |    row_number() OVER (ORDER BY n_exact DESC, t ASC) AS rn FROM exact)
            |  WHERE rn <= 25),
            |ch AS (SELECT t, md5(t) AS h FROM cand),
            |cpos AS (${(0 until 4).map(j =>
                s"SELECT t, $j AS r, ${graft.operators.Sketches.bloomBitSql("h", j, cmsW)} AS b FROM ch")
              .mkString("\n|  UNION ALL ")}),
            |est AS (SELECT cpos.t, min(c) AS cms_estimate FROM cpos
            |  JOIN cms USING (r, b) GROUP BY cpos.t)
            |SELECT cand.t AS tok, n_exact, cms_estimate
            |FROM cand JOIN est ON cand.t = est.t
            |ORDER BY n_exact DESC, tok ASC""".stripMargin))

  /** Histogram quantile sketch ([[graft.operators.Sketches.histQuantiles]]):
    * p50/p90/p99 of document length per language from a 64-bin fixed-width
    * histogram — nBins longs of state per group where the exact percentile
    * (`corpus_percentiles`) sorts the column. The interpolated estimates
    * themselves are hash-gated; comparing against `corpus_percentiles` shows
    * the bin-width-bounded error.
    */
  private val sketchQuantileHist = Q(
    (s, d) => graft.operators.Sketches.histQuantiles(
        D.documents(s, d), "lang", "n_chars",
        binWidth = 64L, nBins = 64, qs = Seq(0.5, 0.9, 0.99))
      .orderBy("lang", "q"),
    Some("""WITH hist AS (SELECT lang, least(63, n_chars // 64) AS b, count(*) AS n
           |  FROM documents GROUP BY 1, 2),
           |cum AS (SELECT lang, b, n,
           |    coalesce(sum(n) OVER (PARTITION BY lang ORDER BY b) - n, 0) AS below,
           |    sum(n) OVER (PARTITION BY lang) AS total FROM hist),
           |qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
           |SELECT lang, q,
           |  round(b * 64 + 64.0 * (q * total - below) / n, 4) AS quantile_est
           |FROM cum CROSS JOIN qs
           |WHERE below < q * total AND q * total <= below + n
           |ORDER BY lang, q""".stripMargin))

  /** HyperLogLog distinct users per event type
    * ([[graft.operators.Sketches.hllDistinct]]): 64 registers over the
    * engine-shared md5 hash32 — register/rank split, max-per-register, and
    * the α-corrected harmonic estimate (small-range branch engaged at this
    * cardinality) all replay in DuckDB, so the ESTIMATE hash-gates, not just
    * the registers. Exact distinct rides along to show the sketch error;
    * at 100 TB you keep only the 64-byte register state per group
    * (production swap-in: `approx_count_distinct`, Spark's own HLL++).
    * Every oracle-side constant is CAST to DOUBLE — DuckDB parses bare
    * decimal literals as DECIMAL, whose division rounds differently than
    * binary64.
    */
  private val sketchHll = Q(
    (s, d) => {
      val ev = D.events(s, d).select(col("event_type"),
        graft.operators.Curation.hash32(col("user_id"), "hll").as("h"))
      val exact = D.events(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      graft.operators.Sketches.hllDistinct(ev, "event_type", "h")
        .join(exact, "event_type")
        .select("event_type", "n_registers", "zeros", "hll_estimate", "n_exact")
        .orderBy("event_type")
    },
    Some(s"""WITH hx AS (SELECT event_type, user_id,
            |    substring(md5('hll' || CAST(user_id AS VARCHAR)), 1, 8) AS hx8
            |  FROM events),
            |hv AS (SELECT event_type, ${graft.operators.Curation.hash32DigitSumSql("hx8")} AS h FROM hx),
            |reg AS (SELECT event_type, h % 64 AS reg,
            |    CASE WHEN h // 64 = 0 THEN 27
            |      ELSE instr(lpad(bin(h // 64), 26, '0'), '1') END AS rnk
            |  FROM hv),
            |mj AS (SELECT event_type, reg, max(rnk) AS mj FROM reg GROUP BY event_type, reg),
            |agg AS (SELECT event_type, count(*) AS present,
            |    sum(pow(CAST(2.0 AS DOUBLE), -CAST(mj AS DOUBLE))) AS inv
            |  FROM mj GROUP BY event_type),
            |est AS (SELECT event_type, present, 64 - present AS zeros,
            |    (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(64.0 AS DOUBLE)))
            |      * CAST(64.0 AS DOUBLE) * CAST(64.0 AS DOUBLE)
            |      / (inv + CAST(64 - present AS DOUBLE)) AS raw
            |  FROM agg),
            |exact AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY event_type)
            |SELECT est.event_type, CAST(present AS BIGINT) AS n_registers,
            |  CAST(zeros AS BIGINT) AS zeros,
            |  round(CASE WHEN raw <= CAST(160.0 AS DOUBLE) AND zeros > 0
            |    THEN CAST(64.0 AS DOUBLE) * ln(CAST(64.0 AS DOUBLE) / CAST(zeros AS DOUBLE))
            |    ELSE raw END, 4) AS hll_estimate,
            |  CAST(n_exact AS BIGINT) AS n_exact
            |FROM est JOIN exact ON est.event_type = exact.event_type
            |ORDER BY est.event_type""".stripMargin))

  /** Jensen–Shannon token drift between the English slice and the rest of the
    * corpus ([[graft.operators.TextAnalysis.tokenDrift]]): per-token
    * contributions to JS divergence over the union vocabulary — the
    * distribution-shift monitor for a training mix, where the top
    * |contribution| tokens name the drift. One token-keyed exchange; the
    * grand totals broadcast back as a 1-row aggregate. Zero-probability
    * terms contribute exactly 0 in both engines; everything else is gated
    * at 6dp.
    */
  private val textJsDivergence = Q(
    (s, d) => graft.operators.TextAnalysis.tokenDrift(
        D.documents(s, d), "text", col("lang") === "en")
      .orderBy("token"),
    Some("""WITH tok AS (SELECT lang = 'en' AS a, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
           |  FROM documents),
           |cnt AS (SELECT token,
           |    sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
           |    sum(CASE WHEN a THEN 0 ELSE 1 END) AS cb
           |  FROM tok GROUP BY token),
           |tot AS (SELECT sum(ca) AS ta, sum(cb) AS tb FROM cnt),
           |pq AS (SELECT token,
           |    CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE) AS p,
           |    CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE) AS q
           |  FROM cnt CROSS JOIN tot)
           |SELECT token, round(p, 6) AS p, round(q, 6) AS q,
           |  round(CAST(0.5 AS DOUBLE) * (CASE WHEN p > 0 THEN p * ln(p / ((p + q) / CAST(2.0 AS DOUBLE))) ELSE CAST(0 AS DOUBLE) END)
           |      + CAST(0.5 AS DOUBLE) * (CASE WHEN q > 0 THEN q * ln(q / ((p + q) / CAST(2.0 AS DOUBLE))) ELSE CAST(0 AS DOUBLE) END), 6) AS js_contrib
           |FROM pq ORDER BY token""".stripMargin))

  /** SemDeDup ([[graft.operators.Dedup.semanticDedup]]): embedding-space
    * semantic dedup — cluster (pinned centroids = embeddings 1..8, like
    * `cluster_assign`), then drop any vector with a smaller-id neighbor at
    * cosine ≥ 0.35 INSIDE its cluster. Cluster-locality bounds the pair step;
    * the kept/dropped decision per vector is what the gate locks.
    */
  private val dedupSemantic = Q(
    (s, d) => {
      val emb = D.embeddings(s, d).filter(col("vec_id") =!= 0)
      val centroids = D.embeddings(s, d)
        .filter(col("vec_id").between(1, 8)).orderBy("vec_id")
        .collect().map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      graft.operators.Dedup.semanticDedup(emb, "vec_id", "embedding", centroids, 0.35)
        .orderBy("vec_id")
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS c FROM embeddings
            |         WHERE vec_id BETWEEN 1 AND 8),
            |e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
            |dists AS (SELECT v.vec_id, c.cid, ${l2Sql("v.embedding", "c.c")} AS dc
            |  FROM e v CROSS JOIN cent c),
            |assigned AS (SELECT vec_id, cid FROM
            |  (SELECT vec_id, cid, dc,
            |     row_number() OVER (PARTITION BY vec_id ORDER BY dc ASC, cid ASC) AS rn
            |   FROM dists)
            |  WHERE rn = 1),
            |av AS (SELECT a.vec_id, a.cid, e.embedding FROM assigned a JOIN e USING (vec_id)),
            |dropped AS (SELECT DISTINCT b.vec_id AS dv FROM av a JOIN av b
            |  ON a.cid = b.cid AND a.vec_id < b.vec_id
            |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35)
            |SELECT a.vec_id, CAST(a.cid - 1 AS BIGINT) AS cluster_id,
            |  d.dv IS NULL AS kept
            |FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.dv
            |ORDER BY a.vec_id""".stripMargin))

  /** Corpus length-histogram profile: fixed-width buckets (250 chars, capped
    * at bucket 15) per language — the dataset-card length distribution as one
    * hash-aggregate. Fixed bounds keep it a single pass (no min/max pre-scan).
    */
  private val corpusHistogram = Q(
    (s, d) => D.documents(s, d)
      .groupBy(col("lang"),
        least(lit(15L), floor(length(col("text")) / 250)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lo_chars", (col("bucket") * 250).cast("long"))
      .select("lang", "bucket", "lo_chars", "n")
      .orderBy("lang", "bucket"),
    Some("""SELECT lang, CAST(least(15, length(text) // 250) AS BIGINT) AS bucket,
           |  CAST(least(15, length(text) // 250) * 250 AS BIGINT) AS lo_chars,
           |  count(*) AS n
           |FROM documents GROUP BY 1, 2, 3 ORDER BY lang, bucket""".stripMargin))

  // ------------------------------------------------------------------ registry

  val all: Map[String, Q] = Map(
    "q1_agg" -> q1Agg,
    "q3_join_agg" -> q3JoinAgg,
    "q5_region" -> q5Region,
    "q14_promo" -> q14Promo,
    "q7_volume" -> q7Volume,
    "q10_returns" -> q10Returns,
    "q16_supplier_cnt" -> q16SupplierCnt,
    "q22_no_orders" -> q22NoOrders,
    "q4_order_priority" -> q4OrderPriority,
    "q17_small_qty" -> q17SmallQty,
    "q20_part_suppliers" -> q20PartSuppliers,
    "q21_waiting" -> q21Waiting,
    "q2_min_cost" -> q2MinCost,
    "q6_forecast" -> q6Forecast,
    "q8_market_share" -> q8MarketShare,
    "q9_profit" -> q9Profit,
    "q11_important_stock" -> q11ImportantStock,
    "q12_shipmode" -> q12Shipmode,
    "q13_custdist" -> q13CustDist,
    "q15_top_supplier" -> q15TopSupplier,
    "q19_disjunctive" -> q19Disjunctive,
    "w1_rank_window" -> w1RankWindow,
    "a4_watermark_max" -> a4WatermarkMax,
    "p3_filter_dsl" -> p3FilterDsl,
    "p8_fetch_slice" -> p8FetchSlice,
    "m5_chunk_fanout" -> m5ChunkFanout,
    "dedup_exact" -> dedupExact,
    "t1_vector_topk" -> t1VectorTopK,
    "t1b_vector_batch" -> t1bVectorBatch,
    "t2_bm25_topk" -> t2Bm25TopK,
    "t2b_bm25_postings" -> t2bBm25Postings,
    "t2c_bm25_lsm_search" -> t2cBm25LsmSearch,
    "a1_rrf_fusion" -> a1RrfFusion,
    "a1b_weighted_rrf" -> a1bWeightedRrf,
    "a2_group_docs" -> a2GroupDocs,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_incremental" -> dedupIncremental,
    "dedup_containment" -> dedupContainment,
    "dedup_lsh_pairs" -> dedupLshPairs,
    "dedup_lines" -> dedupLines,
    "dedup_simhash" -> dedupSimhash,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_embedding" -> dedupEmbedding,
    "text_langid" -> textLangid,
    "text_quality" -> textQuality,
    "corpus_stats" -> corpusStats,
    "q18_large_orders" -> q18LargeOrders,
    "corpus_heavy_hitters" -> corpusHeavyHitters,
    "corpus_percentiles" -> corpusPercentiles,
    "corpus_cube" -> corpusCube,
    "corpus_pivot" -> corpusPivot,
    "text_repetition" -> textRepetition,
    "text_tokens" -> textTokens,
    "text_fingerprint" -> textFingerprint,
    "j3_incremental_update" -> j3IncrementalUpdate,
    "j3b_bucketed_lifecycle" -> j3bBucketedLifecycle,
    "j4_semi_anti" -> j4SemiAnti,
    "j5_asof_join" -> j5AsofJoin,
    "j6_range_join" -> j6RangeJoin,
    "j7_snapshot_diff" -> j7SnapshotDiff,
    "u2_set_ops" -> u2SetOps,
    "st1_tumbling_window" -> st1TumblingWindow,
    "st2_sliding_window" -> st2SlidingWindow,
    "st3_session_window" -> st3SessionWindow,
    "f2_html_extract" -> f2HtmlExtract,
    "f3_adf_extract" -> f3AdfExtract,
    "f_scalar_json" -> fScalarJson,
    "ann_ivf_topk" -> annIvfTopk,
    "ann_recall_eval" -> annRecallEval,
    "eval_mrr" -> evalMrr,
    "ann_lsh_topk" -> annLshTopk,
    "ann_graph_topk" -> annGraphTopk,
    "mm_binary_meta" -> mmBinaryMeta,
    "w3_sessionize" -> w3Sessionize,
    "w5_running_metrics" -> w5RunningMetrics,
    "skew_salted_agg" -> skewSaltedAgg,
    "skew_salted_join" -> skewSaltedJoin,
    "m1_embed_pipeline" -> m1EmbedPipeline,
    "bpe_encode" -> bpeEncode,
    "bpe_train_rounds" -> bpeTrainRounds,
    "split_recursive" -> splitRecursive,
    "m1b_full_lifecycle" -> m1bFullLifecycle,
    "dedup_clusters" -> dedupClusters,
    "pipeline_filter" -> pipelineFilter,
    "pipeline_curation" -> pipelineCuration,
    "pipeline_full" -> pipelineFull,
    "pipeline_redact_pii" -> pipelineRedactPii,
    "pipeline_decontaminate" -> pipelineDecontaminate,
    "text_entropy" -> textEntropy,
    "text_normalize" -> textNormalize,
    "text_sentences" -> textSentences,
    "text_domains" -> textDomains,
    "text_lm_perplexity" -> textLmPerplexity,
    "zorder_key" -> zorderKey,
    "sample_weighted" -> sampleWeighted,
    "sample_mixture_plan" -> sampleMixturePlan,
    "curate_domain_cap" -> curateDomainCap,
    "dedup_spans" -> dedupSpans,
    "dedup_token_spans" -> dedupTokenSpans,
    "text_suffix_ranks" -> textSuffixRanks,
    "text_suffix_array" -> textSuffixArray,
    "text_lcp_topk" -> textLcpTopk,
    "dedup_exact_substr" -> dedupExactSubstr,
    "decontam_substr" -> decontamSubstr,
    "shard_dup_spans" -> shardDupSpans,
    "shard_decontam" -> shardDecontam,
    "decontam_ngram_overlap" -> decontamNgramOverlap,
    "profile_columns" -> profileColumns,
    "spell_suggest" -> spellSuggest,
    "suggest_lifecycle" -> suggestLifecycle,
    "suggest_fresh" -> suggestFresh,
    "phrase_lifecycle" -> phraseLifecycle,
    "ql_boolean_index" -> qlBooleanIndex,
    "ql_boolean_filtered" -> qlBooleanFiltered,
    "ql_near_index" -> qlNearIndex,
    "ql_boolean_phrase_index" -> qlBooleanPhraseIndex,
    "ql_boolean_near_index" -> qlBooleanNearIndex,
    "ql_match_docs" -> qlMatchDocs,
    "ql_prefix_index" -> qlPrefixIndex,
    "ql_phrase_prefix_index" -> qlPhrasePrefixIndex,
    "ql_match_fused" -> qlMatchFused,
    "ql_anchor_index" -> qlAnchorIndex,
    "ql_double_negation" -> qlDoubleNegation,
    "ql_punctuated_scan" -> qlPunctuatedScan,
    "ql_punctuated_atom" -> qlPunctuatedAtom,
    "autocomplete_prefix" -> autocompletePrefix,
    "search_highlight" -> searchHighlight,
    "facet_counts" -> facetCountsQ,
    "ql_boolean_search" -> qlBooleanSearch,
    "ql_phrase_search" -> qlPhraseSearch,
    "ql_minspan_search" -> qlMinspanSearch,
    "decontam_report" -> decontamReport,
    "dedup_strip_spans" -> dedupStripSpans,
    "ann_pq_adc" -> annPqAdc,
    "ann_sq8_topk" -> annSq8Topk,
    "ann_sq8_rerank" -> annSq8Rerank,
    "ann_pq_rerank" -> annPqRerank,
    "t1c_maxsim" -> t1cMaxsim,
    "sample_epoch_shuffle" -> sampleEpochShuffle,
    "text_collocations" -> textCollocations,
    "graph_pagerank" -> graphPagerank,
    "graph_pagerank_dangling" -> graphPagerankDangling,
    "m7_legacy_import" -> m7LegacyImport,
    "cluster_kmeans_train" -> clusterKmeansTrain,
    "ann_ivf_trained_topk" -> annIvfTrainedTopk,
    "text_keywords" -> textKeywords,
    "ann_ivfpq_topk" -> annIvfPqTopk,
    "ann_ivfpq_residual" -> annIvfPqResidual,
    "sample_stratified" -> sampleStratified,
    "sample_pack_shards" -> samplePackShards,
    "sample_pack_sequences" -> samplePackSequences,
    "cluster_assign" -> clusterAssign,
    "bloom_decontaminate" -> bloomDecontaminate,
    "sketch_distinct_kmv" -> sketchDistinctKmv,
    "sketch_cms_topk" -> sketchCmsTopk,
    "sketch_quantile_hist" -> sketchQuantileHist,
    "dedup_semantic" -> dedupSemantic,
    "corpus_histogram" -> corpusHistogram,
    "graph_triangles" -> graphTriangles,
    "graph_bfs" -> graphBfs,
    "graph_communities" -> graphCommunities,
    "quality_lr_train" -> qualityLrTrain,
    "text_readability" -> textReadability,
    "events_funnel" -> eventsFunnel,
    "pca_top_component" -> pcaTopComponent,
    "events_retention" -> eventsRetention,
    "events_anomaly" -> eventsAnomaly,
    "w6_ntile_quartile" -> w6NtileQuartile,
    "search_mmr_rerank" -> searchMmrRerank,
    "dedup_jaccard_join" -> dedupJaccardJoin,
    "events_ewma" -> eventsEwma,
    "events_intervals_merge" -> eventsIntervalsMerge,
    "events_gapfill" -> eventsGapfill,
    "dedup_edit_join" -> dedupEditJoin,
    "sketch_hll" -> sketchHll,
    "text_js_divergence" -> textJsDivergence)

  /** Flagship: end-to-end collection build + hybrid search on the documents table. */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    val embedder = HashingEmbedder.default
    val docs = D.documents(spark, sfDir).select(
      col("doc_id").cast("string").as("id"),
      concat(lit("doc://"), col("doc_id")).as("url"),
      map(lit("lang"), col("lang"), lit("source"), col("source")).as("metadata"),
      col("text"))
    val withChunks = graft.operators.Indexing.splitDocuments(
      docs, new graft.functions.TextSplitter(400, 100))
    val chunks = graft.operators.Indexing.buildChunks(withChunks, embedder)
    Search.hybridSearch(chunks, embedder, searchQuery, maxChunks = 15, maxDocs = 5)
  }
}
