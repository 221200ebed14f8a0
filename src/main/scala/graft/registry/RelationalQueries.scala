package graft.registry

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.JoinOps
import Fixtures._

/** Relational basics: TPC-style aggregates, joins, windows, sampling
  * and SQL-API shapes.
  */
object RelationalQueries extends Family {

  query("q1_agg") { (s, dir) =>
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_base_price"),
        count(lit(1)).as("count_order")
      )
  }(
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |       COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)
  query("q3_join") { (s, dir) =>
    tbl(s, dir, "orders")
      .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_orders")
      )
  }(
    """SELECT n_name,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin)
  query("q4_topk") { (s, dir) =>
    tbl(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))
  }(
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin)
  query("q5_window") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    tbl(s, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rnk").cast(IntegerType).as("rnk"))
  }(
    """SELECT o_custkey, o_orderkey, CAST(rnk AS INT) AS rnk FROM (
      |  SELECT o_custkey, o_orderkey,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      |  FROM orders
      |) WHERE rnk <= 3""".stripMargin)
  query("setops_nations") { (s, dir) =>
    val c = tbl(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val sup = tbl(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    c.intersect(sup).withColumn("op", lit("both"))
      .union(c.except(sup).withColumn("op", lit("cust_only")))
  }(
    """SELECT nationkey, 'both' AS op FROM
      |  (SELECT c_nationkey AS nationkey FROM customer
      |   INTERSECT SELECT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT nationkey, 'cust_only' AS op FROM
      |  (SELECT c_nationkey AS nationkey FROM customer
      |   EXCEPT SELECT s_nationkey FROM supplier)""".stripMargin)
  query("q7_rollup") { (s, dir) =>
    // OLAP ROLLUP with grouping_id: subtotal rows per returnflag and a
    // grand total, disambiguated from genuine NULL groups by gid
    tbl(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast(IntegerType).as("gid"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n_rows")
      )
      .select(
        col("l_returnflag"), col("l_linestatus"),
        col("gid"), col("sum_qty"), col("n_rows"))
  }(
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       COUNT(*) AS n_rows
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)
  query("q8_semi_anti") { (s, dir) =>
    // left-semi / left-anti joins: customers with vs without orders,
    // rolled up per nation
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders").select(col("o_custkey"))
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      .withColumn("segment", lit("has_orders"))
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      .withColumn("segment", lit("no_orders"))
    semi.unionByName(anti)
      .select(col("c_nationkey").cast(IntegerType).as("c_nationkey"),
        col("segment"), col("n_cust"))
  }(
    """SELECT CAST(c_nationkey AS INT) AS c_nationkey, 'has_orders' AS segment,
      |       COUNT(*) AS n_cust
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |GROUP BY c_nationkey
      |UNION ALL
      |SELECT CAST(c_nationkey AS INT) AS c_nationkey, 'no_orders' AS segment,
      |       COUNT(*) AS n_cust
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |GROUP BY c_nationkey""".stripMargin)
  query("q10_sample") { (s, dir) =>
    // deterministic md5-keyed ~10% sample: reproducible across runs,
    // engines, and partitionings (df.sample is none of those); keyed
    // on l_orderkey so an order's lines are kept or dropped together
    graft.ops.SampleOps
      .deterministicSample(tbl(s, dir, "lineitem"), "l_orderkey", 0.1)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders")
      )
  }(
    """SELECT COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |WHERE substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8) < '1999999a'""".stripMargin)
  query("q11_stratified") { (s, dir) =>
    // per-stratum deterministic sampling: rebalance a training mix by
    // downsampling strata at different rates, reproducibly (pure
    // function of the key, so the oracle replays the exact subset)
    graft.ops.SampleOps.stratifiedSample(
      tbl(s, dir, "lineitem"), "l_orderkey", "l_returnflag",
      Map("R" -> 0.2, "A" -> 0.05, "N" -> 0.02))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
  }(
    s"""SELECT l_returnflag, COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       COUNT(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem
      |WHERE substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8) <
      |      CASE l_returnflag
      |        WHEN 'R' THEN '${graft.ops.SampleOps.hexThreshold(0.2)}'
      |        WHEN 'A' THEN '${graft.ops.SampleOps.hexThreshold(0.05)}'
      |        WHEN 'N' THEN '${graft.ops.SampleOps.hexThreshold(0.02)}'
      |        ELSE '00000000' END
      |GROUP BY l_returnflag""".stripMargin)
  query("q9_percentile") { (s, dir) =>
    // exact percentiles (linear interpolation) per group
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("median_price")
      )
  }(
    """SELECT l_returnflag,
      |       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
      |       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
      |       round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price
      |FROM lineitem GROUP BY l_returnflag""".stripMargin)
  query("q6_filter") { (s, dir) =>
    tbl(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")) &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24
      )
      .agg(
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          col("l_discount").cast(DecimalType(8, 2))).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_rows")
      )
  }(
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin)
  query("q12_json") { (s, dir) =>
    // semi-structured surface in one pass: JSON extraction from the
    // props column, calendar-day date math, scalar math on aggregates,
    // and a sorted set-aggregate (array functions). All codegen'd
    // column expressions - the JSON path never leaves the scan stage.
    events(s, dir)
      .select(
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k"),
        col("value")
      )
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"),
        round(sqrt(sum(col("k"))), 6).as("sqrt_k"),
        concat_ws(",", sort_array(collect_set(col("event_type")))).as("types")
      )
  }(
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      |       round(sqrt(CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)), 6) AS sqrt_k,
      |       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
      |FROM events GROUP BY 1""".stripMargin)
  query("q13_outer") { (s, dir) =>
    // outer-join aggregation (TPC-H Q13 shape): order-count histogram
    // over ALL customers, zero-order customers included - the rows an
    // inner join silently drops. Shuffled hash/SMJ on o_custkey; the
    // second aggregate is tiny (distinct counts, not customers)
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(c("c_custkey"))
      .agg(count(o("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }(
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      |      FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
      |      GROUP BY c.c_custkey) t
      |GROUP BY c_count""".stripMargin)
  query("q14_pivot") { (s, dir) =>
    // pivot (long -> wide): quantity totals per linestatus with one
    // column per return flag. Explicit pivot values keep it one pass
    // (no values-discovery job) - at 100 TB the discovery scan is the
    // cost that matters, and training-mix matrices always have a known
    // small category set
    tbl(s, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType))
      .select(col("l_linestatus"),
        col("A").as("qty_a"), col("N").as("qty_n"), col("R").as("qty_r"))
  }(
    """SELECT l_linestatus,
      |       CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
      |       CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
      |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
      |FROM lineitem
      |GROUP BY l_linestatus""".stripMargin)
  query("q26_unpivot") { (s, dir) =>
    // unpivot (wide -> long): the inverse reshape of q14_pivot -
    // measure matrix rows melt into (group, measure, value) triples.
    // Pure projection-side 1->N (Expand node): no shuffle beyond the
    // feeding aggregate, no values-discovery job
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"),
        sum(col("l_discount").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_disc"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "measure", "value")
  }(
    // wide->long melt replay: one UNION ALL branch per measure column
    // (dialect-portable; no UNPIVOT keyword dependence)
    """WITH m AS (
      |  SELECT l_returnflag,
      |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |         CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM m
      |UNION ALL
      |SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM m
      |UNION ALL
      |SELECT l_returnflag, 'sum_disc' AS measure, sum_disc AS value FROM m""".stripMargin)
  query("q15_sql_api") { (s, dir) =>
    // the end-user SQL surface: graft's native codegen expressions
    // registered into the session FunctionRegistry and invoked from SQL
    // text (same route as spark.sql.extensions=graft.functions
    // .GraftExtensions on a real cluster). Shape: a FIXED 20-vector
    // query set against the corpus - one broadcast + one linear scan,
    // the plan that survives a 100x corpus (the a.id < b.id all-pairs
    // formulation would not)
    graft.functions.GraftFunctions.register(s)
    tbl(s, dir, "embeddings").createOrReplaceTempView("emb_sql")
    s.sql("""
        SELECT /*+ BROADCAST(a) */
               a.vec_id AS id_a, b.vec_id AS id_b,
               round(vec_dot(a.embedding, b.embedding) /
                     (vec_norm(a.embedding) * vec_norm(b.embedding)), 6) AS cos
        FROM (SELECT * FROM emb_sql WHERE vec_id < 20) a
        JOIN emb_sql b ON a.vec_id < b.vec_id
        WHERE vec_dot(a.embedding, b.embedding) > 0""")
  }(
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos
      |FROM (SELECT * FROM embeddings WHERE vec_id < 20) a
      |JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0""".stripMargin)
  query("q18_correlated") { (s, dir) =>
    // correlated scalar subquery through SQL text (TPC-H Q17 shape):
    // lineitems below 20% of their part's average quantity. Catalyst
    // decorrelates this into an aggregate + equi-join - no per-row
    // subquery execution survives into the physical plan.
    tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem_sql")
    s.sql("""
        SELECT l1.l_partkey, count(*) AS n_small,
               CAST(sum(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_revenue
        FROM lineitem_sql l1
        WHERE l1.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                               FROM lineitem_sql l2
                               WHERE l2.l_partkey = l1.l_partkey)
        GROUP BY l1.l_partkey""")
  }(
    """SELECT l1.l_partkey, count(*) AS n_small,
      |       CAST(sum(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_revenue
      |FROM lineitem l1
      |WHERE l1.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
      |                       FROM lineitem l2
      |                       WHERE l2.l_partkey = l1.l_partkey)
      |GROUP BY l1.l_partkey""".stripMargin)
  query("q19_running") { (s, dir) =>
    // aggregate window frames (q5_window covers ranking): per-customer
    // running order count and revenue in orderdate order - one
    // partitioned sort, frames evaluated in a single pass
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tbl(s, dir, "orders")
      .withColumn("running_orders", count(lit(1)).over(w))
      .withColumn("running_revenue",
        round(sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast(DoubleType), 2))
      .filter(col("o_custkey") % 50 === 0)
      .select(col("o_custkey"), col("o_orderkey"),
        col("running_orders"), col("running_revenue"))
  }(
    """SELECT o_custkey, o_orderkey,
      |       count(*) OVER w AS running_orders,
      |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE), 2) AS running_revenue
      |FROM orders
      |WHERE o_custkey % 50 = 0
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)
  query("q20_cube") { (s, dir) =>
    // CUBE: all 2^k grouping combinations in one pass (q7_rollup
    // covers the hierarchical subset). grouping_id disambiguates
    // subtotal rows from genuine NULL groups, as in q7.
    tblS(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast(IntegerType).as("gid"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("gid"), col("sum_qty"), col("n_rows"))
  }(
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       count(*) AS n_rows
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)
  query("q21_setops_all") { (s, dir) =>
    // multiset set ops (setops_nations covers the DISTINCT variants):
    // INTERSECT ALL / EXCEPT ALL keep multiplicity - the semantics a
    // dedup ledger needs ("how many copies remain on each side")
    val c = tbl(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
    val sup = tbl(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
    c.intersectAll(sup).withColumn("op", lit("inter_all"))
      .union(c.exceptAll(sup).withColumn("op", lit("except_all")))
      .groupBy(col("nationkey"), col("op"))
      .agg(count(lit(1)).as("n"))
  }(
    """SELECT nationkey, op, count(*) AS n FROM (
      |  SELECT nationkey, 'inter_all' AS op FROM (
      |    SELECT c_nationkey AS nationkey FROM customer
      |    INTERSECT ALL
      |    SELECT s_nationkey FROM supplier)
      |  UNION ALL
      |  SELECT nationkey, 'except_all' AS op FROM (
      |    SELECT c_nationkey AS nationkey FROM customer
      |    EXCEPT ALL
      |    SELECT s_nationkey FROM supplier)
      |) GROUP BY nationkey, op""".stripMargin)
  query("q17_approx") { (s, dir) =>
    // approximate distinct (HLL++ sketch) beside the exact count, with
    // the sketch's accuracy claim made oracle-checkable: within_bound
    // asserts the rsd=2% sketch landed within 10% of exact (5 sigma -
    // and the sketch is a deterministic function of the data, so this
    // is a stable fact of the dataset, not a flaky assertion). At
    // 100 TB the sketch is the only affordable distinct count: fixed
    // ~kb of state per group, no distinct-key shuffle.
    tblS(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("exact_nd"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_nd"))
      .select(col("l_returnflag"), col("exact_nd"),
        (abs(col("approx_nd") - col("exact_nd")).cast(DoubleType) /
          col("exact_nd") <= 0.1).as("within_bound"))
  }(
    """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_nd,
      |       TRUE AS within_bound
      |FROM lineitem
      |GROUP BY l_returnflag""".stripMargin)
  query("q22_analytics") { (s, dir) =>
    // navigation + distribution window functions (lag/lead/first_value
    // /ntile) per customer - partitioned windows, so the sort shards
    // by key and no global ordering exists anywhere in the plan
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    tbl(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .withColumn("first_price", first(col("o_totalprice")).over(w))
      .withColumn("quartile", ntile(4).over(w).cast(IntegerType))
  }(
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |       lag(o_totalprice) OVER w AS prev_price,
      |       lead(o_totalprice) OVER w AS next_price,
      |       first_value(o_totalprice) OVER w AS first_price,
      |       CAST(ntile(4) OVER w AS INT) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin)
  query("q23_grouping_sets") { (s, dir) =>
    // explicit GROUPING SETS (the general form behind rollup/cube):
    // three chosen groupings in one pass, disambiguated by grouping id
    tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               count(*) AS n_rows
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      """)
  }(
    """SELECT l_returnflag, l_linestatus,
      |       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       count(*) AS n_rows
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""".stripMargin)
  query("q24_corr") { (s, dir) =>
    // correlation / linear-regression aggregates per group: one
    // map-side-combined pass (co-moment partials merge associatively,
    // so this is a single shuffle of 5 doubles per group at any scale)
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"))
  }(
    """SELECT l_returnflag, count(*) AS n,
      |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
      |       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
      |       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
      |       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
      |FROM lineitem
      |GROUP BY l_returnflag""".stripMargin)
  query("q16_full_outer") { (s, dir) =>
    // full outer join: reconcile a customer dimension slice against
    // per-customer order rollups - rows exist on either side alone
    // (even-key customers without orders; odd-key order groups with no
    // dimension row). Equi-key, so a shuffled join, never BNL
    val cu = tbl(s, dir, "customer")
      .filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"))
    val co = tbl(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    cu.join(co, cu("c_custkey") === co("o_custkey"), "full_outer")
      .select(
        coalesce(cu("c_custkey"), co("o_custkey")).as("custkey"),
        when(cu("c_custkey").isNotNull, lit(1)).otherwise(lit(0)).as("in_customer"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
  }(
    """SELECT coalesce(cu.c_custkey, co.o_custkey) AS custkey,
      |       CASE WHEN cu.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS in_customer,
      |       coalesce(co.n_orders, 0) AS n_orders
      |FROM (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0) cu
      |FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders
      |                 FROM orders GROUP BY o_custkey) co
      |ON cu.c_custkey = co.o_custkey""".stripMargin)
  query("q25_salted_join") { (s, dir) =>
    // the manual skew off-ramp: orders scattered over 8 salts,
    // customer replicated per salt - result EXACTLY the plain join
    // (which is what the oracle runs); OpsSpec pins the equality
    // and the salt fan-out
    val o = tbl(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
    val c = tbl(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    JoinOps.saltedJoin(o, c, "o_custkey", "c_custkey", salts = 8)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("revenue"))
  }(
    """SELECT c.c_nationkey, count(*) AS n_orders,
      |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1""".stripMargin)
}
