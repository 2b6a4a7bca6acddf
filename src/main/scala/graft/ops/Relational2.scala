package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables._

/** Second tranche of the relational surface: CUBE / GROUPING SETS,
  * exact percentiles, string functions, scalar subqueries, pivot,
  * calendar arithmetic, and the SQL-string entry point (temp views +
  * `spark.sql`) — everything still plain Catalyst plans.
  */
object Relational2 {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 4))

  /** CUBE grouping-sets aggregate — all four (flag × status) subtotal
    * combinations in one pass (Expand + single shuffle).
    */
  def cubeSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lineitem(s, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_rows"), sum(dec($"l_quantity")).cast("double").as("sum_qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** Exact interpolated percentiles (SQL PERCENTILE_CONT semantics —
    * matches DuckDB's quantile_cont on the same sorted doubles). Exact
    * percentiles need a full sort per group; the 100 TB path is
    * approx_percentile (t-digest) — kept here exact so the oracle can
    * check values.
    */
  def quantityPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // percentile() buffers a boxed value→count map updated PER ROW
    // (ObjectHashAggregate, no codegen). Pre-reducing to a (flag,
    // value) histogram in a codegen'd HashAggregate and feeding the
    // counts through percentile's FREQUENCY argument builds the same
    // final buffer — bit-identical results — while the per-row work
    // runs map-side-combined (§2.3); the boxed map only ever sees
    // distinct-value-count rows. The three quantity percentiles share
    // one buffer via the array form.
    val li = lineitem(s, dir)
    val qs = li.groupBy($"l_returnflag", $"l_quantity")
      .agg(count(lit(1)).as("fq"))
      .groupBy($"l_returnflag")
      .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D), fq)").as("qs"))
      .select($"l_returnflag", $"qs".getItem(0).as("q25"),
        $"qs".getItem(1).as("median"), $"qs".getItem(2).as("q75"))
    val ps = li.groupBy($"l_returnflag", $"l_extendedprice")
      .agg(count(lit(1)).as("fp"))
      .groupBy($"l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.9, fp)").as("price_p90"))
    // Null-safe: a NULL flag is one group in each split aggregate, as
    // in a single groupBy, so the rejoin must keep it.
    qs.join(ps.withColumnRenamed("l_returnflag", "rf"), $"l_returnflag" <=> $"rf")
      .drop("rf")
      .orderBy($"l_returnflag")
  }

  /** String-function projection: case mapping, substring, regexp
    * extraction, edit distance — all codegen'd built-ins.
    */
  def partStrings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    part(s, dir)
      .select($"p_partkey",
        upper($"p_type").as("type_upper"),
        substring($"p_name", 1, 8).as("name_prefix"),
        regexp_extract($"p_brand", "#(\\d+)", 1).as("brand_num"),
        length($"p_name").cast("long").as("name_len"),
        levenshtein($"p_type", lit("STANDARD")).cast("long").as("type_dist"))
      .orderBy($"p_partkey")
  }

  /** Scalar subquery: customers above the global average balance.
    * The aggregate is a one-row broadcast, not a per-row subplan.
    */
  def aboveAverageCustomers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = customer(s, dir)
    val avgBal = c.agg((sum(dec($"c_acctbal")).cast("double") / count(lit(1))).as("avg_bal"))
    c.crossJoin(broadcast(avgBal))
      .filter($"c_acctbal" > $"avg_bal")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"), (sum(dec($"c_acctbal")).cast("double") / count(lit(1))).as("seg_avg"))
      .orderBy($"c_mktsegment")
  }

  /** Pivot: order counts, statuses × priorities in one pass (the
    * DataFrame pivot with explicit values avoids the extra
    * distinct-values job and keeps the column set deterministic).
    */
  def statusPriorityPivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    orders(s, dir)
      .groupBy($"o_orderstatus")
      .pivot($"o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map(
        "1-URGENT" -> "urgent", "2-HIGH" -> "high", "3-MEDIUM" -> "medium",
        "4-NOT SPECIFIED" -> "unspecified", "5-LOW" -> "low"))
      .orderBy($"o_orderstatus")
  }

  /** Calendar arithmetic: orders per (year, quarter) with revenue. */
  def ordersByQuarter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    orders(s, dir)
      .groupBy(year($"o_orderdate").as("yr"), quarter($"o_orderdate").as("qtr"))
      .agg(count(lit(1)).as("n_orders"), sum(dec($"o_totalprice")).cast("double").as("revenue"))
      .orderBy($"yr", $"qtr")
  }

  /** lead/lag window surface: per-customer inter-order gaps in days,
    * with first orders carrying a null gap (lag's frame-start
    * behavior). One shuffle on o_custkey; the window sorts within
    * partitions only. Bounded to a key subset so the dump stays small.
    */
  def orderGaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    orders(s, dir)
      .filter($"o_custkey" <= 20)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        lag($"o_orderdate", 1).over(w).as("prev_date"))
      .select($"o_custkey", $"o_orderkey",
        datediff($"o_orderdate", $"prev_date").cast("long").as("gap_days"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Correlated-EXISTS shape (TPC-H Q4 form): orders having at least
    * one lineitem shipped more than 90 days after the order date,
    * counted per priority. Planned as a left-semi hash join on the
    * order key with the date predicate as the join condition — the
    * subquery never materializes more than the semi-join probe.
    */
  def lateOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val late = lineitem(s, dir).select($"l_orderkey", $"l_shipdate")
    orders(s, dir)
      .join(late,
        $"l_orderkey" === $"o_orderkey" && $"l_shipdate" > date_add($"o_orderdate", 90),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  /** The SQL entry point: same engine, SQL text in — temp views over the
    * parquet tables, GROUPING SETS (not expressible in the DataFrame
    * API), `spark.sql` out.
    */
  def revenueGroupingSets(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir).createOrReplaceTempView("v_lineitem")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
        count(1) AS n_rows,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      FROM v_lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
  }

  /** The approximate-quantile SCALE PATH for q14, t07-style: exact
    * `percentile` buffers every value of a group in the aggregation
    * state — memory-bound and unshippable at 100 TB — while
    * `approx_percentile` keeps a constant-size mergeable sketch. Both
    * run here and the output carries the exact values plus booleans
    * asserting the sketch landed inside tolerance (±1 quantity unit at
    * the median; 2 % relative on the p90 price). The oracle emits
    * literal TRUE for the booleans, so a sketch drifting out of
    * tolerance fails the hash compare — the same gate design t07 uses
    * for HLL. Tolerances absorb the sketch's partition-merge-order
    * sensitivity; the exact columns stay bit-exact.
    */
  def approxPercentileAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The EXACT arms take the q14 histogram-frequency form (same
    // boxed final buffer, bit-identical doubles, per-row work in a
    // codegen'd map-side-combined HashAggregate — see
    // quantityPercentiles). The SKETCH arms keep feeding on raw rows:
    // approx_percentile has no frequency argument and the audit's
    // whole point is the sketch as production would run it; its
    // merge-order sensitivity is absorbed by the tolerance booleans
    // by design.
    val li = lineitem(s, dir)
    val qh = li.groupBy($"l_returnflag", $"l_quantity")
      .agg(count(lit(1)).as("fq"))
      .groupBy($"l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5, fq)").as("exact_med_qty"))
    val ph = li.groupBy($"l_returnflag", $"l_extendedprice")
      .agg(count(lit(1)).as("fp"))
      .groupBy($"l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.9, fp)").as("exact_p90_price"))
    val ap = li.groupBy($"l_returnflag")
      .agg(expr("approx_percentile(l_quantity, 0.5, 1000)").as("a_q"),
        expr("approx_percentile(l_extendedprice, 0.9, 1000)").as("a_p"))
    // Null-safe rejoin of the split aggregates, as in q14.
    qh.join(ph.withColumnRenamed("l_returnflag", "rf_p"), $"l_returnflag" <=> $"rf_p")
      .join(ap.withColumnRenamed("l_returnflag", "rf_a"), $"l_returnflag" <=> $"rf_a")
      .select($"l_returnflag", $"exact_med_qty", $"exact_p90_price",
        (abs($"a_q" - $"exact_med_qty") <= lit(1.0)).as("qty_within_tol"),
        (abs($"a_p" - $"exact_p90_price") <= $"exact_p90_price" * 0.02).as("price_within_tol"))
      .orderBy($"l_returnflag")
  }

  /** q26 — rolling 7-day revenue: the trailing time-RANGE window frame
    * (RANGE BETWEEN 6 PRECEDING AND CURRENT ROW over an epoch-day
    * key), the one windowing capability the tranche's ROWS-frame
    * running sums don't exercise — a RANGE frame widens correctly over
    * calendar GAPS (a missing day still bounds the trailing week by
    * VALUE, where a ROWS frame would silently reach further back).
    *
    * Scale shape: revenue pre-aggregates per day FIRST (map-side
    * combined, |days| rows out), so the unpartitioned window — global
    * by nature, like any corpus-wide time series — sorts day-count
    * rows, never orders. Sums stay DECIMAL through the window and cast
    * to double once at the end (exact in both engines).
    */
  def rollingRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = orders(s, dir)
      .groupBy(to_date($"o_orderdate".cast("timestamp")).as("day"))
      .agg(sum(dec($"o_totalprice")).as("rev"))
      .withColumn("day_n",
        datediff($"day", lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.orderBy($"day_n").rangeBetween(-6, 0)
    daily.select($"day",
        $"rev".cast("double").as("revenue"),
        sum($"rev").over(w).cast("double").as("rev7"),
        count(lit(1)).over(w).as("n7_days"))
      .orderBy($"day")
  }

  /** q24 — COLUMN PROFILER: per-column row/null/exact-distinct counts
    * plus typed extrema over lineitem — the Deequ-style data-quality
    * pass every ingest runs before a table is trusted, and a surface
    * family (profiling/validation) the relational tranche lacked.
    *
    * Scale shape — the part that matters at 100 TB: each column
    * profiles through its OWN narrow scan (parquet column pruning
    * means a 16-column table costs one column's IO per profile row,
    * and the scans parallelize independently), and exact distinct
    * counts come from a two-level aggregate (groupBy value → count
    * rows), NOT `count(distinct …)` — mixing several distinct
    * aggregates in one pass plans an Expand that multiplies the scan
    * by the aggregate count. Extrema are order-free; numerics emit as
    * double (int64/epoch-µs values here are < 2⁵³, so the cast is
    * exact), strings as strings — both engines compare bytes.
    */
  def columnProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = lineitem(s, dir)
    def base(v: org.apache.spark.sql.Column) =
      li.select(v.as("v")).groupBy($"v").agg(count(lit(1)).as("cnt"))
    def num(name: String, v: org.apache.spark.sql.Column): DataFrame =
      base(v).agg(
          sum($"cnt").as("n_rows"),
          coalesce(sum(when($"v".isNull, $"cnt")), lit(0L)).as("n_nulls"),
          count(when($"v".isNotNull, lit(1))).as("n_distinct"),
          min($"v").as("min_num"), max($"v").as("max_num"))
        .select(lit(name).as("col_name"), $"n_rows", $"n_nulls", $"n_distinct",
          $"min_num", $"max_num",
          lit(null).cast("string").as("min_str"),
          lit(null).cast("string").as("max_str"))
    def str(name: String, v: org.apache.spark.sql.Column): DataFrame =
      base(v).agg(
          sum($"cnt").as("n_rows"),
          coalesce(sum(when($"v".isNull, $"cnt")), lit(0L)).as("n_nulls"),
          count(when($"v".isNotNull, lit(1))).as("n_distinct"),
          min($"v").as("min_str"), max($"v").as("max_str"))
        .select(lit(name).as("col_name"), $"n_rows", $"n_nulls", $"n_distinct",
          lit(null).cast("double").as("min_num"),
          lit(null).cast("double").as("max_num"),
          $"min_str", $"max_str")
    Seq(
      num("l_orderkey", $"l_orderkey".cast("double")),
      num("l_quantity", $"l_quantity"),
      num("l_extendedprice", $"l_extendedprice"),
      num("l_discount", $"l_discount"),
      // µs-since-epoch: the e11/e14 integer-time convention (the cast
      // is a no-op on instant timestamps, required on NTZ reads).
      num("l_shipdate_us",
        unix_micros($"l_shipdate".cast("timestamp")).cast("double")),
      str("l_returnflag", $"l_returnflag"),
      str("l_linestatus", $"l_linestatus"))
      .reduce(_.union(_))
      .orderBy($"col_name")
  }

  /** q25 — INTEGRITY AUDIT: the constraint-validation half of the q24
    * profiler — primary-key uniqueness on (l_orderkey, l_linenumber)
    * and referential integrity lineitem→orders, reported as ONE
    * verdict row a pipeline gates on.
    *
    * Scale shape: uniqueness is the same two-level aggregate as q24
    * (groupBy the key → per-key multiplicities → 4 scalars; no
    * count-distinct Expand, no window); the FK orphan count is a
    * LEFT ANTI join on the orderkey — at scale both sides shuffle on
    * the join key once, and the audit output is a single row whatever
    * the table size. The two one-row frames compose with a broadcast
    * cross join (the t35 corpus-total convention).
    */
  def integrityAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = lineitem(s, dir)
    val keyStats = li.groupBy($"l_orderkey", $"l_linenumber")
      .agg(count(lit(1)).as("cnt"))
      .agg(sum($"cnt").as("n_rows"),
        count(lit(1)).as("n_keys"),
        coalesce(sum(when($"cnt" > 1, lit(1L))), lit(0L)).as("n_dup_keys"),
        max($"cnt").as("max_key_multiplicity"))
    val orphans = li.select($"l_orderkey")
      .join(orders(s, dir).select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey", "left_anti")
      .agg(count(lit(1)).as("fk_orphans"))
    keyStats.crossJoin(broadcast(orphans))
      .select($"n_rows", $"n_keys", $"n_dup_keys", $"max_key_multiplicity",
        $"fk_orphans",
        ($"n_dup_keys" === 0 && $"fk_orphans" === 0).as("clean"))
  }

  /** q27 — BIG SPENDERS (TPC-H Q18 shape, adapted to the available
    * columns): orders whose total line quantity exceeds 150, joined
    * back to their order and customer rows, top-20 by order value.
    * The distinct relational shape here is the aggregated-subquery
    * semi-join: a HAVING-filtered aggregate becomes the JOIN's build
    * side rather than an IN-subquery re-evaluated per row.
    *
    * Scale shape: lineitem aggregates on l_orderkey (the one big
    * shuffle); the HAVING cut then drops ~80 % of orders, and the
    * SURVIVOR SET — not lineitem — joins orders and customer. At
    * 100 TB the filtered aggregate is orders-of-magnitude smaller
    * than lineitem, so both joins shuffle only orders-sized inputs
    * on their natural keys, and the top-20 is a
    * TakeOrderedAndProject (no global sort materializes). Quantity
    * sums are decimal-exact (order-free), cast to double only at
    * presentation.
    */
  def bigSpenders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val big = lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(sum(dec($"l_quantity")).as("qty_dec"))
      .filter($"qty_dec" > 150)
    big.join(orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(customer(s, dir), $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"o_orderkey", $"o_totalprice",
        $"qty_dec".cast("double").as("total_qty"))
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(20)
  }

  /** q28 — NATION MARKET SHARE: per-nation revenue, its share of the
    * world total, and `percent_rank` across nations — the relative-
    * standing window function (0 = top nation, 1 = smallest) the q-family
    * didn't exercise (q05/q13 rank with row_number; percent_rank is
    * the normalized form that survives a changing nation count).
    *
    * Scale shape: orders shuffles once on custkey to meet customer;
    * nation is a broadcast; the aggregate collapses to |nations| rows,
    * so the unpartitioned share/percent_rank windows run over ~25 rows
    * regardless of fact-table size. Revenue sums are decimal-exact;
    * the one double division (share) happens after the window total,
    * on correctly-rounded casts.
    */
  /** q29 — SMALL-QUANTITY REVENUE (TPC-H Q17 shape): revenue locked
    * in lineitems whose quantity is below 20 % of their part's
    * average — the correlated-aggregate pattern (each row compared
    * against ITS group's statistic).
    *
    * The naive form divides (avg = sum/count) and compares doubles;
    * engines round decimal division differently, so the predicate is
    * algebraized to exact integers instead: qty < s/(5c) ⟺
    * 5·qty·c < s — decimal·int products on both sides, no division,
    * bit-identical in any engine.
    *
    * Scale shape: the per-part aggregate and the fact table shuffle
    * on the SAME key (l_partkey), so the join is co-partitioned —
    * no broadcast needed however many parts; the verdict is one row.
    */
  def smallQuantityRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pa = lineitem(s, dir)
      .groupBy($"l_partkey")
      .agg(sum(dec($"l_quantity")).as("s_qty"), count(lit(1)).as("n_li"))
    lineitem(s, dir)
      .join(pa, "l_partkey")
      .filter(dec($"l_quantity") * lit(5) * $"n_li" < $"s_qty")
      .agg(count(lit(1)).as("n_small"),
        sum(dec($"l_extendedprice")).as("rev_dec"))
      .select($"n_small",
        $"rev_dec".cast("double").as("revenue"),
        ($"rev_dec".cast("double") / lit(7.0)).as("avg_yearly"))
  }

  /** q30 — HIGH-BALANCE LOW-ENGAGEMENT CUSTOMERS (TPC-H Q22 shape,
    * adapted: this generator gives every customer orders, so "never
    * ordered" is the empty set and the engagement cut is an order
    * count < 8 instead): customers whose balance beats the positive-
    * balance average but who order rarely, rolled up by nation — the
    * scalar-subquery-threshold + per-row-history + small-dim rollup
    * combination. The average comparison is algebraized to exact
    * decimals (bal·n_pos > sum_pos, the q29 discipline).
    *
    * Scale shape: the order count aggregates on custkey and joins
    * customer CO-PARTITIONED on the same key; the threshold is a
    * one-row broadcast; nation broadcasts; output is |nations| rows.
    */
  def idleRichCustomers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = customer(s, dir)
    val thr = c.filter($"c_acctbal" > 0.0)
      .agg(sum(dec($"c_acctbal")).as("sum_pos"), count(lit(1)).as("n_pos"))
    val cnt = orders(s, dir).groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_ord"))
    c.join(cnt, $"c_custkey" === $"o_custkey", "left")
      .withColumn("n_orders", coalesce($"n_ord", lit(0L)))
      .filter($"n_orders" < 8)
      .crossJoin(broadcast(thr))
      .filter(dec($"c_acctbal") * $"n_pos" > $"sum_pos")
      .join(broadcast(nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_custs"),
        sum($"n_orders").as("sum_orders"),
        sum(dec($"c_acctbal")).as("bal_dec"))
      .select($"n_name", $"n_custs", $"sum_orders",
        $"bal_dec".cast("double").as("total_acctbal"))
      .orderBy($"n_name")
  }

  /** q31 — PARETO CONCENTRATION: how few customers carry 80 % of
    * revenue. Customers rank by decimal-exact spend; a running
    * decimal cumsum finds the 80 %-crossing rank; the verdict row
    * reports that head count, its share of the customer base, and
    * the head's exact revenue share. The threshold compare is
    * decimal-integer algebra (cum·100 ≥ total·80 — the q29
    * discipline), so the crossing rank is engine-exact.
    *
    * Scale shape — the range-partitioned distributed CDF (the
    * round-15 verdict's rewrite of the original single-task global
    * window): after the custkey aggregate (the only corpus-sized
    * shuffle), the spend table range-partitions on the global rank
    * order; pass 1 reduces each range to (sum, count) — ONE row per
    * partition, an AQE-stats-sized driver readback — whose prefix
    * sums are exact decimal offsets and locate the single partition
    * containing the 80 %-crossing; pass 2 runs the rank/cumsum window
    * INSIDE that one range (partitionBy the range id, never a global
    * sort), shifted by the broadcast offsets. Every window is
    * range-bounded, the crossing range is the only one that sorts,
    * and all arithmetic stays in exact decimals, so the crossing rank
    * is bit-identical to the oracle's single global cumsum. Spend is
    * strictly positive, so the global cumsum is monotone and the
    * first crossing range found from the prefix sums IS the range
    * holding the first crossing row.
    */
  def paretoConcentration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spend = orders(s, dir)
      .groupBy($"o_custkey")
      .agg(sum(dec($"o_totalprice")).as("spend_dec"))
    // Range count: deployments tune it like shuffle.partitions (each
    // range must fit one task's sort); the session default is right at
    // test scale and is NOT a correctness knob.
    val nRanges = s.conf.getOption("spark.graft.pareto.ranges")
      .map(_.toInt).getOrElse(s.conf.get("spark.sql.shuffle.partitions").toInt)
    // Pin the range layout: pass 1 (stats) and pass 2 (window) must
    // observe the SAME partitioning, and the range boundaries come
    // from a sampling pass that a re-execution could redraw.
    val ranged = spend
      .repartitionByRange(nRanges, $"spend_dec".desc, $"o_custkey".asc)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    // Pass 1: one (sum, count) row per range — driver state is
    // |ranges| rows (the AQE-stats scale), never customer rows.
    val stats = ranged.groupBy($"pid")
      .agg(sum($"spend_dec").as("psum"), count(lit(1)).as("pcnt"))
      .collect()
      .map(r => (r.getInt(0), r.getDecimal(1), r.getLong(2)))
      .sortBy(_._1)
    // Empty spend table (empty/filtered-out orders): the pre-rewrite
    // global-window form returned an empty frame; preserve that instead
    // of letting reduce/head throw on the empty stats array.
    if (stats.isEmpty)
      return ranged.limit(0)
        .select(lit(0L).as("head_customers"), lit(0L).as("n_custs"),
          lit(0.0).as("head_frac"), lit(0.0).as("head_rev_share"))
    val total = stats.map(_._2).reduce(_ add _)
    val nCusts = stats.map(_._3).sum
    val eighty = total.multiply(new java.math.BigDecimal(80))
    // First range whose inclusive prefix crosses 80 % of total, plus
    // the exact decimal/rank offsets of everything BEFORE it.
    var acc = java.math.BigDecimal.ZERO
    var rkOff = 0L
    var cross = stats.head
    var found = false
    for (st <- stats if !found) {
      if (acc.add(st._2).multiply(new java.math.BigDecimal(100))
            .compareTo(eighty) >= 0) { cross = st; found = true }
      else { acc = acc.add(st._2); rkOff += st._3 }
    }
    // Pass 2: rank + cumsum inside the crossing range only, shifted
    // by the broadcast offsets — a range-sized sort, not a global one.
    val w = Window.partitionBy($"pid")
      .orderBy($"spend_dec".desc, $"o_custkey")
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.filter($"pid" === cross._1)
      .withColumn("rk", row_number().over(w).cast("long") + lit(rkOff))
      .withColumn("cum_dec", sum($"spend_dec").over(wCum) + lit(acc))
      .filter($"cum_dec" * 100 >= lit(total) * 80)
      .orderBy($"rk")
      .limit(1)
      .select($"rk".as("head_customers"), lit(nCusts).as("n_custs"),
        ($"rk".cast("double") / lit(nCusts).cast("double")).as("head_frac"),
        ($"cum_dec".cast("double") / lit(total).cast("double")).as("head_rev_share"))
  }

  /** q32 — SUPPLIERS WHO KEPT ORDERS WAITING (the TPC-H Q21 shape on
    * this schema: no commit/receipt dates here, so "late" = shipped
    * more than 60 days after the order date): for finalized orders
    * ('F'), count per supplier the orders where THIS supplier shipped
    * late, at least one other supplier participated, and NO other
    * supplier was late — the sole-blame report. Q21's textbook form
    * is a double correlated EXISTS / NOT EXISTS self-join; the
    * scalable rewrite used here replaces both with ONE (order,
    * supplier) aggregate and ONE order-level rollup of it: blame =
    * supplier late ∧ n_supps ≥ 2 ∧ n_late_supps = 1 — three integer
    * facts, no per-row re-probing of lineitem.
    *
    * Scale shape: lineitem joins orders on the order key once (the
    * only fact-sized shuffle); everything after runs over the
    * (order, supplier)-reduced table; supplier names broadcast; top-20
    * via TakeOrdered, no global sort.
    */
  def blameSuppliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lo = lineitem(s, dir)
      .join(orders(s, dir).filter($"o_orderstatus" === "F")
        .select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_suppkey",
        ($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS")).as("late"))
    val perSupp = lo.groupBy($"l_orderkey", $"l_suppkey")
      .agg(max($"late".cast("int")).as("supp_late"))
    val perOrder = perSupp.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_supps"), sum($"supp_late").as("n_late"))
    perSupp.filter($"supp_late" === 1)
      .join(perOrder, Seq("l_orderkey"))
      .filter($"n_supps" >= 2 && $"n_late" === 1)
      .groupBy($"l_suppkey").agg(count(lit(1)).as("numwait"))
      // supplier is SF-scaling (SF×10k rows) — no broadcast hint; AQE
      // broadcasts it when it fits, shuffle-joins when it doesn't.
      .join(supplier(s, dir).select($"s_suppkey", $"s_name"),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"numwait")
      .orderBy($"numwait".desc, $"s_name", $"s_suppkey")
      .limit(20)
  }

  def nationMarketShare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = orders(s, dir)
      .join(customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum(dec($"o_totalprice")).as("rev_dec"))
    val wAll = Window.partitionBy(lit(1))
    val wRank = Window.orderBy($"rev_dec".desc, $"n_name")
    rev
      .withColumn("total_dec", sum($"rev_dec").over(wAll))
      .withColumn("revenue", $"rev_dec".cast("double"))
      .withColumn("share",
        $"rev_dec".cast("double") / $"total_dec".cast("double"))
      .withColumn("rev_rank", row_number().over(wRank).cast("long"))
      .withColumn("pct_rank", percent_rank().over(wRank))
      .select($"n_name", $"revenue", $"share", $"rev_rank", $"pct_rank")
      .orderBy($"rev_rank")
  }

  /** q33 — TPC-H Q7-shaped NATION TRADE: revenue flowing from supplier
    * nation to customer nation per ship-year, cross-border pairs only
    * (spark_entity_counter.py has no relational surface — this extends
    * the q03/q28 join family per SURVEY §7.3's TPC-H track).
    *
    * Scale shape: lineitem joins orders and the custkey/suppkey
    * dimensions on their keys (AQE picks broadcast at small SF,
    * shuffled hash at 100 TB — the q03 discipline); both nation maps
    * are CONSTANT 25-row broadcasts, so adding the second nation leg
    * costs no shuffle. The aggregate output is ≤ |nations|²·|years|
    * rows. Revenue sums in exact decimal; the cross-border filter
    * compares integer nationkeys.
    */
  def nationTrade(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = dec($"l_extendedprice") *
      (lit(1).cast(DecimalType(3, 2)) - $"l_discount".cast(DecimalType(4, 3)))
    val n1 = broadcast(nation(s, dir)
      .select($"n_nationkey".as("sk"), $"n_name".as("supp_nation")))
    val n2 = broadcast(nation(s, dir)
      .select($"n_nationkey".as("ck"), $"n_name".as("cust_nation")))
    lineitem(s, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate",
        $"l_extendedprice", $"l_discount")
      .join(orders(s, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(customer(s, dir).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(supplier(s, dir).select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .filter($"s_nationkey" =!= $"c_nationkey")
      .join(n1, $"s_nationkey" === $"sk")
      .join(n2, $"c_nationkey" === $"ck")
      .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate").cast("long").as("ship_year"))
      .agg(count(lit(1)).as("n_items"), sum(rev).cast("double").as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"ship_year")
  }

  /** q34 — TPC-H Q9-shaped PROFIT BY NATION-YEAR: per supplier-nation
    * and order-year, profit = revenue − cost where cost proxies as
    * 60 % of the part's retail price per unit (the generator ships no
    * partsupp/supplycost table; the JOIN SHAPE — fact × part ×
    * supplier × nation × orders with a part-name predicate — is the
    * Q9 plan, which is what this query pins). Parts filter on
    * p_type = 'PROMO' BEFORE the join, so the probe side
    * prunes at the scan.
    *
    * Scale shape: lineitem joins the FILTERED part projection (AQE
    * broadcasts it while it fits, shuffles beyond), then orders and
    * supplier on their keys; nation is the constant broadcast. All
    * money stays decimal until the final cast; the 0.60 cost factor
    * is a DECIMAL(3,2) literal so cost = qty·price·0.60 is exact.
    */
  def profitByNation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = dec($"l_extendedprice") *
      (lit(1).cast(DecimalType(3, 2)) - $"l_discount".cast(DecimalType(4, 3)))
    // Narrow casts keep every product inside DECIMAL(38): (9,4)·(3,2)
    // = (13,6), ·(12,4) = (26,10) — wide (18,4) operands would push
    // the triple product past precision 38, where Spark CLIPS scale
    // (rounding) and engines stop agreeing.
    val cost = $"l_quantity".cast(DecimalType(9, 4)) *
      lit("0.60").cast(DecimalType(3, 2)) *
      $"p_retailprice".cast(DecimalType(12, 4))
    val p = part(s, dir).filter($"p_type" === "PROMO")
      .select($"p_partkey", $"p_retailprice")
    lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey",
        $"l_quantity", $"l_extendedprice", $"l_discount")
      .join(p, $"l_partkey" === $"p_partkey")
      .join(orders(s, dir).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .join(supplier(s, dir).select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .join(broadcast(nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name".as("nation"), year($"o_orderdate").cast("long").as("o_year"))
      .agg(count(lit(1)).as("n_items"),
        sum(rev).cast("double").as("revenue"),
        sum(cost).cast("double").as("cost"),
        sum(rev - cost).cast("double").as("profit"))
      .orderBy($"nation", $"o_year")
  }

  /** q35 — TPC-H Q16-shaped SUPPLIER VARIETY: how many distinct
    * suppliers have shipped each (brand, type, size) part class,
    * excluding blacklisted suppliers (negative account balance — the
    * generator has no comment column for Q16's complaint predicate;
    * the anti-join SHAPE is the point). The assortment-breadth query
    * a buyer runs; relationally it pins the one aggregate form the
    * q-family still lacked: COUNT(DISTINCT fact-side key) per
    * dimension group over a join.
    *
    * Scale shape: the blacklist is a filtered-dimension anti-join
    * (broadcast at any realistic scale — suppliers in arrears are a
    * slice of a linear-size table; AQE decides); part broadcasts per
    * the q04 argument. The distinct runs as TWO-LEVEL aggregates —
    * first (brand, type, size, suppkey) distinct (map-side combined,
    * fact-sized shuffle ONCE), then the group count — never a
    * count-distinct Expand, the q24 discipline.
    */
  /** q37 — DOMINANT-SUPPLIER AUDIT (TPC-H Q20 shape, adapted — this
    * schema ships no partsupp, so availability becomes shipped
    * volume): for PROMO parts, the suppliers who shipped MORE THAN
    * TWICE a part's fair per-supplier share (qty_s·n_supp >
    * 2·qty_total — this generator spreads parts over ~30 suppliers,
    * so an absolute >50% bar is empty at every scale; the
    * concentration-vs-peers bar is the form that survives any
    * supplier fan-out) — the single-source-risk list a procurement
    * review reads, and relationally the Q20 nesting the q-family
    * still lacked: an aggregate-derived per-group threshold (part
    * total + supplier count) gating a semi-join back to the entity
    * list (supplier), rolled up by nation. The share compare is
    * algebraized to exact decimal·integer products (the q29
    * discipline; no division anywhere), so the verdict is
    * engine-exact.
    *
    * Scale shape: both aggregates shuffle lineitem ONCE on partkey
    * (the per-(part, supplier) rollup re-aggregates to the part
    * total — identical subtree, one scan); the PROMO part slice and
    * supplier are SF-SCALING, so neither carries a broadcast hint —
    * AQE broadcasts them while they fit and shuffle-joins past that;
    * nation (fixed 25 rows) broadcasts. Output is |nations| rows of
    * count/countDistinct/sum rollups, never a per-row re-probe of
    * lineitem.
    */
  def dominantSuppliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val promo = part(s, dir).filter($"p_type" === "PROMO").select($"p_partkey")
    val ps = lineitem(s, dir)
      .join(promo, $"l_partkey" === $"p_partkey")
      .select($"l_partkey", $"l_suppkey", $"l_quantity")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(sum(dec($"l_quantity")).as("qty_s"))
    val tot = ps.groupBy($"l_partkey")
      .agg(sum($"qty_s").as("qty_total"), count(lit(1)).as("n_supp"))
    val dominant = ps.join(tot, Seq("l_partkey"))
      .filter($"qty_s" * $"n_supp" > $"qty_total" * lit(2))
    dominant
      .join(supplier(s, dir).select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .join(broadcast(nation(s, dir).select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name".as("nation"))
      .agg(count(lit(1)).as("n_dominated_parts"),
        countDistinct($"s_suppkey").as("n_suppliers"),
        sum($"qty_s").cast("double").as("dominated_qty"))
      .orderBy($"nation")
  }

  /** q38 — INCREMENTAL AGGREGATE MAINTENANCE: the materialized-view
    * delta-fold a 100 TB pipeline runs nightly instead of ever
    * rescanning history. The fact table splits into a BASE (history)
    * and a DELTA (the day's arrivals — here the l_orderkey % 10 = 0
    * slice); a q01-style pricing summary is maintained by MERGING the
    * delta's partial aggregate into the base's (sums add, counts add
    * — every state is decomposable), and the op emits both the merged
    * and the directly-recomputed aggregate per group with a `matches`
    * verdict. The point the audit certifies: because the aggregation
    * state is DECIMAL/BIGINT (exactly associative), merge == full
    * recompute BIT FOR BIT — which is precisely why the engine keeps
    * money in decimal through every aggregate (a float sum would make
    * the nightly fold drift from the quarterly recompute).
    *
    * Scale shape: at scale the base aggregate is the STORED view
    * (groups-sized, not fact-sized) — only the delta is scanned and
    * shuffled; here base and delta slice ONE
    * (returnflag, is_delta)-grouped aggregate (the shuffle subtree is
    * identical, so ReusedExchange evaluates the scan + partial
    * aggregate once), while `full` deliberately pays its own second
    * scan — an INDEPENDENT recompute is the whole point of the audit
    * (deriving it from the same partials would certify nothing). The
    * merge is a groups-sized outer join. No window, no cross join;
    * output is |returnflag| rows.
    */
  def incrementalAggMaintenance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = lineitem(s, dir)
      .select($"l_returnflag", $"l_orderkey", dec($"l_quantity").as("qty"),
        dec($"l_extendedprice").as("price"))
    val split = li.groupBy($"l_returnflag", ($"l_orderkey" % 10 === 0).as("is_delta"))
      .agg(count(lit(1)).as("n"), sum($"qty").as("sq"), sum($"price").as("sp"))
    val base = split.filter(!$"is_delta")
      .select($"l_returnflag", $"n".as("n_b"), $"sq".as("sq_b"), $"sp".as("sp_b"))
    val delta = split.filter($"is_delta")
      .select($"l_returnflag", $"n".as("n_d"), $"sq".as("sq_d"), $"sp".as("sp_d"))
    val full = li.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"qty").as("sq"), sum($"price").as("sp"))
    val zeroDec = lit("0.0000").cast(DecimalType(28, 4))
    base.join(delta, Seq("l_returnflag"), "full_outer")
      .select($"l_returnflag",
        (coalesce($"n_b", lit(0L)) + coalesce($"n_d", lit(0L))).as("n_merged"),
        (coalesce($"sq_b", zeroDec) + coalesce($"sq_d", zeroDec)).as("sq_merged"),
        (coalesce($"sp_b", zeroDec) + coalesce($"sp_d", zeroDec)).as("sp_merged"),
        coalesce($"n_d", lit(0L)).as("n_delta"))
      .join(full, Seq("l_returnflag"))
      .withColumn("matches",
        $"n_merged" === $"n" && $"sq_merged" === $"sq" && $"sp_merged" === $"sp")
      .select($"l_returnflag", $"n_delta", $"n_merged", $"n".as("n_full"),
        $"sq_merged".cast("double").as("sum_qty_merged"),
        $"sq".cast("double").as("sum_qty_full"),
        $"sp_merged".cast("double").as("sum_price_merged"),
        $"sp".cast("double").as("sum_price_full"),
        $"matches")
      .orderBy($"l_returnflag")
  }

  /** q36 — Z-ORDER LAYOUT AUDIT: the data-skipping planner's
    * comparison of two physical layouts of the same fact table. At
    * 100 TB, which rows share a parquet file decides how many files a
    * rectangular predicate can SKIP from footer min/max stats alone —
    * the single biggest scan lever after partition pruning (Delta/
    * Iceberg `OPTIMIZE ZORDER BY` exists for exactly this). Both keys
    * are range-normalized to 4 bits ((v − min)·16 div span — the
    * planner's equi-width histogram), then:
    * `zorder` files = top-4-bits of the bit-interleaved z-value (a
    * 4×4 grid over BOTH dims), `linear` files = the partkey sixteenth
    * (single-dim sort layout). Per (layout, file): row count, true
    * min/max footer stats of both keys, and whether the fixed 2-D
    * predicate (middle partkey quarter × top suppkey quarter) can
    * prune the file from its stats. Linear layout prunes only on the
    * sort key (suppkey stats span everything); z-order prunes on both
    * — the audit MEASURES that from the stats it computes.
    *
    * Determinism: every derivation is integer arithmetic (div/shift/
    * mask) from exact min/max aggregates — no floats anywhere.
    *
    * Scale shape: TWO narrow two-column scans total — one for the
    * key-range stats row (a one-row broadcast, q16 class) and ONE
    * data pass that serves BOTH layouts: each row explodes into its
    * two (layout, file_id) tags before the partial aggregate, so
    * map-side combine collapses the fan-out to ≤32 groups per task
    * and the shuffle carries 32 rows. The stats constants ride
    * through the aggregate (min of a broadcast constant), so the
    * prune verdict needs no second stats join. The audit itself is
    * what you run BEFORE paying the real layout rewrite's global
    * sort.
    */
  def zorderLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val st = lineitem(s, dir).agg(
      min($"l_partkey").cast("long").as("pk_min"),
      max($"l_partkey").cast("long").as("pk_max"),
      min($"l_suppkey").cast("long").as("sk_min"),
      max($"l_suppkey").cast("long").as("sk_max"))
    val zExpr = (0 until 4).map(i =>
      s"(shiftleft(shiftright(xp, $i) & 1, ${2 * i}) + shiftleft(shiftright(yp, $i) & 1, ${2 * i + 1}))")
      .mkString(" + ")
    val files = lineitem(s, dir)
      .select($"l_partkey".cast("long").as("pk"), $"l_suppkey".cast("long").as("sk"))
      .crossJoin(broadcast(st))
      .withColumn("xp", expr("(pk - pk_min) * 16 div (pk_max - pk_min + 1)"))
      .withColumn("yp", expr("(sk - sk_min) * 16 div (sk_max - sk_min + 1)"))
      .withColumn("file_z", expr(s"($zExpr) div 16"))
      .withColumn("file_lin", $"xp")
    files
      .select(explode(array(
          struct(lit("linear").as("layout"), $"file_lin".as("file_id")),
          struct(lit("zorder").as("layout"), $"file_z".as("file_id")))).as("lf"),
        $"pk", $"sk", $"pk_min", $"pk_max", $"sk_min", $"sk_max")
      .groupBy($"lf.layout".as("layout"), $"lf.file_id".as("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min($"pk").as("min_pk"), max($"pk").as("max_pk"),
        min($"sk").as("min_sk"), max($"sk").as("max_sk"),
        min($"pk_min").as("pk_min"), min($"pk_max").as("pk_max"),
        min($"sk_min").as("sk_min"), min($"sk_max").as("sk_max"))
      .withColumn("prunable",
        expr("max_pk < pk_min + (pk_max - pk_min + 1) * 4 div 16 OR " +
             "min_pk > pk_min + (pk_max - pk_min + 1) * 8 div 16 - 1 OR " +
             "max_sk < sk_min + (sk_max - sk_min + 1) * 12 div 16 OR " +
             "min_sk > sk_max"))
      .select($"layout", $"file_id", $"n_rows",
        $"min_pk", $"max_pk", $"min_sk", $"max_sk", $"prunable")
      .orderBy($"layout", $"file_id")
  }

  /** q39 — JOIN-CARDINALITY ESTIMATION AUDIT: the optimizer's own
    * question — how big would `orders ⋈ lineitem ON order date =
    * ship date` be? — answered three ways: (a) the textbook
    * independence estimate |O|·|L| / max(ndv_O, ndv_L), (b) a
    * 16-bucket hashed-histogram estimate Σ_b n_O(b)·n_L(b) /
    * max(ndv_O(b), ndv_L(b)) — the per-bucket refinement every
    * cost-based optimizer keeps, and (c) the EXACT size
    * Σ_d c_O(d)·c_L(d) computed from the per-date count tables
    * (never by materializing the fact-sized join itself). A
    * date-equi join is chosen deliberately: BOTH sides carry real
    * multiplicity, so the estimators genuinely diverge — on a
    * key/foreign-key join the audit is vacuous. This is the stats
    * infrastructure a 100 TB engine consults before picking
    * broadcast-vs-shuffle; the audit measures how wrong each
    * granularity is on real data.
    *
    * Determinism: all counts/ndvs/products are exact BIGINTs (< 2⁵³
    * at any bench scale); est_naive is ONE IEEE divide; est_hist's 16
    * per-bucket divides fold in BUCKET ORDER (the t20 sorted-fold
    * discipline).
    *
    * Scale shape: each side reduces to a |dates|-sized count table in
    * one map-side-combined aggregate (dates are calendar-bounded —
    * thousands of rows at ANY corpus size); every join and fold after
    * that is date- or bucket-sized. The one-row arms assemble by
    * broadcast cross join (whitelisted, q16 class).
    */
  def joinEstimate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val epoch = to_date(lit("1992-01-01"))
    val od = orders(s, dir).select(to_date($"o_orderdate").as("d"))
      .groupBy($"d").agg(count(lit(1)).as("oc"))
    val ld = lineitem(s, dir).select(to_date($"l_shipdate").as("d"))
      .groupBy($"d").agg(count(lit(1)).as("lc"))
    val totO = od.agg(sum($"oc").as("n_orders"), count(lit(1)).as("ndv_dates_o"))
    val totL = ld.agg(sum($"lc").as("n_lineitems"), count(lit(1)).as("ndv_dates_l"))
    val actual = od.join(ld, Seq("d"))
      .agg(coalesce(sum($"oc" * $"lc"), lit(0L)).as("actual_pairs"))
    val bo = od.withColumn("hb16", datediff($"d", epoch) % 16)
      .groupBy($"hb16").agg(sum($"oc").as("no_b"), count(lit(1)).as("ndvo_b"))
    val bl = ld.withColumn("hb16", datediff($"d", epoch) % 16)
      .groupBy($"hb16").agg(sum($"lc").as("nl_b"), count(lit(1)).as("ndvl_b"))
    val hist = bo.join(bl, Seq("hb16"))
      .withColumn("contrib", ($"no_b" * $"nl_b").cast("double") /
        greatest($"ndvo_b", $"ndvl_b").cast("double"))
      .agg(expr("aggregate(transform(sort_array(collect_list(struct(hb16, contrib))), " +
        "x -> x.contrib), 0D, (a, x) -> a + x)").as("est_hist"))
    totO.crossJoin(broadcast(totL))
      .crossJoin(broadcast(actual))
      .crossJoin(broadcast(hist))
      .select($"n_orders", $"n_lineitems", $"ndv_dates_o", $"ndv_dates_l",
        $"actual_pairs",
        (($"n_orders" * $"n_lineitems").cast("double") /
          greatest($"ndv_dates_o", $"ndv_dates_l").cast("double")).as("est_naive"),
        $"est_hist")
  }

  /** q40 — LATEST-ROW-PER-KEY COMPACTION (the CDC-read shape): each
    * customer's most recent order, produced by the aggregate argmax —
    * `max_by(payload, struct(o_orderdate, o_orderkey))` — beside a
    * `matches` verdict recomputing the same row through the textbook
    * row_number()-over-window arm. The point is the SCALE contrast
    * the verdict certifies equivalent: the window arm sorts every
    * key's whole history inside its partition; max_by keeps ONE row
    * of state per key and merges map-side — at 100 TB, compacting a
    * change log into current-state is the argmax aggregate, never a
    * global per-key sort. The argmax ordinal is an exact BIGINT
    * composite day_index·10¹⁰ + o_orderkey (DuckDB's arg_max takes no
    * struct ordinal, so both engines rank on the identical integer);
    * ties are impossible because the composite ends on the unique
    * order key — that is what makes the argmax deterministic
    * cross-engine.
    *
    * Scale shape: ONE map-side-combined aggregate per arm on the same
    * key (identical shuffle subtree → ReusedExchange); output bounded
    * to a fixed key slice for the dump, the q21 convention.
    */
  def latestOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = orders(s, dir).filter($"o_custkey" <= 100)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
      .withColumn("ord",
        datediff(to_date($"o_orderdate"), to_date(lit("1992-01-01")))
          .cast("long") * lit(10000000000L) + $"o_orderkey")
    val agg = o.groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        expr("max_by(o_orderkey, ord)").as("last_orderkey"),
        expr("max_by(o_orderdate, ord)").as("last_date"),
        expr("max_by(o_totalprice, ord)").as("last_price"))
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    val win = o.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"o_custkey", $"o_orderkey".as("w_orderkey"))
    agg.join(win, Seq("o_custkey"))
      .withColumn("matches", $"last_orderkey" === $"w_orderkey")
      .select($"o_custkey", $"n_orders", $"last_orderkey",
        to_date($"last_date").as("last_date"),
        $"last_price".cast("double").as("last_price"), $"matches")
      .orderBy($"o_custkey")
  }

  /** q41 — FULL-SCHEMA FOREIGN-KEY AUDIT: every FK edge of the
    * schema checked in one report — child row count, orphan count
    * (child keys with no parent), and an `ok` verdict per edge. q25
    * audits ONE relationship deeply (plus PK uniqueness); this is the
    * breadth pass a data contract runs nightly across the whole
    * schema graph, the table whose single failing row tells you which
    * ingest job broke.
    *
    * Scale shape: each edge is one left join + one aggregate; the
    * fixed dims (nation, region) broadcast by hint, every SF-scaling
    * parent (customer, supplier, part, orders) is left to AQE, and
    * the fact-side edges shuffle lineitem/orders once each on the
    * join key (AQE picks broadcast when the parent fits — at this
    * schema's shape every parent is the smaller side). The 7 one-row arms
    * union into a 7-row report; null child keys count as orphans
    * (a null FK violates the contract too).
    */
  def fkAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // `hint`: broadcast only the FIXED-cardinality parents (nation =
    // 25 rows, region = 5 rows). Every other parent key set —
    // orders, customer, AND part/supplier (TPC-H: SF×200k / SF×10k
    // rows) — scales with SF, so forcing a broadcast hint there would
    // override AQE's size-based choice and collect a fact-scale key
    // set to the driver at the design point; those edges leave the
    // decision to AQE.
    def edge(name: String, child: DataFrame, ck: String,
             parent: DataFrame, pk: String, hint: Boolean): DataFrame = {
      val keys = parent.select(col(pk).as("__pk")).distinct()
        .withColumn("__present", lit(1))
      val p = if (hint) broadcast(keys) else keys
      child.select(col(ck).as("__ck"))
        .join(p, $"__ck" === $"__pk", "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when($"__present".isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("fk"), $"n_rows", $"n_orphans",
          ($"n_orphans" === 0L).as("ok"))
    }
    val li = lineitem(s, dir)
    Seq(
      edge("customer.c_nationkey->nation", customer(s, dir), "c_nationkey",
        nation(s, dir), "n_nationkey", hint = true),
      edge("lineitem.l_orderkey->orders", li, "l_orderkey",
        orders(s, dir), "o_orderkey", hint = false),
      edge("lineitem.l_partkey->part", li, "l_partkey",
        part(s, dir), "p_partkey", hint = false),
      edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
        supplier(s, dir), "s_suppkey", hint = false),
      edge("nation.n_regionkey->region", nation(s, dir), "n_regionkey",
        region(s, dir), "r_regionkey", hint = true),
      edge("orders.o_custkey->customer", orders(s, dir), "o_custkey",
        customer(s, dir), "c_custkey", hint = false),
      edge("supplier.s_nationkey->nation", supplier(s, dir), "s_nationkey",
        nation(s, dir), "n_nationkey", hint = true))
      .reduce(_ union _)
      .orderBy($"fk")
  }

  /** q42 — UNPIVOT (melt) round-trip: q17's wide status×priority
    * matrix melted back to long form with the DataFrame `unpivot`
    * operator (Spark 3.4+'s melt — the one reshaping primitive the
    * q-family had not yet exercised), with a `matches` verdict
    * joining each melted cell against the direct (status, priority)
    * aggregate. Wide→long is what a feature store runs before any
    * per-(entity, feature) treatment; the verdict certifies the
    * pivot/unpivot pair is lossless including the zero-fill cells
    * (absent combinations melt to 0 and must match a 0-count left
    * join, not disappear).
    *
    * Scale shape: one aggregate feeds the pivot (|statuses| rows
    * wide); unpivot is a per-row Expand over 5 literals; the verdict
    * join is against the same aggregate re-grouped (tiny). Nothing
    * here scales with the fact table except the first aggregate.
    */
  def priorityMelt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wide = statusPriorityPivot(s, dir)
    val long = wide.unpivot(
      Array($"o_orderstatus"),
      Array($"urgent", $"high", $"medium", $"unspecified", $"low"),
      "priority", "n")
    val direct = orders(s, dir)
      .groupBy($"o_orderstatus",
        when($"o_orderpriority" === "1-URGENT", "urgent")
          .when($"o_orderpriority" === "2-HIGH", "high")
          .when($"o_orderpriority" === "3-MEDIUM", "medium")
          .when($"o_orderpriority" === "4-NOT SPECIFIED", "unspecified")
          .otherwise("low").as("priority"))
      .agg(count(lit(1)).as("n_direct"))
    long.join(direct, Seq("o_orderstatus", "priority"), "left")
      .withColumn("matches", $"n" === coalesce($"n_direct", lit(0L)))
      .select($"o_orderstatus", $"priority", $"n", $"matches")
      .orderBy($"o_orderstatus", $"priority")
  }

  /** q43 — TOP SUPPLIER BY QUARTER REVENUE (TPC-H Q15 shape): the
    * revenue view over one quarter, then the suppliers whose total
    * EQUALS the view's maximum — the classic "create view + where
    * total = (select max from view)" nesting, which q02/q06's top-k
    * forms don't exercise (equality-to-aggregate can return several
    * rows and must not break ties). The equality compares DECIMALS —
    * exact, engine-independent — and only the reported revenue casts
    * to double at the very end.
    *
    * Scale shape: ONE filtered lineitem aggregate (predicate pushed
    * to the scan) referenced twice — the max is a one-row broadcast
    * onto the supplier-cardinality view (whitelisted, q16 class);
    * supplier is SF-scaling so its name join carries NO hint (AQE
    * decides). Output is the argmax set.
    */
  def topQuarterSupplier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = dec($"l_extendedprice") *
      (lit(1).cast(DecimalType(3, 2)) - $"l_discount".cast(DecimalType(4, 3)))
    val view = lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
              $"l_shipdate" <  lit("1996-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(sum(rev).as("total_dec"))
    val mx = view.agg(max($"total_dec").as("max_dec"))
    view.crossJoin(broadcast(mx))
      .filter($"total_dec" === $"max_dec")
      .join(supplier(s, dir).select($"s_suppkey", $"s_name"),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_dec".cast("double").as("total_revenue"))
      .orderBy($"s_suppkey")
  }

  /** q44 — MIN-COST SUPPLIER (the TPC-H Q2 shape, adapted to this
    * schema: lineitem is the supply-price fact since partsupp is not
    * generated): for every small part (p_size <= 10), the supplier(s)
    * whose total supply cost is that part's MINIMUM, found via a
    * CORRELATED scalar subquery — the decorrelation surface
    * (RewriteCorrelatedScalarSubquery) no other registered query
    * exercises: Catalyst rewrites the per-row `= (SELECT min ...)`
    * into a partkey-grouped aggregate equi-joined back, so the plan
    * is two passes over the (part, supplier) rollup, never a
    * per-row re-execution.
    *
    * Determinism: costs are exact DECIMAL sums compared exactly; the
    * one double cast is Spark's correctly-rounded decimal→double (the
    * oracle routes through VARCHAR per house rule). Ties keep both
    * suppliers (Q2 semantics), output totally ordered.
    *
    * Scale shape: the rollup is (part × supplier)-cardinality — far
    * below the fact table; the decorrelated min re-aggregates it and
    * joins on p_partkey (shuffle equi-join, AQE free to broadcast the
    * min side); p_size pushes into the part scan.
    */
  def minCostSupplier(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir).createOrReplaceTempView("v_lineitem")
    part(s, dir).createOrReplaceTempView("v_part")
    supplier(s, dir).createOrReplaceTempView("v_supplier")
    s.sql("""
      WITH ps AS (SELECT l_partkey, l_suppkey,
                    sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS cost
                  FROM v_lineitem GROUP BY l_partkey, l_suppkey)
      SELECT p.p_partkey, p.p_brand, d.l_suppkey AS s_suppkey, s.s_name,
        CAST(d.cost AS DOUBLE) AS min_cost
      FROM ps d
      JOIN v_part p ON p.p_partkey = d.l_partkey
      JOIN v_supplier s ON s.s_suppkey = d.l_suppkey
      WHERE p.p_size <= 10
        AND d.cost = (SELECT min(x.cost) FROM ps x
                      WHERE x.l_partkey = d.l_partkey)
      ORDER BY p.p_partkey, s_suppkey""")
  }

  /** q45 — VALUE CONCENTRATION (the TPC-H Q11 shape): the parts whose
    * total supplied value exceeds the MEAN part share — GROUP BY +
    * HAVING gated by scalar aggregate subqueries over the SAME
    * relation, the second decorrelation surface q44's correlated
    * `= (SELECT min …)` does not cover: Catalyst plans each HAVING
    * subquery as a one-row scalar-subquery stage joined into the
    * aggregate's filter, never a per-group re-execution. Q11's
    * fixed-fraction bar is replaced by the scale-free mean-share bar
    * (v · n_parts > total) so both verdict outcomes are realized at
    * every SF instead of the fraction silently passing everything at
    * small scale.
    *
    * Determinism: value sums are exact DECIMAL; the bar compare is
    * decimal·bigint > decimal — integer-cents arithmetic, exact in
    * both engines; the one double cast is the final reported value
    * (the oracle routes through VARCHAR per house rule); ORDER BY
    * (part_value DESC, l_partkey) totally orders.
    *
    * Scale shape: one partkey-grouped aggregate over lineitem (shuffle
    * once, map-combined); the two scalar subqueries are one-row
    * aggregates whose identical scan subtrees the engine dedupes
    * (ReusedExchange at the rollup's exchange) — and at worst they are
    * two extra full-scan ROLLUPS, never per-part probes. Output is
    * the above-mean part list.
    */
  def valueConcentration(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir).createOrReplaceTempView("v_lineitem")
    s.sql("""
      SELECT l_partkey,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
      FROM v_lineitem
      GROUP BY l_partkey
      HAVING sum(CAST(l_extendedprice AS DECIMAL(18,2))) *
          (SELECT count(DISTINCT l_partkey) FROM v_lineitem) >
        (SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2))) FROM v_lineitem)
      ORDER BY part_value DESC, l_partkey""")
  }

  /** q46 — DORMANT HIGH-BALANCE ACCOUNTS (the TPC-H Q22 shape): per
    * nation the count and total balance of customers whose account
    * balance beats the positive-balance AVERAGE but who placed NO
    * order since the cutoff — a genuine `NOT EXISTS` correlated
    * subquery (the RewritePredicateSubquery → left-anti surface no
    * other registered query reaches through the SQL planner: q32
    * hand-rewrote its EXISTS pair into aggregates) combined with
    * scalar aggregate subqueries over the same relation. Q22's
    * "never ordered" arm is structurally empty on this generator
    * (every customer orders), so the cutoff is recency — ~40 % of
    * customers are dormant-since-2001 at every SF, both subquery
    * verdicts realized.
    *
    * Determinism: the average bar is algebraized to
    * bal · n_pos > sum_pos (exact DECIMAL·BIGINT — avg's division
    * never happens); balances sum as DECIMAL and cast to double once.
    *
    * Scale shape: customer scans feed one nationkey rollup plus two
    * one-row scalar aggregates (identical scan subtrees — exchange
    * reuse); the NOT EXISTS plans as a left-anti equi-join on
    * custkey against orders WITH the date predicate pushed into the
    * orders scan — at 100 TB the recent slice is the small side and
    * AQE broadcasts it; the anti-join never materializes matches.
    */
  def dormantAccounts(s: SparkSession, dir: String): DataFrame = {
    customer(s, dir).createOrReplaceTempView("v_customer")
    orders(s, dir).createOrReplaceTempView("v_orders")
    s.sql("""
      SELECT c_nationkey, count(*) AS numcust,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
      FROM v_customer c
      WHERE CAST(c_acctbal AS DECIMAL(18,4)) *
          (SELECT count(*) FROM v_customer WHERE c_acctbal > 0.0)
        > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,4)))
           FROM v_customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM v_orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '2001-01-01')
      GROUP BY c_nationkey
      ORDER BY c_nationkey""")
  }

  /** q47 — LATEST ORDER PER VIP CUSTOMER via a correlated LATERAL
    * subquery with ORDER BY + LIMIT 1 — the remaining decorrelation
    * planner path (LateralJoin → DecorrelateInnerQuery with a
    * correlated limit): q44 covered the correlated scalar `= (SELECT
    * min)`, q46 the correlated NOT EXISTS, q45 the HAVING scalar;
    * this is the "top-1 related row per outer row" form analysts
    * actually write, which Catalyst must rewrite into a partitioned
    * rank — never a per-row re-execution — for the plan to survive
    * scale.
    *
    * Determinism: the lateral's (o_orderdate DESC, o_orderkey DESC)
    * ordering is total (orderkey unique), values pass through with no
    * accumulation, and the output is one row per qualifying customer
    * ordered by the unique custkey.
    *
    * Scale shape: the acctbal predicate pushes into the customer scan
    * (VIPs are a thin slice); the decorrelated form joins that slice
    * to orders on custkey and ranks within the join's per-customer
    * groups — the orders side shuffles once on o_custkey, top-1 via
    * bounded per-group state, no driver loop, no cartesian.
    */
  def vipLatestOrder(s: SparkSession, dir: String): DataFrame = {
    customer(s, dir).createOrReplaceTempView("v_customer")
    orders(s, dir).createOrReplaceTempView("v_orders")
    s.sql("""
      SELECT c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_orderdate,
        o.o_totalprice
      FROM v_customer c,
      LATERAL (SELECT o_orderkey, o_orderdate, o_totalprice
               FROM v_orders o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o
      WHERE c.c_acctbal > 8000.0
      ORDER BY c.c_custkey""")
  }

  def partSupplierVariety(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bad = supplier(s, dir).filter($"s_acctbal" < 0.0).select($"s_suppkey")
    // Dedup (partkey, suppkey) BEFORE the part join (§2.3: aggregate
    // before you shuffle) — lineitem repeats each pair ~7x and the
    // pre-join distinct key is two longs, so the first exchange
    // carries ~1/7 the rows at a fraction of the width the old
    // post-join distinct shuffled (brand/type/size strings). The
    // post-join distinct stays: distinct partkeys can share a
    // (brand, type, size).
    lineitem(s, dir).select($"l_partkey", $"l_suppkey")
      .distinct()
      .join(bad, $"l_suppkey" === $"s_suppkey", "left_anti")
      // part is SF-scaling — no broadcast hint; AQE decides per-run.
      .join(part(s, dir).select($"p_partkey", $"p_brand", $"p_type", $"p_size"),
        $"l_partkey" === $"p_partkey")
      .select($"p_brand", $"p_type", $"p_size", $"l_suppkey")
      .distinct()
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(count(lit(1)).as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }
}
