package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ColumnFunctions._
import graft.operators.{AsofJoin, RangeJoin}

/** OLAP-breadth queries beyond the reference's own surface — the
  * operators a user migrating real warehouse workloads onto this
  * engine reaches for next: as-of and range joins (time-series /
  * interval enrichment), rollup grouping sets, analytic window frames
  * (lag + rolling sums), set operations, outer joins, and
  * bounded-error approximate distinct counts. Same parity rules as
  * CoreQueries (DECIMAL measures, deterministic final ORDER BY,
  * column-name-aligned oracles).
  */
object OlapQueries {

  /** Events with microsecond epoch — the integer time axis both
    * engines agree on (Spark truncates the parquet nanos to micros,
    * DuckDB's epoch_us does the same). */
  private def eventsUs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("t_us"), col("event_type"), col("value"))

  /** J7 (extension) — backward as-of join: each 'view' event picks up
    * the latest 'purchase' quote at-or-before its timestamp, per user.
    * Implemented as one shuffle + one sort (AsofJoin), not an
    * inequality nested loop; DuckDB's native ASOF LEFT JOIN is the
    * oracle. The right side is pre-aggregated to one row per
    * (user, ts) so the as-of winner is well-defined. */
  def j7AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = eventsUs(s, d)
    val quotes = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("t_us"))
      .agg(max(col("value").cast("decimal(18,2)")).as("quote"))
      .select(col("user_id"), col("t_us").as("q_us"), col("quote"))
    val trades = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("t_us"), col("value"))
    AsofJoin.backward(trades, "t_us", quotes, "q_us", "user_id")
      .select(col("event_id"), col("user_id"), col("t_us"), col("value"),
        col("q_us"), col("quote").cast("double").as("quote"))
      .orderBy("event_id")
  }

  /** J8 (extension) — range join: lineitem prices (in exact cents)
    * against 200 overlapping price bands, via the bucketed equi-join
    * rewrite (RangeJoin) instead of a nested loop; aggregated per band
    * so the result is the band histogram. */
  def j8RangeJoin(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.lineitem(s, d).select(
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"))
    val bands = s.range(0, 200).select(col("id").as("band_id"),
      (col("id") * 60000L).as("lo"), (col("id") * 60000L + 90000L).as("hi"))
    RangeJoin.pointInInterval(pts, "cents", bands, "lo", "hi",
        bucketWidth = 30000L)
      .groupBy("band_id")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy("band_id")
  }

  /** J10 (extension) — 2D spatial containment join: supplier points in
    * nation bounding boxes via the per-dimension bucketed rewrite
    * (RangeJoin.pointInBox), aggregated to a per-box census. Integer
    * grid coordinates derived deterministically from keys (the j3/p17
    * convention ×100 for sub-unit precision). */
  def j10BboxJoin(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.supplier(s, d).select(col("s_suppkey"),
      ((col("s_suppkey") * 7) % 12000 - 6000).as("px"),
      ((col("s_suppkey") * 13) % 34000 - 17000).as("py"))
    val boxes = Tables.nation(s, d).select(col("n_nationkey").as("box_id"),
      ((col("n_nationkey") * 11) % 12000 - 6900).as("xlo"),
      ((col("n_nationkey") * 11) % 12000 - 6900 + 1800).as("xhi"),
      ((col("n_nationkey") * 17) % 34000 - 18500).as("ylo"),
      ((col("n_nationkey") * 17) % 34000 - 18500 + 3000).as("yhi"))
    RangeJoin.pointInBox(pts, "px", "py", boxes,
        "xlo", "xhi", "ylo", "yhi", xBucket = 1800L, yBucket = 3000L)
      .groupBy("box_id")
      .agg(count(lit(1)).as("n_points"), min(col("s_suppkey")).as("min_supp"))
      .orderBy("box_id")
  }

  /** J11 (extension) — hierarchical rollup without recursive CTEs:
    * documents form a deterministic binary tree (parent = (id−1) div 2,
    * root 0); every node is resolved to its root and exact depth by
    * pointer doubling (Hierarchy.resolveToRoot — 6 join rounds cover
    * depth ≤ 63), then rolled up per level. The oracle walks the same
    * EDGE SET with DuckDB's real WITH RECURSIVE — steps only through
    * ids that exist as documents, the operator's actual edges — so a
    * hash match proves the O(log depth) doubling loop computes exactly
    * what the O(depth) recursion defines, on sparse id spaces too
    * (r9: the 5× replica's block-offset ids exposed that an
    * unconditional arithmetic walk is NOT the same tree). On a dense
    * corpus every chain reaches 0 and `n_rooted == n_nodes` certifies
    * convergence; on a sparse one `n_rooted` counts exactly the
    * chains whose ancestors all exist. */
  def j11Hierarchy(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val edges = docs.filter(col("doc_id") > 0)
      .select(col("doc_id").as("child"),
        expr("(doc_id - 1) DIV 2").as("parent"))
    graft.operators.Hierarchy
      .resolveToRoot(docs, "doc_id", edges, "child", "parent")
      .groupBy("depth")
      .agg(count(lit(1)).as("n_nodes"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"),
        count_if(col("anc") === 0).as("n_rooted"))
      .orderBy("depth")
  }

  /** A5 (extension) — ROLLUP grouping sets with GROUPING_ID: detail,
    * per-flag subtotal, and grand total in one aggregation pass.
    * Spark's grouping_id bitmask matches DuckDB's GROUPING(). */
  def a5Rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        round(sum(asMoney(col("l_extendedprice"))), 2)
          .cast("double").as("sum_price"))
      .select(col("gid"), col("l_returnflag"), col("l_linestatus"),
        col("n"), col("sum_price"))
      .orderBy(col("gid"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** A18 (extension) — explicit GROUPING SETS: a non-hierarchical set
    * list ((status, priority), (priority), ()) that neither ROLLUP nor
    * CUBE can express (the (status) marginal is deliberately absent).
    * Spark expands all sets in one Expand + hash aggregate — one scan
    * for the whole report, same physical shape as a5/a5b; grouping_id
    * disambiguates set membership, money stays DECIMAL until the final
    * cast. */
  def a18GroupingSets(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        round(sum(asMoney(col("o_totalprice"))), 2)
          .cast("double").as("sum_price"))
      .select(col("gid"), col("o_orderstatus"), col("o_orderpriority"),
        col("n"), col("sum_price"))
      .orderBy(col("gid"),
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** A5b (extension) — full CUBE over (lang, source): all four
    * grouping combinations in one pass (Spark expands them in a
    * single Expand + hash aggregate, no re-scan per combination),
    * disambiguated by grouping_id; integer totals so partial sums are
    * exact. */
  def a5bCube(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .cube(col("lang"), col("source"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("gid"), col("lang"), col("source"), col("n"),
        col("sum_chars"))
      .orderBy(col("gid"),
        col("lang").asc_nulls_first, col("source").asc_nulls_first)

  /** W5 (extension) — distribution-rank window family for curriculum
    * bucketing: per-language size deciles (ntile), percent_rank and
    * cume_dist, ordered on the unique (n_chars desc, doc_id) pair so
    * every rank is tie-free and deterministic; each ratio is one
    * double division rounded to 6 dp. */
  def w5QualityDeciles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        ntile(10).over(w).cast("bigint").as("decile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy("doc_id")
  }

  /** W3 (extension) — analytic window frames: lag(1) and a 4-row
    * rolling sum over each user's event sequence, ordered on the
    * unique (ts, event_id) pair so frames are deterministic. */
  def w3LagRolling(s: SparkSession, d: String): DataFrame = {
    val ev = eventsUs(s, d)
      .select(col("event_id"), col("user_id"), col("t_us"),
        col("value").cast("decimal(18,2)").as("v"))
    val w = Window.partitionBy("user_id").orderBy(col("t_us"), col("event_id"))
    val roll = w.rowsBetween(-3, Window.currentRow)
    ev.select(col("event_id"), col("user_id"), col("t_us"),
        lag(col("v"), 1).over(w).cast("double").as("prev_value"),
        round(sum(col("v")).over(roll), 2).cast("double").as("roll_sum"),
        count(lit(1)).over(roll).as("n_win"))
      .orderBy("event_id")
  }

  /** W10 (extension) — DISTINCT aggregation inside a window frame:
    * "how many distinct event types has this user produced in their
    * trailing 10 events" — the per-entity behavioral-diversity signal.
    * Spark has no `count(DISTINCT …) OVER`; the exact rewrite is
    * size(array_distinct(collect_list(…) over frame)), whose state is
    * bounded BY THE FRAME (10 rows here), so per-row cost is O(frame),
    * not O(partition) — safe at any scale as long as the frame is
    * bounded (an unbounded-preceding distinct would need the
    * dense_rank-over-first-occurrence rewrite instead, noted here for
    * the record). DuckDB runs the native COUNT(DISTINCT) OVER as the
    * oracle, pinning the rewrite's semantics. */
  def w10WindowDistinct(s: SparkSession, d: String): DataFrame = {
    val ev = eventsUs(s, d)
      .select(col("event_id"), col("user_id"), col("t_us"), col("event_type"))
    val trail = Window.partitionBy("user_id")
      .orderBy(col("t_us"), col("event_id")).rowsBetween(-9, Window.currentRow)
    ev.select(col("event_id"), col("user_id"), col("t_us"),
        size(array_distinct(collect_list(col("event_type")).over(trail)))
          .cast("bigint").as("n_distinct_types"),
        count(lit(1)).over(trail).as("n_trail"))
      .orderBy("event_id")
  }

  /** W9 (extension) — value-picking window breadth: first_value /
    * last_value / nth_value under explicit ROWS frames, plus a
    * centered ±1 moving sum — the session-context shape ("what was
    * this user's first/second/latest amount, and the local smoothing
    * window"). last_value needs the explicit UNBOUNDED FOLLOWING frame
    * (the default frame stops at CURRENT ROW and silently returns the
    * current value — a classic window bug, pinned here against the
    * oracle). Order key (t_us, event_id) is a total order, so every
    * picked value is deterministic; one shuffle+sort per user serves
    * all five windows (same partitioning + ordering). */
  def w9ValueWindows(s: SparkSession, d: String): DataFrame = {
    val ev = eventsUs(s, d)
      .select(col("event_id"), col("user_id"), col("t_us"),
        col("value").cast("decimal(18,2)").as("v"))
    val w = Window.partitionBy("user_id").orderBy(col("t_us"), col("event_id"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val centered = w.rowsBetween(-1, 1)
    ev.select(col("event_id"), col("user_id"), col("t_us"),
        first(col("v")).over(full).cast("double").as("first_v"),
        last(col("v")).over(full).cast("double").as("last_v"),
        nth_value(col("v"), 2).over(full).cast("double").as("second_v"),
        round(sum(col("v")).over(centered), 2).cast("double").as("smooth_sum"),
        count(lit(1)).over(centered).as("n_centered"))
      .orderBy("event_id")
  }

  /** W8 (extension) — VALUE-based window frames (RANGE BETWEEN): per
    * user, the count and exact-decimal sum of events inside the
    * trailing one-hour interval of each event's timestamp — the
    * rate-limit / rolling-rate shape ROWS frames can't express (the
    * frame must follow the time AXIS, not row positions). RANGE frames
    * are deterministic even under timestamp ties: every peer row is in
    * the frame regardless of physical order, so no tie-break key is
    * needed. One shuffle+sort per user partition, frame evaluation is
    * a sliding two-pointer over the sorted run. */
  def w8RangeFrame(s: SparkSession, d: String): DataFrame = {
    val ev = eventsUs(s, d)
      .select(col("event_id"), col("user_id"), col("t_us"),
        col("value").cast("decimal(18,2)").as("v"))
    val hour = Window.partitionBy("user_id").orderBy(col("t_us"))
      .rangeBetween(-3600000000L, Window.currentRow)
    ev.select(col("event_id"), col("user_id"), col("t_us"),
        count(lit(1)).over(hour).as("n_1h"),
        round(sum(col("v")).over(hour), 2).cast("double").as("sum_1h"))
      .orderBy("event_id")
  }

  /** A15 (extension) — robust outlier detection (median/MAD): per
    * return flag, the median quantity, the median absolute deviation,
    * and the rows beyond 3 MAD — the data-quality screen that, unlike
    * mean/stddev z-scores, a few extreme rows cannot drag. Quantities
    * are small exact decimals, so the interpolated medians land on
    * .0/.5 values both engines represent exactly — comparisons are
    * deterministic, no rounding. Two percentile aggregates (sort-based,
    * the a4 trade-off; sketch twin a4b is the scale path) + one
    * broadcast join back. */
  def a15RobustZscore(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity").cast("double").as("q"))
    val med = li.groupBy("l_returnflag")
      .agg(expr("percentile(q, 0.5)").as("med"))
    val mad = li.join(broadcast(med), Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(expr("percentile(abs(q - med), 0.5)").as("mad"),
        max(col("med")).as("med"))
    li.join(broadcast(mad), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n_rows"),
        count_if(abs(col("q") - col("med")) > col("mad") * 3)
          .as("n_outliers"),
        sum(when(abs(col("q") - col("med")) > col("mad") * 3, col("q"))
          .otherwise(lit(0.0))).as("outlier_mass"))
      .select(col("l_returnflag"), col("med"), col("mad"), col("n_rows"),
        col("n_outliers"), col("outlier_mass"))
      .orderBy("l_returnflag")
  }

  /** W4 (extension) — the ranking-function family under ties: rank /
    * dense_rank / percent_rank / cume_dist over a NON-unique order key
    * (deterministic by definition under ties), ntile over the
    * tie-broken unique order (ntile splits ties by row position, so
    * determinism requires the unique key). */
  def w4RankFamily(s: SparkSession, d: String): DataFrame = {
    val ev = eventsUs(s, d)
      .select(col("event_id"), col("user_id"),
        col("value").cast("decimal(18,2)").as("v"))
    val ties = Window.partitionBy("user_id").orderBy(col("v"))
    val uniq = Window.partitionBy("user_id").orderBy(col("v"), col("event_id"))
    ev.select(col("event_id"), col("user_id"),
        col("v").cast("double").as("value"),
        rank().over(ties).as("rnk"),
        dense_rank().over(ties).as("drnk"),
        round(percent_rank().over(ties), 6).as("prnk"),
        round(cume_dist().over(ties), 6).as("cdist"),
        ntile(4).over(uniq).as("quartile"))
      .orderBy("event_id")
  }

  /** W6 (extension) — SCD type-2 history build from a CDC change
    * stream: per business key (user), order attribute observations by
    * time, drop no-op changes (attribute equal to its predecessor —
    * the step naive SCD2 builders skip, inflating history), then close
    * each surviving version with the next one's start (half-open
    * [valid_from, valid_to) intervals; the open version is current.
    * Both windows share one partitioning+ordering, so Catalyst plans a
    * single shuffle+sort and reuses it — per-task state is one user's
    * rows. Complements x18's latest-value merge: x18 keeps the head,
    * this keeps the full auditable timeline. */
  def w6Scd2History(s: SparkSession, d: String): DataFrame = {
    val ev = eventsUs(s, d)
      .select(col("user_id"), col("event_id"), col("t_us"),
        col("event_type").as("attr"))
    val w = Window.partitionBy("user_id").orderBy(col("t_us"), col("event_id"))
    val changes = ev
      .withColumn("prev_attr", lag(col("attr"), 1).over(w))
      .filter(col("prev_attr").isNull || col("attr") =!= col("prev_attr"))
    changes
      .withColumn("valid_to_us", lead(col("t_us"), 1).over(w))
      .withColumn("version", row_number().over(w))
      .select(col("user_id"), col("version"), col("attr"),
        col("t_us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  /** A12 (extension) — one-pass table profile: per column count /
    * nulls / exact distinct / min / max, unpivoted to one row per
    * column. Exact multi-column distinct plans as a single scan with
    * an Expand (input ×(k+1)) — the honest exact plan; at 100 TB swap
    * countDistinct for approx_count_distinct and the Expand collapses
    * back to one streaming pass (a7 proves that path). */
  def a12TableProfile(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = Tables.lineitem(s, d).select(cols.map(col): _*)
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nn"),
        countDistinct(col(c)).as(s"${c}_nd"),
        min(col(c)).cast("double").as(s"${c}_mn"),
        max(col(c)).cast("double").as(s"${c}_mx"))
    }
    val one = li.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stacked = cols.map(c =>
      s"'$c', ${c}_nn, ${c}_nd, ${c}_mn, ${c}_mx").mkString(", ")
    one.selectExpr("n_rows",
        s"stack(${cols.size}, $stacked) as (col_name, n_null, n_distinct, min_val, max_val)")
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_val"), col("max_val"))
      .orderBy("col_name")
  }

  /** A16 (extension) — data-quality constraint audit: the
    * expectations/assertion pass every production pipeline runs before
    * publishing a table. Seven checks over orders + lineitem — key
    * uniqueness, completeness, value range, timestamp freshness window,
    * compound-key uniqueness, and a referential (FK orphan) check —
    * reported as one (check_name, n_violations, n_checked) relation.
    * The input is deliberately dirtied with deterministic mutated
    * copies (o_orderkey%97 rows; l_orderkey%101 negated-key rows for
    * the FK check; l_orderkey%103 verbatim duplicates for the
    * compound-key check) so every check has a known nonzero violation
    * count and an all-zero report can't fake a pass; the oracle
    * rebuilds the identical dirt.
    *
    * Scale shape: ALL per-table checks fold into one aggregate pass per
    * table (single scan, distributed partials, 1-row merge) — never one
    * scan per constraint; the FK check is the only join, an anti join
    * AQE can broadcast. Uniqueness counts use count_distinct in the
    * same pass; the compound key packs (orderkey, linenumber ≤ 7) into
    * one long so the distinct state stays primitive. */
  def a16ConstraintAudit(s: SparkSession, d: String): DataFrame = {
    val lo = to_timestamp(lit("1995-01-01 00:00:00"))
    val hi = to_timestamp(lit("2002-01-01 00:00:00"))
    val o0 = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    val oDirty = o0.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), lit(null).cast("bigint").as("o_custkey"),
        (col("o_totalprice") * -1).as("o_totalprice"),
        (col("o_orderdate") + expr("INTERVAL 100 YEARS")).as("o_orderdate"))
    val o = o0.unionByName(oDirty)
    val l0 = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val lDirty = l0
      .filter(col("l_orderkey") % 101 === 0 && col("l_linenumber") === 1)
      .select((col("l_orderkey") * -1).as("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") + 100).as("l_quantity"))
    // key UNCHANGED: pure compound-key duplicates, so pk.unique has a
    // nonzero expected count (the negated-key arm above feeds the FK
    // orphan check but its new keys can never collide)
    val lDirtyDup = l0
      .filter(col("l_orderkey") % 103 === 0 && col("l_linenumber") === 1)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val l = l0.unionByName(lDirty).unionByName(lDirtyDup)

    val oAgg = o.agg(
      count(lit(1)).as("o_n"),
      count_distinct(col("o_orderkey")).as("o_nd"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_cust"),
      sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0, 1L)
        .otherwise(0L)).as("bad_price"),
      sum(when(col("o_orderdate").isNull ||
          col("o_orderdate") < lo || col("o_orderdate") >= hi, 1L)
        .otherwise(0L)).as("bad_date"))
    val lAgg = l.agg(
      count(lit(1)).as("l_n"),
      count_distinct(col("l_orderkey") * 8 + col("l_linenumber")).as("l_nd"),
      sum(when(col("l_quantity").isNull ||
          col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("bad_qty"))
    val orphans = l
      .join(o.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"),
        "left_anti")
      .agg(count(lit(1)).as("orphan_cnt"))

    oAgg.crossJoin(lAgg).crossJoin(orphans)
      .selectExpr(
        """stack(7,
          |  'lineitem.l_orderkey.fk_orders', orphan_cnt, l_n,
          |  'lineitem.l_quantity.range_1_50', bad_qty, l_n,
          |  'lineitem.pk.unique', l_n - l_nd, l_n,
          |  'orders.o_custkey.not_null', null_cust, o_n,
          |  'orders.o_orderdate.in_window', bad_date, o_n,
          |  'orders.o_orderkey.unique', o_n - o_nd, o_n,
          |  'orders.o_totalprice.positive', bad_price, o_n
          |) as (check_name, n_violations, n_checked)""".stripMargin)
      .orderBy("check_name")
  }

  /** A17 (extension) — pairwise Pearson correlation matrix over the
    * lineitem measures: the feature-correlation profile a training-data
    * pipeline runs before weighting/ablating signals. All five moments
    * (Σx, Σx², Σxy per pair, n) accumulate EXACTLY: measures are
    * integer-scaled ×100 through DECIMAL(18,2) (2-dp money/ratio
    * columns, so the scaling is lossless) and summed in DECIMAL(38,0).
    * Pearson r is scale-invariant, so the ×100 cancels; the only
    * floating-point work is the final per-pair formula over identical
    * exact integers — bit-identical in Spark and DuckDB — rounded at
    * 6 dp (non-exact source: sqrt). One aggregate pass over the table
    * computes all 14 moments (distributed partials, 1-row merge);
    * the 6 pairs unpivot from that single row. */
  def a17CorrMatrix(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("q" -> "l_quantity", "e" -> "l_extendedprice",
      "di" -> "l_discount", "tx" -> "l_tax")
    val pairs = for {
      (i, (a, _)) <- cols.zipWithIndex.map(_.swap)
      (b, _) <- cols.drop(i + 1)
    } yield (a, b)
    val li = Tables.lineitem(s, d).select(cols.map { case (a, c) =>
      expr(s"cast(cast($c as decimal(18,2)) * 100 as decimal(38,0))").as(a)
    }: _*)
    val moments =
      cols.flatMap { case (a, _) => Seq(
        sum(col(a)).as(s"s_$a"), sum(col(a) * col(a)).as(s"ss_$a")) } ++
      pairs.map { case (a, b) => sum(col(a) * col(b)).as(s"sp_${a}_$b") }
    val one = li.agg(count(lit(1)).as("n"), moments: _*)
    val name = cols.toMap
    val stacked = pairs.map { case (a, b) =>
      val corr = s"""round(cast(n * sp_${a}_$b - s_$a * s_$b as double) /
        | (sqrt(cast(n * ss_$a - s_$a * s_$a as double)) *
        |  sqrt(cast(n * ss_$b - s_$b * s_$b as double))), 6)""".stripMargin
      s"'${name(a)}', '${name(b)}', $corr"
    }.mkString(", ")
    one.selectExpr("n",
        s"stack(${pairs.size}, $stacked) as (col_x, col_y, corr)")
      .select(col("col_x"), col("col_y"), col("n"), col("corr"))
      .orderBy("col_x", "col_y")
  }

  /** W7 (extension) — 3-stage event funnel (view → click → purchase):
    * per user take the FIRST view, the first click strictly after it,
    * and the first purchase strictly after that click, all within 7
    * days of the first view; report per-cohort-day stage survivor
    * counts. Every stage is a groupBy or equi join on user_id — one
    * key, no self-cross, no window over the event stream — so the
    * funnel re-plans to hash joins AQE can size, and per-stage state
    * is one row per user. */
  def w7Funnel(s: SparkSession, d: String): DataFrame = {
    val week7us = 7L * 24 * 3600 * 1000000
    val ev = eventsUs(s, d)
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("t_us")).as("v_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .join(views, Seq("user_id"))
      .filter(col("t_us") > col("v_us") &&
        col("t_us") <= col("v_us") + week7us)
      .groupBy("user_id", "v_us").agg(min(col("t_us")).as("c_us"))
    val buys = ev.filter(col("event_type") === "purchase")
      .join(clicks, Seq("user_id"))
      .filter(col("t_us") > col("c_us") &&
        col("t_us") <= col("v_us") + week7us)
      .groupBy("user_id").agg(min(col("t_us")).as("p_us"))
    views
      .join(clicks.select(col("user_id"), col("c_us")), Seq("user_id"), "left")
      .join(buys, Seq("user_id"), "left")
      .groupBy(timestamp_micros(col("v_us")).cast("date").as("cohort_day"))
      .agg(count(lit(1)).as("n_viewed"),
        count(col("c_us")).as("n_clicked"),
        count(col("p_us")).as("n_purchased"))
      .orderBy("cohort_day")
  }

  /** A13 (extension) — incremental aggregate refresh (materialized-
    * view maintenance): the historic batch is held only as its
    * per-group partial state (sum, count), and a delta batch merges by
    * unioning partials and re-aggregating — no re-scan of history.
    * Works because sum/count are commutative monoids (the same
    * property Spark's own partial aggregation exploits per-task); the
    * oracle recomputes from ALL raw rows, proving merge ≡ recompute
    * exactly (DECIMAL partials, one double division at the end). */
  def a13IncrementalRefresh(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_returnflag"),
      col("l_orderkey"), col("l_quantity").cast("decimal(18,4)").as("q"))
    def partials(df: DataFrame) = df.groupBy("l_returnflag")
      .agg(sum(col("q")).as("s"), count(lit(1)).as("c"))
    val state = partials(li.filter(pmod(col("l_orderkey"), lit(10)) =!= 0))
    val delta = partials(li.filter(pmod(col("l_orderkey"), lit(10)) === 0))
    state.unionByName(delta)
      .groupBy("l_returnflag")
      .agg(sum(col("s")).as("s2"), sum(col("c")).as("n_rows"))
      .select(col("l_returnflag"),
        round(col("s2"), 2).cast("double").as("sum_qty"),
        col("n_rows"),
        round(col("s2").cast("double") / col("n_rows").cast("double"), 6)
          .as("avg_qty"))
      .orderBy("l_returnflag")
  }

  /** A14 (extension) — equi-width histogram / data-profiling: bucket
    * document lengths into 10 fixed 50-char bins (last bin open),
    * with per-bin counts, bounds, exact sums, and exact distinct
    * language counts. All-integer bucket math (DIV) so bin membership
    * is engine-exact; one hash aggregate keyed on the bin — the
    * profiling shape that feeds range-partitioning decisions and data
    * diet dashboards at corpus scale. */
  def a14Histogram(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        least(lit(9L), expr("n_chars DIV 50")).as("bucket"),
        col("n_chars"), col("lang"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars")).as("sum_chars"),
        count_distinct(col("lang")).as("n_langs"))
      .select(col("bucket"), (col("bucket") * 50).as("lo_chars"),
        when(col("bucket") < 9, (col("bucket") + 1) * 50)
          .otherwise(lit(null).cast("long")).as("hi_chars"),
        col("n_docs"), col("min_chars"), col("max_chars"),
        col("sum_chars"), col("n_langs"))
      .orderBy("bucket")

  /** A11 (extension) — conditional + argmax aggregates: count_if,
    * filtered SUM, bool_and/bool_or, and max_by on a uniquified
    * ordering key (price ties would make the argmax winner
    * nondeterministic, so the key appends the unique line identity in
    * exact decimal — same arithmetic in the oracle). */
  def a11ConditionalAgg(s: SparkSession, d: String): DataFrame = {
    val price = asMoney(col("l_extendedprice"))
    val ukey = price * lit(1000000000L) +
      col("l_orderkey") * 10 + col("l_linenumber")
    Tables.lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(
        count_if(col("l_quantity") > 25).as("n_big"),
        round(sum(when(col("l_quantity") > 25, price)), 2)
          .cast("double").as("sum_big"),
        bool_and(col("l_quantity") > 0).as("all_pos"),
        bool_or(col("l_discount") > 0.09).as("any_deep_disc"),
        max_by(col("l_orderkey"), ukey).as("top_price_order"))
      .orderBy("l_returnflag")
  }

  /** A6 (extension) — set operations with SQL set-distinct semantics:
    * nations of BUILDING-segment customers vs nations of well-funded
    * suppliers, under UNION / INTERSECT / EXCEPT, tagged per op. */
  def a6SetOps(s: SparkSession, d: String): DataFrame = {
    val a = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey").as("nationkey"))
    val b = Tables.supplier(s, d).filter(col("s_acctbal") > 5000)
      .select(col("s_nationkey").as("nationkey"))
    val u = a.union(b).distinct().withColumn("op", lit("union"))
    val i = a.intersect(b).withColumn("op", lit("intersect"))
    val e = a.except(b).withColumn("op", lit("except"))
    u.union(i).union(e)
      .select(col("op"), col("nationkey"))
      .orderBy("op", "nationkey")
  }

  /** P23 (extension) — map-typed column breadth: build a per-user
    * map(event_type → count) from grouped entries, then the read-side
    * surface — size, keyed lookup (try_element_at: null on miss, the
    * ANSI-safe form), ordered key list. Map construction sorts the
    * entry list so key order is deterministic in both engines;
    * lookups COALESCE to 0 so present/absent keys hash identically. */
  /** P24 (extension) — bitwise function breadth: scalar and/or/xor,
    * shifts, popcount, hex rendering, plus the bit_and/bit_or/bit_xor
    * AGGREGATES as whole-partition windows (flag-mask fold-up — the
    * "which feature bits are set anywhere / everywhere in this
    * cohort" query). All map-side except the one window shuffle;
    * every value is integer-exact. Dialect notes: DuckDB `^` is
    * exponentiation (its xor is `xor()`), and hex casing differs —
    * both pinned by the oracle via lower(hex). */
  def p24BitwiseFuncs(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    val w = Window.partitionBy(pmod(k, lit(7)))
    Tables.orders(s, d)
      .select(k.as("k"),
        k.bitwiseAND(lit(255L)).as("band"),
        k.bitwiseOR(lit(15L)).as("bor"),
        k.bitwiseXOR(lit(4095L)).as("bxor"),
        shiftleft(pmod(k, lit(1024L)), 3).as("shl"),
        shiftright(k, 2).as("shr"),
        bit_count(k).cast("bigint").as("nbits"),
        lower(hex(k)).as("hx"),
        bit_and(k.bitwiseAND(lit(255L))).over(w).as("gand"),
        bit_or(k.bitwiseAND(lit(255L))).over(w).as("gor"),
        bit_xor(k.bitwiseAND(lit(255L))).over(w).as("gxor"))
      .orderBy("k")
  }

  def p23MapFuncs(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    counts.groupBy("user_id")
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("event_type"), col("n")))))
        .as("m"))
      .select(col("user_id"),
        size(col("m")).as("n_types"),
        coalesce(try_element_at(col("m"), lit("view")), lit(0L)).as("n_view"),
        coalesce(try_element_at(col("m"), lit("error")), lit(0L)).as("n_error"),
        array_join(map_keys(col("m")), ",").as("types"))
      .orderBy("user_id")
  }

  /** J9 (extension) — left outer join with null handling: every order,
    * extended with its large-line (qty > 45) totals where they exist;
    * COALESCE defaults + an explicit has_big flag on the null probe. */
  def j9OuterJoin(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
      .groupBy(col("l_orderkey"))
      .agg(sum(asMoney(col("l_extendedprice"))).as("_big_total"),
        count(lit(1)).as("_n_big"))
    val ord = Tables.orders(s, d)
    ord.join(big, ord("o_orderkey") === big("l_orderkey"), "left_outer")
      .select(col("o_orderkey"), col("o_orderstatus"),
        coalesce(round(col("_big_total"), 2).cast("double"), lit(0.0))
          .as("big_total"),
        coalesce(col("_n_big"), lit(0L)).as("n_big"),
        col("l_orderkey").isNotNull.as("has_big"))
      .orderBy("o_orderkey")
  }

  /** A7 (extension) — approximate distinct count (HyperLogLog++) with
    * its error bound asserted IN the result: the query emits the exact
    * distinct count plus a boolean that the approx estimate landed
    * within 5% (the oracle states `true` literally, so a drifting
    * sketch fails the hash match). The approx path is the one that
    * runs at 100 TB — fixed-size sketch, partial-mergeable, no
    * distinct shuffle of the key. */
  def a7ApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_dc"),
        approx_count_distinct(col("l_partkey")).as("_approx"))
      .select(col("l_returnflag"), col("exact_dc"),
        (abs(col("_approx") - col("exact_dc")).cast("double") /
          col("exact_dc").cast("double") <= 0.05).as("approx_within_5pct"))
      .orderBy("l_returnflag")

  /** A8 (extension) — pivot (cross-tab): per user bucket, one column
    * per event type. The value list is explicit, so Spark skips the
    * distinct-scan pass and plans a single conditional aggregation —
    * the same CASE WHEN shape the oracle states. */
  def a8Pivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy((col("user_id") % 10).as("user_bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum(col("value").cast("decimal(18,2)")), 2)
        .cast("double"))
      .orderBy("user_bucket")

  /** ST3 (extension) — time-series gap filling: densify each event
    * type's hourly series over its own [min, max] span, zero-filling
    * missing hours via a generated sequence + left join — the
    * dashboard/feature-engineering step after every windowed
    * aggregation. sequence() explodes per type (25k hour rows per
    * year-type), never per event, so densification cost is independent
    * of event volume. */
  def st3GapFill(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val allHours = hourly.groupBy("event_type")
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
          .as("h"))
    allHours.join(hourly, Seq("event_type", "h"), "left_outer")
      .select(col("event_type"), col("h").cast("string").as("hour_start"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("event_type", "hour_start")
  }

  /** ST3b (extension) — linear interpolation over the gap-filled
    * hourly series: each empty hour takes the line between its nearest
    * observed neighbours. Neighbour lookup is two frame-bounded
    * windows (last-non-null preceding / first-non-null following) on
    * the same partitioning — per-task state is one series, and both
    * windows reuse one shuffle+sort pair. All math is EXACT integer
    * micros (value sums DECIMAL-quantized then scaled; interpolation
    * is a positive-shifted integer division — see the t9 lesson:
    * rounded doubles of exact rationals tie-break differently across
    * engines). Within the span every gap has both neighbours, so no
    * null legs. */
  def st3bInterpolate(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('HOUR', ts)) div 3600000000")
          .as("hr_id"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("v_dec"))
      .select(col("event_type"), col("hr_id"),
        (col("v_dec") * 1000000).cast("long").as("v_micro"))
    val span = hourly.groupBy("event_type")
      .agg(min("hr_id").as("h0"), max("hr_id").as("h1"))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1")))
        .as("hr_id"))
    val dense = span.join(hourly, Seq("event_type", "hr_id"), "left_outer")
    val wPrev = Window.partitionBy("event_type").orderBy("hr_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("event_type").orderBy("hr_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    dense
      .withColumn("pv", last(col("v_micro"), ignoreNulls = true).over(wPrev))
      .withColumn("pt",
        last(when(col("v_micro").isNotNull, col("hr_id")), ignoreNulls = true)
          .over(wPrev))
      .withColumn("nv", first(col("v_micro"), ignoreNulls = true).over(wNext))
      .withColumn("nt",
        first(when(col("v_micro").isNotNull, col("hr_id")), ignoreNulls = true)
          .over(wNext))
      .withColumn("v_interp_micro",
        when(col("v_micro").isNotNull, col("v_micro"))
          .otherwise(expr(
            "(pv * (nt - pt) + (nv - pv) * (hr_id - pt)) div (nt - pt)")))
      .select(col("event_type"), col("hr_id"), col("v_micro"),
        col("v_interp_micro"))
      .orderBy("event_type", "hr_id")
  }

  /** P20 (extension) — date/time function breadth: day arithmetic,
    * clamped month addition, month/week truncation, calendar fields —
    * the everyday ETL surface. Engine deltas handled explicitly:
    * Spark dayofweek is Sunday=1, DuckDB Sunday=0 (oracle adds 1);
    * both clamp add_months at month end and truncate weeks to Monday. */
  def p20DatetimeFuncs(s: SparkSession, d: String): DataFrame = {
    val dt = col("o_orderdate").cast("date")
    Tables.orders(s, d).select(col("o_orderkey"),
        datediff(lit("1995-06-17").cast("date"), dt).as("days_to_ref"),
        add_months(dt, 3).as("plus3m"),
        last_day(dt).as("month_end"),
        date_trunc("month", dt).cast("date").as("month_start"),
        date_trunc("week", dt).cast("date").as("week_start"),
        dayofweek(dt).as("dow"),
        dayofyear(dt).as("doy"),
        weekofyear(dt).as("woy"))
      .orderBy("o_orderkey")
  }

  /** P21 (extension) — string function breadth: field splitting,
    * character translation, repetition/reversal, substring position,
    * edge slicing, char codes. */
  def p21StringFuncs(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey"),
        call_function("split_part", col("c_name"), lit("#"), lit(2)).as("id_part"),
        translate(col("c_name"), "Cu0", "cU-").as("translated"),
        repeat(right(col("c_name"), lit(3)), 2).as("repeated"),
        reverse(left(col("c_name"), lit(8))).as("reversed"),
        instr(col("c_name"), "#").cast("int").as("hash_pos"),
        ascii(col("c_name")).as("first_code"))
      .orderBy("c_custkey")

  /** P22 (extension) — array function breadth over tokenized text:
    * membership, position (0 when absent in BOTH engines), distinct
    * cardinality, lexicographic extremes, sorted slicing — structural
    * ops only (no float arithmetic), so values hash-match exactly. */
  def p22ArrayFuncs(s: SparkSession, d: String): DataFrame = {
    val ws = split(col("text"), " ")
    Tables.documents(s, d).select(col("doc_id"),
        array_contains(ws, "the").as("has_the"),
        array_position(ws, "the").as("the_pos"),
        size(array_distinct(ws)).as("n_distinct"),
        array_max(ws).as("max_word"),
        array_min(ws).as("min_word"),
        concat_ws("|", slice(sort_array(ws), 1, 3)).as("first3_sorted"))
      .orderBy("doc_id")
  }

  /** A9 (extension) — ordered group concatenation (LISTAGG/STRING_AGG):
    * formulated as sort_array(collect_list) + concat_ws, which is
    * deterministic by construction (the per-group order is explicit,
    * not an accumulation order) and partial-aggregatable. */
  def a9GroupConcat(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .filter(col("s_suppkey") % 7 === 0)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"),
        concat_ws(",", sort_array(collect_list(col("s_name"))))
          .as("names_csv"))
      .orderBy("s_nationkey")

  /** A10 (extension) — UNPIVOT (wide→long), the inverse of a8's pivot:
    * melt per-type measure columns back into (event_type, sum_value)
    * rows via stack(), dropping null cells like SQL UNPIVOT. */
  def a10Unpivot(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wide = Tables.events(s, d)
      .groupBy((col("user_id") % 10).as("user_bucket"))
      .pivot("event_type", types)
      .agg(round(sum(col("value").cast("decimal(18,2)")), 2)
        .cast("double"))
    val stackArgs = types.map(t => s"'$t', `$t`").mkString(", ")
    wide.select(col("user_bucket"),
        expr(s"stack(${types.length}, $stackArgs) AS (event_type, sum_value)"))
      .filter(col("sum_value").isNotNull)
      .orderBy("user_bucket", "event_type")
  }

  /** The OLAP family's rows, each builder beside its oracle SQL. */
  val rows: Seq[RowDef] = Seq(
    // a17: the oracle restates the same exact-moment formula; the
    // UNION arms are generated from the same pair list as the query
    RowDef("a17_corr_matrix", a17CorrMatrix, Some {
      val cols = Seq("q" -> "l_quantity", "e" -> "l_extendedprice",
        "di" -> "l_discount", "tx" -> "l_tax")
      val pairs = for {
        (i, (a, _)) <- cols.zipWithIndex.map(_.swap)
        (b, _) <- cols.drop(i + 1)
      } yield (a, b)
      val scaled = cols.map { case (a, c) =>
        s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS HUGEINT) AS $a" }.mkString(", ")
      val moms = (cols.flatMap { case (a, _) =>
        Seq(s"SUM($a) AS s_$a", s"SUM($a*$a) AS ss_$a") } ++
        pairs.map { case (a, b) => s"SUM($a*$b) AS sp_${a}_$b" }).mkString(", ")
      val name = cols.toMap
      val arms = pairs.map { case (a, b) =>
        s"""SELECT '${name(a)}' AS col_x, '${name(b)}' AS col_y, n,
           | ROUND(CAST(n*sp_${a}_$b - s_$a*s_$b AS DOUBLE) /
           |  (SQRT(CAST(n*ss_$a - s_$a*s_$a AS DOUBLE)) *
           |   SQRT(CAST(n*ss_$b - s_$b*s_$b AS DOUBLE))), 6) AS corr FROM m"""
          .stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH sc AS (SELECT $scaled FROM lineitem),
         |m AS (SELECT COUNT(*) AS n, $moms FROM sc)
         |SELECT col_x, col_y, n, corr FROM ($arms) t
         |ORDER BY col_x, col_y""".stripMargin
    }),

    RowDef("a16_constraint_audit", a16ConstraintAudit, Some(
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, NULL AS o_custkey,
        |         o_totalprice * -1 AS o_totalprice,
        |         o_orderdate + INTERVAL 100 YEAR AS o_orderdate
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |l AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey * -1, l_linenumber, l_quantity + 100
        |  FROM lineitem WHERE l_orderkey % 101 = 0 AND l_linenumber = 1
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_quantity
        |  FROM lineitem WHERE l_orderkey % 103 = 0 AND l_linenumber = 1),
        |oa AS (SELECT COUNT(*) AS o_n,
        |  COUNT(DISTINCT o_orderkey) AS o_nd,
        |  SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
        |  SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
        |      THEN 1 ELSE 0 END) AS bad_price,
        |  SUM(CASE WHEN o_orderdate IS NULL
        |        OR o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
        |        OR o_orderdate >= TIMESTAMP '2002-01-01 00:00:00'
        |      THEN 1 ELSE 0 END) AS bad_date FROM o),
        |la AS (SELECT COUNT(*) AS l_n,
        |  COUNT(DISTINCT l_orderkey * 8 + l_linenumber) AS l_nd,
        |  SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1
        |        OR l_quantity > 50 THEN 1 ELSE 0 END) AS bad_qty FROM l),
        |orph AS (SELECT COUNT(*) AS orphan_cnt FROM l
        |  WHERE NOT EXISTS (SELECT 1 FROM o WHERE o.o_orderkey = l.l_orderkey))
        |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
        |       CAST(n_checked AS BIGINT) AS n_checked
        |FROM (
        |  SELECT 'lineitem.l_orderkey.fk_orders' AS check_name,
        |         orphan_cnt AS n_violations, l_n AS n_checked FROM la, orph
        |  UNION ALL SELECT 'lineitem.l_quantity.range_1_50', bad_qty, l_n FROM la
        |  UNION ALL SELECT 'lineitem.pk.unique', l_n - l_nd, l_n FROM la
        |  UNION ALL SELECT 'orders.o_custkey.not_null', null_cust, o_n FROM oa
        |  UNION ALL SELECT 'orders.o_orderdate.in_window', bad_date, o_n FROM oa
        |  UNION ALL SELECT 'orders.o_orderkey.unique', o_n - o_nd, o_n FROM oa
        |  UNION ALL SELECT 'orders.o_totalprice.positive', bad_price, o_n FROM oa
        |) t ORDER BY check_name""".stripMargin)),

    RowDef("a14_histogram", a14Histogram, Some(
      """WITH b AS (
        |  SELECT CAST(LEAST(9, n_chars // 50) AS BIGINT) AS bucket,
        |         n_chars, lang
        |  FROM documents)
        |SELECT bucket, bucket * 50 AS lo_chars,
        |       CASE WHEN bucket < 9 THEN (bucket + 1) * 50
        |            ELSE CAST(NULL AS BIGINT) END AS hi_chars,
        |       COUNT(*) AS n_docs,
        |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    RowDef("p23_map_funcs", p23MapFuncs, Some(
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS n
        |           FROM events GROUP BY 1, 2),
        |m AS (SELECT user_id,
        |        map_from_entries(list_sort(
        |          list(struct_pack(k := event_type, v := n)))) AS m
        |      FROM c GROUP BY user_id)
        |SELECT user_id,
        | CAST(cardinality(m) AS INT) AS n_types,
        | COALESCE(m['view'][1], 0) AS n_view,
        | COALESCE(m['error'][1], 0) AS n_error,
        | array_to_string(map_keys(m), ',') AS types
        |FROM m ORDER BY user_id""".stripMargin)),

    RowDef("st3b_interpolate", st3bInterpolate, Some(
      """WITH hourly AS (
        |  SELECT event_type,
        |         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr_id,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        |           AS v_micro
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, MIN(hr_id) AS h0, MAX(hr_id) AS h1
        |         FROM hourly GROUP BY 1),
        |allh AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS hr_id
        |         FROM span),
        |dense AS (SELECT a.event_type, a.hr_id, hourly.v_micro
        |          FROM allh a LEFT JOIN hourly
        |            ON a.event_type = hourly.event_type
        |           AND a.hr_id = hourly.hr_id),
        |w AS (SELECT *,
        |   last_value(v_micro IGNORE NULLS) OVER wp AS pv,
        |   last_value(CASE WHEN v_micro IS NOT NULL THEN hr_id END
        |     IGNORE NULLS) OVER wp AS pt,
        |   first_value(v_micro IGNORE NULLS) OVER wn AS nv,
        |   first_value(CASE WHEN v_micro IS NOT NULL THEN hr_id END
        |     IGNORE NULLS) OVER wn AS nt
        |  FROM dense
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY hr_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY event_type ORDER BY hr_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, hr_id, v_micro,
        |  CASE WHEN v_micro IS NOT NULL THEN v_micro
        |       ELSE (pv * (nt - pt) + (nv - pv) * (hr_id - pt)) // (nt - pt)
        |  END AS v_interp_micro
        |FROM w ORDER BY event_type, hr_id""".stripMargin)),

    RowDef("w7_funnel", w7Funnel, Some(
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t_us, event_type FROM events),
        |v AS (SELECT user_id, MIN(t_us) AS v_us FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, v.v_us, MIN(e.t_us) AS c_us
        |      FROM ev e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.t_us > v.v_us
        |        AND e.t_us <= v.v_us + 604800000000
        |      GROUP BY e.user_id, v.v_us),
        |p AS (SELECT e.user_id, MIN(e.t_us) AS p_us
        |      FROM ev e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.t_us > c.c_us
        |        AND e.t_us <= c.v_us + 604800000000
        |      GROUP BY e.user_id)
        |SELECT CAST(make_timestamp(v.v_us) AS DATE) AS cohort_day,
        | COUNT(*) AS n_viewed,
        | COUNT(c.c_us) AS n_clicked,
        | COUNT(p.p_us) AS n_purchased
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |GROUP BY 1 ORDER BY cohort_day""".stripMargin)),

    RowDef("a13_incremental_refresh", a13IncrementalRefresh, Some(
      """SELECT l_returnflag,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n_rows,
        | ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |   / CAST(COUNT(*) AS DOUBLE), 6) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    RowDef("w6_scd2_history", w6Scd2History, Some(
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS t_us,
        |        event_type AS attr FROM events),
        |ch AS (SELECT *, LAG(attr) OVER (PARTITION BY user_id
        |         ORDER BY t_us, event_id) AS prev_attr FROM ev),
        |f AS (SELECT user_id, event_id, t_us, attr FROM ch
        |      WHERE prev_attr IS NULL OR attr <> prev_attr)
        |SELECT user_id,
        | CAST(ROW_NUMBER() OVER w AS INT) AS version, attr,
        | t_us AS valid_from_us,
        | LEAD(t_us) OVER w AS valid_to_us,
        | (LEAD(t_us) OVER w IS NULL) AS is_current
        |FROM f WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
        |ORDER BY user_id, version""".stripMargin)),

    RowDef("a12_table_profile", a12TableProfile, Some(
      """SELECT col_name, n_rows, n_null, n_distinct, min_val, max_val
        |FROM (
        | SELECT 'l_quantity' AS col_name, COUNT(*) AS n_rows,
        |  CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS n_null,
        |  CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
        |  CAST(MIN(l_quantity) AS DOUBLE) AS min_val,
        |  CAST(MAX(l_quantity) AS DOUBLE) AS max_val FROM lineitem
        | UNION ALL
        | SELECT 'l_extendedprice', COUNT(*),
        |  CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
        |  CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
        |  CAST(MIN(l_extendedprice) AS DOUBLE),
        |  CAST(MAX(l_extendedprice) AS DOUBLE) FROM lineitem
        | UNION ALL
        | SELECT 'l_discount', COUNT(*),
        |  CAST(COUNT(*) - COUNT(l_discount) AS BIGINT),
        |  CAST(COUNT(DISTINCT l_discount) AS BIGINT),
        |  CAST(MIN(l_discount) AS DOUBLE),
        |  CAST(MAX(l_discount) AS DOUBLE) FROM lineitem
        | UNION ALL
        | SELECT 'l_tax', COUNT(*),
        |  CAST(COUNT(*) - COUNT(l_tax) AS BIGINT),
        |  CAST(COUNT(DISTINCT l_tax) AS BIGINT),
        |  CAST(MIN(l_tax) AS DOUBLE),
        |  CAST(MAX(l_tax) AS DOUBLE) FROM lineitem) t
        |ORDER BY col_name""".stripMargin)),

    RowDef("a8_pivot", a8Pivot, Some {
      def cell(t: String) =
        s"""CAST(ROUND(SUM(CASE WHEN event_type = '$t'
           |  THEN CAST(value AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS $t"""
          .stripMargin.replace("\n", " ")
      s"""SELECT user_id % 10 AS user_bucket,
         | ${Seq("click", "error", "purchase", "signup", "view")
               .map(cell).mkString(",\n ")}
         |FROM events GROUP BY user_id % 10 ORDER BY user_bucket""".stripMargin
    }),

    RowDef("a11_conditional_agg", a11ConditionalAgg, Some(
      """SELECT l_returnflag,
        | COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
        | CAST(ROUND(SUM(CASE WHEN l_quantity > 25
        |   THEN CAST(l_extendedprice AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS sum_big,
        | bool_and(l_quantity > 0) AS all_pos,
        | bool_or(l_discount > 0.09) AS any_deep_disc,
        | max_by(l_orderkey,
        |   CAST(l_extendedprice AS DECIMAL(28,4)) * 1000000000
        |     + l_orderkey * 10 + l_linenumber) AS top_price_order
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    RowDef("p20_datetime_funcs", p20DatetimeFuncs, Some(
      """SELECT o_orderkey,
        | date_diff('day', CAST(o_orderdate AS DATE), DATE '1995-06-17') AS days_to_ref,
        | CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end,
        | CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
        | CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE) AS week_start,
        | CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
        | CAST(dayofyear(CAST(o_orderdate AS DATE)) AS INTEGER) AS doy,
        | CAST(week(CAST(o_orderdate AS DATE)) AS INTEGER) AS woy
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    RowDef("p21_string_funcs", p21StringFuncs, Some(
      """SELECT c_custkey,
        | split_part(c_name, '#', 2) AS id_part,
        | translate(c_name, 'Cu0', 'cU-') AS translated,
        | repeat(right(c_name, 3), 2) AS repeated,
        | reverse(left(c_name, 8)) AS reversed,
        | CAST(position('#' IN c_name) AS INTEGER) AS hash_pos,
        | CAST(ascii(c_name) AS INTEGER) AS first_code
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    RowDef("p22_array_funcs", p22ArrayFuncs, Some(
      """SELECT doc_id,
        | list_contains(string_split(text,' '), 'the') AS has_the,
        | CAST(list_position(string_split(text,' '), 'the') AS BIGINT) AS the_pos,
        | CAST(len(list_distinct(string_split(text,' '))) AS INTEGER) AS n_distinct,
        | list_aggregate(string_split(text,' '), 'max') AS max_word,
        | list_aggregate(string_split(text,' '), 'min') AS min_word,
        | array_to_string(list_sort(string_split(text,' '))[1:3], '|') AS first3_sorted
        |FROM documents ORDER BY doc_id""".stripMargin)),

    RowDef("a9_group_concat", a9GroupConcat, Some(
      """SELECT s_nationkey, COUNT(*) AS n,
        | string_agg(s_name, ',' ORDER BY s_name) AS names_csv
        |FROM supplier WHERE s_suppkey % 7 = 0
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    RowDef("a10_unpivot", a10Unpivot, Some(
      """WITH wide AS (
        |  SELECT user_id % 10 AS user_bucket, event_type,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY user_id % 10, event_type)
        |SELECT user_bucket, event_type, sum_value FROM wide
        |WHERE sum_value IS NOT NULL
        |ORDER BY user_bucket, event_type""".stripMargin)),

    RowDef("st3_gapfill", st3GapFill, Some(
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |span AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
        |         FROM hourly GROUP BY event_type),
        |allh AS (SELECT event_type,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM span)
        |SELECT a.event_type, CAST(a.h AS VARCHAR) AS hour_start,
        |       COALESCE(hourly.n, 0) AS n
        |FROM allh a LEFT JOIN hourly ON a.event_type = hourly.event_type
        |                            AND a.h = hourly.h
        |ORDER BY a.event_type, hour_start""".stripMargin)),
    RowDef("j7_asof_join", j7AsofJoin, Some(
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
        |                   event_type, value FROM events),
        |quotes AS (SELECT user_id, t_us AS q_us,
        |    MAX(CAST(value AS DECIMAL(18,2))) AS quote
        |  FROM ev WHERE event_type = 'purchase' GROUP BY user_id, t_us),
        |trades AS (SELECT event_id, user_id, t_us, value
        |  FROM ev WHERE event_type = 'view')
        |SELECT t.event_id, t.user_id, t.t_us, t.value, q.q_us,
        |       CAST(q.quote AS DOUBLE) AS quote
        |FROM trades t ASOF LEFT JOIN quotes q
        |  ON t.user_id = q.user_id AND t.t_us >= q.q_us
        |ORDER BY t.event_id""".stripMargin)),

    RowDef("j8_range_join", j8RangeJoin, Some(
      """WITH pts AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS cents FROM lineitem),
        |bands AS (SELECT id AS band_id, id*60000 AS lo, id*60000+90000 AS hi
        |  FROM range(200) t(id))
        |SELECT band_id, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM pts JOIN bands ON cents >= lo AND cents < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin)),

    RowDef("j10_bbox_join", j10BboxJoin, Some(
      """WITH pts AS (SELECT s_suppkey,
        |   (s_suppkey*7) % 12000 - 6000 AS px,
        |   (s_suppkey*13) % 34000 - 17000 AS py FROM supplier),
        |boxes AS (SELECT n_nationkey AS box_id,
        |   (n_nationkey*11) % 12000 - 6900 AS xlo,
        |   (n_nationkey*11) % 12000 - 6900 + 1800 AS xhi,
        |   (n_nationkey*17) % 34000 - 18500 AS ylo,
        |   (n_nationkey*17) % 34000 - 18500 + 3000 AS yhi FROM nation)
        |SELECT box_id, COUNT(*) AS n_points, MIN(s_suppkey) AS min_supp
        |FROM pts JOIN boxes
        |  ON px >= xlo AND px < xhi AND py >= ylo AND py < yhi
        |GROUP BY box_id ORDER BY box_id""".stripMargin)),

    RowDef("a5_rollup", a5Rollup, Some(
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    RowDef("p24_bitwise_funcs", p24BitwiseFuncs, Some(
      """SELECT o_orderkey AS k,
        | o_orderkey & 255 AS band,
        | o_orderkey | 15 AS bor,
        | xor(o_orderkey, 4095) AS bxor,
        | (o_orderkey % 1024) << 3 AS shl,
        | o_orderkey >> 2 AS shr,
        | CAST(bit_count(o_orderkey) AS BIGINT) AS nbits,
        | lower(to_hex(o_orderkey)) AS hx,
        | bit_and(o_orderkey & 255)
        |   OVER (PARTITION BY o_orderkey % 7) AS gand,
        | bit_or(o_orderkey & 255)
        |   OVER (PARTITION BY o_orderkey % 7) AS gor,
        | bit_xor(o_orderkey & 255)
        |   OVER (PARTITION BY o_orderkey % 7) AS gxor
        |FROM orders ORDER BY k""".stripMargin)),

    RowDef("a18_grouping_sets", a18GroupingSets, Some(
      """SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        | o_orderstatus, o_orderpriority, COUNT(*) AS n,
        | CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
        |   AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus NULLS FIRST,
        |         o_orderpriority NULLS FIRST""".stripMargin)),

    RowDef("a5b_cube", a5bCube, Some(
      """SELECT CAST(GROUPING(lang, source) AS BIGINT) AS gid,
        | lang, source, COUNT(*) AS n,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE(lang, source)
        |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin)),

    RowDef("w5_quality_deciles", w5QualityDeciles, Some(
      """SELECT doc_id, lang, n_chars,
        | CAST(NTILE(10) OVER w AS BIGINT) AS decile,
        | ROUND(PERCENT_RANK() OVER w, 6) AS pr,
        | ROUND(CUME_DIST() OVER w, 6) AS cd
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC)
        |ORDER BY doc_id""".stripMargin)),

    // j11: DuckDB's real recursive CTE is the ground truth the
    // pointer-doubling loop must reproduce exactly. The walk steps
    // only through nodes that EXIST as documents — the operator's
    // edge set is (child ∈ docs, child > 0), so an ancestor chain
    // stops at the first id outside the corpus (r9: the arithmetic
    // unconditional walk silently assumed a dense id space and
    // diverged on the sparse 5× replica blocks — 13 vs 16 depth
    // rows); anc is the stopping ancestor, n_rooted counts chains
    // that reached root 0.
    RowDef("j11_hierarchy", j11Hierarchy, Some(
      """WITH RECURSIVE walk AS (
        |  SELECT doc_id, doc_id AS cur, 0 AS d FROM documents
        |  UNION ALL
        |  SELECT w.doc_id, (w.cur - 1) // 2, w.d + 1 FROM walk w
        |  WHERE w.cur > 0
        |    AND EXISTS (SELECT 1 FROM documents p WHERE p.doc_id = w.cur)),
        |fin AS (SELECT doc_id, CAST(MAX(d) AS BIGINT) AS depth,
        |               arg_max(cur, d) AS anc
        |        FROM walk GROUP BY doc_id)
        |SELECT depth, COUNT(*) AS n_nodes,
        |       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
        |       COUNT(*) FILTER (WHERE anc = 0) AS n_rooted
        |FROM fin GROUP BY depth ORDER BY depth""".stripMargin)),

    RowDef("w8_range_frame", w8RangeFrame, Some(
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
        |  CAST(value AS DECIMAL(18,2)) AS v FROM events)
        |SELECT event_id, user_id, t_us,
        | COUNT(*) OVER w AS n_1h,
        | CAST(ROUND(SUM(v) OVER w, 2) AS DOUBLE) AS sum_1h
        |FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t_us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),

    // a15: quantile_cont == Spark's interpolated percentile; small
    // exact values make every median/MAD comparison tie-free
    RowDef("a15_robust_zscore", a15RobustZscore, Some(
      """WITH li AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS q
        |            FROM lineitem),
        |med AS (SELECT l_returnflag, quantile_cont(q, 0.5) AS med
        |        FROM li GROUP BY 1),
        |mad AS (SELECT li.l_returnflag,
        |          quantile_cont(abs(q - med), 0.5) AS mad, MAX(med) AS med
        |        FROM li JOIN med USING (l_returnflag)
        |        GROUP BY li.l_returnflag)
        |SELECT li.l_returnflag, m.med, m.mad, COUNT(*) AS n_rows,
        | CAST(COUNT(*) FILTER (abs(q - m.med) > m.mad * 3) AS BIGINT)
        |   AS n_outliers,
        | SUM(CASE WHEN abs(q - m.med) > m.mad * 3 THEN q ELSE 0.0 END)
        |   AS outlier_mass
        |FROM li JOIN mad m USING (l_returnflag)
        |GROUP BY li.l_returnflag, m.med, m.mad
        |ORDER BY l_returnflag""".stripMargin)),

    RowDef("w3_lag_rolling", w3LagRolling, Some(
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
        |  CAST(value AS DECIMAL(18,2)) AS v FROM events)
        |SELECT event_id, user_id, t_us,
        | CAST(LAG(v, 1) OVER w AS DOUBLE) AS prev_value,
        | CAST(ROUND(SUM(v) OVER (PARTITION BY user_id ORDER BY t_us, event_id
        |   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS roll_sum,
        | COUNT(*) OVER (PARTITION BY user_id ORDER BY t_us, event_id
        |   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS n_win
        |FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
        |ORDER BY event_id""".stripMargin)),

    RowDef("w9_value_windows", w9ValueWindows, Some(
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
        |  CAST(value AS DECIMAL(18,2)) AS v FROM events)
        |SELECT event_id, user_id, t_us,
        | CAST(FIRST_VALUE(v) OVER wf AS DOUBLE) AS first_v,
        | CAST(LAST_VALUE(v) OVER wf AS DOUBLE) AS last_v,
        | CAST(NTH_VALUE(v, 2) OVER wf AS DOUBLE) AS second_v,
        | CAST(ROUND(SUM(v) OVER wc, 2) AS DOUBLE) AS smooth_sum,
        | COUNT(*) OVER wc AS n_centered
        |FROM ev WINDOW
        | wf AS (PARTITION BY user_id ORDER BY t_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        | wc AS (PARTITION BY user_id ORDER BY t_us, event_id
        |        ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
        |ORDER BY event_id""".stripMargin)),

    RowDef("w10_window_distinct", w10WindowDistinct, Some(
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
        |  event_type FROM events)
        |SELECT event_id, user_id, t_us,
        | CAST(COUNT(DISTINCT event_type) OVER wt AS BIGINT) AS n_distinct_types,
        | COUNT(*) OVER wt AS n_trail
        |FROM ev WINDOW wt AS (PARTITION BY user_id ORDER BY t_us, event_id
        |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),

    RowDef("w4_rank_family", w4RankFamily, Some(
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
        |  CAST(value AS DECIMAL(18,2)) AS v FROM events)
        |SELECT event_id, user_id, CAST(v AS DOUBLE) AS value,
        | RANK() OVER wt AS rnk,
        | DENSE_RANK() OVER wt AS drnk,
        | ROUND(PERCENT_RANK() OVER wt, 6) AS prnk,
        | ROUND(CUME_DIST() OVER wt, 6) AS cdist,
        | NTILE(4) OVER (PARTITION BY user_id ORDER BY v, event_id) AS quartile
        |FROM ev WINDOW wt AS (PARTITION BY user_id ORDER BY v)
        |ORDER BY event_id""".stripMargin)),

    RowDef("a6_setops", a6SetOps, Some(
      """WITH a AS (SELECT c_nationkey AS nationkey FROM customer
        |           WHERE c_mktsegment = 'BUILDING'),
        |     b AS (SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000)
        |SELECT 'union' AS op, nationkey FROM (SELECT nationkey FROM a UNION SELECT * FROM b) t
        |UNION ALL
        |SELECT 'intersect', nationkey FROM (SELECT nationkey FROM a INTERSECT SELECT * FROM b) t
        |UNION ALL
        |SELECT 'except', nationkey FROM (SELECT nationkey FROM a EXCEPT SELECT * FROM b) t
        |ORDER BY op, nationkey""".stripMargin)),

    RowDef("j9_outer_join", j9OuterJoin, Some(
      """WITH big AS (SELECT l_orderkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS big_total,
        |    COUNT(*) AS n_big
        |  FROM lineitem WHERE l_quantity > 45 GROUP BY l_orderkey)
        |SELECT o.o_orderkey, o.o_orderstatus,
        | COALESCE(CAST(ROUND(big.big_total, 2) AS DOUBLE), 0.0) AS big_total,
        | COALESCE(big.n_big, 0) AS n_big,
        | big.l_orderkey IS NOT NULL AS has_big
        |FROM orders o LEFT JOIN big ON o.o_orderkey = big.l_orderkey
        |ORDER BY o.o_orderkey""".stripMargin)),

    RowDef("a7_approx_distinct", a7ApproxDistinct, Some(
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_dc,
        | true AS approx_within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
  )
}
