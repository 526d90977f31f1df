package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.TransformStep
import graft.operators.TransformStep._

/** §2.1 transform-step operators + §2.4 relational core, each as a
  * (session, sfDir) => DataFrame with a DuckDB oracle in
  * [[CoreQueries.oracles]].
  *
  * Determinism rules (SURVEY §3): every query is a well-defined set,
  * ordered on a total key both here and in the oracle; double SUMs
  * accumulate through DECIMAL(18,4) casts on both sides (order can't
  * flip a bit), and every final aggregate is cast to DOUBLE/BIGINT on
  * BOTH sides — engines widen sum(DECIMAL) differently and DuckDB's
  * pandas bridge renders DECIMAL/HUGEINT as float64, so only
  * double/int64 outputs survive a representation-strict compare.
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 1. rename_column (duckdb_engine.py:290)
    "t_rename_column" -> ((s, dir) => {
      TransformStep.applyAll(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
        Seq(RenameColumn("l_quantity", "qty"))
      ).orderBy("l_orderkey", "l_linenumber")
    }),

    // 2. cast_type (duckdb_engine.py:295)
    "t_cast_type" -> ((s, dir) => {
      TransformStep.applyAll(
        t(s, dir, "part").select("p_partkey", "p_size"),
        Seq(CastType("p_size", "bigint"), RenameColumn("p_size", "p_size_big"))
      ).orderBy("p_partkey")
    }),

    // 3. trim_whitespace (duckdb_engine.py:300)
    "t_trim_whitespace" -> ((s, dir) => {
      TransformStep.applyAll(
        t(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment"),
        Seq(TrimWhitespace(Seq("*")))
      ).orderBy("c_custkey")
    }),

    // 4. filter_rows (duckdb_engine.py:310)
    "t_filter_rows" -> ((s, dir) => {
      TransformStep.applyAll(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity", "l_discount"),
        Seq(FilterRows("l_discount > 0.05 AND l_quantity < 25"))
      ).orderBy("l_orderkey", "l_linenumber")
    }),

    // 5. drop_nulls (duckdb_engine.py:314)
    "t_drop_nulls" -> ((s, dir) => {
      TransformStep.applyAll(
        t(s, dir, "events").select("event_id", "user_id", "props"),
        Seq(DropNulls(Seq("user_id", "props")))
      ).orderBy("event_id")
    }),

    // 6a. deduplicate_rows, no keys → DISTINCT * (duckdb_engine.py:319)
    "t_dedup_rows" -> ((s, dir) => {
      TransformStep.applyAll(
        t(s, dir, "lineitem").select("l_returnflag", "l_linestatus"),
        Seq(DeduplicateRows(Nil))
      ).orderBy("l_returnflag", "l_linestatus")
    }),

    // 6b. deduplicate_rows keyed: keep row with min tiebreak per key.
    // (The reference keeps "first by ROWID" — no such order exists in a
    // distributed scan, so the engine makes the order explicit.)
    "t_dedup_keyed" -> ((s, dir) => {
      TransformStep.applyAll(
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus"),
        Seq(DeduplicateRows(Seq("o_custkey"), orderBy = Some("o_orderkey")))
      ).orderBy("o_custkey")
    }),

    // 7. replace_text (duckdb_engine.py:327)
    "t_replace_text" -> ((s, dir) => {
      TransformStep.applyAll(
        t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        Seq(ReplaceText("c_mktsegment", "BUILDING", "OFFICE"))
      ).orderBy("c_custkey")
    }),

    // 8. regex_replace (duckdb_engine.py:336)
    "t_regex_replace" -> ((s, dir) => {
      TransformStep.applyAll(
        t(s, dir, "part").select("p_partkey", "p_type"),
        Seq(RegexReplace("p_type", "[aeiou]", "_"))
      ).orderBy("p_partkey")
    }),

    // 9. add_derived_column (duckdb_engine.py:345)
    "t_derived_column" -> ((s, dir) => {
      TransformStep.applyAll(
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"),
        Seq(AddDerivedColumn("revenue", "l_extendedprice * (1 - l_discount)"))
      ).orderBy("l_orderkey", "l_linenumber")
    }),

    // 10. split_column (duckdb_engine.py:350)
    "t_split_column" -> ((s, dir) => {
      TransformStep.applyAll(
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        Seq(SplitColumn("o_orderpriority", "-", Seq("prio_num", "prio_name")))
      ).orderBy("o_orderkey")
    }),

    // 11. merge_columns (duckdb_engine.py:359)
    "t_merge_columns" -> ((s, dir) => {
      TransformStep.applyAll(
        t(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment"),
        Seq(MergeColumns(Seq("c_name", "c_mktsegment"), " | ", "c_label"))
      ).orderBy("c_custkey")
    }),

    // 12. sql_transform over {{input}} (duckdb_engine.py:367)
    "t_sql_transform" -> ((s, dir) => {
      TransformStep.applyAll(
        t(s, dir, "lineitem"),
        Seq(SqlTransform(
          "SELECT l_returnflag, count(*) AS cnt FROM {{input}} GROUP BY l_returnflag"))
      ).orderBy("l_returnflag")
    }),

    // 13. aggregate: group_by + {col -> fn} (duckdb_engine.py:372)
    "t_aggregate" -> ((s, dir) => {
      TransformStep.applyAll(
        t(s, dir, "lineitem")
          .withColumn("l_quantity", col("l_quantity").cast("decimal(18,4)")),
        Seq(Aggregate(
          Seq("l_returnflag", "l_linestatus"),
          Seq("l_quantity" -> "sum", "l_extendedprice" -> "max", "l_orderkey" -> "count")))
        // decimal accumulation (order-independent), double on the wire —
        // DuckDB's pandas bridge renders DECIMAL as float64, so a decimal
        // output column can never value-compare against the oracle.
      ).withColumn("l_quantity_sum", col("l_quantity_sum").cast("double"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // TPC-H Q1-shaped pricing summary: the flagship agg. Partial
    // (map-side) aggregation + 2-column shuffle — the canonical
    // scale-out agg shape.
    // Final aggregates are pinned to explicit output types: engines
    // widen sum(DECIMAL) differently (Spark p+10, DuckDB 38), and the
    // driver's compare is representation-strict, so every aggregate
    // output carries the same declared type on both sides. avg is
    // ONE IEEE division of two identical values (exact decimal sum →
    // double, / count) — bit-exact across engines, unlike avg(double)
    // whose accumulation order varies.
    "q1_agg" -> ((s, dir) => {
      val qtyDec = sum(col("l_quantity").cast("decimal(18,4)"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          qtyDec.cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          (qtyDec.cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // 3-way join: lineitem ⋈ orders ⋈ customer, agg by segment.
    // orders/lineitem co-shuffle on orderkey; customer joins on custkey;
    // AQE picks broadcast if a side is small at runtime.
    "q_join3" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("c_mktsegment")
    }),

    // Dim-chain broadcast join: customer ⋈ nation ⋈ region (dims are
    // explicitly broadcast — at 100 TB the fact side never shuffles).
    "q_broadcast_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(
          count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,4)"))
            .cast("double").as("sum_acctbal"))
        .orderBy("r_name")
    }),

    // Top order per customer (deterministic tiebreak). NOT a sort
    // window: top-1-per-key is a hash aggregate with max_by — map-side
    // partial agg, no per-key sort, immune to key skew. At 100× a
    // row_number window is a full sort of orders per custkey; this is
    // one shuffle of one row per (partition, key).
    "q_window" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(max_by(
          struct(col("o_orderkey"), col("o_totalprice")),
          struct(col("o_totalprice"), (-col("o_orderkey")).as("_neg"))).as("_top"))
        .select(col("o_custkey"),
          col("_top.o_orderkey").as("o_orderkey"),
          col("_top.o_totalprice").as("o_totalprice"))
        .orderBy("o_custkey")
    }),

    // Global top-k on a total order. Spark's sort+limit is a per-
    // partition top-k then a k-merge on one reducer — no full sort.
    "q_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    }),

    // Tumbling 1-hour window over the events stream table (batch shape;
    // the streaming twin lives in graft.streaming with a watermark).
    "q_events_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)"))
            .cast("double").as("value_sum"))
        .orderBy("hour", "event_type")
    }),

    // Ordered-sequence funnel (view → click AFTER it → purchase AFTER
    // that): the event-analytics staple. Formulated as THREE chained
    // per-user hash aggregates (each with map-side partial combine)
    // instead of a per-user sort window or a collect_list — no task
    // ever materializes a user's full event history, so a hot user
    // (bot traffic) costs only its partial-agg updates. The stage
    // joins are per-user (one row each side past stage 1) and AQE
    // broadcasts the later, strictly-shrinking stages.
    "q_funnel" -> ((s, dir) => {
      // epoch-micros BIGINT output: Spark's parquet INT96 timestamps
      // read back as nanos where the DuckDB oracle emits micros — the
      // value is identical, so pin the representation, not the clock
      graft.operators.Funnel.stages(t(s, dir, "events"),
          Seq("view", "click", "purchase"))
        .select(col("user_id"),
          graft.functions.TimeFunctions.epochMicros(col("t_view")).as("t_view_us"),
          graft.functions.TimeFunctions.epochMicros(col("t_click")).as("t_click_us"),
          graft.functions.TimeFunctions.epochMicros(col("t_purchase")).as("t_purchase_us"))
        .orderBy("user_id")
    }),

    // The ONE-SCAN funnel formulation (per-key sorted timestamp
    // arrays + an array-expression walk of the strict-order
    // recursion — Funnel.stagesOneScan) against the SAME oracle as
    // q_funnel: identical semantics, one source scan and one shuffle
    // instead of one scan per stage. The skew tradeoff is documented
    // on the operator; this entry proves the equivalence end-to-end.
    "q_funnel_os" -> ((s, dir) => {
      graft.operators.Funnel.stagesOneScan(t(s, dir, "events"),
          Seq("view", "click", "purchase"))
        .select(col("user_id"),
          graft.functions.TimeFunctions.epochMicros(col("t_view")).as("t_view_us"),
          graft.functions.TimeFunctions.epochMicros(col("t_click")).as("t_click_us"),
          graft.functions.TimeFunctions.epochMicros(col("t_purchase")).as("t_purchase_us"))
        .orderBy("user_id")
    }),

    // Anti join: customers with no URGENT-priority order (NOT EXISTS
    // against a FILTERED subset — r14: the unfiltered twin passed on
    // 0 rows both sides because every testdata customer has an order,
    // a trivially-equal hash; the filtered anti join emits a real
    // result set, so the row now proves the semantics, not just that
    // the plan runs).
    "q_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // ROLLUP aggregate (multi-level totals in one pass).
    "q_cube_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,4)"))
            .cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // Arbitrary GROUPING SETS (beyond cube/rollup's fixed lattices):
    // status×priority detail + status subtotal + grand total in ONE
    // pass — the Spark 3.4+ groupingSets API, same expand-operator
    // plan shape as rollup.
    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,4)"))
            .cast("double").as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // The funnel's REPORT surface (per-stage completion counts) against
    // the same CTE-chained oracle as q_funnel — one row, three counts.
    "q_funnel_report" -> ((s, dir) =>
      graft.operators.Funnel.report(t(s, dir, "events"),
        Seq("view", "click", "purchase"))),

    // Pivot: wide per-status counts + decimal sums (missing cells → 0
    // to match the oracle's FILTER semantics).
    "q_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0L)).as("cnt_f"),
          coalesce(col("O"), lit(0L)).as("cnt_o"))
        .orderBy("l_returnflag")
    }),

    // e_preview: deterministic ordered preview (preview_file).
    "e_preview" -> ((s, dir) => {
      t(s, dir, "nation").orderBy("n_nationkey").limit(10)
    }),

    // e_execute_sql: arbitrary SQL over registered named views
    // (execute_sql w/ sources).
    "e_execute_sql" -> ((s, dir) => {
      // register just the referenced views (registerAll would read 10
      // table footers per call)
      Seq("customer", "nation").foreach(n =>
        Tables.load(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT n_name, count(*) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name""")
    }),

    // Range (interval-containment) join: orders matched to overlapping
    // 200-day promo windows (derived deterministically from nation
    // keys), then aggregated per window. Spark plans a bare BETWEEN
    // join as BroadcastNestedLoop — fine for 25 windows, O(|P|·|I|) at
    // scale — so this goes through RangeJoin.intervalJoin: bucket the
    // date axis (64-day buckets ≈ window width/3), explode windows to
    // overlapped buckets, equi-join on bucket + residual BETWEEN. The
    // plan is a plain hash join AQE can treat like any other.
    "q_range_join" -> ((s, dir) => {
      val epoch = lit("1970-01-01").cast("date")
      val win = t(s, dir, "nation")
        .select(col("n_nationkey").as("win_id"),
          date_add(lit("1995-01-01").cast("date"),
            (col("n_nationkey") * 90).cast("int")).as("lo"))
        .withColumn("hi", date_add(col("lo"), 200))
        .select(col("win_id"),
          datediff(col("lo"), epoch).as("lo_d"),
          datediff(col("hi"), epoch).as("hi_d"))
      val pts = t(s, dir, "orders")
        .select(col("o_totalprice"),
          datediff(col("o_orderdate").cast("date"), epoch).as("d"))
      graft.operators.RangeJoin.intervalJoin(pts, "d", win, "lo_d", "hi_d", 64)
        .groupBy("win_id")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)"))
            .cast("double").as("total_price"))
        .orderBy("win_id")
    }),

    // The SAME range join written as the NATURAL BETWEEN condition —
    // no explicit RangeJoin call. The injected optimizer rule
    // (plans.RangeJoinRewrite, via spark.sql.extensions) must rewrite
    // it to the bucketed hash join; this entry puts the rule itself
    // under the driver's oracle gate (identical SQL twin to
    // q_range_join).
    "q_range_join_auto" -> ((s, dir) => {
      val epoch = lit("1970-01-01").cast("date")
      val win = t(s, dir, "nation")
        .select(col("n_nationkey").as("win_id"),
          date_add(lit("1995-01-01").cast("date"),
            (col("n_nationkey") * 90).cast("int")).as("lo"))
        .withColumn("hi", date_add(col("lo"), 200))
        .select(col("win_id"),
          datediff(col("lo"), epoch).as("lo_d"),
          datediff(col("hi"), epoch).as("hi_d"))
      val pts = t(s, dir, "orders")
        .select(col("o_totalprice"),
          datediff(col("o_orderdate").cast("date"), epoch).as("d"))
      pts.join(win, col("d") >= col("lo_d") && col("d") <= col("hi_d"))
        .groupBy("win_id")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)"))
            .cast("double").as("total_price"))
        .orderBy("win_id")
    }),

    // Rolling time-RANGE window: per customer, each order's trailing
    // 90-day order count and average spend — the moving-aggregate
    // shape (sessionless trailing metrics) the frame-less windows
    // above don't cover. RANGE BETWEEN over a day-number axis:
    // partitioned by customer, so the sort is per-key and distributes;
    // the decimal sum is exact, making the double division
    // order-independent across engines.
    "q_rolling_avg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy("d").rangeBetween(-90, 0)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).as("d"),
          col("o_totalprice").cast("decimal(18,4)").as("p"))
        .select(col("o_orderkey"),
          count(lit(1)).over(w).as("n_win"),
          (sum(col("p")).over(w).cast("double") / count(lit(1)).over(w))
            .as("avg_win"))
        .orderBy("o_orderkey")
    }),

    // SCD2 historization (Kimball type-2, the gaps-and-islands build):
    // collapse each user's event stream into validity intervals, one
    // row per run of identical event_type — the keep-all-versions
    // complement of t_upsert. One shuffle: both windows and the
    // boundary filter share (user_id; ts, event_id) partitioning and
    // order. event_id makes the order total under ts ties.
    "q_scd2" -> ((s, dir) => {
      graft.operators.Scd2.historize(t(s, dir, "events"),
          keyCols = Seq("user_id"), tsCol = "ts",
          trackCols = Seq("event_type"), tieCols = Seq("event_id"))
        .orderBy("user_id", "valid_from", "event_type")
    }),

    // Incremental SCD2: historize the first half-month, then fold the
    // second half in as an observation batch WITHOUT re-historizing —
    // closed intervals pass through by anti-join, only touched keys'
    // current rows re-enter. Result ≡ the full-log historize, so the
    // SAME gaps-and-islands oracle applies; the out-of-order guard
    // and continuation semantics are spec'd in Scd2Spec.
    "q_scd2_apply" -> ((s, dir) => {
      val events = t(s, dir, "events")
      val t0 = lit("2024-01-16 00:00:00").cast("timestamp")
      val history = graft.operators.Scd2.historize(
        events.filter(col("ts") < t0),
        Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"))
      graft.operators.Scd2.applyChanges(history,
          events.filter(col("ts") >= t0),
          Seq("user_id"), "ts", Seq("event_type"), Seq("event_id"))
        .orderBy("user_id", "valid_from", "event_type")
    }),

    // Upsert / change-set merge (the MERGE INTO shape on plain
    // parquet): a deterministic change batch — updates for custkey
    // % 100 == 0 (+100 acctbal), deletes for % 97 == 0, inserts
    // shifted by 10^6 — applied as ONE anti join (broadcast: nightly
    // changes are small next to a full-history base) + a free union.
    "t_upsert" -> ((s, dir) => {
      val base = t(s, dir, "customer")
      val updates = base.filter(col("c_custkey") % 100 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .withColumn("op", lit("U"))
      val deletes = base.filter(col("c_custkey") % 97 === 0)
        .withColumn("op", lit("D"))
      val inserts = base.filter(col("c_custkey") % 150 === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)
        .withColumn("op", lit("I"))
      val changes = updates.unionByName(deletes).unionByName(inserts)
      graft.operators.Upsert.applyChanges(base, changes, Seq("c_custkey"))
        .orderBy("c_custkey")
    }),

    // Incremental aggregation over an append-only lake: lineitem
    // arrives as three "daily" batches (orderkey residue classes);
    // each batch is reduced ONCE to partial aggregates in parquet
    // state, and the answer merges the partials — the corpus is never
    // rescanned. avg rides the operator's own sum+count partials
    // through the q1_agg determinism trick (exact decimal sum →
    // double, ONE IEEE division), so the oracle compare is
    // order-independent across engines.
    "e_incr_agg" -> ((s, dir) => {
      import graft.operators.IncrementalAgg
      // decimal accumulation: sum(double) reassociates across
      // partitions — same pinning as q1_agg, on both engines
      val li = t(s, dir, "lineitem")
        .withColumn("l_quantity", col("l_quantity").cast("decimal(18,4)"))
        .withColumn("l_discount", col("l_discount").cast("decimal(18,4)"))
      val state = graft.LocalFs.tempDir("graft_incr").toString
      val metrics = Seq(
        IncrementalAgg.Count("n_rows"),
        IncrementalAgg.Sum("l_quantity", "sum_qty"),
        IncrementalAgg.Min("l_extendedprice", "min_price"),
        IncrementalAgg.Max("l_extendedprice", "max_price"),
        IncrementalAgg.Sum("l_discount", "sum_disc"))
      IncrementalAgg.fit(li.filter(col("l_orderkey") % 3 === 0),
        Seq("l_returnflag", "l_linestatus"), metrics, state, "d0")
      // The two appends are independent batches into disjoint batch
      // dirs — overlap them (guide §2.6: submit independent jobs from
      // driver threads so the second job back-fills the first's task
      // tail). Same writes, same state, same result; the operator's
      // commit protocol is per-batch-dir so concurrent appends of
      // DIFFERENT ids are safe by design.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.traverse(Seq(1, 2))(i => Future(
        IncrementalAgg.append(
          state, li.filter(col("l_orderkey") % 3 === i), s"d$i"))),
        scala.concurrent.duration.Duration.Inf)
      IncrementalAgg.result(s, state)
        .withColumn("avg_disc", col("sum_disc").cast("double") / col("n_rows"))
        .withColumn("sum_qty", col("sum_qty").cast("double"))
        .withColumn("min_price", col("min_price").cast("double"))
        .withColumn("max_price", col("max_price").cast("double"))
        .withColumn("sum_disc", col("sum_disc").cast("double"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Unpivot/melt (wide → long) as a TransformStep; one generate
    // projection, no shuffle.
    "t_unpivot" -> ((s, dir) => {
      graft.operators.TransformStep.Unpivot(
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
        .apply(t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("l_orderkey", "l_linenumber", "metric")
    })
  )

  val oracles: Map[String, String] = Map(
    "q_range_join" ->
      """WITH win AS (
        |  SELECT n_nationkey AS win_id,
        |    DATE '1995-01-01' + CAST(n_nationkey * 90 AS INTEGER) AS lo,
        |    DATE '1995-01-01' + CAST(n_nationkey * 90 + 200 AS INTEGER) AS hi
        |  FROM nation)
        |SELECT win_id, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        |FROM win JOIN orders ON CAST(o_orderdate AS DATE) BETWEEN lo AND hi
        |GROUP BY win_id ORDER BY win_id""".stripMargin,
    "q_range_join_auto" ->
      """WITH win AS (
        |  SELECT n_nationkey AS win_id,
        |    DATE '1995-01-01' + CAST(n_nationkey * 90 AS INTEGER) AS lo,
        |    DATE '1995-01-01' + CAST(n_nationkey * 90 + 200 AS INTEGER) AS hi
        |  FROM nation)
        |SELECT win_id, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        |FROM win JOIN orders ON CAST(o_orderdate AS DATE) BETWEEN lo AND hi
        |GROUP BY win_id ORDER BY win_id""".stripMargin,
    "q_rolling_avg" ->
      """SELECT o_orderkey,
        |  count(*) OVER w AS n_win,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS avg_win
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |  RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q_scd2" ->
      """WITH ordered AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    (lag(1) OVER w IS NULL) AS is_first,
        |    lag(event_type) OVER w AS prev_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |starts AS (
        |  SELECT user_id, event_type, ts, event_id FROM ordered
        |  WHERE is_first OR prev_type IS DISTINCT FROM event_type)
        |SELECT user_id, event_type,
        |  ts AS valid_from,
        |  lead(ts) OVER w2 AS valid_to,
        |  (lead(ts) OVER w2 IS NULL) AS is_current
        |FROM starts
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from, event_type""".stripMargin,
    "q_scd2_apply" ->
      """WITH ordered AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    (lag(1) OVER w IS NULL) AS is_first,
        |    lag(event_type) OVER w AS prev_type
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |starts AS (
        |  SELECT user_id, event_type, ts, event_id FROM ordered
        |  WHERE is_first OR prev_type IS DISTINCT FROM event_type)
        |SELECT user_id, event_type,
        |  ts AS valid_from,
        |  lead(ts) OVER w2 AS valid_to,
        |  (lead(ts) OVER w2 IS NULL) AS is_current
        |FROM starts
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from, event_type""".stripMargin,
    "e_incr_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(min(l_extendedprice) AS DOUBLE) AS min_price,
        |  CAST(max(l_extendedprice) AS DOUBLE) AS max_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "t_upsert" ->
      """WITH changes AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |    c_acctbal + 100.0 AS c_acctbal, c_mktsegment, 'U' AS op
        |  FROM customer WHERE c_custkey % 100 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, 'D'
        |  FROM customer WHERE c_custkey % 97 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
        |    c_mktsegment, 'I'
        |  FROM customer WHERE c_custkey % 150 = 0
        |)
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM changes)
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM changes WHERE op != 'D'
        |ORDER BY c_custkey""".stripMargin,
    "t_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value
        |FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
        |                 l_extendedprice, l_discount FROM lineitem)
        |      ON l_quantity, l_extendedprice, l_discount
        |      INTO NAME metric VALUE value)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "t_rename_column" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "t_cast_type" ->
      """SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size_big
        |FROM part ORDER BY p_partkey""".stripMargin,
    "t_trim_whitespace" ->
      """SELECT c_custkey, TRIM(c_name) AS c_name, TRIM(c_mktsegment) AS c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "t_filter_rows" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_discount > 0.05 AND l_quantity < 25
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "t_drop_nulls" ->
      """SELECT event_id, user_id, props FROM events
        |WHERE user_id IS NOT NULL AND props IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "t_dedup_rows" ->
      """SELECT DISTINCT l_returnflag, l_linestatus
        |FROM lineitem ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "t_dedup_keyed" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS _rn
        |  FROM (SELECT o_orderkey, o_custkey, o_orderstatus FROM orders)
        |) WHERE _rn = 1 ORDER BY o_custkey""".stripMargin,
    "t_replace_text" ->
      """SELECT c_custkey, REPLACE(c_mktsegment, 'BUILDING', 'OFFICE') AS c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "t_regex_replace" ->
      """SELECT p_partkey, regexp_replace(p_type, '[aeiou]', '_', 'g') AS p_type
        |FROM part ORDER BY p_partkey""".stripMargin,
    "t_derived_column" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount,
        |  l_extendedprice * (1 - l_discount) AS revenue
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "t_split_column" ->
      """SELECT o_orderkey, o_orderpriority,
        |  string_split(o_orderpriority, '-')[1] AS prio_num,
        |  string_split(o_orderpriority, '-')[2] AS prio_name
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "t_merge_columns" ->
      """SELECT c_custkey, c_name, c_mktsegment,
        |  COALESCE(CAST(c_name AS VARCHAR), '') || ' | ' ||
        |  COALESCE(CAST(c_mktsegment AS VARCHAR), '') AS c_label
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "t_sql_transform" ->
      """SELECT l_returnflag, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "t_aggregate" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS l_quantity_sum,
        |  max(l_extendedprice) AS l_extendedprice_max,
        |  count(l_orderkey) AS l_orderkey_count
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join3" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_broadcast_join" ->
      """SELECT r_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders
        |) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q_events_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_funnel_report" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1
        |), p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1
        |)
        |SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
        |  CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
        |  CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase""".stripMargin,

    "q_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1
        |), p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1
        |)
        |SELECT v.user_id, epoch_us(v.t_view) AS t_view_us,
        |  epoch_us(c.t_click) AS t_click_us,
        |  epoch_us(p.t_purchase) AS t_purchase_us
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // one-scan formulation, identical funnel semantics → same oracle
    "q_funnel_os" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1
        |), p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1
        |)
        |SELECT v.user_id, epoch_us(v.t_view) AS t_view_us,
        |  epoch_us(c.t_click) AS t_click_us,
        |  epoch_us(p.t_purchase) AS t_purchase_us
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "q_semi_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_cube_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_pivot" ->
      """SELECT l_returnflag,
        |  count(*) FILTER (l_linestatus = 'F') AS cnt_f,
        |  count(*) FILTER (l_linestatus = 'O') AS cnt_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "e_preview" ->
      "SELECT * FROM nation ORDER BY n_nationkey LIMIT 10",
    "e_execute_sql" ->
      """SELECT n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin
  )
}
