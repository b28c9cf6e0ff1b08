package graft.queries

import graft.Tables
import graft.ColUtil._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream query surface (batch analogues of the streaming pipeline in
  * graft.streaming — SURVEY.md §2.10).
  *
  * `events.ts` is TIMESTAMP(NANOS) parquet which Spark reads as a raw
  * epoch-nanos long (Tables.RequiredConf carries the nanosAsLong flag,
  * applied at session build); all bucketing is exact
  * integer arithmetic on nanos, matching DuckDB's epoch_ns() — this also
  * keeps window boundaries deterministic (no ns->us truncation drift).
  */
object EventOps {
  type Q = (SparkSession, String) => DataFrame

  // all event-time arithmetic runs at MICROsecond precision: DuckDB's
  // parquet reader truncates TIMESTAMP(NANOS) to us, so the oracle can only
  // see us — Spark truncates the same way (ts div 1000) for exact parity.
  private val FiveMinUs = 300000000L
  private val SessionGapUs = 1800000000L // 30 min
  private val HourUs = 3600000000L
  private val SevenDaysUs = 7L * 86400000000L

  val defs: Map[String, Q] = Map(
    // key-distribution profile of the events join key: the diagnostic
    // that decides plain vs broadcast vs salted join at scale. Top-10
    // heaviest users + global summary, all-integer
    "profile_key_skew" -> ((s, d) => {
      graft.operators.Profiling.keySkew(Tables.events(s, d),
        col("user_id"), topK = 10)
    }),

    // order-independent per-source content digest: arithmetic md5 u32
    // row hashes folded as sum + sum-of-squares — the cross-engine
    // replica audit (same data elsewhere <=> same three numbers),
    // one aggregation pass, no sort, no row shipping
    "profile_content_digest" -> ((s, d) => {
      graft.operators.Profiling.contentDigest(Tables.documents(s, d),
          col("source"), Seq(col("doc_id"), col("lang"), col("n_chars")))
        .orderBy(col("grp"))
    }),

    // per-column table profile in one aggregation pass: null counts,
    // exact distinct counts, stringified min/max — the double column
    // goes through decimal so both engines render identical strings
    "profile_columns" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,4)"))
      graft.operators.Profiling.columnProfile(o,
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"))
        .orderBy(col("col_name"))
    }),

    // EXACT equi-depth histogram of the value column: global NTILE would
    // collapse to one partition; this routes through the range-
    // repartitioned dense row number and a pure-integer Bresenham bucket
    // rule shared with the oracle (operators.Profiling scaladoc)
    "profile_equidepth" -> ((s, d) => {
      val e = Tables.events(s, d).where(col("value").isNotNull)
        .select(expr("cast(round(value * 10000) as bigint)").as("v4"),
          col("event_id"))
      graft.operators.Profiling.equiDepthHistogram(e, col("v4"),
          Seq("v4", "event_id"), buckets = 8)
        .orderBy(col("bucket"))
    }),

    // chi-square association report between event type and a user
    // cohort: per-cell observed/expected/contribution — float ops are a
    // fixed scalar dag over exact integer counts, so the report is
    // bit-identical cross-engine (a float SUM of the statistic would
    // drift with partition order; summing `contrib` client-side gives
    // the statistic)
    "profile_chi2_assoc" -> ((s, d) => {
      val e = Tables.events(s, d)
        .withColumn("cohort", col("user_id") % 4)
      graft.operators.Profiling.chi2Association(e, col("event_type"),
          col("cohort"))
        .orderBy(col("a"), col("b"))
    }),

    // exact mutual information between return flag and line status:
    // the information-theoretic association next to chi2 — per-cell
    // integer numerators (log via the fixed-point log2_fp expression),
    // MI_bits = sum(mi_num)/(N*2^20), all hash-exact
    "profile_mutual_info" -> ((s, d) => {
      graft.operators.Profiling.mutualInfo(Tables.lineitem(s, d),
          col("l_returnflag"), col("l_linestatus"))
        .orderBy(col("a"), col("b"))
    }),

    // broadcast interval-lookup join: user-id cohort blocks (with a
    // deliberate 10..29 gap -> NULL cohort) attach by binary search
    // over bounds-array literals instead of the BroadcastNestedLoopJoin
    // a BETWEEN join would plan — O(log n) per probe row, no shuffle
    "join_range_lookup" -> ((s, d) => {
      import s.implicits._
      val dim = Seq((0L, 4L, "c0"), (5L, 9L, "c1"), (30L, 99L, "c3"),
        (100L, 399L, "c4"), (400L, 999999L, "c5"))
        .toDF("lo", "hi", "cohort")
      graft.operators.RangeDim.lookupJoin(Tables.events(s, d), dim,
          col("user_id"), "lo", "hi", Seq("cohort"))
        .groupBy(col("cohort")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("cohort"))
    }),

    // dynamic partition pruning, demonstrated end to end: events land
    // partitioned by day index, the selective dim side (every third
    // day) broadcasts, and Spark's DPP injects its runtime subquery
    // into the partitioned scan's PartitionFilters — only matching
    // day directories are read (plan-asserted in PlanSpec). The
    // oracle replays the join relationally from the raw table: pruning
    // must never change results
    "join_dpp_prune" -> ((s, d) => {
      val root = Scratch.dir("join_dpp_prune", d) + "/ev"
      val DayNs = 86400000000000L
      Tables.events(s, d)
        .withColumn("day", expr(s"ts div ${DayNs}L"))
        .write.mode("overwrite").partitionBy("day").parquet(root)
      val fact = s.read.parquet(root)
      val dim = Tables.events(s, d)
        .select(expr(s"ts div ${DayNs}L").as("day")).distinct()
        .filter(col("day") % 3 === 0)
      fact.join(broadcast(dim), "day")
        .groupBy(col("day")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("day"))
    }),

    // distribution drift between the click and purchase value
    // distributions: width-25 histograms full-outer aligned, per-bucket
    // absolute difference — the corpus-version drift report, integral
    "profile_value_drift" -> ((s, d) => {
      val ev = Tables.events(s, d)
      graft.operators.Profiling.histogramDrift(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          col("value"), width = 25.0)
        .orderBy(col("bucket"))
    }),

    // batch analogue of the streaming LEFT OUTER interval join
    // (EventsPipeline.purchaseClickJoinOuter): every purchase with its
    // same-user clicks in the trailing hour — purchases with NO click
    // survive with count 0 / null first click. Equi key (user) + time-
    // range residual; exact integer microsecond arithmetic both engines.
    "join_interval_outer" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          expr("ts div 1000").as("p_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"),
          col("event_id").as("click_id"), expr("ts div 1000").as("c_us"))
      p.join(c, col("user_id") === col("c_user") &&
          col("c_us") >= col("p_us") - HourUs &&
          col("c_us") <= col("p_us"), "left_outer")
        .groupBy(col("purchase_id"), col("user_id"), col("p_us"))
        .agg(count(col("click_id")).as("n_clicks"),
          min(col("click_id")).as("first_click"))
        .orderBy(col("purchase_id"))
    }),

    // the SAME interval-join semantics through the native sweep operator
    // (plans.IntervalJoinExec: sorted sliding-window merge, O(n+m+out)
    // per key vs the built-in SMJ's per-key cross product) — oracle-
    // identical to join_interval_outer by construction, which is the
    // point: the custom physical operator must not change one row
    "join_interval_sweep" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          expr("ts div 1000").as("p_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          expr("ts div 1000").as("c_us"))
      graft.operators.IntervalJoin.intervalJoinNative(p, c,
          Seq("user_id"), "p_us", "c_us", Seq("click_id"),
          before = HourUs, after = 0L, outer = true)
        .groupBy(col("purchase_id"), col("user_id"), col("p_us"))
        .agg(count(col("ij_click_id")).as("n_clicks"),
          min(col("ij_click_id")).as("first_click"))
        .orderBy(col("purchase_id"))
    }),

    // time-series regularization: hourly per-user grid over the event
    // span, gaps carried forward (time_bucket_gapfill / resample-ffill)
    "events_resample_gapfill" -> ((s, d) => {
      val ev = Tables.events(s, d)
      graft.operators.Resample.gapFill(ev, col("user_id"),
          expr(s"(ts div 1000) div $HourUs"), money(col("value")))
        .select(col("k").as("user_id"),
          (col("bucket") * 3600).as("bucket_s"), col("n_obs"),
          col("filled_dec").cast("double").as("filled_value"))
        .orderBy(col("user_id"), col("bucket_s"))
    }),

    // linear interpolation variant: gap rows take the line between the
    // surrounding observations (IEEE-double identical both engines)
    "events_resample_interp" -> ((s, d) => {
      val ev = Tables.events(s, d)
      graft.operators.Resample.gapFillInterp(ev, col("user_id"),
          expr(s"(ts div 1000) div $HourUs"), money(col("value")))
        .select(col("k").as("user_id"),
          (col("bucket") * 3600).as("bucket_s"), col("n_obs"),
          col("interp_value"))
        .orderBy(col("user_id"), col("bucket_s"))
    }),

    // RANGE window frame: trailing-hour totals per user keyed on the
    // event-TIME VALUE (ties share a frame), not on row counts — the
    // value-based frame family the rows-frame queries don't exercise
    "window_range_trailing" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-(HourUs - 1), 0)
      ev.select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), money(col("value")).as("v"))
        .withColumn("n_trailing_1h", count(lit(1)).over(w))
        .withColumn("sum_trailing_1h",
          sum(col("v")).over(w).cast("double"))
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("n_trailing_1h"), col("sum_trailing_1h"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    }),

    // tumbling 5-minute window per event type
    "events_tumbling_window" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // `div` = integral division (long / long -> double with `/`);
      // positive nanos so trunc == floor == DuckDB's //
      ev.groupBy(expr(s"((ts div 1000) div $FiveMinUs) * 300").as("bucket_s"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("value"))).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("bucket_s"), col("event_type"))
    }),

    // session windows: 30-min-gap sessionization per user
    "events_sessionize" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val withGap = ev
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            col("ts_us") - col("prev_us") > SessionGapUs, 1).otherwise(0))
      val withSid = withGap.withColumn("session_id",
        sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      withSid.groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts_us")).as("session_start_us"),
          max(col("ts_us")).as("session_end_us"),
          count(lit(1)).as("n_events"),
          sum(money(col("value"))).cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // interval coalescing: each event opens a span of `value` minutes;
    // overlapping/touching spans per user merge into maximal disjoint
    // activity spans (Intervals.merge — the union-of-intervals sweep)
    "events_interval_merge" -> ((s, d) => {
      val iv = Tables.events(s, d)
        .withColumn("start_us", expr("ts div 1000"))
        .withColumn("end_us",
          col("start_us") + floor(col("value") * lit(60000000L)).cast("long"))
      graft.operators.Intervals
        .merge(iv, Seq("user_id"), col("start_us"), col("end_us"))
        .orderBy(col("user_id"), col("span_start"))
    }),

    // sliding 10-min windows every 5 min (batch form of the streaming
    // sliding window: each event lands in size/slide = 2 buckets)
    "events_sliding_window" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("b", expr(s"(ts div 1000) div $FiveMinUs"))
      ev.select(col("event_type"), col("value"),
          explode(array(col("b"), col("b") - 1)).as("w"))
        .groupBy((col("w") * 300).as("wstart_s"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("value"))).cast("double").as("sum_value"))
        .orderBy(col("wstart_s"), col("event_type"))
    }),

    // JSON extraction from the props column (F6 surface)
    "events_json_extract" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    // VARIANT semi-structured extraction (Spark 4): props parses ONCE
    // into variant's binary encoding, then every path is a typed O(1)
    // field read — vs get_json_object re-parsing the string per path
    // (at corpus scale, N extractions cost one parse, not N)
    "events_variant_extract" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.select(col("event_type"), parse_json(col("props")).as("pv"))
        .select(col("event_type"),
          expr("variant_get(pv, '$.k', 'long')").as("k"),
          expr("try_variant_get(pv, '$.missing', 'long')").as("miss"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          count(col("miss")).as("n_missing_present"))
        .orderBy(col("event_type"))
    }),

    // the BUILT-IN session operator (vs events_sessionize's analytic
    // form): groupBy(session_window) — the same operator Structured
    // Streaming uses with a watermark. Boundary semantics differ from
    // the analytic form: session_window splits at gap >= 30min (merge
    // condition next.start < prev.end) and reports end = last + gap;
    // the oracle mirrors BOTH.
    "events_session_window" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
      ev.groupBy(col("user_id"),
          session_window(col("event_time"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          sum(money(col("value"))).cast("double").as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          unix_micros(col("sw.end")).as("session_end_us"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start_us"))
    }),

    // as-of join: each purchase attached to the user's most recent
    // preceding click — the custom physical operator (graft.plans:
    // AsOfJoinNode/Strategy/Exec, clustered sort-merge with O(1) state;
    // no Spark built-in). DuckDB checks it with its native ASOF JOIN;
    // AsOfPlanSpec asserts parity with the composed union+window form.
    "join_asof_events" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("click_id"), col("value"))
      graft.operators.AsOfJoin.asofBackwardNative(purchases, clicks,
          Seq("user_id"), "ts_us", "ts_us", Seq("click_id", "value"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("asof_click_id"),
          money(col("asof_value")).cast("double").as("asof_value"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    }),

    // tolerance-capped backward as-of: a click older than 10 minutes is
    // no longer attributable — the merge_asof `tolerance` semantic, run
    // through the same native merge pass (the cap is an O(1) comparison
    // in the exec, not a post-filter that would misreport "no match")
    "join_asof_tolerance" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("click_id"), col("value"))
      graft.operators.AsOfJoin.asofNative(purchases, clicks,
          Seq("user_id"), "ts_us", "ts_us", Seq("click_id", "value"),
          "backward", Some(600000000L))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("asof_click_id"),
          money(col("asof_value")).cast("double").as("asof_value"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    }),

    // nearest as-of: each purchase attached to the CLOSEST click either
    // direction within one hour, ties preferring backward (the pandas
    // merge_asof 'nearest' convention) — composed from the two native
    // single-direction merge passes, with the chosen direction emitted
    // so the oracle pins the selection logic itself
    "join_asof_nearest" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("click_id"))
      graft.operators.AsOfJoin.asofNearestNative(purchases, clicks,
          Seq("user_id"), "ts_us", "ts_us", Seq("click_id"),
          tolerance = Some(3600000000L))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("asof_click_id"), col("asof_direction"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    }),

    // forward as-of with tolerance: each purchase attached to the user's
    // NEXT click within one hour (merge-asof's other direction, same
    // custom physical operator; null beyond the tolerance window). The
    // oracle is the pure-ANSI window form, not DuckDB ASOF, so it pins
    // direction+tolerance semantics engine-independently.
    "join_asof_forward" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id").as("click_id"))
      graft.operators.AsOfJoin.asofNative(purchases, clicks,
          Seq("user_id"), "ts_us", "ts_us", Seq("click_id"),
          direction = "forward", tolerance = Some(3600000000L))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("asof_click_id"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    }),

    // per-user activity profile: integer-exact rates
    "events_user_profile" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          min(expr("ts div 1000")).as("first_us"),
          max(expr("ts div 1000")).as("last_us"),
          sum(money(col("value"))).cast("double").as("sum_value"))
        .withColumn("span_s", expr("(last_us - first_us) div 1000000"))
        .orderBy(col("user_id"))
    }),

    // per-type IQR (Tukey-fence) outliers on the value stream — exact
    // interpolated quartiles per group (the cross-engine-exact percentile
    // family agg_percentiles already pins), broadcast fences, map-only
    // test; fence arithmetic is one fixed IEEE association both engines
    "events_outlier_iqr" -> ((s, d) => {
      graft.operators.Quality.iqrOutliers(
          Tables.events(s, d)
            .select(col("event_id"), col("event_type"), col("value")),
          col("event_type"), col("value"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("lo"), col("hi"))
        .orderBy(col("event_id"))
    }),

    // robust MAD outliers per type — the 50%-breakdown companion of the
    // IQR fences (same exact-percentile parity, two grouped passes)
    "events_outlier_mad" -> ((s, d) => {
      graft.operators.Quality.madOutliers(
          Tables.events(s, d)
            .select(col("event_id"), col("event_type"), col("value")),
          col("event_type"), col("value"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"), col("cutoff"))
        .orderBy(col("event_id"))
    }),

    // temporal ANTI join: views never followed by a purchase from the
    // same user within 7 days — the "did A but not B within w" segment.
    // One equi-join on user_id with the window as a join-side predicate,
    // then left_anti semantics via a null probe — never a cartesian;
    // the hot-key variant would ride the interval-join sweep exec
    "events_view_no_purchase" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000").as("us"))
      val views = e.filter(col("event_type") === "view")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("us").as("p_us"))
      views.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_us") > col("us") &&
            col("p_us") <= col("us") + lit(SevenDaysUs),
          "left_anti")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_unconverted_views"),
          min(col("event_id")).as("first_view_id"))
        .orderBy(col("user_id"))
    }),

    // exact two-sample KS drift between even- and odd-user value
    // distributions: CDFs compared by decimal cross-multiplication (no
    // float CDF, no argmax flip), prefix sums distributed
    "profile_ks_drift" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("user_id"), col("value"))
      graft.operators.Profiling.ksReport(
        e.filter(col("user_id") % 2 === 0),
        e.filter(col("user_id") % 2 === 1), col("value"))
    }),

    // PSI drift between early and late shipment quantity distributions:
    // the standard ML-monitoring drift score made hash-exact — the log
    // is the fixed-point integer log2_fp expression and each bucket
    // reports its contribution as an exact integer fraction (psi_num /
    // denom), so there is no float and no division anywhere in the gate
    "profile_psi_drift" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_quantity"), col("l_shipdate"))
      graft.operators.Profiling.psiReport(
          li.filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp")),
          li.filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")),
          col("l_quantity"), lo = 1L, hi = 51L, nBuckets = 10)
        .orderBy(col("bucket"))
    }),

    // winsorized robust mean per event type: clip values at the
    // [p5, p95] fences (keep the rows), then exact-decimal aggregate —
    // the heavy-tail-damped companion of the IQR outlier report
    "events_winsorized_mean" -> ((s, d) => {
      graft.operators.Quality.winsorize(
          Tables.events(s, d)
            .select(col("event_id"), col("event_type"), col("value"))
            .filter(col("value").isNotNull),
          col("event_type"), col("value"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("lo")).as("lo"), min(col("hi")).as("hi"),
          sum(money(col("value_w"))).cast("double").as("sum_w"),
          sum(when(col("value_w") =!= col("value"), 1L).otherwise(0L))
            .as("n_clipped"))
        .orderBy(col("event_type"))
    }),

    // retention cohort matrix: users cohorted by first-active day, then
    // distinct-user counts per (cohort_day, day offset) — the classic
    // companion to the funnel. Day bucketing is exact integer division
    // on epoch-micros; one agg to find cohorts, one equi-join back on
    // user_id, one distinct-count agg — every shuffle keyed on user or
    // the (small) cohort grid.
    "events_retention_cohorts" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("day"))
      val cohorts = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      ev.join(cohorts, "user_id")
        .groupBy(col("cohort_day"),
          (col("day") - col("cohort_day")).as("offset_day"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_day"), col("offset_day"))
    }),

    // conversion-latency distribution over the completed funnel: for
    // every user that finished view -> click -> purchase, the per-stage
    // and end-to-end delays, summarized by exact interpolated quartiles
    // (the cross-engine-exact percentile family agg_percentiles pins).
    "events_funnel_latency" -> ((s, d) => {
      val f = graft.operators.Funnel.stageFrames(
        Tables.events(s, d).select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("us")),
        "user_id", "event_type", col("us"),
        Seq("view", "click", "purchase"), SevenDaysUs).last
      f.agg(count(lit(1)).as("n_converted"),
          percentile(col("t2") - col("t0"), lit(0.25)).as("p25_us"),
          median(col("t2") - col("t0")).as("p50_us"),
          percentile(col("t2") - col("t0"), lit(0.75)).as("p75_us"),
          median(col("t1") - col("t0")).as("p50_view_click_us"),
          median(col("t2") - col("t1")).as("p50_click_purchase_us"))
    }),

    // strict sequential funnel view -> click -> purchase per user inside
    // a 7-day conversion window from the first view: stage i matches the
    // earliest stage-i event strictly after the stage i-1 match. Exact
    // integer microsecond arithmetic; the oracle mirrors the cascade with
    // chained CTEs.
    "events_funnel" -> ((s, d) => {
      graft.operators.Funnel.report(
          Tables.events(s, d)
            .select(col("user_id"), col("event_type"),
              expr("ts div 1000").as("us")),
          "user_id", "event_type", col("us"),
          Seq("view", "click", "purchase"), SevenDaysUs)
        .orderBy(col("stage_idx"))
    }),

    // Markov transition counts over each user's event sequence — the
    // path-analytics primitive (what follows what, how often). One lag
    // window + one groupBy; 'START' marks sequence heads so row counts
    // reconcile (sum(n) == |events|).
    "events_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000").as("us"))
        .withColumn("prev_type",
          coalesce(lag(col("event_type"), 1).over(w), lit("START")))
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("prev_type"), col("next_type"))
    }),

    // Markov sequence anomaly: fit the corpus transition model, score
    // every user's path by mean transition surprisal in exact fixed
    // point, surface the 20 most improbable journeys — bot/fraud
    // detection over behavioral sequences, fully oracle-checked
    "events_sequence_anomaly" -> ((s, d) => {
      graft.operators.SequenceModel.sequenceAnomaly(
        Tables.events(s, d).select(col("user_id"), col("event_id"),
          col("event_type"), expr("ts div 1000").as("us")),
        col("user_id"), col("us"), col("event_id"), col("event_type"),
        k = 20)
    }),

    // top user-journey paths: each user's first 5 events joined into a
    // '>'-path, paths ranked by walker count — the discovered-funnel
    // readout. The rank<=5 cut is WindowGroupLimit-capped; the final
    // cut is TakeOrderedAndProject over |distinct paths|.
    "events_top_paths" -> ((s, d) => {
      graft.operators.Funnel.topPaths(
        Tables.events(s, d).select(col("user_id"), col("event_id"),
          col("event_type"), expr("ts div 1000").as("us")),
        "user_id", "event_type", Seq(col("us"), col("event_id")),
        steps = 5, k = 20)
    }),

    // per-type lag-1..3 autocorrelation of the DAILY event-count
    // series, reported as the exact integer rational (num, den) —
    // multiplied through by n^2 so the mean never divides. The raw
    // scan reduces to |types| x |days| rows before any window runs.
    "events_autocorr" -> ((s, d) => {
      val series = Tables.events(s, d)
        .select(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      graft.operators.Trend.autocorr(series, Seq("event_type"),
          col("day"), col("n"), maxLag = 3)
        .orderBy(col("event_type"), col("lag"))
    }),

    // trailing 21-event median of value per user (robust rolling center).
    // Restricted to rows with a FULL frame: 21 is odd, so the median is a
    // pure element selection — no interpolation arithmetic, hence
    // bit-identical across engines (interpolation formulas may differ in
    // the last ulp between implementations; selection cannot).
    "events_rolling_median" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          expr("ts div 1000").as("us"))
        .withColumn("rn", row_number().over(w))
        .withColumn("med",
          percentile(col("value"), lit(0.5)).over(w.rowsBetween(-20, 0)))
        .filter(col("rn") > 20)
        .select(col("event_id"), col("user_id"), col("value"), col("med"))
        .orderBy(col("event_id"))
    }),

    // trailing z-score anomaly flags, DIVISION-FREE in exact integer
    // arithmetic: value quantized to micro-units v, trailing-20 sums
    // s = sum(v), q = sum(v^2) (decimal(38,0) — q can pass 2^63), and the
    // |x - mean| > 3*sigma test algebraized to (20v - s)^2 > 9(20q - s^2)
    // — every term an exact integer in both engines (DuckDB runs it in
    // HUGEINT), so the boolean can never drift the way a float
    // sqrt/stddev comparison could at the decision boundary.
    // seasonality-adjusted anomalies: residual against the per-(type,
    // hour-of-day) mean in ALL-INTEGER fixed point — dev = |v*n - sum|
    // div n is the mean deviation scaled by 1e4, exact in both engines
    // (the abs keeps the floor/trunc division split irrelevant). The
    // (type, hod) profile is tiny -> broadcast back onto the stream.
    "events_seasonal_baseline" -> ((s, d) => {
      val e = Tables.events(s, d).where(col("value").isNotNull)
        .withColumn("hod", expr("(ts div 1000 div 3600000000) % 24"))
        .withColumn("v4", (money(col("value")) * 10000).cast("long"))
      val p = e.groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("n"), sum(col("v4")).as("s4"))
      e.join(p, Seq("event_type", "hod"))
        .select(col("event_id"), col("event_type"), col("hod"), col("v4"),
          col("n"), expr("abs(v4 * n - s4) DIV n").as("dev_x10000"))
        .orderBy(col("dev_x10000").desc, col("event_id"))
        .limit(20)
    }),

    // G-test of hour-of-day uniformity per event type — is the traffic
    // actually diurnal, or uniform? The likelihood-ratio statistic held
    // exact in 2^-20 log2 units through the integer log (additive
    // across data partitions, unlike chi-square)
    "events_gtest_hourly" -> ((s, d) => {
      graft.operators.Profiling.gTestUniform(
          Tables.events(s, d), col("event_type"),
          expr("(ts div 1000 div 3600000000) % 24"), nBuckets = 24,
          keyName = "event_type")
        .orderBy(col("event_type"))
    }),

    // peak concurrency per event type: each event holds a 5-minute
    // span; the +1/−1 boundary sweep (deltas merged per instant — the
    // [s, e) convention, so an end and a start at the same microsecond
    // don't overlap) cumulates per type and reports the peak and its
    // first instant. All integers; shuffle = the per-type boundary
    // stream (salt by day at scale if one type dominates).
    "events_concurrency" -> ((s, d) => {
      // ONE event scan (map-side explode of the +1/-1 boundary pair,
      // not a self-union) and ONE pass over the running sums: the
      // (peak, first instant) argmax is max(struct(cur, -t)) — struct
      // order takes the highest cur, then the smallest t
      val pts = Tables.events(s, d)
        .select(col("event_type"), expr("ts div 1000").as("us"))
        .select(col("event_type"), explode(array(
          struct(col("us").as("t"), lit(1L).as("dlt")),
          struct((col("us") + lit(300000000L)).as("t"),
            lit(-1L).as("dlt")))).as("e"))
        .select(col("event_type"), col("e.t").as("t"),
          col("e.dlt").as("dlt"))
      val perT = pts.groupBy(col("event_type"), col("t"))
        .agg(sum(col("dlt")).as("dd"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perT.withColumn("cur", sum(col("dd")).over(w))
        .groupBy(col("event_type"))
        .agg(max(struct(col("cur"), (-col("t")).as("negt"))).as("__pk"))
        .select(col("event_type"),
          col("__pk.cur").as("peak_concurrency"),
          (-col("__pk.negt")).as("peak_at_us"))
        .orderBy(col("event_type"))
    }),

    // classical decompose (value = trend + seasonal + residual) of the
    // hourly per-type revenue series: centered ±12h moving-average
    // trend, hour-of-day seasonal means of the detrended series —
    // integer sufficient statistics shuffled, three fixed IEEE readouts
    "events_stl_decompose" -> ((s, d) => {
      val series = Tables.events(s, d).where(col("value").isNotNull)
        .withColumn("hr", expr("ts div 1000 div 3600000000"))
        .groupBy(col("event_type"), col("hr"))
        .agg(sum((money(col("value")) * 10000).cast("long")).as("v4"))
      graft.operators.Trend.decompose(series, Seq("event_type"),
          col("hr"), pmod(col("hr"), lit(24L)), col("v4"), halfWin = 12)
        .orderBy(col("event_type"), col("ord"))
    }),

    "events_anomaly_zscore" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val wt = w.rowsBetween(-20, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          expr("ts div 1000").as("us"))
        .withColumn("v", expr("cast(round(value * 1000000) as bigint)"))
        .withColumn("rn", row_number().over(w))
        .withColumn("s", sum(col("v")).over(wt))
        .withColumn("q",
          sum((col("v") * col("v")).cast("decimal(38,0)")).over(wt))
        .filter(col("rn") > 20)
        .filter(expr(
          """cast(20 * v - s as decimal(19,0))
            |  * cast(20 * v - s as decimal(19,0))
            |  > 9 * (20 * q - cast(s as decimal(19,0))
            |           * cast(s as decimal(19,0)))""".stripMargin))
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    }),

    // per-user least-squares trend of value over time (drift detection):
    // ONE aggregation pass collecting exact sufficient statistics —
    // x = seconds since the user's first event (bigint), y quantized
    // money-scale — then slope/intercept as a fixed IEEE-double dag over
    // those identical inputs (operators.Trend scaladoc).
    "events_trend_ols" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("user_id"), col("value"), expr("ts div 1000").as("us"))
        .withColumn("t", expr(
          "(us - min(us) over (partition by user_id)) div 1000000"))
      graft.operators.Trend.ols(base, Seq("user_id"), col("t"),
          col("value"))
        .orderBy(col("user_id"))
    }),

    // per-user trailing EWMA (decay 0.7, window 8) as ONE window pass of
    // integer-coefficient lag() terms — the recursive form is sequential
    // per key; this truncated form is codegen'd, shuffle-once, and EXACT
    // (rational decay -> integer weights; the only float op is the final
    // long/long division). See operators.Trend.ewmaTrailing scaladoc.
    "events_ewma" -> ((s, d) => {
      val e = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("value"),
          expr("ts div 1000").as("us"))
        .withColumn("v4", expr("cast(round(value * 10000) as bigint)"))
      graft.operators.Trend.ewmaTrailing(e, Seq("user_id"),
          Seq(col("us"), col("event_id")), col("v4"),
          window = 8, decayNum = 7, decayDen = 10)
        .select(col("event_id"), col("user_id"), col("value"), col("ewma"))
        .orderBy(col("event_id"))
    }),

    // last-touch attribution: each purchase credits the user's most
    // recent PRECEDING non-purchase event type. One window pass (carry
    // the last touch forward with ignoreNulls last()) + one tiny
    // aggregation — no self-join, no per-user history materialization;
    // at 100 TB this shuffles the stream once on user_id.
    "events_attribution" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), expr("ts div 1000").as("us"))
        .withColumn("touch",
          when(col("event_type") =!= "purchase", col("event_type")))
        .withColumn("attr_type", last(col("touch"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("event_type") === "purchase" && col("attr_type").isNotNull)
        .groupBy(col("attr_type"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(money(col("value"))).cast("double").as("attributed_value"))
        .orderBy(col("attr_type"))
    }),

    // time-weighted average price per user (TWAP): each observation
    // weighted by its holding duration to the next one — numerator and
    // denominator accumulate exactly (decimal x integer micros), the
    // only float op is one final division of identically-rounded doubles
    "events_twap" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("value"),
          expr("ts div 1000").as("us"))
        .withColumn("dur", lead(col("us"), 1).over(w) - col("us"))
        .filter(col("dur").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_obs"),
          sum(col("dur")).as("total_us"),
          (sum(money(col("value")) * col("dur")).cast("double") /
            sum(col("dur")).cast("double")).as("twap"))
        .orderBy(col("user_id"))
    }),

    // per-user event-type diversity as GINI IMPURITY (1 - sum p^2) in
    // exact floor-divided millionths — the entropy-style diversity
    // metric without the cross-engine log: (n^2 - sum c^2) * 1e6 div n^2
    "events_user_gini" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("user_id"))
        .agg(sum(col("c")).as("n_events"),
          count(lit(1)).as("n_types"),
          sum(col("c") * col("c")).as("__ssq"))
        .select(col("user_id"), col("n_events"), col("n_types"),
          expr("""(n_events * n_events - __ssq) * 1000000
                  DIV (n_events * n_events)""").as("gini_x1e6"))
        .orderBy(col("user_id"))
    }),

    // gaps-and-islands: longest consecutive-day activity streak per
    // user (day - row_number is constant within an island) — pure
    // integer window arithmetic, the classic engagement metric
    "events_active_streaks" -> ((s, d) => {
      val days = Tables.events(s, d)
        .select(col("user_id"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days.withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(sum(col("len")).as("n_active_days"),
          max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"))
        .orderBy(col("user_id"))
    }),

    // segmented regression: split each event type's daily series at its
    // CUSUM change-point and fit the exact-stat OLS to each side — the
    // before/after slope report, composed from two existing operators
    "events_segmented_trend" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("c"))
      val cp = graft.operators.Trend
        .cusumChangepoint(daily, Seq("event_type"), col("day"), col("c"))
        .select(col("event_type").as("__et"), col("changepoint"))
      val seg = daily.join(broadcast(cp), col("event_type") === col("__et"))
        .withColumn("segment",
          when(col("day") <= col("changepoint"), "pre").otherwise("post"))
      graft.operators.Trend
        .ols(seg, Seq("event_type", "segment"), col("day"), col("c"))
        .orderBy(col("event_type"), col("segment"))
    }),

    // CUSUM change-point estimate over each event type's daily count
    // series: scaled cumulative deviations in pure int64 (mean cleared
    // by multiplying through by n), peak magnitude marks the most
    // likely level shift — no float thresholds anywhere
    "events_cusum_changepoint" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("c"))
      graft.operators.Trend
        .cusumChangepoint(daily, Seq("event_type"), col("day"), col("c"))
        .withColumnRenamed("changepoint", "changepoint_day")
        .orderBy(col("event_type"))
    }),

    // grid-blocked epsilon self-join: all point pairs within radius 64
    // on a 4096^2 integer plane (deterministic md5-nibble coordinates —
    // both engines derive the exact same ints). The oracle is the O(n^2)
    // brute-force form; the Spark plan is the 3x3-cell equi-join that
    // replaces it at scale (plan-guarded: no cartesian in SpatialSpec)
    "spatial_within_join" -> ((s, d) => {
      graft.operators.Spatial.gridWithinJoin(
          spatialPoints(s, d), "id", "x", "y", SpatialR)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // per-point neighborhood features from the same grid pass: neighbor
    // count within r + exact nearest neighbor (the DBSCAN-core / kNN
    // feature primitive)
    "spatial_neighbor_stats" -> ((s, d) => {
      graft.operators.Spatial.neighborStats(
          spatialPoints(s, d), "id", "x", "y", SpatialR)
        .orderBy(col("id"))
    }),

    // radius-capped kNN join: per point the 5 nearest within r by exact
    // integer dist2 (ties to the smaller id) — the spatial candidate/
    // feature primitive; rank cut plans as WindowGroupLimit so the
    // post-join exchange carries O(k·points)
    "spatial_knn_join" -> ((s, d) => {
      graft.operators.Spatial.knnWithin(
          spatialPoints(s, d), "id", "x", "y", SpatialR, k = 5)
        .orderBy(col("id"), col("rank"))
    }),

    // full DBSCAN over the grid epsilon join + core-graph connected
    // components, deterministic border tie rule (min core-neighbor
    // cluster) — oracle replays it with a recursive CTE. Clustering runs
    // on a BOUNDED window (first 10k event ids — at the sf0.01 gate
    // that is every point): on a fixed plane, point density grows with
    // SF until the eps-graph percolates into one giant component whose
    // CC diameter — not data volume — dominates runtime; real DBSCAN
    // runs bound their window the same way (a city, a day). The grid
    // join itself is the scale surface and stays unbounded in
    // spatial_within_join / spatial_neighbor_stats
    "spatial_dbscan" -> ((s, d) => {
      graft.operators.Spatial.dbscan(
          spatialPoints(s, d).filter(col("id") < 10000),
          "id", "x", "y", SpatialR, minPts = 4)
        .orderBy(col("id"))
    }),

    // Welch unequal-variance t-test of `value` between click and view
    // events — the A/B-experiment readout. ONE aggregation pass of
    // exact sufficient statistics, then a fixed double dag
    // (operators.Hypothesis scaladoc); hash-exact cross-engine
    "events_ab_welch" -> ((s, d) => {
      graft.operators.Hypothesis.welchT(Tables.events(s, d),
        col("event_type"), col("value"), "click", "view")
    }),

    // rank-based (distribution-free) alternative: Mann–Whitney U with
    // midrank ties + tie-corrected z. Shuffle volume follows the
    // DISTINCT value domain (grouped counts + one distributed prefix
    // sum), not the row count — the ksReport scale bound
    "events_ab_mannwhitney" -> ((s, d) => {
      graft.operators.Hypothesis.mannWhitneyU(Tables.events(s, d),
        col("event_type"), col("value"), "click", "view")
    }),

    // robust per-user trend: Theil–Sen median slope over DAILY exact
    // sums — the quadratic-pair scale contract (reduce the series
    // first, then pair; Trend.theilSen scaladoc). Complements
    // events_trend_ols, which a single wild outlier can move
    "events_theilsen_trend" -> ((s, d) => {
      val daily = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("user_id"),
          expr("(ts div 1000) div 86400000000").as("day"),
          money(col("value")).as("v"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("v")).cast("decimal(12,4)").as("y"))
      graft.operators.Trend.theilSen(daily, Seq("user_id"),
          col("day"), col("y"))
        .orderBy(col("user_id"))
    }),

    // Kaplan-Meier survival of SESSION durations (whole minutes):
    // subjects are the 30-min-gap sessions, a session whose last event
    // sits within one gap of the data edge is right-censored (it could
    // have continued past the window), everything else "dies" at its
    // observed length. Survival carried in exact log2 fixed point — no
    // float product, no libm (operators.Survival scaladoc)
    "events_survival_km" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sess = Tables.events(s, d)
        .withColumn("ts_us", expr("ts div 1000"))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            col("ts_us") - col("prev_us") > SessionGapUs, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts_us")).as("s0"), max(col("ts_us")).as("s1"))
      val g = sess.agg(max(col("s1")).as("gmax"))
      val subj = sess.crossJoin(broadcast(g))
        .withColumn("t", expr("(s1 - s0) div 60000000"))
        .withColumn("event",
          when(col("s1") < col("gmax") - lit(SessionGapUs), 1L)
            .otherwise(0L))
      graft.operators.Survival.kaplanMeier(subj, col("t"), col("event"))
        .orderBy(col("t"))
    }),

    // ε-DP release of the event-type histogram: Laplace(1/ε) noise
    // from a keyed-hash PRG, ln through exact fixed-point log2 — the
    // released values are bit-deterministic, so fully oracle-checked
    // (operators.Privacy.dpHistogram scaladoc)
    "privacy_dp_counts" -> ((s, d) => {
      graft.operators.Privacy.dpHistogram(Tables.events(s, d),
          col("event_type"), eps = 1.0)
        .orderBy(col("event_type"))
    }),

    // conversion-rate A/B: two-proportion z on "did the user ever
    // purchase", same hash assignment as the CUPED/SRM family — the
    // binary-metric half of experiment practice
    "events_ab_proportions" -> ((s, d) => {
      val per = Tables.events(s, d).groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("converted"))
        .select(when(graft.operators.Sampling.hashBucket(col("user_id"),
          2) === 0, "ctl").otherwise("trt").as("grp"), col("converted"))
      graft.operators.Hypothesis.proportionZ(per, col("grp"),
        col("converted"), "ctl", "trt")
    }),

    // SRM trust gate on the same hash assignment the CUPED readout
    // uses: chi-square GOF of user counts vs the designed 50-50 —
    // run before believing any A/B metric
    "events_ab_srm" -> ((s, d) => {
      val per = Tables.events(s, d).select(col("user_id")).distinct()
        .select(when(graft.operators.Sampling.hashBucket(col("user_id"),
          2) === 0, "ctl").otherwise("trt").as("grp"))
      graft.operators.Hypothesis.srmCheck(per, col("grp"), "ctl", "trt")
    }),

    // CUPED A/B readout: per-user pre-period spend (first 15 days)
    // adjusts the post-period metric, theta pooled — group means and
    // variances of the ADJUSTED metric come from closed forms over
    // exact sufficient statistics (no per-row double sums), so t_raw
    // and t_adj are both hash-exact (Hypothesis.cuped scaladoc)
    "events_ab_cuped" -> ((s, d) => {
      val cut = 1705363200000000L // 2024-01-16T00:00Z epoch micros
      val per = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("user_id"), expr("ts div 1000").as("us"),
          money(col("value")).as("v"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("us") < cut, col("v"))).as("pre0"),
          sum(when(col("us") >= cut, col("v"))).as("post0"))
        .select(
          when(graft.operators.Sampling.hashBucket(col("user_id"), 2)
            === 0, "ctl").otherwise("trt").as("grp"),
          coalesce(col("pre0"), lit(0).cast("decimal(12,4)")).as("pre"),
          coalesce(col("post0"), lit(0).cast("decimal(12,4)")).as("post"))
      graft.operators.Hypothesis.cuped(per, col("grp"),
        col("pre"), col("post"), "ctl", "trt")
    }),

    // post-stratified A/B lift: strata = each user's FIRST event type
    // (an acquisition-channel covariate), per-stratum mean lift combined
    // weighted by stratum size — the covariate-balance companion to
    // CUPED. Per-stratum lifts floor to exact fixed point before the
    // weighted sum, so the estimate is bit-exact cross-engine
    "events_ab_poststrat" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val per = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts div 1000").as("us"), money(col("value")).as("v"))
        .withColumn("__first", first(col("event_type")).over(w))
        .groupBy(col("user_id"))
        .agg(min(col("__first")).as("stratum"),
          sum(col("v")).as("v_tot"))
        .select(
          when(graft.operators.Sampling.hashBucket(col("user_id"), 2)
            === 0, "ctl").otherwise("trt").as("grp"),
          col("stratum"),
          coalesce(col("v_tot"), lit(0).cast("decimal(12,4)")).as("v"))
      graft.operators.Hypothesis.postStratified(per, col("grp"),
        col("stratum"), col("v"), "ctl", "trt")
    }),

    // ε-DP mean release: per-type clipped value means, budget split
    // between the sum and count draws (Privacy.dpMean scaladoc) —
    // the companion release to privacy_dp_counts
    "privacy_dp_mean" -> ((s, d) => {
      graft.operators.Privacy.dpMean(Tables.events(s, d),
          col("event_type"), col("value"), clip = 20.0, eps = 1.0)
        .orderBy(col("event_type"))
    }),

    // pairwise Pearson matrix over the lineitem measures in ONE scan:
    // all sums/square-sums/cross-products exact, six pair rows explode
    // from the single aggregate row (Profiling.correlationPairs)
    "profile_correlation" -> ((s, d) => {
      graft.operators.Profiling.correlationPairs(Tables.lineitem(s, d),
          CorrCols.map { case (c, _) => c -> col(c) })
        .orderBy(col("col_a"), col("col_b"))
    }),

    // Spearman rank correlation between per-user activity and spend:
    // monotone association robust to the outliers Pearson chases;
    // midranks doubled to stay integral (Hypothesis.spearman)
    "events_spearman_corr" -> ((s, d) => {
      val per = Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ev"),
          sum(money(col("value"))).cast("decimal(12,4)").as("sv"))
      graft.operators.Hypothesis.spearman(per, col("n_ev"), col("sv"))
    }),

    // leave-one-out target encoding of event_type against the money-
    // quantized value — the high-cardinality categorical feature for
    // model training. The Spark plan aggregates the category domain once
    // (partial-agg shuffle over |domain| keys) and BROADCASTS the stats
    // back, so the encode is map-only over the fact table; the oracle
    // replays it as the full-table window form. Rows whose category has
    // no other labeled member (or whose own label is NULL) encode NULL.
    "ml_target_encode" -> ((s, d) => {
      graft.operators.Encoding.targetEncodeLoo(
          Tables.events(s, d)
            .select(col("event_id"), col("event_type"), col("value")),
          col("event_type"), col("value"))
        .select(col("event_id"), col("event_type"), col("enc"))
        .orderBy(col("event_id"))
    })
  )

  // correlation-matrix columns, shared by the Spark plan and the
  // generated oracle so the two can only drift in review
  private val CorrCols = Seq("l_quantity" -> "q", "l_extendedprice" -> "e",
    "l_discount" -> "dc", "l_tax" -> "tx")

  /** DuckDB replay of [[graft.operators.Profiling.correlationPairs]]
    * over [[CorrCols]]: one aggregate CTE, six UNION ALL pair selects,
    * decimal -> double through VARCHAR, identical corr dag. */
  private def corrOracle: String = {
    val sels = CorrCols.map { case (c, a) =>
      s"CAST($c AS DECIMAL(12,4)) AS $a" }.mkString(",\n    ")
    val notnull = CorrCols.map { case (c, _) => s"$c IS NOT NULL" }
      .mkString(" AND ")
    // one operand widened past 18 digits: DuckDB's decimal multiply
    // otherwise overflows at DECIMAL(18) (the repo-wide parity trap)
    val sums = (CorrCols.map { case (_, a) => s"SUM($a) AS s_$a" } ++
      CorrCols.map { case (_, a) =>
        s"SUM(CAST(CAST($a AS DECIMAL(19,4))*$a AS DECIMAL(38,8)))" +
          s" AS q_$a" } ++
      CorrCols.combinations(2).map { case Seq((_, a), (_, b)) =>
        s"SUM(CAST(CAST($a AS DECIMAL(19,4))*$b AS DECIMAL(38,8)))" +
          s" AS p_${a}_$b" })
      .mkString(",\n    ")
    val dcols = (Seq("CAST(n AS DOUBLE) AS dn") ++
      CorrCols.map { case (_, a) =>
        s"CAST(CAST(s_$a AS VARCHAR) AS DOUBLE) AS ds_$a" } ++
      CorrCols.map { case (_, a) =>
        s"CAST(CAST(q_$a AS VARCHAR) AS DOUBLE) AS dq_$a" } ++
      CorrCols.combinations(2).map { case Seq((_, a), (_, b)) =>
        s"CAST(CAST(p_${a}_$b AS VARCHAR) AS DOUBLE) AS dp_${a}_$b" })
      .mkString(",\n    ")
    val pairs = CorrCols.combinations(2).map { case Seq((ca, a), (cb, b)) =>
      val va = s"(dn*dq_$a - ds_$a*ds_$a)"
      val vb = s"(dn*dq_$b - ds_$b*ds_$b)"
      s"""SELECT '$ca' AS col_a, '$cb' AS col_b, n,
         |  CASE WHEN $va > 0 AND $vb > 0
         |    THEN (dn*dp_${a}_$b - ds_$a*ds_$b)
         |      / (sqrt($va) * sqrt($vb)) END AS corr
         |FROM d""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH b AS (
       |  SELECT $sels
       |  FROM lineitem WHERE $notnull
       |), a AS (
       |  SELECT COUNT(*) AS n,
       |    $sums
       |  FROM b
       |), d AS (
       |  SELECT n,
       |    $dcols
       |  FROM a
       |)
       |$pairs
       |ORDER BY col_a, col_b""".stripMargin
  }

  // synthetic integer plane for the spatial family: every 4th event is a
  // point; x/y decode md5 nibbles 1-3 / 4-6 (12 bits each -> 0..4095)
  private val SpatialR = 64L
  private def spatialPoints(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("event_id") % 4 === 0)
      .select(col("event_id").as("id"),
        graft.operators.Spatial.hexCoord(col("event_id"), 1, 3).as("x"),
        graft.operators.Spatial.hexCoord(col("event_id"), 4, 3).as("y"))

  // exact integer EWMA coefficients 7^j * 10^(W-1-j) shared by the Spark
  // plan (via Trend.ewmaTrailing) and the oracle text below
  private val EwmaW = 8
  private val EwmaCoefs: IndexedSeq[Long] = (0 until EwmaW).map { j =>
    (0 until j).foldLeft(1L)((a, _) => a * 7) *
      (0 until (EwmaW - 1 - j)).foldLeft(1L)((a, _) => a * 10)
  }

  val oracles: Map[String, String] = Map(
    // same exact sufficient statistics (bigint counts, decimal sums),
    // same double dag; decimal -> double through VARCHAR per the
    // ColUtil parity rule
    "events_ab_welch" ->
      """WITH base AS (
        |  SELECT event_type AS g, CAST(value AS DECIMAL(12,4)) AS v
        |  FROM events
        |  WHERE event_type IN ('click','view') AND value IS NOT NULL
        |), a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g='click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN g='view' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    SUM(CASE WHEN g='click' THEN v END) AS sa,
        |    SUM(CASE WHEN g='view' THEN v END) AS sb,
        |    SUM(CASE WHEN g='click' THEN CAST(v*v AS DECIMAL(38,8)) END) AS qa,
        |    SUM(CASE WHEN g='view' THEN CAST(v*v AS DECIMAL(38,8)) END) AS qb
        |  FROM base
        |), s AS (
        |  SELECT n_a, n_b,
        |    CAST(CAST(sa AS VARCHAR) AS DOUBLE) AS dsa,
        |    CAST(CAST(sb AS VARCHAR) AS DOUBLE) AS dsb,
        |    CAST(CAST(qa AS VARCHAR) AS DOUBLE) AS dqa,
        |    CAST(CAST(qb AS VARCHAR) AS DOUBLE) AS dqb,
        |    CAST(n_a AS DOUBLE) AS dna, CAST(n_b AS DOUBLE) AS dnb
        |  FROM a
        |), t AS (
        |  SELECT n_a, n_b, dna, dnb,
        |    dsa/dna AS mean_a, dsb/dnb AS mean_b,
        |    (dqa - dsa*dsa/dna)/(dna-1) AS var_a,
        |    (dqb - dsb*dsb/dnb)/(dnb-1) AS var_b
        |  FROM s
        |), u AS (
        |  SELECT n_a, n_b, mean_a, mean_b, var_a, var_b, dna, dnb,
        |    var_a/dna + var_b/dnb AS se2,
        |    var_a/dna AS wa, var_b/dnb AS wb
        |  FROM t
        |)
        |SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
        |  (mean_a - mean_b)/sqrt(se2) AS t_stat,
        |  se2*se2 / (wa*wa/(dna-1) + wb*wb/(dnb-1)) AS dof
        |FROM u""".stripMargin,

    // midranks doubled to stay integral; exact hugeint rank sums, the
    // z statistic as the identical double dag
    "events_ab_mannwhitney" ->
      """WITH base AS (
        |  SELECT event_type AS g, CAST(value AS DECIMAL(12,4)) AS v
        |  FROM events
        |  WHERE event_type IN ('click','view') AND value IS NOT NULL
        |), pv AS (
        |  SELECT v,
        |    CAST(SUM(CASE WHEN g='click' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    COUNT(*) AS ct
        |  FROM base GROUP BY v
        |), cum AS (
        |  SELECT v, ca, ct,
        |    SUM(ct) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM pv
        |), agg AS (
        |  SELECT
        |    CAST(SUM(ca) AS BIGINT) AS n_a,
        |    CAST(SUM(ct - ca) AS BIGINT) AS n_b,
        |    SUM(CAST(ca AS HUGEINT) * (2*cum - ct + 1)) AS ra2,
        |    SUM(CAST(ct AS HUGEINT) * ct * ct - ct) AS ties
        |  FROM cum
        |), fin AS (
        |  SELECT n_a, n_b,
        |    CAST(ra2 - CAST(n_a AS HUGEINT) * (n_a + 1) AS BIGINT) AS u2_a,
        |    CAST(n_a AS DOUBLE) AS dna, CAST(n_b AS DOUBLE) AS dnb,
        |    CAST(n_a + n_b AS DOUBLE) AS nn,
        |    CAST(CAST(ties AS VARCHAR) AS DOUBLE) AS dties
        |  FROM agg
        |), z AS (
        |  SELECT n_a, n_b, u2_a,
        |    CAST(u2_a AS DOUBLE) / 2 AS u_a,
        |    dna * dnb / 2 AS mu,
        |    dna * dnb / 12 * (nn + 1 - dties / (nn * (nn - 1))) AS sig2
        |  FROM fin
        |)
        |SELECT n_a, n_b, u2_a, u_a,
        |  CASE WHEN sig2 > 0 THEN (u_a - mu)/sqrt(sig2) END AS z_score
        |FROM z""".stripMargin,

    // same daily reduction, same pair set, same explicit rank-selected
    // median (sum/count over the 1-2 middle rows)
    "events_theilsen_trend" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(value AS DECIMAL(12,4)) AS v
        |  FROM events WHERE value IS NOT NULL
        |), dly AS (
        |  SELECT user_id, day, CAST(SUM(v) AS DECIMAL(12,4)) AS y
        |  FROM e GROUP BY user_id, day
        |), p AS (
        |  SELECT a.user_id,
        |    CAST(CAST(b.y - a.y AS VARCHAR) AS DOUBLE)
        |      / CAST(b.day - a.day AS DOUBLE) AS slope
        |  FROM dly a JOIN dly b ON a.user_id = b.user_id AND a.day < b.day
        |), r AS (
        |  SELECT user_id, slope,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY slope) AS rk,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM p
        |)
        |SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_pairs,
        |  SUM(slope)/COUNT(*) AS slope
        |FROM r WHERE rk = (n+1)//2 OR rk = (n+2)//2
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // same censoring rule, same at-risk prefix arithmetic, survival
    // replayed through the log2_fp recursive CTE
    "events_survival_km" ->
      s"""WITH RECURSIVE gg AS (
         |  SELECT user_id, event_id, ts,
         |    CASE WHEN LAG(ts) OVER w IS NULL
         |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > $SessionGapUs
         |      THEN 1 ELSE 0 END AS new_session
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), sid AS (
         |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM gg
         |), sess AS (
         |  SELECT user_id, session_id, MIN(epoch_us(ts)) AS s0,
         |    MAX(epoch_us(ts)) AS s1
         |  FROM sid GROUP BY user_id, session_id
         |), g AS (SELECT MAX(s1) AS gmax FROM sess),
         |subj AS (
         |  SELECT (s1 - s0) // 60000000 AS t,
         |    CASE WHEN s1 < gmax - ${SessionGapUs} THEN 1 ELSE 0
         |      END AS ev
         |  FROM sess, g
         |), pd AS (
         |  SELECT t, CAST(SUM(ev) AS BIGINT) AS n_events,
         |    CAST(SUM(1 - ev) AS BIGINT) AS n_censored,
         |    COUNT(*) AS alln
         |  FROM subj GROUP BY t
         |), tot AS (SELECT COUNT(*) AS n FROM subj),
         |cum AS (
         |  SELECT t, n_events, n_censored, alln,
         |    SUM(alln) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS c
         |  FROM pd
         |), steps AS (
         |  SELECT t, n_events, n_censored,
         |    CAST(n - (c - alln) AS BIGINT) AS n_risk
         |  FROM cum, tot
         |  WHERE n_events > 0
         |), xs AS (
         |  SELECT n_risk AS x FROM steps UNION
         |  SELECT n_risk - n_events FROM steps WHERE n_risk > n_events
         |),
         |${graft.functions.FixedLog.duckdbCte("xs")},
         |terms AS (
         |  SELECT s.t, s.n_risk, s.n_events, s.n_censored,
         |    CASE WHEN s.n_risk > s.n_events THEN lr.l - ln.l
         |      ELSE 0 END AS term,
         |    CASE WHEN s.n_risk = s.n_events THEN 1 ELSE 0 END AS z
         |  FROM steps s
         |  JOIN lg ln ON s.n_risk = ln.x
         |  LEFT JOIN lg lr ON s.n_risk - s.n_events = lr.x
         |), fin AS (
         |  SELECT t, n_risk, n_events, n_censored,
         |    SUM(term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cterm,
         |    SUM(z) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cz
         |  FROM terms
         |)
         |SELECT t, n_risk, n_events, n_censored,
         |  CASE WHEN cz = 0 THEN CAST(cterm AS BIGINT) END AS log2_surv_fp
         |FROM fin ORDER BY t""".stripMargin,

    // same keyed-hash uniform (md5 nibble decode), same clamped
    // inverse-CDF through the log2_fp CTE, same double dag
    "privacy_dp_counts" ->
      s"""WITH RECURSIVE cnt AS (
         |  SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1
         |), hs AS (
         |  SELECT event_type, n, md5(event_type || ':dp') AS h FROM cnt
         |), hv AS (
         |  SELECT event_type, n,
         |    ${graft.operators.Sampling.hashU32Sql("h")} - 2147483648 AS hh
         |  FROM hs
         |), zc AS (
         |  SELECT event_type, n, hh,
         |    GREATEST(2147483648 - ABS(hh), 1) AS x
         |  FROM hv
         |),
         |${graft.functions.FixedLog.duckdbCte("zc")},
         |fin AS (
         |  SELECT zc.event_type, zc.n, zc.hh, lg.l
         |  FROM zc JOIN lg ON zc.x = lg.x
         |)
         |SELECT event_type,
         |  CAST(n AS DOUBLE) + CAST(-1.0 AS DOUBLE)
         |    * (CASE WHEN hh >= 0 THEN CAST(1.0 AS DOUBLE)
         |        ELSE CAST(-1.0 AS DOUBLE) END)
         |    * ((CAST(l - 32505856 AS DOUBLE) * 0.6931471805599453)
         |        / 1048576.0)
         |    AS noisy_count,
         |  CAST(1.0 AS DOUBLE) AS epsilon
         |FROM fin ORDER BY event_type""".stripMargin,

    "profile_correlation" -> corrOracle,

    // two laplace draws per key (sum/count salts), both through the
    // nibble decode + log2_fp CTE; clip bounds replayed in decimal
    "privacy_dp_mean" ->
      s"""WITH RECURSIVE cv AS (
         |  SELECT event_type, CAST(value AS DECIMAL(12,4)) AS v
         |  FROM events WHERE value IS NOT NULL
         |), cnt AS (
         |  -- clip via CASE, NOT least/greatest: DuckDB's least/greatest
         |  -- over decimals falls back to DOUBLE and the sum goes
         |  -- order-dependent (caught as a last-ulp gate mismatch)
         |  SELECT event_type AS k,
         |    SUM(CASE WHEN v < CAST(0 AS DECIMAL(12,4))
         |          THEN CAST(0 AS DECIMAL(12,4))
         |        WHEN v > CAST(20.0 AS DECIMAL(12,4))
         |          THEN CAST(20.0 AS DECIMAL(12,4))
         |        ELSE v END) AS s,
         |    COUNT(*) AS n
         |  FROM cv GROUP BY event_type
         |), hs0 AS (
         |  SELECT k, s, n, md5(k || ':s:dpm') AS h FROM cnt
         |), hs1 AS (
         |  SELECT k, s, n,
         |    ${graft.operators.Sampling.hashU32Sql("h")} - 2147483648
         |      AS hh_s
         |  FROM hs0
         |), hc0 AS (
         |  SELECT k, s, n, hh_s, md5(k || ':c:dpm') AS h FROM hs1
         |), hc1 AS (
         |  SELECT k, s, n, hh_s,
         |    ${graft.operators.Sampling.hashU32Sql("h")} - 2147483648
         |      AS hh_c
         |  FROM hc0
         |), zc AS (
         |  SELECT k, s, n, hh_s, hh_c,
         |    GREATEST(2147483648 - ABS(hh_s), 1) AS x_s,
         |    GREATEST(2147483648 - ABS(hh_c), 1) AS x_c
         |  FROM hc1
         |), xs AS (
         |  SELECT x_s AS x FROM zc UNION SELECT x_c FROM zc
         |),
         |${graft.functions.FixedLog.duckdbCte("xs")},
         |fin AS (
         |  SELECT zc.*, ls.l AS l_s, lc.l AS l_c
         |  FROM zc JOIN lg ls ON zc.x_s = ls.x
         |  JOIN lg lc ON zc.x_c = lc.x
         |), rel AS (
         |  SELECT k,
         |    CAST(CAST(s AS VARCHAR) AS DOUBLE)
         |      + CAST(-40.0 AS DOUBLE)
         |        * (CASE WHEN hh_s >= 0 THEN CAST(1.0 AS DOUBLE)
         |            ELSE CAST(-1.0 AS DOUBLE) END)
         |        * ((CAST(l_s - 32505856 AS DOUBLE) * 0.6931471805599453)
         |            / 1048576.0) AS ns,
         |    CAST(n AS DOUBLE)
         |      + CAST(-2.0 AS DOUBLE)
         |        * (CASE WHEN hh_c >= 0 THEN CAST(1.0 AS DOUBLE)
         |            ELSE CAST(-1.0 AS DOUBLE) END)
         |        * ((CAST(l_c - 32505856 AS DOUBLE) * 0.6931471805599453)
         |            / 1048576.0) AS nc
         |  FROM fin
         |)
         |SELECT k AS event_type, ns / GREATEST(nc, 1.0) AS noisy_mean,
         |  CAST(1.0 AS DOUBLE) AS epsilon
         |FROM rel ORDER BY event_type""".stripMargin,

    "events_ab_proportions" ->
      s"""WITH per0 AS (
         |  SELECT user_id,
         |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS converted
         |  FROM events GROUP BY user_id
         |), per AS (
         |  SELECT converted, CASE WHEN
         |      ${graft.operators.Sampling.hashBucketSql("h", 2)} = 0
         |    THEN 'ctl' ELSE 'trt' END AS grp
         |  FROM (SELECT per0.*, md5(CAST(user_id AS VARCHAR)) AS h
         |        FROM per0)
         |), a AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN grp='ctl' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(SUM(CASE WHEN grp='trt' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b,
         |    CAST(SUM(CASE WHEN grp='ctl' THEN converted ELSE 0 END)
         |      AS BIGINT) AS conv_a,
         |    CAST(SUM(CASE WHEN grp='trt' THEN converted ELSE 0 END)
         |      AS BIGINT) AS conv_b
         |  FROM per
         |), dd AS (
         |  SELECT n_a, n_b, conv_a, conv_b,
         |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
         |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
         |    (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
         |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS p
         |  FROM a
         |), se AS (
         |  SELECT dd.*,
         |    p * (1.0 - p) * (1.0 / CAST(n_a AS DOUBLE)
         |      + 1.0 / CAST(n_b AS DOUBLE)) AS se2
         |  FROM dd
         |)
         |SELECT n_a, n_b, conv_a, conv_b, p_a, p_b,
         |  CASE WHEN se2 > 0 THEN (p_a - p_b) / sqrt(se2) END AS z_score
         |FROM se""".stripMargin,

    "events_ab_srm" ->
      s"""WITH per AS (
         |  SELECT CASE WHEN
         |      ${graft.operators.Sampling.hashBucketSql("h", 2)} = 0
         |    THEN 'ctl' ELSE 'trt' END AS grp
         |  FROM (SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h
         |        FROM events)
         |), a AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN grp='ctl' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(SUM(CASE WHEN grp='trt' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b
         |  FROM per
         |), c AS (
         |  SELECT n_a, n_b,
         |    CAST(n_a + n_b AS DOUBLE) * 1.0 / 2.0 AS ea,
         |    CAST(n_a + n_b AS DOUBLE) * 1.0 / 2.0 AS eb
         |  FROM a
         |), f AS (
         |  SELECT n_a, n_b,
         |    (CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea) / ea
         |    + (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb) / eb
         |      AS chi2
         |  FROM c
         |)
         |SELECT n_a, n_b, chi2, chi2 > 3.841 AS srm_flag FROM f""".stripMargin,

    // same md5-bucket assignment, same closed-form CUPED dag over
    // exact per-group sufficient statistics
    "events_ab_poststrat" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         |    CAST(value AS DECIMAL(12,4)) AS v
         |  FROM events
         |), fe AS (
         |  SELECT user_id, event_type AS stratum FROM (
         |    SELECT user_id, event_type, ROW_NUMBER() OVER (
         |      PARTITION BY user_id ORDER BY us, event_id) AS rn
         |    FROM e) x WHERE rn = 1
         |), pu AS (
         |  SELECT user_id,
         |    CAST(COALESCE(SUM(v), 0) AS DECIMAL(12,4)) AS v
         |  FROM e GROUP BY user_id
         |), g AS (
         |  SELECT CASE WHEN
         |      ${graft.operators.Sampling.hashBucketSql("h", 2)} = 0
         |    THEN 'ctl' ELSE 'trt' END AS grp, stratum, v
         |  FROM (SELECT pu.user_id, fe.stratum, pu.v,
         |          md5(CAST(pu.user_id AS VARCHAR)) AS h
         |        FROM pu JOIN fe USING (user_id))
         |), st AS (
         |  SELECT stratum,
         |    CAST(SUM(CASE WHEN grp='ctl' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(SUM(CASE WHEN grp='trt' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b,
         |    CAST(COALESCE(SUM(CASE WHEN grp='ctl' THEN v END), 0)
         |      AS DECIMAL(22,4)) AS s_a,
         |    CAST(COALESCE(SUM(CASE WHEN grp='trt' THEN v END), 0)
         |      AS DECIMAL(22,4)) AS s_b
         |  FROM g GROUP BY stratum
         |  HAVING SUM(CASE WHEN grp='ctl' THEN 1 ELSE 0 END) > 0
         |     AND SUM(CASE WHEN grp='trt' THEN 1 ELSE 0 END) > 0
         |), f AS (
         |  SELECT n_a + n_b AS n_s,
         |    CAST(n_a * n_b AS HUGEINT) AS den_s,
         |    CAST(s_b * 10000 AS HUGEINT) * n_a
         |      - CAST(s_a * 10000 AS HUGEINT) * n_b AS num_s
         |  FROM st
         |), f2 AS (
         |  SELECT n_s, CAST((num_s * 1048576
         |      + CAST(1125899906842624 AS HUGEINT) * den_s) // den_s
         |    AS BIGINT) - 1125899906842624 AS fp_s
         |  FROM f
         |)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
         |  CAST(SUM(n_s) AS BIGINT) AS n_units,
         |  CAST(SUM(n_s * fp_s) AS BIGINT) AS ate_num,
         |  CAST(SUM(n_s) * 1048576 * 10000 AS BIGINT) AS ate_den,
         |  CAST(CAST(SUM(n_s * fp_s) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(SUM(n_s) * 1048576 * 10000 AS BIGINT) AS DOUBLE)
         |    AS ate
         |FROM f2""".stripMargin,

    "events_ab_cuped" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) AS us,
         |    CAST(value AS DECIMAL(12,4)) AS v
         |  FROM events WHERE value IS NOT NULL
         |), per0 AS (
         |  SELECT user_id,
         |    CAST(COALESCE(SUM(CASE WHEN us < 1705363200000000 THEN v
         |      END), 0) AS DECIMAL(12,4)) AS x,
         |    CAST(COALESCE(SUM(CASE WHEN us >= 1705363200000000 THEN v
         |      END), 0) AS DECIMAL(12,4)) AS y
         |  FROM e GROUP BY user_id
         |), per AS (
         |  SELECT x, y, CASE WHEN
         |      ${graft.operators.Sampling.hashBucketSql("h", 2)} = 0
         |    THEN 'ctl' ELSE 'trt' END AS grp
         |  FROM (SELECT per0.*, md5(CAST(user_id AS VARCHAR)) AS h
         |        FROM per0)
         |), a AS (
         |  SELECT
         |    CAST(SUM(CASE WHEN grp='ctl' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(SUM(CASE WHEN grp='trt' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b,
         |    SUM(CASE WHEN grp='ctl' THEN x END) AS sxa,
         |    SUM(CASE WHEN grp='trt' THEN x END) AS sxb,
         |    SUM(CASE WHEN grp='ctl' THEN y END) AS sya,
         |    SUM(CASE WHEN grp='trt' THEN y END) AS syb,
         |    SUM(CASE WHEN grp='ctl' THEN
         |      CAST(CAST(x AS DECIMAL(19,4))*x AS DECIMAL(38,8)) END) AS qxa,
         |    SUM(CASE WHEN grp='trt' THEN
         |      CAST(CAST(x AS DECIMAL(19,4))*x AS DECIMAL(38,8)) END) AS qxb,
         |    SUM(CASE WHEN grp='ctl' THEN
         |      CAST(CAST(y AS DECIMAL(19,4))*y AS DECIMAL(38,8)) END) AS qya,
         |    SUM(CASE WHEN grp='trt' THEN
         |      CAST(CAST(y AS DECIMAL(19,4))*y AS DECIMAL(38,8)) END) AS qyb,
         |    SUM(CASE WHEN grp='ctl' THEN
         |      CAST(CAST(x AS DECIMAL(19,4))*y AS DECIMAL(38,8)) END) AS pa,
         |    SUM(CASE WHEN grp='trt' THEN
         |      CAST(CAST(x AS DECIMAL(19,4))*y AS DECIMAL(38,8)) END) AS pb
         |  FROM per
         |), dd AS (
         |  SELECT n_a, n_b,
         |    CAST(n_a AS DOUBLE) AS dna, CAST(n_b AS DOUBLE) AS dnb,
         |    CAST(CAST(sxa AS VARCHAR) AS DOUBLE) AS dsxa,
         |    CAST(CAST(sxb AS VARCHAR) AS DOUBLE) AS dsxb,
         |    CAST(CAST(sya AS VARCHAR) AS DOUBLE) AS dsya,
         |    CAST(CAST(syb AS VARCHAR) AS DOUBLE) AS dsyb,
         |    CAST(CAST(qxa AS VARCHAR) AS DOUBLE) AS dqxa,
         |    CAST(CAST(qxb AS VARCHAR) AS DOUBLE) AS dqxb,
         |    CAST(CAST(qya AS VARCHAR) AS DOUBLE) AS dqya,
         |    CAST(CAST(qyb AS VARCHAR) AS DOUBLE) AS dqyb,
         |    CAST(CAST(pa AS VARCHAR) AS DOUBLE) AS dpa,
         |    CAST(CAST(pb AS VARCHAR) AS DOUBLE) AS dpb
         |  FROM a
         |), th AS (
         |  SELECT dd.*, dna + dnb AS nn,
         |    ((dna + dnb) * (dpa + dpb) - (dsxa + dsxb) * (dsya + dsyb))
         |      / ((dna + dnb) * (dqxa + dqxb)
         |         - (dsxa + dsxb) * (dsxa + dsxb)) AS theta,
         |    (dsxa + dsxb) / (dna + dnb) AS mean_pre
         |  FROM dd
         |), m AS (
         |  SELECT th.*,
         |    dsya/dna - theta * (dsxa/dna - mean_pre) AS mean_adj_a,
         |    dsyb/dnb - theta * (dsxb/dnb - mean_pre) AS mean_adj_b,
         |    (dqya - dsya*dsya/dna)/(dna-1) AS vya,
         |    (dqyb - dsyb*dsyb/dnb)/(dnb-1) AS vyb,
         |    (dqxa - dsxa*dsxa/dna)/(dna-1) AS vxa,
         |    (dqxb - dsxb*dsxb/dnb)/(dnb-1) AS vxb,
         |    (dpa - dsxa*dsya/dna)/(dna-1) AS cva,
         |    (dpb - dsxb*dsyb/dnb)/(dnb-1) AS cvb
         |  FROM th
         |), va AS (
         |  SELECT m.*,
         |    vya - 2.0 * theta * cva + theta * theta * vxa AS vaa,
         |    vyb - 2.0 * theta * cvb + theta * theta * vxb AS vab
         |  FROM m
         |)
         |SELECT n_a, n_b, theta, mean_adj_a, mean_adj_b,
         |  (dsya/dna - dsyb/dnb) / sqrt(vya/dna + vyb/dnb) AS t_raw,
         |  (mean_adj_a - mean_adj_b) / sqrt(vaa/dna + vab/dnb) AS t_adj
         |FROM va""".stripMargin,

    // RANK()+tiecount-1 is the window twin of the prefix-sum midrank
    // (2*mid = 2*rank + t - 1); hugeint rank sums, same corr dag
    "events_spearman_corr" ->
      """WITH per AS (
        |  SELECT user_id, CAST(COUNT(*) AS DECIMAL(12,4)) AS x,
        |    CAST(SUM(CAST(value AS DECIMAL(12,4))) AS DECIMAL(12,4)) AS y
        |  FROM events GROUP BY user_id
        |), b AS (
        |  SELECT x, y FROM per WHERE x IS NOT NULL AND y IS NOT NULL
        |), r AS (
        |  SELECT
        |    2*RANK() OVER (ORDER BY x)
        |      + COUNT(*) OVER (PARTITION BY x) - 1 AS a,
        |    2*RANK() OVER (ORDER BY y)
        |      + COUNT(*) OVER (PARTITION BY y) - 1 AS b
        |  FROM b
        |), agg AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(a AS HUGEINT)) AS sa, SUM(CAST(b AS HUGEINT)) AS sb,
        |    SUM(CAST(a AS HUGEINT)*a) AS qa,
        |    SUM(CAST(b AS HUGEINT)*b) AS qb,
        |    SUM(CAST(a AS HUGEINT)*b) AS p
        |  FROM r
        |), dd AS (
        |  SELECT n, CAST(n AS DOUBLE) AS dn,
        |    CAST(CAST(sa AS VARCHAR) AS DOUBLE) AS dsa,
        |    CAST(CAST(sb AS VARCHAR) AS DOUBLE) AS dsb,
        |    CAST(CAST(qa AS VARCHAR) AS DOUBLE) AS dqa,
        |    CAST(CAST(qb AS VARCHAR) AS DOUBLE) AS dqb,
        |    CAST(CAST(p AS VARCHAR) AS DOUBLE) AS dp
        |  FROM agg
        |)
        |SELECT n,
        |  CASE WHEN (dn*dqa - dsa*dsa) > 0 AND (dn*dqb - dsb*dsb) > 0
        |    THEN (dn*dp - dsa*dsb)
        |      / (sqrt(dn*dqa - dsa*dsa) * sqrt(dn*dqb - dsb*dsb)) END
        |    AS rho
        |FROM dd""".stripMargin,

    "join_range_lookup" ->
      """WITH b(lo, hi, cohort) AS (
        |  VALUES (0, 4, 'c0'), (5, 9, 'c1'), (30, 99, 'c3'),
        |         (100, 399, 'c4'), (400, 999999, 'c5'))
        |SELECT b.cohort, COUNT(*) AS n_events
        |FROM events LEFT JOIN b ON events.user_id BETWEEN b.lo AND b.hi
        |GROUP BY b.cohort ORDER BY b.cohort""".stripMargin,

    "join_dpp_prune" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day FROM events)
        |SELECT day, COUNT(*) AS n_events FROM e
        |WHERE day % 3 = 0
        |GROUP BY day ORDER BY day""".stripMargin,

    "profile_value_drift" ->
      """WITH ha AS (
        |  SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bucket,
        |    COUNT(*) AS n_a
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |hb AS (
        |  SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bucket,
        |    COUNT(*) AS n_b
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
        |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
        |  ABS(COALESCE(n_a, 0) - COALESCE(n_b, 0)) AS abs_diff
        |FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket
        |ORDER BY bucket""".stripMargin,

    "profile_key_skew" ->
      """WITH c AS (
        |  SELECT user_id AS key, COUNT(*) AS cnt FROM events
        |  GROUP BY user_id
        |), s AS (
        |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    COUNT(*) AS n_keys, MAX(cnt) AS max_cnt FROM c
        |)
        |SELECT t.key, t.cnt, s.n_rows, s.n_keys, s.max_cnt,
        |  s.n_rows // s.n_keys AS avg_cnt,
        |  (s.max_cnt * 1000) // (s.n_rows // s.n_keys) AS skew_x1000
        |FROM (SELECT key, cnt FROM c ORDER BY cnt DESC, key LIMIT 10) t, s
        |ORDER BY t.cnt DESC, t.key""".stripMargin,

    // same '|'-joined key, same md5-nibble u32, same two folds
    "profile_content_digest" -> {
      val u = graft.operators.Sampling.hashU32Sql("")
      s"""WITH k AS (
         |  SELECT source, md5(
         |    COALESCE(CAST(doc_id AS VARCHAR), 'ø') || '|' ||
         |    COALESCE(lang, 'ø') || '|' ||
         |    COALESCE(CAST(n_chars AS VARCHAR), 'ø')) AS h
         |  FROM documents
         |), u AS (
         |  SELECT source, CAST($u AS HUGEINT) AS u32 FROM k
         |)
         |SELECT source AS grp, COUNT(*) AS n_rows,
         |  CAST(CAST(SUM(u32) AS DECIMAL(38,0)) AS VARCHAR)
         |    AS digest_sum,
         |  CAST(CAST(SUM(u32 * u32) AS DECIMAL(38,0)) AS VARCHAR)
         |    AS digest_sq
         |FROM u GROUP BY 1 ORDER BY grp""".stripMargin
    },

    "profile_columns" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val per = cols.map(c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_nulls,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_value,
           |  CAST(MAX($c) AS VARCHAR) AS max_value FROM src""".stripMargin)
      s"""WITH src AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |    CAST(o_totalprice AS DECIMAL(12,4)) AS o_totalprice,
         |    o_orderdate, o_orderpriority FROM orders)
         |${per.mkString("\nUNION ALL\n")}
         |ORDER BY col_name""".stripMargin
    },

    // same sufficient statistics in exact arithmetic, same double dag
    // (decimal -> double through VARCHAR per the ColUtil parity rule)
    "events_trend_ols" ->
      """WITH e AS (
        |  SELECT user_id, value, epoch_us(ts) AS us FROM events
        |), b AS (
        |  SELECT user_id, CAST(value AS DECIMAL(12,4)) AS y,
        |    (us - MIN(us) OVER (PARTITION BY user_id)) // 1000000 AS t
        |  FROM e
        |), a AS (
        |  SELECT user_id, COUNT(*) AS n, COUNT(DISTINCT t) AS nx,
        |    SUM(t) AS sx, SUM(y) AS sy, SUM(t * y) AS sxy,
        |    SUM(CAST(t AS HUGEINT) * t) AS sxx
        |  FROM b GROUP BY user_id
        |), s AS (
        |  SELECT user_id, n,
        |    (n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |       - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
        |         * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
        |    / (n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |       - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
        |         * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) AS slope,
        |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dy,
        |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dx
        |  FROM a WHERE nx > 1
        |)
        |SELECT user_id, n, slope,
        |  (dy - slope * dx) / n AS intercept
        |FROM s ORDER BY user_id""".stripMargin,

    "events_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events
        |), t AS (
        |  SELECT COALESCE(LAG(event_type) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id), 'START')
        |    AS prev_type, event_type AS next_type
        |  FROM e
        |)
        |SELECT prev_type, next_type, COUNT(*) AS n
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_sequence_anomaly" ->
      s"""WITH RECURSIVE e AS (
         |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
         |  FROM events
         |), tr AS (
         |  SELECT user_id, COALESCE(LAG(event_type) OVER (
         |      PARTITION BY user_id ORDER BY us, event_id), 'START')
         |    AS prev, event_type AS next
         |  FROM e
         |), bi AS (
         |  SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS n_ab
         |  FROM tr GROUP BY 1, 2
         |), uni AS (
         |  SELECT prev, CAST(SUM(n_ab) AS BIGINT) AS n_a
         |  FROM bi GROUP BY 1
         |), xs AS (
         |  SELECT n_ab AS x FROM bi UNION SELECT n_a FROM uni
         |),
         |${graft.functions.FixedLog.duckdbCte("xs")},
         |scored AS (
         |  SELECT t.user_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
         |    CAST(SUM(la.l - lb.l) AS BIGINT) AS surprise_fp
         |  FROM tr t
         |  JOIN bi ON bi.prev = t.prev AND bi.next = t.next
         |  JOIN uni ON uni.prev = t.prev
         |  JOIN lg lb ON lb.x = bi.n_ab
         |  JOIN lg la ON la.x = uni.n_a
         |  GROUP BY t.user_id)
         |SELECT user_id, n_trans, surprise_fp,
         |  CAST(surprise_fp // n_trans AS BIGINT) AS avg_surprise_fp
         |FROM scored
         |ORDER BY avg_surprise_fp DESC, user_id LIMIT 20""".stripMargin,

    "events_top_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events
        |), r AS (
        |  SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS rn
        |  FROM e
        |), p AS (
        |  SELECT user_id, COUNT(*) AS n_steps,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id
        |)
        |SELECT path, n_steps, COUNT(*) AS n_entities
        |FROM p GROUP BY path, n_steps
        |ORDER BY n_entities DESC, path LIMIT 20""".stripMargin,

    // same n^2-cleared rational: num(k) = sum (n*x_t - S)(n*x_{t+k} - S)
    // over rank-adjacent pairs, den = sum (n*x_t - S)^2
    "events_autocorr" ->
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events
        |), s AS (
        |  SELECT event_type, day, CAST(COUNT(*) AS HUGEINT) AS x
        |  FROM e GROUP BY 1, 2
        |), r AS (
        |  SELECT event_type, day, x,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
        |      AS rk
        |  FROM s
        |), st AS (
        |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(x) AS sx
        |  FROM r GROUP BY 1
        |), c AS (
        |  SELECT r.event_type, rk, (st.n * x - st.sx) AS cv, st.n
        |  FROM r JOIN st USING (event_type)
        |), den AS (
        |  SELECT event_type, SUM(cv * cv) AS den,
        |    CAST(MAX(n) AS BIGINT) AS n_periods
        |  FROM c GROUP BY 1
        |), lags(lag) AS (VALUES (1), (2), (3)),
        |num AS (
        |  SELECT a.event_type, l.lag, SUM(a.cv * b.cv) AS num,
        |    COUNT(*) AS n_pairs
        |  FROM c a JOIN lags l ON true
        |  JOIN c b ON b.event_type = a.event_type
        |    AND b.rk = a.rk + l.lag
        |  GROUP BY 1, 2
        |)
        |SELECT n.event_type, CAST(n.lag AS INT) AS lag, d.n_periods,
        |  n.n_pairs, CAST(n.num AS BIGINT) AS num,
        |  CAST(d.den AS BIGINT) AS den
        |FROM num n JOIN den d USING (event_type)
        |ORDER BY event_type, lag""".stripMargin,

    "events_rolling_median" ->
      """WITH t AS (
        |  SELECT event_id, user_id, value,
        |    ROW_NUMBER() OVER w AS rn,
        |    quantile_cont(value, 0.5) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |      ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) AS med
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |)
        |SELECT event_id, user_id, value, med
        |FROM t WHERE rn > 20 ORDER BY event_id""".stripMargin,

    "events_seasonal_baseline" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value,
        |    (epoch_us(ts) // 3600000000) % 24 AS hod,
        |    CAST(CAST(value AS DECIMAL(12,4)) * 10000 AS BIGINT) AS v4
        |  FROM events WHERE value IS NOT NULL),
        |p AS (
        |  SELECT event_type, hod, COUNT(*) AS n,
        |    CAST(SUM(v4) AS BIGINT) AS s4
        |  FROM e GROUP BY 1, 2)
        |SELECT e.event_id, e.event_type, e.hod, e.v4, p.n,
        |  ABS(e.v4 * p.n - p.s4) // p.n AS dev_x10000
        |FROM e JOIN p ON p.event_type = e.event_type AND p.hod = e.hod
        |ORDER BY dev_x10000 DESC, e.event_id LIMIT 20""".stripMargin,

    "events_gtest_hourly" ->
      s"""WITH RECURSIVE ev AS (
         |  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS b
         |  FROM events),
         |cells AS (SELECT event_type, b, COUNT(*) AS o
         |  FROM ev GROUP BY 1, 2),
         |tots AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS n
         |  FROM cells GROUP BY 1),
         |xs AS (SELECT o * 24 AS x FROM cells
         |  UNION SELECT n FROM tots),
         |${graft.functions.FixedLog.duckdbCte("xs")},
         |terms AS (
         |  SELECT c.event_type, t.n,
         |    CAST(c.o AS HUGEINT) * (lo.l - ln.l) AS t
         |  FROM cells c
         |  JOIN tots t ON t.event_type = c.event_type
         |  JOIN lg lo ON lo.x = c.o * 24
         |  JOIN lg ln ON ln.x = t.n)
         |SELECT event_type, MAX(n) AS n_events,
         |  COUNT(*) AS n_buckets_hit,
         |  CAST(SUM(t) AS BIGINT) AS g_num_fp,
         |  1.3862943611198906 * CAST(CAST(SUM(t) AS VARCHAR) AS DOUBLE)
         |    / 1048576.0 AS g_stat
         |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_concurrency" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |pts AS (
        |  SELECT event_type, us AS t, 1 AS dlt FROM ev
        |  UNION ALL
        |  SELECT event_type, us + 300000000, -1 FROM ev),
        |pert AS (SELECT event_type, t, CAST(SUM(dlt) AS BIGINT) AS dd
        |  FROM pts GROUP BY 1, 2),
        |run AS (SELECT *,
        |    CAST(SUM(dd) OVER (PARTITION BY event_type ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cur
        |  FROM pert),
        |peaks AS (SELECT event_type, MAX(cur) AS peak_concurrency
        |  FROM run GROUP BY 1)
        |SELECT r.event_type, p.peak_concurrency,
        |  MIN(r.t) AS peak_at_us
        |FROM run r JOIN peaks p ON p.event_type = r.event_type
        |  AND r.cur = p.peak_concurrency
        |GROUP BY 1, 2 ORDER BY r.event_type""".stripMargin,

    "events_stl_decompose" ->
      """WITH series AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS ord,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,4)) * 10000 AS BIGINT))
        |      AS BIGINT) AS v4
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, ord, ord % 24 AS season, v4,
        |    COUNT(*) OVER w AS wn,
        |    CAST(SUM(v4) OVER w AS BIGINT) AS tn
        |  FROM series
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ord
        |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
        |t2 AS (SELECT event_type, ord, season, v4,
        |    CASE WHEN wn = 25 THEN tn END AS trend_num,
        |    CASE WHEN wn = 25 THEN v4 * 25 - tn END AS d
        |  FROM t),
        |cells AS (SELECT event_type, season,
        |    CAST(SUM(d) AS BIGINT) AS seas_num,
        |    COUNT(d) AS seas_cnt
        |  FROM t2 GROUP BY 1, 2)
        |SELECT t2.event_type, ord, season, v4, trend_num, seas_num,
        |  seas_cnt,
        |  CAST(v4 AS DOUBLE) / 10000.0 AS value,
        |  CAST(trend_num AS DOUBLE) / 25.0 / 10000.0 AS trend,
        |  CASE WHEN seas_cnt > 0 THEN CAST(seas_num AS DOUBLE)
        |    / (25.0 * CAST(seas_cnt AS DOUBLE)) / 10000.0 END AS seasonal,
        |  CAST(v4 AS DOUBLE) / 10000.0
        |    - CAST(trend_num AS DOUBLE) / 25.0 / 10000.0
        |    - CASE WHEN seas_cnt > 0 THEN CAST(seas_num AS DOUBLE)
        |        / (25.0 * CAST(seas_cnt AS DOUBLE)) / 10000.0 END AS resid
        |FROM t2 JOIN cells USING (event_type, season)
        |ORDER BY event_type, ord""".stripMargin,

    "events_anomaly_zscore" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |    CAST(round(value * 1000000) AS BIGINT) AS v
        |  FROM events
        |), t AS (
        |  SELECT event_id, user_id, value, v,
        |    ROW_NUMBER() OVER w AS rn,
        |    SUM(v) OVER wt AS s,
        |    SUM(CAST(v AS HUGEINT) * v) OVER wt AS q
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id),
        |    wt AS (PARTITION BY user_id ORDER BY us, event_id
        |           ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_id, user_id, value FROM t
        |WHERE rn > 20
        |  AND CAST(20 * v - s AS HUGEINT) * CAST(20 * v - s AS HUGEINT)
        |      > 9 * (20 * q - CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
        |ORDER BY event_id""".stripMargin,

    "events_funnel_latency" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
         |), v AS (
         |  SELECT user_id, MIN(us) AS t0 FROM e
         |  WHERE event_type = 'view' GROUP BY user_id
         |), c AS (
         |  SELECT e.user_id, t0, MIN(e.us) AS t1
         |  FROM e JOIN v ON e.user_id = v.user_id
         |  WHERE e.event_type = 'click' AND e.us > t0
         |    AND e.us <= t0 + $SevenDaysUs
         |  GROUP BY e.user_id, t0
         |), p AS (
         |  SELECT e.user_id, t0, t1, MIN(e.us) AS t2
         |  FROM e JOIN c ON e.user_id = c.user_id
         |  WHERE e.event_type = 'purchase' AND e.us > t1
         |    AND e.us <= t0 + $SevenDaysUs
         |  GROUP BY e.user_id, t0, t1
         |)
         |SELECT COUNT(*) AS n_converted,
         |  quantile_cont(t2 - t0, 0.25) AS p25_us,
         |  quantile_cont(t2 - t0, 0.5) AS p50_us,
         |  quantile_cont(t2 - t0, 0.75) AS p75_us,
         |  quantile_cont(t1 - t0, 0.5) AS p50_view_click_us,
         |  quantile_cont(t2 - t1, 0.5) AS p50_click_purchase_us
         |FROM p""".stripMargin,

    "events_retention_cohorts" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
        |), c AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id
        |)
        |SELECT c.cohort_day, e.day - c.cohort_day AS offset_day,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN c ON e.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, offset_day""".stripMargin,

    "events_funnel" ->
      s"""WITH e AS (
         |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
         |), v AS (
         |  SELECT user_id, MIN(us) AS t0 FROM e
         |  WHERE event_type = 'view' GROUP BY user_id
         |), c AS (
         |  SELECT e.user_id, t0, MIN(e.us) AS t1
         |  FROM e JOIN v ON e.user_id = v.user_id
         |  WHERE e.event_type = 'click' AND e.us > t0
         |    AND e.us <= t0 + $SevenDaysUs
         |  GROUP BY e.user_id, t0
         |), p AS (
         |  SELECT e.user_id, t0, t1, MIN(e.us) AS t2
         |  FROM e JOIN c ON e.user_id = c.user_id
         |  WHERE e.event_type = 'purchase' AND e.us > t1
         |    AND e.us <= t0 + $SevenDaysUs
         |  GROUP BY e.user_id, t0, t1
         |)
         |SELECT 0 AS stage_idx, 'view' AS stage,
         |  (SELECT COUNT(*) FROM v) AS n_entities
         |UNION ALL SELECT 1, 'click', (SELECT COUNT(*) FROM c)
         |UNION ALL SELECT 2, 'purchase', (SELECT COUNT(*) FROM p)
         |ORDER BY stage_idx""".stripMargin,

    "events_outlier_iqr" ->
      """WITH f AS (SELECT event_type AS g,
        |    quantile_cont(value, 0.25) - 1.5 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) AS lo,
        |    quantile_cont(value, 0.75) + 1.5 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT event_id, event_type, value, lo, hi
        |FROM events JOIN f ON event_type = g
        |WHERE value < lo OR value > hi
        |ORDER BY event_id""".stripMargin,

    "events_outlier_mad" ->
      """WITH m AS (SELECT event_type AS g, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type),
        |a AS (SELECT event_id, event_type, value, med
        |  FROM events JOIN m ON event_type = g),
        |d AS (SELECT event_type AS g2,
        |    quantile_cont(abs(value - med), 0.5) AS mad
        |  FROM a GROUP BY event_type)
        |SELECT event_id, event_type, value, med, mad,
        |  3.0 * 1.4826 * mad AS cutoff
        |FROM a JOIN d ON event_type = g2
        |WHERE abs(value - med) > 3.0 * 1.4826 * mad
        |ORDER BY event_id""".stripMargin,

    "events_view_no_purchase" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events)
        |SELECT v.user_id, COUNT(*) AS n_unconverted_views,
        |  MIN(v.event_id) AS first_view_id
        |FROM e v
        |WHERE v.event_type = 'view' AND NOT EXISTS (
        |  SELECT 1 FROM e p
        |  WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        |    AND p.us > v.us AND p.us <= v.us + 604800000000)
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,

    "profile_mutual_info" ->
      s"""WITH RECURSIVE cells AS (
         |  SELECT l_returnflag AS a, l_linestatus AS b,
         |    CAST(COUNT(*) AS BIGINT) AS n_ab
         |  FROM lineitem GROUP BY 1, 2),
         |ra AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a
         |  FROM cells GROUP BY 1),
         |cb AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS n_b
         |  FROM cells GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n_tot FROM cells),
         |xs AS (SELECT n_ab AS x FROM cells UNION SELECT n_a FROM ra
         |  UNION SELECT n_b FROM cb UNION SELECT n_tot FROM tot),
         |${graft.functions.FixedLog.duckdbCte("xs")}
         |SELECT c.a, c.b, c.n_ab, ra.n_a, cb.n_b, tot.n_tot,
         |  CAST(lt.l + lab.l - la.l - lb.l AS BIGINT) AS lr_fp,
         |  CAST(c.n_ab * (lt.l + lab.l - la.l - lb.l) AS BIGINT) AS mi_num
         |FROM cells c JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot
         |JOIN lg lab ON lab.x = c.n_ab
         |JOIN lg la ON la.x = ra.n_a
         |JOIN lg lb ON lb.x = cb.n_b
         |JOIN lg lt ON lt.x = tot.n_tot
         |ORDER BY c.a, c.b""".stripMargin,

    "profile_psi_drift" ->
      s"""WITH RECURSIVE src AS (
         |  SELECT CAST(l_quantity AS BIGINT) AS q, l_shipdate
         |  FROM lineitem WHERE l_quantity IS NOT NULL),
         |cb AS (SELECT LEAST(9, GREATEST(0, ((q - 1) * 10) // 50)) AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM src WHERE l_shipdate < TIMESTAMP '1998-01-01' GROUP BY 1),
         |cc AS (SELECT LEAST(9, GREATEST(0, ((q - 1) * 10) // 50)) AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM src WHERE l_shipdate >= TIMESTAMP '1998-01-01' GROUP BY 1),
         |spine AS (SELECT CAST(UNNEST(range(10)) AS BIGINT) AS bucket),
         |j AS (SELECT s.bucket, CAST(COALESCE(cb.c, 0) AS BIGINT) AS c_base,
         |    CAST(COALESCE(cc.c, 0) AS BIGINT) AS c_cur
         |  FROM spine s LEFT JOIN cb USING (bucket) LEFT JOIN cc USING (bucket)),
         |tot AS (SELECT CAST(SUM(c_base) + 10 AS BIGINT) AS tn,
         |    CAST(SUM(c_cur) + 10 AS BIGINT) AS rn FROM j),
         |xs AS (SELECT c_base + 1 AS x FROM j
         |  UNION SELECT c_cur + 1 FROM j
         |  UNION SELECT tn FROM tot UNION SELECT rn FROM tot),
         |${graft.functions.FixedLog.duckdbCte("xs")}
         |SELECT j.bucket, j.c_base, j.c_cur,
         |  CAST(lb.l + lr.l - lc.l - lt.l AS BIGINT) AS log2r_fp,
         |  CAST(((j.c_base + 1) * tot.rn - (j.c_cur + 1) * tot.tn)
         |    * (lb.l + lr.l - lc.l - lt.l) AS BIGINT) AS psi_num,
         |  CAST(tot.tn * tot.rn * 1048576 AS BIGINT) AS denom
         |FROM j CROSS JOIN tot
         |JOIN lg lb ON lb.x = j.c_base + 1
         |JOIN lg lc ON lc.x = j.c_cur + 1
         |JOIN lg lt ON lt.x = tot.tn
         |JOIN lg lr ON lr.x = tot.rn
         |ORDER BY j.bucket""".stripMargin,

    "profile_ks_drift" ->
      """WITH m AS (
        |  SELECT value,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM events WHERE value IS NOT NULL GROUP BY value),
        |c AS (
        |  SELECT value,
        |    CAST(SUM(ca) OVER w AS BIGINT) AS cum_a,
        |    CAST(SUM(cb) OVER w AS BIGINT) AS cum_b
        |  FROM m
        |  WINDOW w AS (ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |  CAST(SUM(cb) AS BIGINT) AS n_b FROM m),
        |dd AS (
        |  SELECT value,
        |    ABS(CAST(cum_a AS HUGEINT) * n_b
        |      - CAST(cum_b AS HUGEINT) * n_a) AS d
        |  FROM c, t),
        |r AS (SELECT value, d,
        |  ROW_NUMBER() OVER (ORDER BY d DESC, value) AS rn FROM dd)
        |SELECT t.n_a, t.n_b, r.value AS ks_at,
        |  CAST(r.d * 1000000 // (CAST(t.n_a AS HUGEINT) * t.n_b)
        |    AS BIGINT) AS ks_x1e6
        |FROM r, t WHERE rn = 1""".stripMargin,

    "events_winsorized_mean" ->
      """WITH f AS (SELECT event_type AS g,
        |    quantile_cont(value, 0.05) AS lo,
        |    quantile_cont(value, 0.95) AS hi
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
        |w AS (
        |  SELECT event_type, lo, hi,
        |    CASE WHEN value < lo THEN lo
        |         WHEN value > hi THEN hi ELSE value END AS vw,
        |    value
        |  FROM events JOIN f ON event_type = g
        |  WHERE value IS NOT NULL)
        |SELECT event_type, COUNT(*) AS n, MIN(lo) AS lo, MIN(hi) AS hi,
        |  CAST(CAST(SUM(CAST(vw AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
        |    AS sum_w,
        |  CAST(SUM(CASE WHEN vw <> value THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,

    "join_interval_sweep" ->
      s"""SELECT p.event_id AS purchase_id, p.user_id,
         |  epoch_us(p.ts) AS p_us,
         |  COUNT(c.event_id) AS n_clicks,
         |  MIN(c.event_id) AS first_click
         |FROM events p
         |LEFT JOIN events c ON c.event_type = 'click'
         |  AND c.user_id = p.user_id
         |  AND epoch_us(c.ts) >= epoch_us(p.ts) - $HourUs
         |  AND epoch_us(c.ts) <= epoch_us(p.ts)
         |WHERE p.event_type = 'purchase'
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    "join_interval_outer" ->
      s"""SELECT p.event_id AS purchase_id, p.user_id,
         |  epoch_us(p.ts) AS p_us,
         |  COUNT(c.event_id) AS n_clicks,
         |  MIN(c.event_id) AS first_click
         |FROM events p
         |LEFT JOIN events c ON c.event_type = 'click'
         |  AND c.user_id = p.user_id
         |  AND epoch_us(c.ts) >= epoch_us(p.ts) - $HourUs
         |  AND epoch_us(c.ts) <= epoch_us(p.ts)
         |WHERE p.event_type = 'purchase'
         |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    "events_session_window" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN LAG(ts) OVER w IS NULL
         |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= $SessionGapUs
         |      THEN 1 ELSE 0 END AS new_session
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sid AS (
         |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS session_id
         |  FROM g)
         |SELECT user_id,
         |  MIN(epoch_us(ts)) AS session_start_us,
         |  MAX(epoch_us(ts)) + $SessionGapUs AS session_end_us,
         |  COUNT(*) AS n_events,
         |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS STRING)
         |    AS DOUBLE) AS sum_value
         |FROM sid GROUP BY user_id, session_id
         |ORDER BY user_id, session_start_us""".stripMargin,

    "events_resample_interp" ->
      s"""WITH obs AS (
         |  SELECT user_id, epoch_us(ts) // ${HourUs} AS bucket,
         |    COUNT(*) AS n_obs,
         |    SUM(CAST(value AS DECIMAL(12,4))) AS sum_dec
         |  FROM events GROUP BY 1, 2),
         |s AS (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx
         |  FROM obs GROUP BY 1),
         |grid AS (SELECT user_id, UNNEST(range(mn, mx + 1)) AS bucket
         |  FROM s),
         |j AS (SELECT g.user_id, g.bucket,
         |    COALESCE(o.n_obs, 0) AS n_obs,
         |    CAST(CAST(LAST_VALUE(o.sum_dec IGNORE NULLS) OVER wp
         |      AS STRING) AS DOUBLE) AS prev_d,
         |    CAST(CAST(FIRST_VALUE(o.sum_dec IGNORE NULLS) OVER wn
         |      AS STRING) AS DOUBLE) AS next_d,
         |    LAST_VALUE(CASE WHEN o.sum_dec IS NOT NULL THEN g.bucket END
         |      IGNORE NULLS) OVER wp AS prev_b,
         |    FIRST_VALUE(CASE WHEN o.sum_dec IS NOT NULL THEN g.bucket END
         |      IGNORE NULLS) OVER wn AS next_b
         |  FROM grid g
         |  LEFT JOIN obs o ON o.user_id = g.user_id AND o.bucket = g.bucket
         |  WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wn AS (PARTITION BY g.user_id ORDER BY g.bucket
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT user_id, bucket * 3600 AS bucket_s, n_obs,
         |  CASE WHEN next_b IS NULL OR next_b = prev_b THEN prev_d
         |    ELSE prev_d + (next_d - prev_d) *
         |      ((bucket - prev_b) / (next_b - prev_b)) END AS interp_value
         |FROM j ORDER BY user_id, bucket_s""".stripMargin,

    "window_range_trailing" ->
      s"""SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         |  COUNT(*) OVER w AS n_trailing_1h,
         |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) OVER w
         |    AS STRING) AS DOUBLE) AS sum_trailing_1h
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN ${HourUs - 1} PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "events_resample_gapfill" ->
      s"""WITH obs AS (
         |  SELECT user_id, epoch_us(ts) // ${HourUs} AS bucket,
         |    COUNT(*) AS n_obs,
         |    SUM(CAST(value AS DECIMAL(12,4))) AS sum_dec
         |  FROM events GROUP BY 1, 2),
         |s AS (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx
         |  FROM obs GROUP BY 1),
         |grid AS (SELECT user_id, UNNEST(range(mn, mx + 1)) AS bucket
         |  FROM s),
         |j AS (SELECT g.user_id, g.bucket,
         |    COALESCE(o.n_obs, 0) AS n_obs,
         |    LAST_VALUE(o.sum_dec IGNORE NULLS) OVER (
         |      PARTITION BY g.user_id ORDER BY g.bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS filled_dec
         |  FROM grid g
         |  LEFT JOIN obs o ON o.user_id = g.user_id AND o.bucket = g.bucket)
         |SELECT user_id, bucket * 3600 AS bucket_s, n_obs,
         |  CAST(CAST(filled_dec AS STRING) AS DOUBLE) AS filled_value
         |FROM j ORDER BY user_id, bucket_s""".stripMargin,
    "events_tumbling_window" ->
      s"""SELECT (epoch_us(ts) // $FiveMinUs) * 300 AS bucket_s, event_type,
         |  COUNT(*) AS n,
         |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS STRING) AS DOUBLE)
         |    AS sum_value,
         |  COUNT(DISTINCT user_id) AS n_users
         |FROM events GROUP BY 1, 2 ORDER BY bucket_s, event_type""".stripMargin,

    "events_sessionize" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN LAG(ts) OVER w IS NULL
         |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > $SessionGapUs
         |      THEN 1 ELSE 0 END AS new_session
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sid AS (
         |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS session_id
         |  FROM g)
         |SELECT user_id, session_id,
         |  MIN(epoch_us(ts)) AS session_start_us,
         |  MAX(epoch_us(ts)) AS session_end_us,
         |  COUNT(*) AS n_events,
         |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS STRING) AS DOUBLE)
         |    AS sum_value
         |FROM sid GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    "events_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + CAST(FLOOR(value * 60000000) AS BIGINT) AS e
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |sweep AS (
        |  SELECT user_id, s, e,
        |    MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |grp AS (
        |  SELECT user_id, s, e,
        |    CAST(SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS g
        |  FROM sweep)
        |SELECT user_id, MIN(s) AS span_start, MAX(e) AS span_end,
        |  COUNT(*) AS n_rows
        |FROM grp GROUP BY user_id, g
        |ORDER BY user_id, span_start""".stripMargin,

    "events_sliding_window" ->
      s"""SELECT w * 300 AS wstart_s, event_type, COUNT(*) AS n,
         |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS STRING) AS DOUBLE)
         |    AS sum_value
         |FROM (SELECT event_type, value,
         |    UNNEST([epoch_us(ts) // $FiveMinUs,
         |            epoch_us(ts) // $FiveMinUs - 1]) AS w
         |  FROM events)
         |GROUP BY 1, 2 ORDER BY wstart_s, event_type""".stripMargin,

    "events_variant_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  COUNT(json_extract_string(props, '$.missing'))
        |    AS n_missing_present
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "join_asof_events" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    event_type, value FROM events),
        |p AS (SELECT event_id, user_id, ts_us FROM ev
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts_us, event_id AS click_id, value FROM ev
        |  WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, p.ts_us,
        |  c.click_id AS asof_click_id,
        |  CAST(CAST(c.value AS DECIMAL(12,4)) AS DOUBLE) AS asof_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
        |ORDER BY p.user_id, p.ts_us, p.event_id""".stripMargin,

    "join_asof_tolerance" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    event_type, value FROM events),
        |p AS (SELECT event_id, user_id, ts_us FROM ev
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts_us, event_id AS click_id, value FROM ev
        |  WHERE event_type = 'click'),
        |bk AS (
        |  SELECT p.event_id, c.click_id, c.value,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ts_us DESC, c.click_id) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.ts_us <= p.ts_us AND p.ts_us - c.ts_us <= 600000000)
        |SELECT p.user_id, p.event_id, p.ts_us,
        |  bk.click_id AS asof_click_id,
        |  CAST(CAST(bk.value AS DECIMAL(12,4)) AS DOUBLE) AS asof_value
        |FROM p LEFT JOIN bk ON p.event_id = bk.event_id AND bk.rn = 1
        |ORDER BY p.user_id, p.ts_us, p.event_id""".stripMargin,

    "join_asof_nearest" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    event_type FROM events),
        |p AS (SELECT event_id, user_id, ts_us FROM ev
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts_us, event_id AS click_id FROM ev
        |  WHERE event_type = 'click'),
        |bk AS (
        |  SELECT p.event_id, c.click_id, c.ts_us,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ts_us DESC, c.click_id) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id AND c.ts_us <= p.ts_us
        |    AND p.ts_us - c.ts_us <= 3600000000),
        |fw AS (
        |  SELECT p.event_id, c.click_id, c.ts_us,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ts_us, c.click_id) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id AND c.ts_us >= p.ts_us
        |    AND c.ts_us - p.ts_us <= 3600000000),
        |pick AS (
        |  SELECT p.user_id, p.event_id, p.ts_us,
        |    b.click_id AS b_id, b.ts_us AS b_ts,
        |    f.click_id AS f_id, f.ts_us AS f_ts
        |  FROM p
        |  LEFT JOIN bk b ON b.event_id = p.event_id AND b.rn = 1
        |  LEFT JOIN fw f ON f.event_id = p.event_id AND f.rn = 1)
        |SELECT user_id, event_id, ts_us,
        |  CASE WHEN b_ts IS NOT NULL AND (f_ts IS NULL
        |      OR ts_us - b_ts <= f_ts - ts_us)
        |    THEN b_id ELSE f_id END AS asof_click_id,
        |  CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
        |    WHEN b_ts IS NOT NULL AND (f_ts IS NULL
        |      OR ts_us - b_ts <= f_ts - ts_us)
        |    THEN 'backward' ELSE 'forward' END AS asof_direction
        |FROM pick
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "join_asof_forward" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    event_type FROM events),
        |p AS (SELECT event_id, user_id, ts_us FROM ev
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts_us, event_id AS click_id FROM ev
        |  WHERE event_type = 'click'),
        |cand AS (
        |  SELECT p.event_id, c.click_id,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ts_us, c.click_id) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id AND c.ts_us >= p.ts_us
        |    AND c.ts_us - p.ts_us <= 3600000000)
        |SELECT p.user_id, p.event_id, p.ts_us,
        |  cand.click_id AS asof_click_id
        |FROM p LEFT JOIN cand ON p.event_id = cand.event_id AND cand.rn = 1
        |ORDER BY p.user_id, p.ts_us, p.event_id""".stripMargin,

    "events_user_profile" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_types,
        |  MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS STRING) AS DOUBLE)
        |    AS sum_value,
        |  (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000 AS span_s
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_ewma" -> {
      val num = EwmaCoefs.zipWithIndex.map { case (c, j) =>
        val lv = if (j == 0) "v4" else s"LAG(v4,$j) OVER w"
        s"COALESCE($lv, 0) * $c"
      }.mkString(" + ")
      val den = EwmaCoefs.zipWithIndex.map { case (c, j) =>
        val lv = if (j == 0) "v4" else s"LAG(v4,$j) OVER w"
        s"CASE WHEN $lv IS NOT NULL THEN $c ELSE 0 END"
      }.mkString(" + ")
      s"""WITH e AS (
         |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
         |    CAST(round(value * 10000) AS BIGINT) AS v4
         |  FROM events WHERE value IS NOT NULL
         |), t AS (
         |  SELECT event_id, user_id, value,
         |    $num AS num,
         |    $den AS den
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
         |)
         |SELECT event_id, user_id, value,
         |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ewma
         |FROM t ORDER BY event_id""".stripMargin
    },

    "events_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us,
        |    CASE WHEN event_type <> 'purchase' THEN event_type END AS touch
        |  FROM events
        |), t AS (
        |  SELECT event_type, value,
        |    LAST_VALUE(touch IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr_type
        |  FROM e
        |)
        |SELECT attr_type, COUNT(*) AS n_purchases,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
        |    AS attributed_value
        |FROM t WHERE event_type = 'purchase' AND attr_type IS NOT NULL
        |GROUP BY attr_type ORDER BY attr_type""".stripMargin,

    "profile_equidepth" ->
      """WITH e AS (
        |  SELECT CAST(round(value * 10000) AS BIGINT) AS v4, event_id
        |  FROM events WHERE value IS NOT NULL
        |), r AS (
        |  SELECT v4, ROW_NUMBER() OVER (ORDER BY v4, event_id) - 1 AS rid,
        |    COUNT(*) OVER () AS n
        |  FROM e
        |)
        |SELECT (rid * 8) // n AS bucket, COUNT(*) AS n_rows,
        |  MIN(v4) AS lo, MAX(v4) AS hi
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "profile_chi2_assoc" ->
      """WITH cells AS (
        |  SELECT event_type AS a, user_id % 4 AS b, COUNT(*) AS observed
        |  FROM events GROUP BY 1, 2
        |), ra AS (
        |  SELECT a, CAST(SUM(observed) AS BIGINT) AS r FROM cells GROUP BY a
        |), cb AS (
        |  SELECT b, CAST(SUM(observed) AS BIGINT) AS c FROM cells GROUP BY b
        |), tot AS (SELECT CAST(SUM(observed) AS BIGINT) AS t FROM cells)
        |SELECT cells.a, cells.b, observed,
        |  CAST(r * c AS DOUBLE) / CAST(t AS DOUBLE) AS expected,
        |  (CAST(observed AS DOUBLE)
        |     - CAST(r * c AS DOUBLE) / CAST(t AS DOUBLE))
        |  * (CAST(observed AS DOUBLE)
        |     - CAST(r * c AS DOUBLE) / CAST(t AS DOUBLE))
        |  / (CAST(r * c AS DOUBLE) / CAST(t AS DOUBLE)) AS contrib
        |FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot
        |ORDER BY a, b""".stripMargin,

    "spatial_dbscan" -> dbscanOracle,

    "events_twap" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us
        |  FROM events WHERE value IS NOT NULL),
        |b AS (
        |  SELECT user_id, CAST(value AS DECIMAL(12,4)) AS v,
        |    LEAD(us, 1) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) - us AS dur
        |  FROM e)
        |SELECT user_id, COUNT(*) AS n_obs,
        |  CAST(SUM(dur) AS BIGINT) AS total_us,
        |  CAST(CAST(SUM(v * dur) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(SUM(dur) AS BIGINT) AS VARCHAR) AS DOUBLE)
        |    AS twap
        |FROM b WHERE dur IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_user_gini" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
        |    COUNT(*) AS n_types, CAST(SUM(c * c) AS BIGINT) AS ssq
        |  FROM c GROUP BY user_id)
        |SELECT user_id, n_events, n_types,
        |  (n_events * n_events - ssq) * 1000000
        |    // (n_events * n_events) AS gini_x1e6
        |FROM a ORDER BY user_id""".stripMargin,

    "events_active_streaks" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |i AS (
        |  SELECT user_id, day,
        |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
        |      AS grp
        |  FROM d),
        |st AS (SELECT user_id, grp, COUNT(*) AS len FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  MAX(len) AS longest_streak, COUNT(*) AS n_streaks
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_segmented_trend" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |stt AS (
        |  SELECT event_type, day, c,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS total,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nn
        |  FROM daily),
        |cu AS (
        |  SELECT event_type, day,
        |    CAST(SUM(nn * c - total) OVER (PARTITION BY event_type
        |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cusum
        |  FROM stt),
        |rk AS (
        |  SELECT event_type, day AS changepoint,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY ABS(cusum) DESC, day) AS rn
        |  FROM cu),
        |cp AS (SELECT event_type, changepoint FROM rk WHERE rn = 1),
        |seg AS (
        |  SELECT daily.event_type,
        |    CASE WHEN day <= cp.changepoint THEN 'pre' ELSE 'post' END
        |      AS segment,
        |    day AS t, CAST(c AS DECIMAL(12,4)) AS y
        |  FROM daily JOIN cp ON cp.event_type = daily.event_type),
        |a AS (
        |  SELECT event_type, segment, COUNT(*) AS n,
        |    COUNT(DISTINCT t) AS nx,
        |    SUM(t) AS sx, SUM(y) AS sy, SUM(t * y) AS sxy,
        |    SUM(CAST(t AS HUGEINT) * t) AS sxx
        |  FROM seg GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, segment, n,
        |    (n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |       - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
        |         * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
        |    / (n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |       - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
        |         * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) AS slope,
        |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dy,
        |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dx
        |  FROM a WHERE nx > 1)
        |SELECT event_type, segment, n, slope,
        |  (dy - slope * dx) / n AS intercept
        |FROM s ORDER BY event_type, segment""".stripMargin,

    "events_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, day, c,
        |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS total,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM daily),
        |cu AS (
        |  SELECT event_type, day, n, total,
        |    CAST(SUM(n * c - total) OVER (PARTITION BY event_type
        |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cusum
        |  FROM st),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY ABS(cusum) DESC, day) AS rn
        |  FROM cu)
        |SELECT event_type, day AS changepoint_day,
        |  cusum AS peak_cusum_scaled, n, total
        |FROM rk WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "spatial_within_join" ->
      s"""WITH xy AS ($spatialPointsSql)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
         |FROM xy a JOIN xy b ON a.id < b.id
         |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
         |  <= ${SpatialR * SpatialR}
         |ORDER BY id_a, id_b""".stripMargin,

    "spatial_neighbor_stats" ->
      s"""WITH xy AS ($spatialPointsSql),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
         |  FROM xy a JOIN xy b ON a.id < b.id
         |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
         |    <= ${SpatialR * SpatialR}),
         |sym AS (
         |  SELECT id_a AS id, id_b AS nb, dist2 FROM pairs
         |  UNION ALL
         |  SELECT id_b AS id, id_a AS nb, dist2 FROM pairs),
         |ranked AS (
         |  SELECT id, nb, dist2,
         |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist2, nb) AS rn,
         |    COUNT(*) OVER (PARTITION BY id) AS n_neighbors
         |  FROM sym)
         |SELECT id, n_neighbors, nb AS nn_id, dist2 AS nn_dist2
         |FROM ranked WHERE rn = 1 ORDER BY id""".stripMargin,

    "spatial_knn_join" ->
      s"""WITH xy AS ($spatialPointsSql),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
         |  FROM xy a JOIN xy b ON a.id < b.id
         |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
         |    <= ${SpatialR * SpatialR}),
         |sym AS (
         |  SELECT id_a AS id, id_b AS nb, dist2 FROM pairs
         |  UNION ALL
         |  SELECT id_b AS id, id_a AS nb, dist2 FROM pairs),
         |ranked AS (
         |  SELECT id, nb, dist2,
         |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist2, nb)
         |      AS rank
         |  FROM sym)
         |SELECT id, CAST(rank AS INT) AS rank, nb AS nb_id, dist2
         |FROM ranked WHERE rank <= 5 ORDER BY id, rank""".stripMargin,

    // window replay of the broadcast-stats LOO encode: exact decimal
    // window sum, one IEEE division; decimal -> double through VARCHAR
    // per the ColUtil parity rule
    "ml_target_encode" ->
      """WITH b AS (
        |  SELECT event_id, event_type, CAST(value AS DECIMAL(12,4)) AS v
        |  FROM events
        |), w AS (
        |  SELECT event_id, event_type, v,
        |    SUM(v) OVER (PARTITION BY event_type) AS s,
        |    CAST(COUNT(v) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM b
        |)
        |SELECT event_id, event_type,
        |  CASE WHEN v IS NOT NULL AND n > 1
        |    THEN CAST(CAST(s - v AS VARCHAR) AS DOUBLE)
        |      / CAST(n - 1 AS DOUBLE) END AS enc
        |FROM w ORDER BY event_id""".stripMargin
  )

  // def, not val: the oracles map initializes before this point in the
  // object body, and a forward val reference would silently be null
  private def dbscanOracle: String =
    s"""WITH RECURSIVE xy AS (
       |  SELECT * FROM ($spatialPointsSql) WHERE id < 10000),
       |pairs AS (
       |  SELECT a.id AS ia, b.id AS ib
       |  FROM xy a JOIN xy b ON a.id < b.id
       |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
       |    <= ${SpatialR * SpatialR}),
       |sym AS (
       |  SELECT ia AS id, ib AS nb FROM pairs
       |  UNION ALL SELECT ib, ia FROM pairs),
       |deg AS (SELECT id, COUNT(*) AS c FROM sym GROUP BY id),
       |core AS (SELECT id FROM deg WHERE c + 1 >= 4),
       |ce AS (
       |  SELECT s.id AS src, s.nb AS dst FROM sym s
       |  JOIN core c1 ON c1.id = s.id JOIN core c2 ON c2.id = s.nb),
       |walk(node, lbl) AS (
       |  SELECT id, id FROM core
       |  UNION
       |  SELECT ce.dst, w.lbl FROM walk w JOIN ce ON ce.src = w.node),
       |comp AS (SELECT node, MIN(lbl) AS cluster FROM walk GROUP BY node),
       |border AS (
       |  SELECT s.id, MIN(comp.cluster) AS cluster
       |  FROM sym s JOIN comp ON comp.node = s.nb
       |  WHERE s.id NOT IN (SELECT id FROM core)
       |  GROUP BY s.id)
       |SELECT node AS id, cluster, 'core' AS role FROM comp
       |UNION ALL SELECT id, cluster, 'border' FROM border
       |UNION ALL
       |SELECT id, CAST(NULL AS BIGINT), 'noise' FROM xy
       |WHERE id NOT IN (SELECT node FROM comp)
       |  AND id NOT IN (SELECT id FROM border)
       |ORDER BY id""".stripMargin

  // DuckDB twin of spatialPoints: same filter, same nibble decode
  private def spatialPointsSql: String = {
    val x = graft.operators.Spatial.hexCoordSql("h", 1, 3)
    val y = graft.operators.Spatial.hexCoordSql("h", 4, 3)
    s"""SELECT event_id AS id, $x AS x, $y AS y
       |  FROM (SELECT event_id, md5(CAST(event_id AS VARCHAR)) AS h
       |        FROM events WHERE event_id % 4 = 0)""".stripMargin
  }
}
