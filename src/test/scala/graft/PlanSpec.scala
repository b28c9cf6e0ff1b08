package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SimpleMode

/** Physical-plan regression tests: the scale properties that make these
  * queries viable at 100 TB (filter/projection pushdown into the parquet
  * scan, dimension broadcast instead of shuffle joins, top-k instead of
  * global sort, map-side partial aggregation) are asserted on the plan
  * text so a refactor that silently loses one fails CI, not a cluster. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, Sf0)
      .queryExecution.explainString(SimpleMode)

  test("filters and projection push into the parquet scan") {
    val p = plan("scan_filter_projection")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"))
    assert(p.contains("GreaterThan(l_quantity,45.0)"))
    // pruned read schema: only the 4 referenced columns, not 11
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_discount:double>"))
  }

  test("dim joins broadcast; no shuffle join for lineitem x part") {
    val p = plan("join_broadcast_parts")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    // map-side partial aggregation before the exchange
    assert(p.contains("partial_count"))
  }

  test("q5 star join is all-broadcast on the dim sides") {
    val p = plan("q5_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4)
  }

  test("order-by + limit plans as TakeOrderedAndProject (top-k)") {
    val p = plan("sort_topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("q1 aggregates partially before the shuffle and prunes the scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_sum"))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(!p.contains("l_orderkey")) // untouched columns never read
  }

  test("funnel stage filters push into every events scan") {
    val p = plan("events_funnel")
    // each stage reads its own filtered slice of the log: the stage
    // predicate must reach the parquet scan, and only the three needed
    // columns survive pruning
    Seq("view", "click", "purchase").foreach(s =>
      assert(p.contains(s"EqualTo(event_type,$s)"), s"stage $s not pushed"))
    // only the three needed columns survive pruning (ts's physical type
    // varies by fixture generation: nanos-long vs timestamp)
    assert(p.contains(
      "ReadSchema: struct<ts:bigint,user_id:bigint,event_type:string>") ||
      p.contains(
        "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,event_type:string>"))
  }

  test("ann brute force broadcasts the query side") {
    val p = plan("ann_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"))
    // native dot product expression on the hot path, not interpreted HOF
    // (the gate scores on quantized int64 since the round-7 oracle
    // conversion, so the hot dot is the long variant)
    assert(p.contains("longvectordot") || p.contains("LongVectorDot"))
  }

  test("dedup exact keep is a single-shuffle semi join") {
    val p = plan("dedup_exact_keep")
    assert(p.contains("LeftSemi"))
  }

  test("embedding near-dup prunes the scan to id + vector") {
    // other suites may have cached the embeddings table (InMemoryTableScan
    // has no parquet ReadSchema) — assert against the real scan
    spark.catalog.clearCache()
    val p = plan("dedup_embedding_cosine")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"))
    // per-pair work is the native integer dot, not interpreted HOFs
    assert(p.toLowerCase.contains("longvectordot"))
  }

  test("IVF probes broadcast the codebook and the query side") {
    val p = plan("ann_ivf_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("ANN scans never evaluate vector expressions as DataFilters") {
    // the round-4 computed-column trap (see Dedup.simhashes scaladoc):
    // exploding a computed cell array / filtering on a computed column's
    // nullability lets Catalyst push the whole centroid-scoring expression
    // into the parquet scan as a DataFilter, re-scoring every corpus row
    // at the scan AND at the project. Regression guard: scan-level filters
    // on the ANN paths must stay cheap input-column predicates.
    spark.catalog.clearCache()
    for (q <- Seq("ann_ivf_topk", "ann_ivf_kmeans_topk", "ann_pq_topk",
        "ann_ivfpq_topk", "ann_pca_topk", "ann_lsh_topk")) {
      val p = plan(q)
      val scanFilters = "DataFilters: \\[[^\\]]*".r.findAllIn(p).toSeq
      for (f <- scanFilters) {
        assert(!f.toLowerCase.contains("vectordot"),
          s"$q pushed a vector expression into the scan:\n$f")
        assert(!f.toLowerCase.contains("array_sort"),
          s"$q pushed the cell-ranking expression into the scan:\n$f")
      }
    }
  }

  test("shingle-set scans never evaluate the hash chain as DataFilters") {
    // same trap, Jaccard family: exploding the computed shingle set +
    // the null-intolerant sh equi-join let Catalyst push
    // size(array_distinct(wordshinglehashes(text))) > 0 into the parquet
    // scan, shingling every document twice per side. Dedup.fence (a
    // shuffle() wrap — set semantics, order immaterial) blocks the
    // substitution; this guard keeps it blocked.
    spark.catalog.clearCache()
    for (q <- Seq("dedup_ngram_jaccard", "dedup_containment",
        "dedup_jaccard_prefix")) {
      val p = plan(q)
      val scanFilters = "DataFilters: \\[[^\\]]*".r.findAllIn(p).toSeq
      assert(scanFilters.nonEmpty, s"$q plan shows no scans")
      for (f <- scanFilters)
        assert(!f.toLowerCase.contains("shinglehashes"),
          s"$q pushed the shingle-hash chain into the scan:\n$f")
    }
  }

  test("jaccard postings build is map-only up to the self-join") {
    val p = plan("dedup_ngram_jaccard")
    // shuffles: self-join exchange + pair aggregation + final sort only —
    // no explode+distinct exchange, no counts-join exchange
    val shuffles = "Exchange".r.findAllIn(p).size
    assert(shuffles <= 5, s"unexpected extra shuffles ($shuffles):\n$p")
    assert(p.toLowerCase.contains("wordshinglehashes"))
  }

  test("decontamination pushes the bucket filter and broadcasts eval grams") {
    val p = plan("text_decontaminate")
    // the eval-bucket predicate must reach the scan as a data filter (at
    // scale the eval set never leaves its pruned scan), and both the eval
    // shingle set and the per-doc hit counts must broadcast — the corpus
    // text itself is never exchanged. Order-insensitive: the native
    // md5u32 bucket predicate and the null guard must share a scan's
    // DataFilters, wherever Catalyst sorts them.
    val scanFilters = "DataFilters: \\[[^\\]]*".r.findAllIn(p).toSeq
    assert(scanFilters.exists(f =>
      f.contains("md5u32") && f.contains("isnotnull(doc_id")),
      s"bucket filter did not reach the corpus scan:\n$p")
    val bcasts = "BroadcastExchange".r.findAllIn(p).size
    assert(bcasts >= 2, s"expected eval + hits broadcasts:\n$p")
    assert(p.toLowerCase.contains("wordshingles"))
  }

  test("boilerplate-span dedup partial-aggregates before every exchange") {
    val p = plan("dedup_spans_corpus")
    // span counting must combine map-side: a partial aggregate appears
    // below the span-keyed exchange (hot-span skew dies in the combiner)
    assert(p.contains("partial_count"))
    // the hot-span set (bounded by spans in >= minDocs docs) broadcasts
    // into the anti join rather than shuffling the exploded corpus
    assert(p.contains("LeftAnti, BuildRight"),
      s"hot spans should broadcast into the anti join:\n$p")
  }

  test("repetition stats shuffle on the doc key with map-side combine") {
    val p = plan("quality_repetition")
    assert(p.contains("partial_count"))
    assert(p.contains("partial_sum"))
    // per-n-gram pipelines rejoin the (small) per-doc aggregates via
    // broadcast — the document table is scanned, never shuffled whole
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
  }

  test("subq_scalar_avg runs one lineitem scan (window, no self-join)") {
    spark.catalog.clearCache()
    val p = plan("subq_scalar_avg")
    // the per-part aggregate rides a window: exactly one lineitem scan,
    // no shuffle join of two lineitem subplans
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("Window"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("topn heap aggregates partially before the exchange; no Window") {
    val p = plan("topn_heap_per_supplier")
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial pass below the group exchange — k rows per group per
    // partition cross the shuffle, not the full table
    assert(p.contains("ObjectHashAggregate"))
    assert(p.contains("partial_topk_by"))
    assert(!p.contains("Window"), p)
  }

  test("q6 pushes every predicate into the scan; no join, no wide shuffle") {
    spark.catalog.clearCache()
    val p = plan("q6_forecast_revenue")
    // date range, discount band, and quantity cap all reach the parquet scan
    // (the explain text truncates PushedFilters with "..."; the same
    // predicates are verbatim in the post-scan Filter node)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), IsNotNull(l_quantity), GreaterThanOrEqual"))
    assert(p.contains(">= 1997-01-01 00:00:00"))
    assert(p.contains("< 1998-01-01 00:00:00"))
    assert(p.contains(">= 0.02"))
    assert(p.contains("<= 0.04"))
    assert(p.contains("< 24.0"))
    assert(!p.contains("Join"))
    // only the single-row final agg crosses an exchange
    assert(p.contains("partial_sum"))
  }

  test("q2 computes the per-part min via a window, not a groupBy rejoin") {
    spark.catalog.clearCache()
    val p = plan("q2_min_cost_supplier")
    assert(p.contains("Window"))
    // one lineitem scan: the association is not re-scanned for the min side
    assert("lineitem\\.parquet".r.findAllIn(p).size == 1, p)
  }

  test("q16 excludes complaint suppliers with a broadcast anti join") {
    val p = plan("q16_part_supplier_cnt")
    assert(p.contains("LeftAnti, BuildRight"), p)
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q20's nested IN subqueries plan as stacked semi joins") {
    val p = plan("q20_promo_suppliers")
    assert("LeftSemi".r.findAllIn(p).size >= 2, p)
  }

  test("dpp join injects a runtime subquery into the partitioned scan") {
    val p = plan("join_dpp_prune")
    // the fact side is dir-partitioned on month and the scan's
    // PartitionFilters carry Spark's DPP subquery — directories for
    // months the dim filter rejects are never read
    assert(p.contains("PartitionFilters"))
    assert(p.contains("dynamicpruning"))
  }

  test("salted skew join replicates the dim side, joins on (key, salt)") {
    val p = plan("join_salted_skew")
    assert(p.contains("explode"))
    assert(p.contains("__graft_salt"))
  }

  test("nanos split pushes its range predicates into each branch's scan") {
    spark.catalog.clearCache()
    val p = plan("split_scan_nanos")
    // every union branch's parquet scan carries its ts range pushed down
    assert("GreaterThanOrEqual\\(ts,".r.findAllIn(p).size >= 6, p)
    assert(p.contains("PushedFilters"))
  }

  test("range-clustered layout prunes a key-range scan to few files") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val dir = tmpDir("layout")
    val orders = Tables.orders(spark, Sf0)
    // same table, random vs range-clustered layout, 8 files each
    orders.repartition(8).write.parquet(s"$dir/random")
    graft.operators.Layout.writeRangeClustered(orders, s"$dir/clustered",
      Seq(col("o_orderdate")), nFiles = 8)
    def filesTouched(path: String): Long =
      spark.read.parquet(path)
        .filter(col("o_orderdate").between("1996-01-01", "1996-03-31"))
        .select(input_file_name()).distinct().count()
    val rnd = filesTouched(s"$dir/random")
    val clu = filesTouched(s"$dir/clustered")
    // ~4% of the date range: every random file holds matches, the
    // clustered layout confines them to a file or two
    assert(rnd >= 6, s"random layout touched only $rnd files")
    assert(clu <= 2, s"clustered layout touched $clu files")
    // identical data either way
    assert(spark.read.parquet(s"$dir/clustered").count() == orders.count())
  }

  test("z-order layout prunes selective filters on EITHER dimension") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    import spark.implicits._
    val dir = tmpDir("zorder")
    // 100x100 grid — every (x, y) combination once
    val grid = (for (x <- 0 until 100; y <- 0 until 100) yield (x, y))
      .toDF("x", "y")
    grid.repartition(16).write.parquet(s"$dir/random")
    graft.operators.Layout.writeRangeClustered(grid, s"$dir/xrange",
      Seq(col("x")), nFiles = 16)
    graft.operators.Layout.writeZOrdered(grid, s"$dir/zorder",
      Seq(col("x"), col("y")), nFiles = 16)
    def touched(path: String, f: org.apache.spark.sql.Column): Long =
      spark.read.parquet(path).filter(f)
        .select(input_file_name()).distinct().count()
    val quadrant = col("x") < 25 && col("y") < 25 // 1/16 of the space
    assert(touched(s"$dir/random", quadrant) >= 12)
    // 16 files ~ one file per (x-quarter, y-quarter) Morton cell
    assert(touched(s"$dir/zorder", quadrant) <= 3)
    val yOnly = col("y") < 25 // the dim range-clustering can't prune
    assert(touched(s"$dir/xrange", yOnly) >= 12,
      "x-range layout can't prune a y filter")
    assert(touched(s"$dir/zorder", yOnly) <= 8,
      "z-order must still prune on the second dimension")
    assert(spark.read.parquet(s"$dir/zorder").count() == grid.count())
  }

  test("hilbert curve: bijective, every consecutive pair of codes is " +
      "grid-adjacent (the property Morton lacks)") {
    import graft.functions.HilbertUtil
    val order = 5
    val n = 1 << order // 32x32 grid
    val cells = for (x <- 0L until n; y <- 0L until n)
      yield (x, y, HilbertUtil.xy2d(order, x, y))
    // bijection: 1024 distinct codes covering exactly [0, 1024)
    assert(cells.map(_._3).toSet == (0L until (n.toLong * n)).toSet)
    // adjacency: d and d+1 are unit Manhattan neighbors — for EVERY d
    val byD = cells.map(c => c._3 -> ((c._1, c._2))).toMap
    (0L until n.toLong * n - 1).foreach { dd =>
      val (x1, y1) = byD(dd)
      val (x2, y2) = byD(dd + 1)
      assert((x1 - x2).abs + (y1 - y2).abs == 1,
        s"jump at d=$dd: ($x1,$y1)->($x2,$y2)")
    }
    // Morton, for contrast, jumps at the very first quadrant boundary
    def morton(x: Long, y: Long): Long = (0 until order).map(b =>
      (((x >> b) & 1) << (2 * b)) | (((y >> b) & 1) << (2 * b + 1))).sum
    val mByD = cells.map(c => morton(c._1, c._2) -> ((c._1, c._2))).toMap
    val jumps = (0L until n.toLong * n - 1).count { dd =>
      val (x1, y1) = mByD(dd); val (x2, y2) = mByD(dd + 1)
      (x1 - x2).abs + (y1 - y2).abs > 1
    }
    assert(jumps > 300, s"morton should jump often, saw $jumps")
  }

  test("hilbert layout prunes a 2-D box at least as well as required " +
      "and preserves content") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    import spark.implicits._
    val dir = tmpDir("hilbert")
    val grid = (for (x <- 0 until 100; y <- 0 until 100) yield (x, y))
      .toDF("x", "y")
    graft.operators.Layout.writeHilbertOrdered(grid, s"$dir/h",
      col("x"), col("y"), nFiles = 16)
    def touched(f: org.apache.spark.sql.Column): Long =
      spark.read.parquet(s"$dir/h").filter(f)
        .select(input_file_name()).distinct().count()
    // 1/16 quadrant: connected curve locality -> very few files
    assert(touched(col("x") < 25 && col("y") < 25) <= 3)
    // single-dimension band still prunes
    assert(touched(col("y") < 25) <= 8)
    assert(spark.read.parquet(s"$dir/h").count() == grid.count())
    // content identical to the source grid
    val back = spark.read.parquet(s"$dir/h").as[(Int, Int)]
      .collect().toSet
    assert(back == grid.as[(Int, Int)].collect().toSet)
  }

  test("z-order write handles empty input and all-null columns") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = tmpDir("zorder-edge")
    // empty input: the min/max probe returns nulls — must write an
    // empty table, not NPE unboxing the probe row
    val empty = Seq.empty[(Int, Int)].toDF("x", "y")
    graft.operators.Layout.writeZOrdered(empty, s"$dir/empty",
      Seq(col("x"), col("y")), nFiles = 4)
    assert(spark.read.parquet(s"$dir/empty").count() == 0)
    // an all-null dimension degrades to a constant; rows all survive
    val halfNull = (0 until 50)
      .map(i => (i, null.asInstanceOf[Integer])).toDF("x", "y")
    graft.operators.Layout.writeZOrdered(halfNull, s"$dir/nullcol",
      Seq(col("x"), col("y")), nFiles = 4)
    assert(spark.read.parquet(s"$dir/nullcol").count() == 50)
  }

  test("catalog statistics drive automatic broadcast, no hint needed") {
    import org.apache.spark.sql.functions.col
    spark.catalog.clearCache()
    // a managed-table LOCATION outlives the in-memory catalog across
    // sessions: in a fresh session even overwrite takes the CREATE path
    // and rejects the orphaned directory — drop table AND location
    for (t <- Seq("stats_dim", "stats_fact")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
    Tables.nation(spark, Sf0).write.saveAsTable("stats_dim")
    Tables.customer(spark, Sf0).write.saveAsTable("stats_fact")
    // ANALYZE gives the optimizer real sizes: the dim is KBs, far under
    // autoBroadcastJoinThreshold, so CBO must pick broadcast-hash WITHOUT
    // an explicit broadcast() hint — "let Catalyst optimize" made checkable
    spark.sql("ANALYZE TABLE stats_dim COMPUTE STATISTICS")
    spark.sql("ANALYZE TABLE stats_fact COMPUTE STATISTICS")
    val joined = spark.table("stats_fact")
      .join(spark.table("stats_dim"),
        col("c_nationkey") === col("n_nationkey"))
    val phys = joined.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"stats should drive an unhinted broadcast join:\n$phys")
    assert(joined.count() == Tables.customer(spark, Sf0).count())
  }

  test("q7 plans all three dims as broadcast joins") {
    spark.catalog.clearCache()
    val p = plan("q7_nation_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
  }

  test("bloom prefilter sits below the join, on the scan side") {
    spark.catalog.clearCache()
    val p = plan("join_bloom_prefilter")
    // the might_contain filter must run BEFORE the join exchange — its
    // point is shrinking the shuffle, not post-filtering join output
    val fi = p.indexOf("might_contain")
    val ji = p.indexOf("SortMergeJoin") max p.indexOf("ShuffledHashJoin") max
      p.indexOf("BroadcastHashJoin")
    assert(fi > ji && ji >= 0,
      s"filter (pos $fi) should be deeper in the plan than the join " +
        s"(pos $ji) — explain prints top-down:\n$p")
  }

  test("quality report fuses all row rules into one scan") {
    spark.catalog.clearCache()
    val p = plan("quality_report")
    // 4 row rules + 1 unique rule must cost exactly TWO lineitem scans
    // (one conditional aggregation + one groupBy), not one per rule
    assert("lineitem\\.parquet".r.findAllIn(p).size == 2, p)
  }

  test("global row number is dense, ordered, and multi-partition") {
    import org.apache.spark.sql.functions.{col, countDistinct, max}
    val base = Tables.orders(spark, Sf0).select(col("o_orderkey"))
    val ids = graft.operators.Ids.denseGlobalRowNumber(base,
      Seq(col("o_orderkey")), numPartitions = Some(4))
    // distributed: not the 1-partition global-window collapse
    assert(ids.rdd.getNumPartitions > 1)
    val n = base.count()
    val agg = ids.agg(max(col("row_id")), countDistinct(col("row_id"))).head
    assert(agg.getLong(0) == n - 1 && agg.getLong(1) == n)
    // order agreement: bigger key -> bigger id (sampled pairwise)
    val rows = ids.orderBy(col("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    rows.sliding(2).foreach {
      case Array((k1, i1), (k2, i2)) => assert(k1 < k2 && i1 < i2)
      case _ =>
    }
  }

  test("q19 disjunctive predicate stays a broadcast HASH join (residual)") {
    val p = plan("q19_disjunctive_rev")
    // the OR-of-conjunctions spans both sides, so it cannot be an equi
    // key — it must ride the l_partkey = p_partkey hash join as a
    // residual condition, never degrade to a nested-loop join
    assert(p.contains("BroadcastHashJoin"), s"expected BHJ:\n$p")
    assert(!p.contains("NestedLoop"), s"must not degrade to NLJ:\n$p")
    // the part-side disjunction (brand/size only) pushes into the scan
    assert(p.contains("partial_sum"))
  }

  test("q21 plans the two fact self-joins as semi + anti") {
    val p = plan("q21_waiting_supplier")
    assert(p.contains("LeftSemi"), s"EXISTS self-join must be semi:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS self-join must be anti:\n$p")
    // supplier + nation dims broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
  }

  test("q15 max-revenue selection broadcasts the 1-row max, no global window") {
    val p = plan("q15_top_supplier")
    // ties-at-max via crossJoin(broadcast(max)) — a Window over the
    // whole post-agg view would funnel |suppliers| rows into one task
    assert(!p.contains("Window"), s"no global window expected:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast of the 1-row max:\n$p")
  }

  test("bucketed tables co-locate: join and agg plan with zero Exchange") {
    import graft.operators.Bucketing
    import org.apache.spark.sql.functions.col
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Bucketing.writeBucketed(Tables.orders(spark, Sf0), "b_orders",
        Seq("o_custkey"), 8)
      Bucketing.writeBucketed(Tables.customer(spark, Sf0), "b_customer",
        Seq("c_custkey"), 8)
      val j = Bucketing.coLocatedJoin(spark, "b_orders", "b_customer",
        Seq("o_custkey"), Seq("c_custkey"))
      val pj = j.queryExecution.executedPlan.toString
      assert(!pj.contains("Exchange"),
        s"bucketed join must not shuffle:\n$pj")
      // row-identical to the plain join
      val plain = Tables.orders(spark, Sf0).join(Tables.customer(spark, Sf0),
        col("o_custkey") === col("c_custkey"))
      assert(j.count() == plain.count())
      // aggregation on the bucket key is exchange-free too: the write-time
      // shuffle is amortized over every downstream group-by
      val a = spark.table("b_orders").groupBy(col("o_custkey")).count()
      val pa = a.queryExecution.executedPlan.toString
      assert(!pa.contains("Exchange"),
        s"bucketed agg must not shuffle:\n$pa")
      assert(a.count() == plain.select("o_custkey").distinct().count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("grouped skyline never plans a single-partition stage") {
    // the whole point of the bucketed two-phase frontier: both dominance
    // windows are partitioned (group, bucket) / (group), so no stage
    // funnels the data through one partition (a plain window-over-all
    // formulation would)
    val p = plan("skyline_parts")
    assert(!p.contains("SinglePartition"),
      s"skyline must stay partition-parallel:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "skyline must not fall back to the O(n^2) dominance join")
  }

  test("basket rules prune by support before the per-item joins") {
    // the Apriori property in the plan: the n_both >= minSupport filter
    // applies to the pair aggregate BELOW the joins that attach
    // n_ante/n_cons, so only supported pairs flow into rule math
    val p = plan("basket_rules")
    assert(p.contains("Filter (n_both"), s"support filter missing:\n$p")
    // final cut is top-k, not a global sort
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("target encoding broadcasts category stats — never the window " +
      "form the oracle replays") {
    val p = plan("ml_target_encode")
    assert(p.contains("BroadcastHashJoin"))
    // the whole point of the operator: no full-fact-table window sort
    assert(!p.contains("windowspecdefinition"))
  }

  test("feature standardization is one stats pass + map-only transform") {
    val p = plan("ml_feature_scale")
    assert(!p.contains("windowspecdefinition"))
    // the one-row stats frame arrives by broadcast, not shuffle
    assert(p.contains("BroadcastExchange"))
    assert(p.contains("partial_count"))
  }

  test("negative sampling caps draws per query before the rank shuffle") {
    val p = plan("ml_negative_sample")
    assert(p.contains("WindowGroupLimit"))
  }

  test("bootstrap replicas aggregate map-side before the shuffle") {
    val p = plan("ml_bootstrap_ci")
    assert(p.contains("partial_sum"))
  }

  test("weighted exact-k sampling is a TakeOrdered cut, not a global " +
      "sort") {
    val p = plan("sample_weighted_k")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("epoch shuffle windows BY SHARD — never one global sort " +
      "partition") {
    val p = plan("ml_epoch_shuffle")
    // the within-shard rank hashes on the shard key (parallelism =
    // shard count); a SinglePartition exchange would serialize the
    // whole corpus through one task
    assert(p.contains("hashpartitioning(shard"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("feature hashing aggregates map-side; no UDF in the plan") {
    val p = plan("ml_feature_hash")
    assert(p.contains("partial_sum"))
    assert(!p.toLowerCase.contains("batchevalpython") &&
      !p.contains("ScalaUDF"))
  }

  test("session-eight text paths keep heavy expressions out of the " +
      "scan DataFilters") {
    // the round-4 computed-column trap, guarded for the newest family:
    // sentence segmentation (regexp_extract_all), token explode
    // (split), the AC automaton, and the span mask must evaluate once
    // in the project, never at the parquet scan
    spark.catalog.clearCache()
    for (q <- Seq("dedup_sentences_first", "pack_span_corruption",
        "text_lm_kneser_ney", "chunk_sentences", "text_blocklist_hits",
        "text_search_proximity")) {
      val p = plan(q)
      val scanFilters = "DataFilters: \\[[^\\]]*".r.findAllIn(p).toSeq
      for (f <- scanFilters; bad <- Seq("regexp_extract_all", "split(",
          "multipatterncounts", "posexplode"))
        assert(!f.toLowerCase.contains(bad.toLowerCase),
          s"$q pushed $bad into the scan:\n$f")
    }
  }

  test("sentence dedup: the rank-1 survivor cut is WindowGroupLimit-" +
      "capped (shuffle carries ~distinct sentences, not occurrences)") {
    val p = plan("dedup_sentences_first")
    assert(p.contains("WindowGroupLimit"))
  }

  test("proximity min-cover: windows key on the doc, final cut is " +
      "top-k — no global sort of the postings") {
    val p = plan("text_search_proximity")
    assert(p.contains("hashpartitioning(doc_id"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("top paths: first-k cut is WindowGroupLimit-capped and the " +
      "final cut a TakeOrderedAndProject") {
    val p = plan("events_top_paths")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("autocorr windows per key — never one global sort partition") {
    val p = plan("events_autocorr")
    assert(p.contains("hashpartitioning(event_type"))
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("group k-fold is map-only over the scan (no exchange before " +
      "the fold aggregation)") {
    val p = plan("ml_group_kfold")
    // exactly the aggregation exchanges: fold assignment itself adds
    // none (the first Exchange in the plan text sits above the scan's
    // partial aggregate, not below a fold-computation stage)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2)
  }

  test("walk skip-grams: lead windows, never a walk self-join") {
    val p = plan("graph_walk_skipgrams")
    // the pair stream comes from per-walk lead() windows plus one
    // pair-keyed partial-aggregated count — a SortMergeJoin of the walk
    // output with itself would re-shuffle the corpus per window offset
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(p.contains("partial_count"))
    assert(p.contains("hashpartitioning(center"))
  }

  test("maxsim: queries broadcast, corpus never exchanged, heap top-k") {
    val p = plan("ann_maxsim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"))
    // the bounded-heap aggregate (never a rank window over all pairs)
    assert(p.toLowerCase.contains("topk_by") && !p.contains("Window"))
  }

  test("source-priority dedup partial-aggregates the min-struct " +
      "before its exchange") {
    val p = plan("dedup_source_priority")
    assert(p.contains("partial_min"))
    // survivor selection is the aggregate + semi-join — no window over
    // the corpus
    assert(!p.contains("Window"), p.take(3000))
  }

  test("epoch oversample is map-only: no exchange below the output sort") {
    val p = plan("mix_epoch_oversample")
    assert(!p.contains("Exchange hashpartitioning"), p.take(3000))
  }

  test("partitioned roundtrip prunes at the listing: the predicate is a " +
      "PartitionFilter, not a data filter") {
    val p = plan("source_partitioned_roundtrip")
    assert(p.contains("PartitionFilters: [isnotnull(event_type"), p)
    assert(p.contains("(event_type"), p)
    // nothing left to push into the data scan
    assert(p.contains("PushedFilters: []"), p)
  }

  test("naive Bayes: class table broadcasts, model join keyed, argmax " +
      "is a per-doc window — no cartesian") {
    val p = plan("text_naive_bayes")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p) // C-row class fanout broadcasts
    assert(!p.contains("SortMergeJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }
}
