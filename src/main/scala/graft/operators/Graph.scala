package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge DataFrames.
  *
  * The reference has no graph surface (its `querySql` passthrough could at
  * most push a recursive CTE to the DBMS — reference
  * database/dbms/reader/parameter.go:94-101); in a training-data pipeline,
  * link-graph centrality ranks crawl frontiers and duplicates-cluster
  * canonicals. Sibling of Dedup.connectedComponents (same iterative
  * one-action-per-round discipline).
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic: ranks are bigint
  * multiples of 1/SCALE, every division is an integral floor division, so
  * the result is bit-identical in any engine and under any partitioning —
  * the same determinism trick as the md5-nibble samplers and the quantized
  * cosine (double-based PageRank cannot be oracle-checked exactly: the
  * per-node contribution sum is order-dependent in IEEE arithmetic).
  */
object Graph {
  val Scale: Long = 1000000000000L // ranks are multiples of 1e-12

  /** Damped PageRank with `iters` synchronous power iterations.
    *
    * rank_0(v)   = SCALE div N
    * rank_i+1(v) = (15 * (SCALE div N)) div 100
    *             + (85 * sum_{(u,v) in E} (rank_i(u) div outdeg(u))) div 100
    *
    * (d = 0.85 as 85/100; all `div` are integral floor divisions on
    * non-negative values, so Spark `div` and DuckDB `//` agree exactly.)
    *
    * Dangling mass: a node with no out-edges keeps receiving rank but
    * redistributes none (its mass leaks, the common simplification) —
    * callers that need a strongly-connected input should symmetrize edges
    * first, as the trade-graph gate query does.
    *
    * Scale posture: each iteration is ONE shuffle join (edges x ranks on
    * src) + ONE aggregation (sum by dst) — the textbook shape; the node
    * count enters the plan as a broadcast 1-row scalar, never a driver
    * value; each iteration's ranks are pinned ([[Pin]]) so the
    * 10-iteration plan does not nest 10 joins deep. Edge dedup + degree
    * are computed once and cached across iterations.
    */
  /** `seeds` switches the uniform teleport to a PERSONALIZED restart
    * vector (PPR, the seeded-relevance propagation of curation/
    * recommendation pipelines): all teleport mass — and the initial
    * rank — concentrates uniformly on the seed nodes, so scores
    * measure proximity TO THE SEEDS rather than global centrality.
    * Seeds absent from the node universe contribute nothing (their
    * mass is simply never minted); ranks of nodes unreachable from
    * every seed converge to exactly 0 — both facts the oracle replays
    * identically. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, edgesDistinct: Boolean = false,
      weightCol: Option[String] = None,
      seeds: Option[Seq[Long]] = None): DataFrame = {
    require(seeds.forall(_.nonEmpty), "seeds, when given, must be non-empty")
    require(iters >= 1 && iters <= 100, s"iters=$iters out of [1,100]")
    // WEIGHTED generalization, same fixed-point arithmetic: an edge of
    // integer weight w carries (rank(u) * w) div strength(u), where
    // strength = sum of outgoing weights. With w = 1 every division
    // reduces to the unweighted rank div outdeg BIT-IDENTICALLY, so one
    // code path serves both and the unweighted oracle stays exact.
    //
    // ONE dedup shuffle, cached: nodes / degrees / the edge working set
    // all derive from it (uncached, each would recompute the distinct).
    // Callers whose edge set is distinct by construction skip the dedup
    // shuffle entirely (edgesDistinct=true) — at |E| rows it is the
    // single biggest setup stage. Weighted duplicates merge by SUMMING w.
    val raw = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L)).as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val e = (if (edgesDistinct) raw
      else if (weightCol.isEmpty) raw.distinct()
      else raw.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")))
      .cache()
    // ONE pass over the edges yields both the node universe (dst-only
    // dangling nodes included — inflow but no outflow) and the
    // out-strength per node: explode both endpoints, sum a src-side w.
    // Separate nodes-distinct + strength aggregations would each
    // shuffle the edge table again.
    val nd = e.select(explode(array(
        struct(col("src").as("node"), col("w").as("o")),
        struct(col("dst").as("node"), lit(0L).as("o")))).as("x"))
      .select(col("x.node").as("node"), col("x.o").as("o"))
      .groupBy(col("node")).agg(sum(col("o")).as("od"))
      .cache()
    val nn = broadcast(nd.agg(count(lit(1)).as("n")))
    // edge working set pre-joined with out-strength and clustered on
    // the join key; a pin under AQE hides that layout from the planner
    // (see [[Pin]]), so a round's join exchanges the edge side too
    // unless AQE broadcasts the |V|-row rank side
    val deg = nd.filter(col("od") > 0)
      .select(col("node").as("src"), col("od"))
    // pinned: re-scanned once per iteration
    val ew = Pin.workingSet(e.join(deg, "src").repartition(col("src")))
    try {
      // per-node init rank + teleport term, computed once (tiny: |V|)
      val base = Pin.workingSet(seeds match {
        case None => nd.crossJoin(nn)
          .select(col("node"), expr(s"$Scale div n").as("rank"),
            expr(s"(15 * ($Scale div n)) div 100").as("tp"))
        case Some(ss) =>
          val k = ss.distinct.size
          val isSeed = col("node").isin(ss.distinct: _*)
          nd.select(col("node"),
            when(isSeed, expr(s"$Scale div $k")).otherwise(lit(0L))
              .as("rank"),
            when(isSeed, expr(s"(15 * ($Scale div $k)) div 100"))
              .otherwise(lit(0L)).as("tp"))
      })
      var ranks = base.select(col("node"), col("rank"))
      var i = 0
      while (i < iters) {
        val sums = ew.join(ranks, ew("src") === ranks("node"))
          .select(col("dst"), expr("(rank * w) div od").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        ranks = base.join(sums, base("node") === sums("dst"), "left")
          .select(base("node"),
            expr("tp + (85 * coalesce(s, 0L)) div 100").as("rank"))
        i += 1
        // every round is pinned: one compact job per round measured
        // faster than one mega-job whose 3-exchanges-per-round dag AQE
        // re-optimizes stage by stage
        if (i < iters) ranks = Pin.workingSet(ranks)
      }
      Pin.workingSet(ranks)
    } finally { ew.unpersist(); nd.unpersist(); e.unpersist() }
  }

  /** k-core decomposition by iterative peeling: repeatedly drop nodes
    * whose remaining undirected degree is < k until nothing changes (or
    * `maxRounds` is hit). Output: (node, core_deg) for the surviving
    * core — the standard graph-cleanup primitive (crawl-frontier /
    * link-farm pruning keeps only the densely-embedded nodes).
    *
    * Determinism contract: peeling only ever REMOVES edges, so a round
    * that removes nothing is a fixpoint and every later round is a
    * no-op — the early exit therefore returns exactly what a fixed
    * `maxRounds`-round unroll would, which is how the DuckDB oracle
    * replays it (R unrolled rounds, trailing no-ops included).
    *
    * Scale posture: each round is one map-side-partial degree count
    * (explode both endpoints) + two semi-joins against the surviving
    * node set, lineage cut per round; the only driver value is the
    * edge count that drives the exit test. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 20, edgesCanonical: Boolean = false): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(maxRounds >= 1 && maxRounds <= 100,
      s"maxRounds=$maxRounds out of [1,100]")
    val raw =
      if (edgesCanonical)
        edges.select(col(srcCol).cast("long").as("a"),
          col(dstCol).cast("long").as("b"))
      else edges
        .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
          greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
        .filter(col("a") < col("b"))
        .distinct()
    // the surviving-edge count that drives the exit test is observed
    // on each round's pin, the initial one included
    var (cur, curCnt) = Pin.round[Long](raw, "kcore_n_init", count(lit(1)))
    var r = 0
    var fixed = curCnt.forall(_ == 0L)
    while (r < maxRounds && !fixed) {
      val deg = cur.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("node"))
      val (next, nextCnt) = Pin.round[Long](cur
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")), s"kcore_n_$r", count(lit(1)))
      fixed = nextCnt == curCnt || nextCnt.forall(_ == 0L)
      cur = next
      curCnt = nextCnt
      r += 1
    }
    cur.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** Synchronous label-propagation community detection (LPA), `iters`
    * fixed rounds, fully deterministic:
    *
    *   lab_0(v)   = v
    *   lab_i+1(v) = the label with the MOST in-neighbors under lab_i,
    *                ties broken toward the SMALLEST label; a node with
    *                no in-neighbors keeps its label.
    *
    * Classic async LPA is run-order-dependent; pinning synchronous
    * rounds + the (count desc, label asc) total order makes the result
    * a pure function of the edge set, so a DuckDB oracle can replay it
    * round by round (the same unrolled-CTE trick as the pageRank gate).
    * Labels flow src -> dst; symmetrize first for undirected community
    * semantics (as the gate query does).
    *
    * Scale posture: per round, ONE join against the pinned edge
    * working set, ONE
    * map-side-partial count by (node, label), ONE argmax by node — the
    * argmax is a struct max aggregate, not a window, so partials
    * combine before the exchange; lineage is cut per round. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters=$iters out of [1,100]")
    val raw = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // pinned: re-scanned every round
    val e = Pin.workingSet((if (edgesDistinct) raw else raw.distinct())
      .repartition(col("src")))
    try {
      val nodes = e.select(explode(array(col("src"), col("dst")))
        .as("node")).distinct()
      var labels = Pin.workingSet(
        nodes.select(col("node"), col("node").as("lab")))
      var i = 0
      while (i < iters) {
        val cnt = e.join(labels, e("src") === labels("node"))
          .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("c"))
        // argmax by (c desc, lab asc) == struct-max of (c, -lab):
        // labels are node ids >= 0 so the negation is order-exact
        val pick = cnt
          .groupBy(col("dst"))
          .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
          .select(col("dst"), (-col("m.nl")).as("plab"))
        labels = labels.join(pick, labels("node") === pick("dst"), "left")
          .select(labels("node"),
            coalesce(col("plab"), col("lab")).as("lab"))
        i += 1
        if (i < iters) labels = Pin.workingSet(labels)
      }
      Pin.workingSet(labels.select(col("node"), col("lab").as("community")))
    } finally e.unpersist()
  }

  /** Exact triangle count over an undirected graph (edges in either or
    * both directions; self-loops dropped) — the graph-clustering /
    * spam-mass primitive.
    *
    * DEGREE-ORDERED orientation (the node-iterator++ algorithm): each
    * undirected edge is directed from the endpoint that is smaller under
    * the total order (degree, node) toward the larger. Every wedge is
    * then generated at its LOWEST-degree corner, so a hub of degree d
    * contributes at most O(d_out^2) wedges where d_out is bounded by
    * ~sqrt(m) — total work O(m^1.5) instead of the naive sum of d^2
    * (quadratic on hubs). The closing edge of an oriented wedge
    * (v, w) with v before w is necessarily oriented v -> w, so one
    * equi-join against the oriented edge set finishes the count.
    *
    * Result: 1 row (n_nodes, n_edges, n_triangles) — counts only, never
    * the triangle list, so output stays driver-safe at any scale.
    *
    * `edgesCanonical = true` asserts the input is already a DISTINCT
    * src<dst edge set and skips the normalization shuffle (the same
    * contract as pageRank's `edgesDistinct`).
    *
    * With `broadcastEdges` (default) the closing-edge semi-join
    * BROADCASTS the oriented edge set (m×16 bytes): the wedge stream —
    * the O(m^1.5) blow-up side — then never crosses an exchange; each
    * partition expands wedges, probes the edge hash map, and emits one
    * partial count. (Broadcasting the wedge-expansion build side too
    * was measured SLOWER — a second broadcast build outweighs the small
    * shuffle of m oriented edges.) Suits graphs to ~10^8 edges (GB-scale
    * broadcast); beyond that pass `broadcastEdges = false`.
    *
    * When every node id fits in uint32 (checked with one agg over the
    * cached edge set), the closing probe key is PACKED into a single
    * long `v1<<32|v2` so Spark builds a LongHashedRelation instead of a
    * generic UnsafeRow map — measured 5x on the probe stage (4.3 s ->
    * 0.85 s over 41M wedges at sf0.1); wider ids fall back to the
    * two-column key. */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String,
      edgesCanonical: Boolean = false, broadcastEdges: Boolean = true)
      : DataFrame = {
    val w = wedgePipeline(edges, srcCol, dstCol, edgesCanonical)
    try {
      val probe =
        if (w.packable) packPair(w.wedges) else w.wedges.drop("u")
      val build = if (w.packable) packPair(w.closing) else w.closing
      val close = if (broadcastEdges) broadcast(build) else build
      val keys = if (w.packable) Seq("k") else Seq("v1", "v2")
      val tri = probe.join(close, keys, "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
      val sizes = w.und.agg(count(lit(1)).as("n_edges"))
        .crossJoin(w.deg.agg(count(lit(1)).as("n_nodes")))
      Pin.workingSet(sizes.crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_triangles")))
    } finally w.und.unpersist()
  }

  /** Per-node triangle count and LOCAL CLUSTERING COEFFICIENT
    * lcc(v) = 2*tri(v) / (d(v)*(d(v)-1)) — the node-level cohesion
    * signal (link-farm hubs have huge degree and near-zero lcc; tight
    * communities sit near 1). Output: (node, degree, n_tri, lcc), one
    * row per node, zero-filled for triangle-free nodes.
    *
    * Same degree-ordered wedge machinery as [[triangleCount]], but the
    * closing-edge probe is an INNER join that keeps the wedge corner, so
    * each found triangle (u, v1, v2) explodes into its three corners and
    * a map-side-partial count per node finishes the job — output stays
    * one row per node, never a triangle list, at any scale.
    *
    * lcc is computed as exact-integer products cast to double and
    * divided ONCE, so the value is IEEE-bit-identical in any engine
    * (the division is the only inexact step). */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String,
      edgesCanonical: Boolean = false, broadcastEdges: Boolean = true)
      : DataFrame = {
    val w = wedgePipeline(edges, srcCol, dstCol, edgesCanonical)
    try {
      val (probe, build, keys) =
        if (w.packable) (packPair(w.wedges, keep = Seq(col("u"))),
          packPair(w.closing), Seq("k"))
        else (w.wedges, w.closing, Seq("v1", "v2"))
      val close = if (broadcastEdges) broadcast(build) else build
      // inner probe keeps (u, v1, v2); unpack when the key was packed
      val tris = probe.join(close, keys, "inner")
      val corners =
        (if (w.packable)
          tris.select(explode(array(col("u"),
            shiftrightunsigned(col("k"), 32),
            col("k").bitwiseAND(lit((1L << 32) - 1)))).as("node"))
        else
          tris.select(explode(array(col("u"), col("v1"), col("v2")))
            .as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      Pin.workingSet(w.deg.join(corners, Seq("node"), "left")
        .select(col("node"), col("d").as("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          when(col("d") < 2, lit(0.0d)).otherwise(
            (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
              (col("d") * (col("d") - 1)).cast("double")).as("lcc")))
    } finally w.und.unpersist()
  }

  /** Common-neighbor link prediction: the top `k` NON-adjacent node
    * pairs ranked by how many neighbors they share — the classic
    * "customers also bought" / candidate-edge primitive. Output:
    * (v1, v2, common), v1 < v2, ordered (common desc, v1, v2) — a
    * total order, so the cut is deterministic.
    *
    * Unlike the triangle family this needs FULL wedges (a common
    * neighbor u of {a,b} counts regardless of degree orientation), so
    * wedge volume is sum over u of C(d(u), 2) — quadratic on hubs. At
    * scale, cap it with `maxDegree`: nodes with more neighbors than the
    * cap are excluded as wedge CORNERS (their pairs are spurious
    * co-recommendations anyway — sharing a mega-hub carries no signal;
    * the standard practice in similarity mining). The final cut is
    * orderBy+limit = TakeOrderedAndProject: k rows per partition cross,
    * never a global sort. */
  def linkPredict(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxDegree: Int = Int.MaxValue,
      edgesCanonical: Boolean = false): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(maxDegree >= 2, s"maxDegree=$maxDegree must be >= 2")
    val raw =
      if (edgesCanonical)
        edges.select(col(srcCol).cast("long").as("a"),
          col(dstCol).cast("long").as("b"))
      else edges
        .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
          greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
        .filter(col("a") < col("b"))
        .distinct()
    val und = Pin.workingSet(raw)
    val sym = und.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val corners =
      if (maxDegree == Int.MaxValue) sym
      else {
        val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
        sym.join(deg.filter(col("d") <= maxDegree).select(col("u")), "u")
      }
    val w1 = corners.select(col("u"), col("v").as("v1"))
    val w2 = corners.select(col("u"), col("v").as("v2"))
    val common = w1.join(w2, "u")
      .filter(col("v1") < col("v2"))
      .groupBy(col("v1"), col("v2")).agg(count(lit(1)).as("common"))
    common
      .join(und.select(col("a").as("v1"), col("b").as("v2")),
        Seq("v1", "v2"), "left_anti")
      .orderBy(col("common").desc, col("v1"), col("v2"))
      .limit(k)
  }

  /** Shared wedge machinery for the triangle family: canonicalize,
    * degree-order, orient, expand wedges at the lowest-degree corner.
    * `wedges` keeps the corner `u`; `closing` is the oriented edge set
    * keyed (v1, v2). Caller must unpersist `und`. */
  private case class Wedges(und: DataFrame, deg: DataFrame,
      wedges: DataFrame, closing: DataFrame, packable: Boolean)

  private def packPair(df: DataFrame, keep: Seq[org.apache.spark.sql.Column]
      = Nil): DataFrame =
    df.select(keep :+ shiftleft(col("v1"), 32).bitwiseOR(col("v2")).as("k"): _*)

  private def wedgePipeline(edges: DataFrame, srcCol: String, dstCol: String,
      edgesCanonical: Boolean): Wedges = {
    val raw =
      if (edgesCanonical)
        edges.select(col(srcCol).cast("long").as("a"),
          col(dstCol).cast("long").as("b"))
      else edges
        .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
          greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
        .filter(col("a") < col("b"))
        .distinct()
    // pinned: the canonical edge set is scanned five times (degree agg,
    // both degree joins, idRange, the size census)
    val und = Pin.workingSet(raw)
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
    // orient toward the (degree, node)-larger endpoint; carry the
    // head's degree so wedge pairs can be ordered by the same relation
    val oriented = Pin.workingSet(withDeg.select(
      when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(
          struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv")))
    val w1 = oriented.select(col("u"), col("v").as("v1"),
      col("dv").as("dv1"))
    val w2 = oriented.select(col("u"), col("v").as("v2"),
      col("dv").as("dv2"))
    val wedges = w1.join(w2, "u")
      .filter(col("dv1") < col("dv2") ||
        (col("dv1") === col("dv2") && col("v1") < col("v2")))
      .select(col("u"), col("v1"), col("v2"))
    val closing = oriented.select(col("u").as("v1"), col("v").as("v2"))
    val idRange = und.agg(min(col("a")), max(col("b"))).head()
    val packable = !idRange.isNullAt(0) && idRange.getLong(0) >= 0L &&
      idRange.getLong(1) < (1L << 32)
    Wedges(und, deg, wedges, closing, packable)
  }

  /** Multi-source BFS hop distance: `hops(v)` = minimum number of edges
    * from ANY seed to `v` along directed edges, capped at `maxHops`
    * (symmetrize first for undirected distance). Seeds are hop 0 even
    * when isolated; unreached nodes are absent from the output.
    *
    * Fully deterministic — the result is a pure function of (edges,
    * seeds, maxHops) — so a DuckDB recursive CTE replays it exactly:
    * `min(hop)` over the hop-bounded reachability closure is the same
    * frontier expansion.
    *
    * Scale posture: the edge set is hash-partitioned on `src` ONCE and
    * lineage-cut; each round is ONE equi-join of the current frontier
    * (only the frontier side shuffles — AQE broadcasts it while it is
    * small), ONE distinct, ONE anti join against the visited set, with
    * the round's result checkpointed. Rounds are bounded by `maxHops`,
    * memory by |visited| ≤ |V| rows of (node, hops). */
  def shortestHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 50, s"maxHops=$maxHops out of [0,50]")
    // r11 a/b REJECTED a partitioned pin here (AQE-off repartition+sort
    // on src): 2.99 -> 3.88 s at sf0.1/32c. The frontier side is small
    // enough that AQE broadcasts it, so the pinned layout is never
    // probed by a sort-merge join and the extra exchange+sort in the pin
    // is pure cost.
    val e = Pin.workingSet(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .repartition(col("src")))
    // ONE action per round, the seed pin included: the frontier size
    // is observed on the round's pin. The visited set is not re-pinned
    // per round (an O(|V|) copy each round); the anti-join scans the
    // lazy union of the pinned per-hop legs.
    var (visited, n) = Pin.round[Long](
      seeds.select(col(seedCol).cast("long").as("node"))
        .where(col("node").isNotNull).distinct()
        .withColumn("hops", lit(0L)), "bfs_next_0", count(lit(1)))
    var frontier = visited.select(col("node"))
    var h = 0L
    while (h < maxHops && !n.forall(_ == 0L)) {
      h += 1
      val (next, nNext) = Pin.round[Long](
        frontier.join(e, col("node") === col("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("hops", lit(h)), s"bfs_next_$h", count(lit(1)))
      n = nNext
      visited = visited.unionByName(next)
      frontier = next.select(col("node"))
    }
    visited
  }

  /** Hop-bounded closeness centrality for a SEED set — "how near is
    * this node to everything it can reach?", the centrality behind
    * facility-placement and influence ranking. Per seed s over the
    * ≤`maxHops` reachable set R(s): closeness = (|R(s)|−1)/Σ hops —
    * held as the exact integer rational (n_reached, sum_hops) with one
    * IEEE division readout (hop-bounding is what makes the statistic
    * computable at scale at all; unbounded closeness needs the full
    * APSP).
    *
    * ONE labeled multi-source BFS: the frontier carries (seed, node),
    * so k seeds ride the same per-round edge join with k× state instead
    * of k sequential traversals — same per-round shape as
    * [[shortestHops]] (edges hash-partitioned once and lineage-cut,
    * only the frontier moves, one action per round). Output per seed:
    * (seed, n_reached, sum_hops, closeness) — closeness NULL for an
    * isolated seed (nothing reached). */
  def closenessSeeds(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50,
      s"maxHops=$maxHops out of [1,50]")
    val e = Pin.workingSet(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .repartition(col("src")))
    // one action per round — see shortestHops
    var (visited, n) = Pin.round[Long](
      seeds.select(col(seedCol).cast("long").as("seed"))
        .where(col("seed").isNotNull).distinct()
        .select(col("seed"), col("seed").as("node"), lit(0L).as("hops")),
      "closeness_next_0", count(lit(1)))
    var frontier = visited.select(col("seed"), col("node"))
    var h = 0L
    while (h < maxHops && !n.forall(_ == 0L)) {
      h += 1
      val (next, nNext) = Pin.round[Long](
        frontier.join(e, col("node") === col("src"))
          .select(col("seed"), col("dst").as("node")).distinct()
          .join(visited, Seq("seed", "node"), "left_anti")
          .withColumn("hops", lit(h)), s"closeness_next_$h", count(lit(1)))
      n = nNext
      visited = visited.unionByName(next)
      frontier = next.select(col("seed"), col("node"))
    }
    visited.groupBy(col("seed"))
      .agg((count(lit(1)) - 1).as("n_reached"),
        sum(col("hops")).as("sum_hops"))
      .withColumn("closeness",
        when(col("sum_hops") > 0,
          col("n_reached").cast("double") /
            col("sum_hops").cast("double")))
  }

  /** Hop-bounded cheapest paths from a seed set over NON-NEGATIVE
    * integer edge weights — distributed Bellman-Ford. Each round relaxes
    * every edge leaving the improved frontier (ONE equi-join + ONE
    * min-aggregate, both hashed on the node key) and merges into the
    * running distance map with a full-outer least(); rounds stop at
    * `maxHops` or at the fixed point, whichever first — so the result is
    * exactly "min cost over paths of <= maxHops edges", the same
    * semantics a hop-bounded recursive-CTE closure computes. All-int64
    * arithmetic: no float accumulation, deterministic under any
    * partitioning.
    *
    * Scale posture mirrors [[shortestHops]]: edges hash-partitioned once
    * and lineage-cut, only the frontier moves per round (AQE broadcasts
    * it while small), distance state bounded by |V| rows, one action per
    * round (the frontier-empty check on the checkpointed delta). */
  def cheapestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 50, s"maxHops=$maxHops out of [0,50]")
    val e = Pin.workingSet(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      .repartition(col("src")))
    // one action for the improved-set probe — see shortestHops
    var (dist, n) = Pin.round[Long](
      seeds.select(col(seedCol).cast("long").as("node"))
        .where(col("node").isNotNull).distinct()
        .withColumn("cost", lit(0L)), "bf_improved_0", count(lit(1)))
    var frontier = dist
    var h = 0
    while (h < maxHops && !n.forall(_ == 0L)) {
      h += 1
      val cand = frontier.join(e, col("node") === col("src"))
        .select(col("dst").as("node"), (col("cost") + col("w")).as("c"))
        .groupBy(col("node")).agg(min(col("c")).as("cand_cost"))
      val (improved, nImproved) = Pin.round[Long](cand
        .join(dist.withColumnRenamed("cost", "cur"), Seq("node"), "left")
        .filter(col("cur").isNull || col("cand_cost") < col("cur"))
        .select(col("node"), col("cand_cost").as("cost")),
        s"bf_improved_$h", count(lit(1)))
      n = nImproved
      dist = Pin.workingSet(dist.withColumnRenamed("cost", "a")
        .join(improved.withColumnRenamed("cost", "b"), Seq("node"),
          "full_outer")
        .select(col("node"),
          least(coalesce(col("a"), col("b")), coalesce(col("b"), col("a")))
            .as("cost")))
      frontier = improved
    }
    dist
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) — the DIRECTED
    * centrality pair PageRank's single score can't express: a hub
    * points at many good authorities, an authority is pointed at by
    * many good hubs (on a buyer→seller graph: discerning buyers vs
    * sought-after sellers). Mutual recursion, iterated `iters` rounds.
    *
    * Same fixed-point discipline as [[pageRank]]: scores are bigint
    * multiples of 1/[[Scale]], each half-round L1-normalizes by an
    * exact integer floor division ((raw · Scale) div Σraw, widened
    * through decimal — raw·Scale overflows int64 by design), so the
    * result is bit-identical in any engine and the oracle can unroll
    * every round. (Textbook HITS normalizes in L2; L1 keeps the
    * arithmetic integral, and normalization choice doesn't change the
    * RANKING fixed point, only the scale.)
    *
    * Scale shape: edges dedup once and are pinned; each half-round
    * joins the |V|-row score table against them, and its raw scores
    * are pinned (bounded lineage) with their L1 total observed on the
    * pin. Output: (node, auth, hub). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters=$iters out of [1,50]")
    val raw = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // pinned: scanned TWICE per round (auth and hub half-rounds)
    val e = Pin.workingSet(if (edgesDistinct) raw else raw.distinct())
    try {
      val nodes = Pin.workingSet(e.select(explode(array(col("src"),
        col("dst"))).as("node")).distinct())
      var halfRound = 0
      def normalized(rawScores: DataFrame, keyed: String, out: String) = {
        // ONE action per half-round: the raw per-node sums (|V| rows)
        // are pinned once — without the cut the half-round's |E| join
        // would execute twice (measured ~2x the whole operator in r9) —
        // and the L1 total is observed on that pin and lands in the
        // normalize projection as a literal. The normalize join itself
        // stays lazy: each one feeds the next half-round's pinned
        // aggregate, and the last hub feeds only the returned join. The
        // last auth feeds both the last hub half-round and the returned
        // join, so that one O(|V|) join runs twice.
        halfRound += 1
        val (raw, tot) = Pin.round[Long](rawScores, s"hits_tot_$halfRound",
          sum(col("s")))
        val t = tot.getOrElse(0L)
        val normalize =
          if (t != 0L) nodes.join(raw, nodes("node") === raw(keyed), "left")
            .select(nodes("node"), expr(
              s"""CAST((coalesce(s, 0) * CAST($Scale AS DECIMAL(38,0)))
                 |  div CAST($t AS BIGINT) AS BIGINT)""".stripMargin)
              .as(out))
          else // pathological all-zero total: keep the old div-by-t
               // column shape so divide-by-zero semantics are untouched
            nodes.join(raw, nodes("node") === raw(keyed), "left")
              .crossJoin(broadcast(raw.agg(sum(col("s")).as("t"))))
              .select(nodes("node"), expr(
                s"""CAST((coalesce(s, 0) * CAST($Scale AS DECIMAL(38,0)))
                   |  div t AS BIGINT)""".stripMargin).as(out))
        normalize
      }
      var hub = nodes.select(col("node"), lit(Scale).as("hub"))
      var auth: DataFrame = null
      var i = 0
      while (i < iters) {
        auth = normalized(
          e.join(hub, e("src") === hub("node"))
            .groupBy(col("dst")).agg(sum(col("hub")).as("s")),
          "dst", "auth")
        hub = normalized(
          e.join(auth, e("dst") === auth("node"))
            .groupBy(col("src")).agg(sum(col("auth")).as("s")),
          "src", "hub")
        i += 1
      }
      auth.join(hub, "node")
    } finally e.unpersist()
  }

  /** Neighbor-set Jaccard similarity — the structural node-similarity
    * readout (the SimRank-family base case): for every node pair with
    * at least `minCommon` shared neighbors, |N(a) ∩ N(b)| over
    * |N(a) ∪ N(b)| as an exact 1e6 fixed-point integer, top `k` by
    * (similarity, a, b). Distinct from [[linkPredict]]: adjacent pairs
    * score too (similarity, not link prediction), and the score is the
    * normalized Jaccard rather than the raw common count.
    *
    * PRECONDITION: `edges` must be SYMMETRIZED (every edge present in
    * both directions, like [[pageRank]]'s input contract) — common
    * counts come from shared in-neighbors while degrees count
    * out-edges, which only agree on a symmetric edge list; a raw
    * directed input yields dropped pairs (inner degree joins) or
    * zero/negative union sizes.
    *
    * Scale shape: a wedge CENTER of degree d contributes d² pairs, so
    * an uncapped hub makes the pair stream quadratic in hub degree (the
    * inherent price of any common-neighbor statistic — measured 36 s at
    * sf0.1 through the ~230-degree supplier hubs). `maxCenterDegree`
    * applies [[linkPredict]]'s standard mitigation: only centers of
    * degree <= cap generate wedges, deterministically — similarities
    * count only low-degree shared neighbors (a lower bound; hub
    * neighbors carry little similarity signal anyway, the idf
    * intuition), and the oracle replicates the cap exactly. The capped
    * pair stream partial-aggregates map-side before the pair-keyed
    * exchange; degree joins are AQE-sized; the k cut is
    * TakeOrderedAndProject. */
  def neighborJaccard(edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Int, k: Int,
      maxCenterDegree: Int = Int.MaxValue): DataFrame = {
    require(minCommon >= 1 && k >= 1, s"minCommon=$minCommon k=$k")
    require(maxCenterDegree >= 1, s"maxCenterDegree=$maxCenterDegree")
    val raw = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // pinned: scanned by the degree agg, the center filter and both
    // wedge sides
    val e = Pin.workingSet(raw.distinct())
    try {
      val deg = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
      val centers =
        if (maxCenterDegree == Int.MaxValue) e
        else e.join(deg.filter(col("deg") <= maxCenterDegree)
          .select(col("node").as("src")), "src")
      val wa = centers.select(col("src").as("c"), col("dst").as("a"))
      val wb = centers.select(col("src").as("c2"), col("dst").as("b"))
      val common = wa.join(wb, col("c") === col("c2") &&
          col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_common"))
        .where(col("n_common") >= minCommon)
      // no forced broadcast: |V| can be huge at scale — AQE broadcasts
      // the degree table when it is actually small
      common
        .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), "b")
        // guard the symmetry precondition: a directed input can drive
        // the union size to <= 0 (out-degrees vs in-neighbor commons);
        // fail loudly instead of emitting nulls/negative similarities
        .withColumn("__union", col("deg_a") + col("deg_b") - col("n_common"))
        .withColumn("jaccard_x1e6",
          when(col("__union") <= 0,
            raise_error(lit("neighborJaccard needs a symmetrized edge " +
              "list (union size <= 0 — see scaladoc)")))
            .otherwise(expr("n_common * 1000000 div __union")))
        .drop("__union")
        .select(col("a"), col("b"), col("n_common"), col("deg_a"),
          col("deg_b"), col("jaccard_x1e6"))
        .orderBy(col("jaccard_x1e6").desc, col("a"), col("b"))
        .limit(k)
    } finally e.unpersist()
  }

  /** Signature-based neighbor similarity — the HUB-SCALE tier of
    * [[neighborJaccard]]. The exact tier enumerates wedges, so a shared
    * neighbor of degree d costs d² pairs and a hub-heavy corpus goes
    * quadratic (7.2x sf0.1->sf1 slope measured); this tier never touches
    * wedges: each node's neighbor SET is MinHash-signed (one groupBy —
    * O(E) work regardless of hub structure), signatures band into an
    * LSH bucket join (candidates only where a whole band agrees), and
    * every candidate is re-checked with the exact integer Jaccard, so
    * precision is 1 and only recall follows the banding curve
    * 1-(1-J^rows)^bands. Same output schema and symmetry precondition
    * as the exact tier; pairs are thresholded (jaccard_x1e6 >= tauX1e6,
    * n_common >= minCommon) rather than top-k'd — the scale idiom, a
    * global k needs a global sort.
    *
    * Everything is deterministic integer arithmetic (Carter-Wegman
    * perms over node ids — [[graft.functions.SketchUtil.minhashPerm]]),
    * so unlike text MinHash (engine-specific shingle hashing) a SQL
    * oracle replays the banding bit-for-bit and the gate is FULLY
    * oracle-checked.
    *
    * Scale shape — NO row ever materializes a neighbor array (round-8
    * hardening; the previous tier built each node's full neighbor set
    * as one `collect_set` row before signing, a multi-hundred-MB row
    * for a 10M-degree hub): signatures fold INCREMENTALLY as
    * per-permutation `min` aggregates in the adjacency groupBy
    * (map-side combined, constant state per node — bit-identical to
    * min-over-the-set by commutativity), candidates come from the
    * bucket-keyed join, and the exact verify COUNTS shared neighbors
    * through an edge-level join (candidate pair × its edges), never an
    * `array_intersect` over materialized sets. A pathological bucket
    * (thousands of IDENTICAL signatures) is a real duplicate cluster —
    * the downstream survivor, not a skew accident. */
  def neighborJaccardMinHash(edges: DataFrame, srcCol: String,
      dstCol: String, minCommon: Int, tauX1e6: Long,
      perms: Int = 16, bands: Int = 8,
      maxBucket: Int = Int.MaxValue,
      maxVerifyArrayDeg: Int = 1 << 20): DataFrame = {
    require(minCommon >= 1 && tauX1e6 >= 0, s"minCommon=$minCommon")
    require(perms % bands == 0, s"perms=$perms must divide into $bands")
    require(maxBucket >= 2, s"maxBucket=$maxBucket")
    require(maxVerifyArrayDeg >= 1, s"maxVerifyArrayDeg")
    val rows = perms / bands
    val P = graft.functions.SketchUtil.MinhashP
    // the deduped edge list is pinned ONCE: the banding, the hub probe,
    // the adjacency build and the verify all re-reference it, and an
    // upstream edge DERIVATION (a join, in the gate) would otherwise
    // re-execute per job. Caveat: lineage-truncated blocks stay pinned
    // for the session (Spark has no safe auto-unpersist), so a driver
    // loop calling this repeatedly pays storage, not recompute.
    val e = Pin.workingSet(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    // ONE groupBy, bounded state: deg + `perms` running mins per node —
    // min(h(n) for n in set) == min-aggregate over the (distinct) edge
    // rows; state is |V| x (perms+1) longs, never a neighbor array.
    val sigAggs = count(lit(1)).cast("long").as("deg") +:
      (0 until perms).map { i =>
        val (a, b) = graft.functions.SketchUtil.minhashPerm(i)
        min(pmod(pmod(col("dst"), lit(P)) * lit(a) + lit(b), lit(P)))
          .as(s"__sig$i")
      }
    // pinned (|V| x (perms+1) longs): the hub probe and the deg joins
    // become O(|V|) re-reads
    val sigs = Pin.workingSet(e.groupBy(col("src").as("node"))
      .agg(sigAggs.head, sigAggs.tail: _*))
    // band key: each slot value is < P, so a band of rows<=2 packs
    // INJECTIVELY into one long (sig0*P + sig1 < P^2 < 2^62) — same
    // bucket equality as the old "sig0:sig1" string key (r11: the
    // string keys were ~20 bytes/slot and dominated the banding
    // exchange + the self-join's hashing; one long is 8 bytes and
    // codegen-comparable). Wider bands fall back to the string join.
    // The candidate SET is identical either way (packing is injective),
    // so the oracle's string-keyed replay still checks the output
    // bit-for-bit.
    val bandKeys =
      if (rows <= 2) array((0 until bands).map { bd =>
        if (rows == 1) col(s"__sig${bd * rows}")
        else col(s"__sig${bd * rows}") * lit(P) +
          col(s"__sig${bd * rows + 1}")
      }: _*)
      else array((0 until bands).map { bd =>
        concat_ws(":", (0 until rows).map(r =>
          col(s"__sig${bd * rows + r}").cast("string")): _*)
      }: _*)
    val banded0 = sigs.select(col("node"),
        posexplode(bandKeys).as(Seq("band", "key")))
    // hot-bucket cap (the standard LSH mitigation — FAISS max_codes,
    // SimHash hot-table skip): a bucket of n nodes costs n²/2 candidate
    // pairs, and oversized buckets are overwhelmingly LOW-similarity
    // coincidences of small neighbor sets (measured on the trade graph:
    // cap 50 cut the sf1 candidate stream 7.4x while sf0.1's verified
    // output was unaffected). Recall tradeoff: a true pair is lost only
    // when EVERY band it collides in is hot — genuinely similar pairs
    // usually share a cooler band too. Deterministic, so an oracle
    // replays it exactly.
    // r11 layout: the cap joins against the HOT list (anti join) rather
    // than the ≤cap list (inner join) — hot buckets are rare by
    // construction (25 of 44k at sf0.1), so the anti side broadcasts
    // and the probe stays map-side; the surviving rows are then
    // repartitioned ONCE on the bucket key so both self-join sides run
    // partition-local off the same reused exchange (the r10 basket-key
    // idiom; 2 bucket-key exchanges -> 1).
    val banded = {
      val keep =
        if (maxBucket == Int.MaxValue) banded0
        else banded0.join(
          banded0.groupBy(col("band"), col("key"))
            .agg(count(lit(1)).as("__bn"))
            .filter(col("__bn") > maxBucket)
            .select(col("band"), col("key")),
          Seq("band", "key"), "left_anti")
      keep.repartition(col("band"), col("key"))
    }
    // NOTE: no distinct here (r11) — a pair colliding in several bands
    // is verified redundantly (candRaw 602k vs 546k distinct at sf0.1,
    // only +10% verify work) and the output dedups AFTER the threshold
    // filters, where the stream is output-sized, instead of paying a
    // full 600k-row exchange before the verify.
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.node") < col("y.node"))
      .select(col("x.node").as("a"), col("y.node").as("b"))
    // exact verify, TWO-PATH by degree (no giant rows, no fanout
    // shuffle): candidate nodes of degree <= maxVerifyArrayDeg get a
    // neighbor ARRAY built from the pinned edges — arrays exist ONLY
    // for candidate nodes and are size-capped, and the intersect runs
    // co-located after small broadcast joins (the fast path, r7's
    // measured 2.4x slope shape). The rare over-cap candidate (a true
    // mega-hub) verifies through an edge-level count join instead —
    // sum(deg)-row volume, never one multi-hundred-MB array row. Both
    // paths are the same exact integer count; a spec pins them
    // bit-identical by forcing every node onto the edge path.
    // the hub path only EXISTS in the plan when the graph actually has
    // an over-cap node (one cheap scan of the checkpointed |V|-row
    // signature table decides): under AQE, query stages materialize in
    // parallel, so a structurally-present-but-empty hub branch would
    // still shuffle the full edge list for its join sides before
    // emptiness propagates — measured as a full extra |E| pass at 10x
    // data. Both paths are bit-identical (spec'd), so the plan choice
    // can never change results.
    // ONE probe action over the checkpointed |V|-row sigs returns the
    // hub flag AND the adjacency size estimate (r11; was a filter+limit
    // count that answered only the flag)
    val probe = sigs.agg(max(col("deg")), sum(col("deg")),
      count(lit(1))).head()
    val anyBig = !probe.isNullAt(0) &&
      probe.getLong(0) > maxVerifyArrayDeg
    // no over-cap node -> EVERY degree is bounded, so the plain
    // full adjacency (one groupBy, no candidate cut) is both safe and
    // cheapest — a candidate-node semi-join would add a full extra
    // |E|-wide join for nothing precisely when candidates cover most
    // nodes (the near-duplicate-heavy corpus case). Only a graph that
    // actually HAS a mega-hub pays for the degree-filtered build.
    lazy val candNodes = cand.select(col("a").as("node"))
      .union(cand.select(col("b").as("node"))).distinct()
    val adjC =
      if (!anyBig)
        e.groupBy(col("src").as("node"))
          .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
      else {
        val smallN = candNodes
          .join(sigs.select(col("node"), col("deg")), "node")
          .filter(col("deg") <= maxVerifyArrayDeg).select(col("node"))
        e.join(smallN, e("src") === smallN("node"))
          .groupBy(col("src").as("node"))
          .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
      }
    // pairs whose BOTH endpoints are capped: inner joins against adjC
    // select exactly them.
    // r11 a/b REJECTED broadcasting adjC into both pair joins (size-
    // guarded broadcast hint off the probe's sum(deg) estimate): 2.97
    // -> 3.5-3.6 s at sf0.1/32c even with the adjacency pinned first —
    // in local mode the array-bearing exchange is an in-process copy
    // while the broadcast adds a driver collect + blocking
    // materialization. The shuffle join is also the only shape that
    // scales past executor memory, so it stays.
    val nCommonArr = cand
      .join(adjC.select(col("node").as("a"), col("nbrs").as("__na")), "a")
      .join(adjC.select(col("node").as("b"), col("nbrs").as("__nb")), "b")
      .select(col("a"), col("b"),
        graft.functions.VectorFunctions.set_intersect_count(
          col("__na"), col("__nb")).as("n_common"))
      .filter(col("n_common") >= 1)
    val nCommon = if (!anyBig) nCommonArr else {
      // pairs touching an over-cap hub: count shared neighbors through
      // the edge list — sum(deg)-row volume, never a giant array row
      val bigN = candNodes
        .join(sigs.select(col("node"), col("deg")), "node")
        .filter(col("deg") > maxVerifyArrayDeg).select(col("node"))
      val candBig = cand
        .join(bigN.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .select(col("a"), col("b")) // USING-join column order differs
        .union(cand
          .join(bigN.withColumnRenamed("node", "b"), Seq("b"),
            "left_semi")
          .select(col("a"), col("b")))
        .distinct()
      val nCommonBig = candBig
        .join(e.select(col("src").as("a"), col("dst").as("__n")), "a")
        .join(e.select(col("src").as("b"), col("dst").as("__n")),
          Seq("b", "__n"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).cast("long").as("n_common"))
      nCommonArr.union(nCommonBig)
    }
    // threshold BEFORE the two deg joins (r11): n_common >= minCommon
    // commutes with the inner joins and cuts the pair stream they ship
    nCommon.filter(col("n_common") >= minCommon)
      .join(sigs.select(col("node").as("a"), col("deg").as("deg_a")), "a")
      .join(sigs.select(col("node").as("b"), col("deg").as("deg_b")), "b")
      .withColumn("jaccard_x1e6",
        expr("n_common * 1000000 div (deg_a + deg_b - n_common)"))
      .filter(col("jaccard_x1e6") >= tauX1e6)
      .select(col("a"), col("b"), col("n_common"), col("deg_a"),
        col("deg_b"), col("jaccard_x1e6"))
      // multi-band collisions dedup HERE, on the post-threshold
      // output-sized stream (the candidate-stage distinct this replaces
      // exchanged the full 600k-pair stream before the verify); dup
      // rows are bit-identical so this is exactly the old pair dedup
      .distinct()
      .orderBy(col("jaccard_x1e6").desc, col("a"), col("b"))
  }

  /** Deterministic DeepWalk-style random-walk corpus (Perozzi et al.,
    * KDD 2014): `walksPerNode` truncated walks of `walkLen` steps from
    * every node with out-edges, each step choosing neighbor
    * `md5_u32(start#rep#step) % outdeg(cur)` in the dst-sorted adjacency
    * — a hash draw, not an RNG, so the corpus is bit-identical across
    * engines/partitionings/reruns (the house draw protocol) and a SQL
    * oracle can replay every step. Walks that reach a dangling node end
    * early (the standard truncation).
    *
    * Output: (start, rep, step, node) — step 0 is the start node itself.
    *
    * Scale shape: the ranked adjacency (one window pass over the edge
    * set: 0-based dst-rank + out-degree) is built ONCE, pre-partitioned
    * on its (src, rk) probe key and cached — each of the walkLen steps
    * then shuffles ONLY the frontier (|V| x walksPerNode rows, never
    * |E|): one join against the degree table to form the draw index and
    * one composite-key probe that lands a single adjacency row per
    * walker. Frontier lineage is cut per step. This is the corpus-
    * generation half of node embeddings; feed the output through
    * [[Packing.skipGramPairs]]-style windows for training pairs. */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      walkLen: Int, walksPerNode: Int,
      edgesDistinct: Boolean = false): DataFrame = {
    require(walkLen >= 1 && walkLen <= 50, s"walkLen=$walkLen out of [1,50]")
    require(walksPerNode >= 1 && walksPerNode <= 100,
      s"walksPerNode=$walksPerNode out of [1,100]")
    import org.apache.spark.sql.expressions.Window
    val raw = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val e = if (edgesDistinct) raw else raw.distinct()
    val degs = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    // ranked adjacency pre-partitioned on the probe key, each row ALSO
    // carrying the DESTINATION's out-degree (null when dst dangles):
    // the frontier then knows its current node's degree without a
    // per-step degree join — ONE probe join per step, the other half
    // paid once at build time
    // pinned WITHOUT a probe-key repartition: a pin under AQE reports
    // unknown partitioning (see [[Pin]]), so the per-step probe join
    // re-exchanges the adjacency regardless; a/b'd against both a
    // partitioned two-stage pin (worse: double materialization) and an
    // AQE-off pin (worse: loses the runtime broadcast of the degree join)
    val adj = Pin.workingSet(e.select(col("src"),
        (row_number().over(Window.partitionBy(col("src"))
          .orderBy(col("dst"))) - 1).cast("long").as("rk"),
        col("dst"))
      .join(degs.select(col("node").as("dst"),
        col("deg").as("dst_deg")), Seq("dst"), "left"))
    try {
      val reps = explode(sequence(lit(0), lit(walksPerNode - 1))).as("rep")
      var frontier = Pin.workingSet(degs
        .select(col("node").as("start"), reps, col("deg"))
        .select(col("start"), col("rep").cast("long").as("rep"),
          col("start").as("cur"), col("deg").as("cur_deg")))
      val out = Seq.newBuilder[DataFrame]
      out += frontier.select(col("start"), col("rep"),
        lit(0L).as("step"), col("cur").as("node"))
      var t = 0
      while (t < walkLen) {
        val draw = graft.functions.HashFunctions.md5_u32(
          concat(col("start").cast("string"), lit("#"),
            col("rep").cast("string"), lit("#"), lit(t.toString)))
        val idx = frontier.where(col("cur_deg").isNotNull)
          .select(col("start"), col("rep"), col("cur"),
            pmod(draw, col("cur_deg")).as("idx"))
        frontier = Pin.workingSet(idx.join(adj,
            idx("cur") === adj("src") && idx("idx") === adj("rk"))
          .select(col("start"), col("rep"), col("dst").as("cur"),
            col("dst_deg").as("cur_deg")))
        t += 1
        out += frontier.select(col("start"), col("rep"),
          lit(t.toLong).as("step"), col("cur").as("node"))
      }
      // NO final checkpoint: every leg of the union is already a pinned
      // per-step frontier, so the union is a shallow scan — the old
      // re-materialization copied the whole corpus once more (9 s of
      // executor time at sf0.1) for no lineage benefit
      out.result().reduce(_ unionByName _)
    } finally adj.unpersist()
  }

  /** Skip-gram (center, context) co-occurrence counts over a walk
    * corpus — the DeepWalk training-pair extraction: for every walk and
    * every offset d in [1, window], emit both (w_t, w_t+d) and
    * (w_t+d, w_t), then count by pair. ONE window pass (lead per
    * offset over the step-ordered walk) — never a walk self-join — so
    * the pair stream is |walks| x walkLen x window rows, map-generated
    * and partial-aggregated before the single pair-keyed exchange. */
  def walkSkipGrams(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1 && window <= 10, s"window=$window out of [1,10]")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("start"), col("rep"))
      .orderBy(col("step"))
    val withLeads = walks.select(col("node") +:
      (1 to window).map(d => lead(col("node"), d).over(w).as(s"__l$d")): _*)
    val pairs = withLeads.select(explode(flatten(array(
        (1 to window).map(d => when(col(s"__l$d").isNotNull,
          array(struct(col("node").as("center"), col(s"__l$d").as("context")),
            struct(col(s"__l$d").as("center"), col("node").as("context"))))
          .otherwise(array().cast(
            "array<struct<center:bigint,context:bigint>>"))): _*)))
        .as("p"))
      .select(col("p.center"), col("p.context"))
    pairs.groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_cooc"))
  }

  /** In/out degree per node — the cheap first look at any edge table. */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
      .join(e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg")),
        Seq("node"), "full_outer")
      .select(col("node"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Degree assortativity coefficient (Newman 2002) — the one-number
    * answer to "do hubs link to hubs?" (positive: social-style core;
    * negative: hub-and-spoke, the shape of web/trade graphs). Pearson
    * correlation of endpoint degrees over the directed-symmetric edge
    * list: r = (M·Σxy − Σx·Σy)/(√(M·Σxx − (Σx)²)·√(M·Σyy − (Σy)²)).
    *
    * The six sufficient statistics are exact decimal sums of integer
    * degree products (one degree aggregate + two broadcast-sized joins
    * back to the edges + one global aggregate — no quadratic term);
    * the readout is one fixed IEEE dag over them (decimal→double is
    * correctly rounded in both engines), so the number hash-matches.
    * Output one row: (m_edges, num, varx, vary, assortativity). */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val withDeg = e
      .join(deg.select(col("node").as("src"), col("deg").as("__x")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("__y")), "dst")
    val s = withDeg.agg(
      count(lit(1)).as("m_edges"),
      sum(dec(col("__x"))).as("__sx"), sum(dec(col("__y"))).as("__sy"),
      sum(dec(col("__x") * col("__y"))).as("__sxy"),
      sum(dec(col("__x") * col("__x"))).as("__sxx"),
      sum(dec(col("__y") * col("__y"))).as("__syy"))
    s.select(col("m_edges"),
        (dec(col("m_edges")) * col("__sxy") - col("__sx") * col("__sy"))
          .cast("decimal(38,0)").cast("double").as("num"),
        (dec(col("m_edges")) * col("__sxx") - col("__sx") * col("__sx"))
          .cast("decimal(38,0)").cast("double").as("varx"),
        (dec(col("m_edges")) * col("__syy") - col("__sy") * col("__sy"))
          .cast("decimal(38,0)").cast("double").as("vary"))
      .withColumn("assortativity",
        when(col("varx") > 0 && col("vary") > 0,
          col("num") / (sqrt(col("varx")) * sqrt(col("vary")))))
  }

  /** Modularity of a given node partition (Newman & Girvan 2004) — how
    * much MORE intra-group linkage the partition captures than a
    * degree-preserving random graph would: the quality score for any
    * community assignment (detected or domain-given). Over the
    * directed-symmetric edge list with M = |E_sym|:
    * Q = (1/M²)·Σ_groups (intra_g·M − d_g²) — held EXACT in
    * decimal(38,0) internally; q_num/q_den emit BIGINT per the gate's
    * no-final-decimal contract (past M ≈ 3·10⁹ symmetric edges the
    * rational columns null out on the cast — the double `modularity`
    * readout stays correct at any M), one IEEE division readout.
    *
    * One assignment join per endpoint (the assignment is node-keyed —
    * broadcast when small, shuffle-keyed otherwise), a ≤|groups|
    * aggregate, no quadratic term. Groups with no intra edges still
    * contribute −d_g² (full-outer on the group domain). `assign` must
    * expose (node, grp). Output one row: (m_edges, n_groups, q_num,
    * q_den, modularity). */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      assign: DataFrame): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val a = assign.select(col("node"), col("grp"))
    val withG = e
      .join(a.select(col("node").as("src"), col("grp").as("__gs")), "src")
      .join(a.select(col("node").as("dst"), col("grp").as("__gd")), "dst")
    val intra = withG.where(col("__gs") === col("__gd"))
      .groupBy(col("__gs").as("grp")).agg(count(lit(1)).as("__intra"))
    val dsum = withG.groupBy(col("__gs").as("grp"))
      .agg(count(lit(1)).as("__d"))
    val m = withG.agg(count(lit(1)).as("m_edges"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val terms = dsum.join(intra, Seq("grp"), "left_outer")
      .crossJoin(broadcast(m))
      .select((dec(coalesce(col("__intra"), lit(0L))) * col("m_edges") -
        dec(col("__d")) * col("__d")).cast("decimal(38,0)").as("__t"))
    terms
      .agg(count(lit(1)).as("n_groups"),
        sum(col("__t")).cast("decimal(38,0)").as("__qn"))
      .crossJoin(broadcast(m))
      .select(col("m_edges"), col("n_groups"),
        col("__qn").cast("long").as("q_num"),
        (dec(col("m_edges")) * col("m_edges")).cast("long").as("q_den"),
        (col("__qn").cast("double") /
          (dec(col("m_edges")) * col("m_edges")).cast("double"))
          .as("modularity"))
  }

  /** Bipartite co-occurrence projection — collapse a (key, item)
    * bipartite graph onto the item side: edge (a, b) weighted by the
    * number of keys incident to both (the item-item graph behind
    * co-view recommenders, co-citation analysis, and co-occurrence
    * embeddings; weights are the raw input to PMI/lift scoring).
    *
    * The projection's hazard is the hub key: a key with d distinct
    * items fans into d·(d−1)/2 pairs, so one crawler session or bot
    * user can dominate the edge list quadratically. `maxPerKey` drops
    * keys above the cap BEFORE the pair fan-out (the same guard as
    * [[neighborJaccard]]'s wedge cap and Urls' domain caps) — the
    * standard practice (count-capped sessions) and the reason the
    * shuffle stays O(Σ min(d, cap)²) instead of O(max d²). Pairs
    * emit once (item_a < item_b). Output: (item_a, item_b, n_keys). */
  def bipartiteProject(df: DataFrame, key: Column, item: Column,
      maxPerKey: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPerKey >= 2, s"maxPerKey must be >= 2: $maxPerKey")
    val pairs = df.select(key.as("__k"), item.as("__i"))
      .where(col("__k").isNotNull && col("__i").isNotNull)
      .distinct()
    val kept = pairs
      .withColumn("__d",
        count(lit(1)).over(Window.partitionBy(col("__k"))))
      .where(col("__d") <= maxPerKey)
    val a = kept.select(col("__k"), col("__i").as("item_a"))
    val b = kept.select(col("__k"), col("__i").as("item_b"))
    a.join(b, Seq("__k"))
      .where(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_keys"))
  }
}
