package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.Graph
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** graph_iter: a seeded preferential-attachment graph (skewed degrees,
  * every node with at least three neighbours), written to parquet during
  * set-up. Each pass runs graft's fixed-point pageRank and kCore, whose
  * loop exits on a surviving-edge count observed in the round's own job.
  * Both loops are bound by job count. The workload writes nothing. Exact
  * plain-Scala replicas of the two methods are the reference. */
final class GraphIter(spark: SparkSession, seed: Long, work: String, trace: Trace)
    extends Workload {
  private val Nodes = 1000
  private val Attach = 3
  private val PageRankIters = 2
  private val CoreK = 4
  private val CoreRounds = 3
  private val path = s"$work/graph/edges.parquet"

  private var edges: Seq[(Long, Long)] = Nil
  private var wantRank: Map[Long, Long] = Map.empty
  private var wantCore: Map[Long, Long] = Map.empty
  private val got = mutable.Map.empty[String, Array[Row]]

  val opsPerPass = 2

  def setup(): Unit = {
    val rnd = new java.util.Random(seed)
    // node ids are scattered, so no result depends on id order
    val ids = {
      val s = mutable.LinkedHashSet.empty[Long]
      while (s.size < Nodes) s += rnd.nextInt(1 << 30).toLong
      s.toArray
    }
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    val ends = mutable.ArrayBuffer.empty[Int] // one entry per edge end
    for (a <- 0 to Attach; b <- 0 to Attach if a < b) {
      out += ((ids(a), ids(b))); ends += a; ends += b
    }
    for (n <- Attach + 1 until Nodes) {
      val targets = mutable.LinkedHashSet.empty[Int]
      while (targets.size < Attach) targets += ends(rnd.nextInt(ends.size))
      targets.foreach { t =>
        out += ((ids(n), ids(t)))
        // half the links are mutual
        if (rnd.nextBoolean()) out += ((ids(t), ids(n)))
        ends += n; ends += t
      }
    }
    edges = out.toSeq
    wantRank = Reference.pageRank(edges, PageRankIters)
    wantCore = Reference.kCore(edges, CoreK, CoreRounds)
    val schema = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))
    spark.createDataFrame(edges.map { case (s, d) => Row(s, d) }.asJava, schema)
      .repartition(2).write.parquet(path)
  }

  def reset(): Unit = got.clear()

  def pass(ops: Ops): Unit = {
    got("pagerank") = ops("pagerank")(
      Graph.pageRank(spark.read.parquet(path), "src", "dst", PageRankIters).collect())
    got("kcore") = ops("kcore")(
      Graph.kCore(spark.read.parquet(path), "src", "dst", CoreK, CoreRounds).collect())
  }

  def check(): Seq[String] = {
    val p = mutable.ArrayBuffer.empty[String]
    val rank = got("pagerank").map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank")).toMap
    if (rank != wantRank || got("pagerank").length != wantRank.size)
      p += s"pageRank: ${rank.count { case (k, v) => !wantRank.get(k).contains(v) }} of " +
        s"${wantRank.size} ranks differ from the power iteration"
    val core = got("kcore").map(r => r.getAs[Long]("node") -> r.getAs[Long]("core_deg")).toMap
    if (core != wantCore)
      p += s"kCore: ${core.size} core nodes, plain peeling keeps ${wantCore.size}"
    p.toSeq
  }

  def layerMetrics(ops: Ops): Map[String, Double] = {
    val all = Seq("pagerank", "kcore")
    Map("graph.pagerank_ms" -> ops.median("pagerank"),
      "graph.kcore_ms" -> ops.median("kcore"),
      "graph.jobs_per_op" -> ops.meanDelta(all)(_.jobs.toDouble),
      "graph.stages_per_op" -> ops.meanDelta(all)(_.stages.toDouble))
  }
}

/** The two graph methods in plain Scala, on the same fixed-point integer
  * arithmetic graft documents (ranks are multiples of
  * 1/Graph.Scale; every division is a floor division of non-negative
  * values), so graft's output must match exactly. */
object Reference {
  private val Scale = Graph.Scale

  def pageRank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct
    val outDeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = nodes.size.toLong
    val tp = (15 * (Scale / n)) / 100
    var rank = nodes.map(_ -> Scale / n).toMap
    for (_ <- 1 to iters) {
      val sums = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      e.foreach { case (u, v) => sums(v) += rank(u) / outDeg(u) }
      rank = nodes.map(v => v -> (tp + (85 * sums(v)) / 100)).toMap
    }
    rank
  }

  /** Synchronous peeling rounds: drop every edge with an end of degree
    * below k, until a round removes nothing or `maxRounds` pass. */
  def kCore(edges: Seq[(Long, Long)], k: Int, maxRounds: Int): Map[Long, Long] = {
    var cur = edges.collect { case (a, b) if a != b => (a min b, a max b) }.distinct
    var r = 0
    var fixed = cur.isEmpty
    while (r < maxRounds && !fixed) {
      val deg = cur.flatMap { case (a, b) => Seq(a, b) }.groupBy(identity)
        .map { case (v, xs) => v -> xs.size }
      val next = cur.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      fixed = next.size == cur.size || next.isEmpty
      cur = next
      r += 1
    }
    cur.flatMap { case (a, b) => Seq(a, b) }.groupBy(identity)
      .map { case (v, xs) => v -> xs.size.toLong }
  }
}
