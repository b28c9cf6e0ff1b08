package graft

import java.util.concurrent.atomic.AtomicLong

import graft.operators.{Dedup, Graph, Pin}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Pins Pin: what a round observes, that a round is one Spark job, the
  * partitioning a pinned frame reports, and that the reliable mode
  * returns the default mode's rows while writing checkpoint files. */
class PinSpec extends SparkSpec {
  import spark.implicits._

  test("round returns the observed count, and None for an empty frame's sum") {
    val df = spark.range(0, 10).select(col("id").as("x"))
    val (kept, n) = Pin.round[Long](df.filter(col("x") > 2), "pinspec_n",
      count(lit(1)))
    assert(n.contains(7L))
    assert(kept.count() == 7L)
    val (none, s) = Pin.round[Long](df.filter(col("x") > 99), "pinspec_s",
      sum(col("x")))
    assert(s.isEmpty)
    assert(none.isEmpty)
  }

  test("a round runs exactly one Spark job") {
    val started, ended, events = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.incrementAndGet(); events.incrementAndGet()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ended.incrementAndGet(); events.incrementAndGet()
      }
    }
    // listener events arrive asynchronously: wait until every started
    // job has ended and the event count holds still
    def settled(): Long = {
      var last = -1L
      var waited = 0
      while (waited < 5000 &&
        (started.get != ended.get || events.get != last)) {
        last = events.get
        Thread.sleep(20)
        waited += 20
      }
      started.get
    }
    val df = spark.range(0, 1000, 1, 3)
      .select(col("id"), (col("id") % 7).as("m"))
      .filter(col("m") =!= 0)
    spark.sparkContext.addSparkListener(listener)
    try {
      val before = settled()
      val (_, n) = Pin.round[Long](df, "pinspec_jobs", count(lit(1)))
      assert(settled() - before == 1L)
      assert(n.contains(1000L - 143L))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a pin reports unknown partitioning under AQE, its input's " +
      "hash partitioning without") {
    def pinnedPartitioning() = {
      val pinned = Pin.workingSet(spark.range(0, 100)
        .select((col("id") % 10).as("k"), col("id")).repartition(col("k")))
      pinned.queryExecution.optimizedPlan.collect {
        case r: LogicalRDD => r.outputPartitioning
      }
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(pinnedPartitioning() == Seq(UnknownPartitioning(0)))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val noAqe = try pinnedPartitioning()
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(noAqe.size == 1 && noAqe.head.isInstanceOf[HashPartitioning])
  }

  test("reliable mode: kCore, pageRank and CC match the default and " +
      "write checkpoint files") {
    // two 4-cliques joined by a path, plus a pendant: a 3-core of two
    // components, several peeling rounds, one connected component
    val clique = (a: Long) => for (i <- 0L until 4L; j <- i + 1 until 4L)
      yield (a + i, a + j)
    val es = clique(0L) ++ clique(10L) ++ Seq((3L, 5L), (5L, 10L), (13L, 20L))
    val edges = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val nodes = es.flatMap { case (a, b) => Seq(a, b) }.distinct.toDF("id")
    def run(): (Seq[(Long, Long)], Seq[(Long, Long)], Seq[(Long, Long)]) = (
      Graph.kCore(edges, "src", "dst", 3).as[(Long, Long)].collect()
        .toSeq.sorted,
      Graph.pageRank(edges, "src", "dst", 5).as[(Long, Long)].collect()
        .toSeq.sorted,
      Dedup.connectedComponents(nodes, edges, "id", "src", "dst")
        .select(col("node").cast("long"), col("component").cast("long"))
        .as[(Long, Long)].collect().toSeq.sorted)
    val plain = run()
    assert(plain._1.map(_._1) == (0L until 4L) ++ (10L until 14L))
    assert(plain._3.map(_._2).distinct == Seq(0L))

    val dir = new java.io.File(tmpDir("pinspec-ckpt"))
    // every file and directory under f, children first
    def tree(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles).toSeq.flatten.flatMap(tree) :+ f
    try {
      spark.sparkContext.setCheckpointDir(dir.getPath)
      spark.conf.set(Pin.ReliableKey, "true")
      val (reliable, n) = try (run(), Pin.round[Long](spark.range(0, 50)
          .toDF(), "pinspec_reliable_n", count(lit(1)))._2)
        finally spark.conf.unset(Pin.ReliableKey)
      assert(reliable == plain)
      assert(n.contains(50L))
      assert(tree(dir).exists(f => f.isFile && f.getName.startsWith("part-")))
    } finally tree(dir).foreach(_.delete())
  }
}
