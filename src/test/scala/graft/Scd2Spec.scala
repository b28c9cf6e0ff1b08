package graft

import graft.operators.Scd2
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins SCD2 semantics on hand-built dims: idempotent redelivery,
  * null-safe change detection, and history chaining across batches. */
class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def state(rows: (Long, Option[String], Long, Option[Long], Boolean)*)
      : DataFrame =
    rows.toDF("k", "attr", "effective_from", "effective_to", "is_current")

  private def snap(rows: (Long, Option[String])*): DataFrame =
    rows.toDF("k", "attr")

  private def collectState(df: DataFrame) =
    df.select($"k", $"attr", $"effective_from", $"effective_to",
        $"is_current")
      .as[(Long, Option[String], Long, Option[Long], Boolean)]
      .collect().sortBy(r => (r._1, r._3)).toSeq

  test("redelivering an identical snapshot is a no-op") {
    val s1 = Scd2.init(snap((1L, Some("a")), (2L, Some("b"))), 1L)
    val s2 = Scd2.applyChanges(s1, snap((1L, Some("a")), (2L, Some("b"))),
      Seq("k"), 2L)
    assert(collectState(s2) == collectState(s1))
  }

  test("null-safe change detection: null->value and value->null change, null->null does not") {
    val s1 = Scd2.init(snap((1L, None), (2L, Some("b")), (3L, None)), 1L)
    val s2 = Scd2.applyChanges(s1,
      snap((1L, Some("x")), (2L, None), (3L, None)), Seq("k"), 2L)
    assert(collectState(s2) == Seq(
      (1L, None, 1L, Some(2L), false), (1L, Some("x"), 2L, None, true),
      (2L, Some("b"), 1L, Some(2L), false), (2L, None, 2L, None, true),
      (3L, None, 1L, None, true)))
  }

  test("streaming sink: each micro-batch is an SCD2 lake commit; time travel = dimension-as-of") {
    import graft.sinks.VersionedTable
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val root = tmpDir("scd2s") + "/t"
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.Scd2.streamingSink(
      mem.toDF().toDF("k", "attr"), root, Seq("k")).start()
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((1L, "a2"), (3L, "c"))
    q.processAllAvailable()
    q.stop()
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L))
    val now = collectState(VersionedTable.read(spark, root))
    assert(now == Seq(
      (1L, Some("a"), 1L, Some(2L), false), (1L, Some("a2"), 2L, None, true),
      (2L, Some("b"), 1L, None, true), (3L, Some("c"), 2L, None, true)))
    // dimension-as-of batch 0: only the seed state
    val v0 = collectState(VersionedTable.read(spark, root, Some(0L)))
    assert(v0 == Seq((1L, Some("a"), 1L, None, true),
      (2L, Some("b"), 1L, None, true)))
  }

  test("invariants under random change sequences: one current row per key, chained intervals, last write wins") {
    val attrs = org.scalacheck.Gen.option(
      org.scalacheck.Gen.oneOf("p", "q", "r"))
    val batchGen = for {
      keys <- org.scalacheck.Gen.someOf(1L to 6L)
      vals <- org.scalacheck.Gen.listOfN(keys.size, attrs)
    } yield keys.toSeq.sorted.zip(vals)
    (0 until 6).foreach { _ =>
      val batches = (1 to 3).flatMap(_ => batchGen.sample)
        .filter(_.nonEmpty)
      if (batches.nonEmpty) {
        var st = Scd2.init(snap(batches.head: _*), 1L)
        batches.tail.zipWithIndex.foreach { case (b, i) =>
          st = Scd2.applyChanges(st, snap(b: _*), Seq("k"), i + 2L)
        }
        val rows = collectState(st)
        // driver-side model: last delivered value per key
        val model = scala.collection.mutable.Map.empty[Long, Option[String]]
        batches.foreach(_.foreach { case (k, v) => model(k) = v })
        val byKey = rows.groupBy(_._1)
        assert(byKey.keySet == model.keySet)
        byKey.foreach { case (k, hist0) =>
          val hist = hist0.sortBy(_._3)
          val current = hist.filter(_._5)
          assert(current.size == 1, s"key $k must have ONE current row")
          assert(current.head._4.isEmpty, "current row must be open")
          assert(current.head._2 == model(k), s"key $k: last write wins")
          // closed rows chain: effective_to == next effective_from
          hist.sliding(2).foreach {
            case Seq(a, b) =>
              assert(!a._5 && a._4.contains(b._3),
                s"key $k: intervals must chain ${hist}")
            case _ =>
          }
        }
      }
    }
  }

  test("history chains across batches; unknown keys insert") {
    val s1 = Scd2.init(snap((1L, Some("a"))), 1L)
    val s2 = Scd2.applyChanges(s1, snap((1L, Some("b")), (2L, Some("n"))),
      Seq("k"), 2L)
    val s3 = Scd2.applyChanges(s2, snap((1L, Some("c"))), Seq("k"), 3L)
    assert(collectState(s3) == Seq(
      (1L, Some("a"), 1L, Some(2L), false),
      (1L, Some("b"), 2L, Some(3L), false),
      (1L, Some("c"), 3L, None, true),
      (2L, Some("n"), 2L, None, true)))
  }
}
