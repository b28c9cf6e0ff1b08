package graft

import graft.operators.Matview
import graft.sinks.VersionedTable
import org.apache.spark.sql.functions._

/** Pins delta-propagation IVM (operators.Matview) against full
  * recompute: randomized mutation rounds over the versioned lake where
  * the maintained aggregate must equal a from-scratch aggregate of the
  * head — including group birth (insert into a new group), group death
  * (count reaches zero), and chained rounds feeding the previous
  * maintained state back in. */
class MatviewSpec extends SparkSpec {
  import spark.implicits._

  private def agg(df: org.apache.spark.sql.DataFrame) =
    Matview.sumsOf(df, Seq("g"), Seq("x"))

  private def asMap(df: org.apache.spark.sql.DataFrame)
      : Map[String, (Long, Long)] =
    df.select("g", "n_rows", "sum_x").as[(String, Long, Long)]
      .collect().map { case (g, n, s) => g -> (n, s) }.toMap

  test("randomized mutation rounds: maintained == recompute, chained") {
    val rnd = new scala.util.Random(3)
    val root = tmpDir("mvspec") + "/t"
    val base = (0 until 300).map(i =>
      (i.toLong, s"g${rnd.nextInt(6)}", rnd.nextInt(100)))
    val v0 = VersionedTable.write(base.toDF("id", "g", "x"), root)
    var maintained = agg(VersionedTable.read(spark, root, Some(v0)))
    var fromV = v0
    for (round <- 0 until 3) {
      // random upsert batch: some updates (possibly moving groups — an
      // update is remove(old)+insert(new)), some fresh inserts into a
      // brand-new group, then a delete that can kill a whole group
      val ups = (0 until 40).map(_ => rnd.nextInt(300).toLong).distinct
        .map(id => (id, s"g${rnd.nextInt(7)}", rnd.nextInt(100)))
      val ins = (0 until 10).map(i =>
        (1000L + round * 100 + i, s"new$round", rnd.nextInt(100)))
      VersionedTable.upsert((ups ++ ins).toDF("id", "g", "x"), root,
        Seq("id"))
      val doomed = s"g${rnd.nextInt(6)}"
      val toV = VersionedTable.deleteWhere(spark, root, col("g") === doomed)

      val cdc = VersionedTable.diff(spark, root, Seq("id"), fromV, toV)
      val inserted = cdc.filter(col("change_type").isin("insert", "update"))
      val removed = VersionedTable.read(spark, root, Some(fromV))
        .join(cdc.filter(col("change_type").isin("update", "delete"))
          .select("id"), Seq("id"), "leftsemi")
      maintained = Matview.maintainSums(maintained, inserted, removed,
        Seq("g"), Seq("x"))
      // chain: materialize the maintained state before the lake mutates
      // again (plans over VersionedTable roots are version-pinned, but
      // keep the comparison honest round by round)
      val got = asMap(maintained)
      val expect = asMap(agg(VersionedTable.read(spark, root)))
      assert(got == expect, s"round=$round (doomed=$doomed)")
      maintained = got.toSeq.map { case (g, (n, s)) => (g, n, s) }
        .toDF("g", "n_rows", "sum_x")
      fromV = toV
    }
    val p = new org.apache.hadoop.fs.Path(root).getParent
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("join view: randomized delta rounds == recompute, through the lake") {
    val rnd = new scala.util.Random(11)
    val dir = tmpDir("jmv")
    val (lRoot, rRoot, vRoot) = (s"$dir/l", s"$dir/r", s"$dir/v")
    def mkL(n: Int, tag: String) = (0 until n).map(i =>
      (i.toLong, rnd.nextInt(8).toLong, s"$tag$i")).toDF("lid", "k", "lv")
    def mkR(n: Int) = (0 until n).map(i =>
      (i.toLong + 500, rnd.nextInt(8).toLong, rnd.nextInt(100)))
      .toDF("rid", "k", "rv")
    var lv = VersionedTable.write(mkL(120, "a"), lRoot)
    var rv = VersionedTable.write(mkR(40), rRoot)
    val view0 = VersionedTable.read(spark, lRoot).join(
      VersionedTable.read(spark, rRoot), Seq("k"))
    VersionedTable.write(view0, vRoot)

    def viewSet(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "lid", "lv", "rid", "rv")
        .as[(Long, Long, String, Long, Long)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap

    for (round <- 0 until 3) {
      // left: updates that MOVE join keys + inserts + deletes
      val lUps = (0 until 25).map(_ => rnd.nextInt(120).toLong).distinct
        .map(id => (id, rnd.nextInt(9).toLong, s"u$round$id"))
      val lIns2 = (0 until 8).map(i =>
        (1000L + round * 10 + i, rnd.nextInt(9).toLong, s"n$round$i"))
      VersionedTable.upsert((lUps ++ lIns2).toDF("lid", "k", "lv"),
        lRoot, Seq("lid"))
      val lv1 = VersionedTable.deleteWhere(spark, lRoot,
        col("lid") % 13 === round.toLong)
      // right: updates that change payload and keys
      val rUps = (0 until 10).map(_ => 500L + rnd.nextInt(40))
        .distinct.map(id => (id, rnd.nextInt(9).toLong, rnd.nextInt(100)))
      val rv1 = VersionedTable.upsert(rUps.toDF("rid", "k", "rv"),
        rRoot, Seq("rid"))

      def cdcOf(root: String, key: String, fromV: Long) = {
        val cdc = VersionedTable.diff(spark, root, Seq(key), fromV,
          VersionedTable.versions(spark, root).max)
        val ins = cdc.filter(col("change_type").isin("insert", "update"))
          .drop("change_type")
        val del = VersionedTable.read(spark, root, Some(fromV))
          .join(cdc.filter(col("change_type").isin("update", "delete"))
            .select(key), Seq(key), "leftsemi")
        (ins, del)
      }
      val (lI, lD) = cdcOf(lRoot, "lid", lv)
      val (rI, rD) = cdcOf(rRoot, "rid", rv)
      val delta = Matview.joinDelta(
        VersionedTable.read(spark, lRoot, Some(lv)), lI, lD, "lid",
        VersionedTable.read(spark, rRoot, Some(rv)), rI, rD, "rid",
        on = Seq("k"))
      Matview.applyJoinDelta(spark, vRoot, delta, "lid", "rid")
      val got = viewSet(VersionedTable.read(spark, vRoot))
      val expect = viewSet(VersionedTable.read(spark, lRoot)
        .join(VersionedTable.read(spark, rRoot), Seq("k")))
      assert(got == expect, s"round=$round diverged")
      lv = lv1; rv = rv1
    }
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("join view: retract and assert collapse only on identical rows") {
    // an update that changes only the payload must emit BOTH the
    // retract of the old row and the assert of the new one
    val l0 = Seq((1L, 7L, "old")).toDF("lid", "k", "lv")
    val r0 = Seq((9L, 7L, 42L)).toDF("rid", "k", "rv")
    val delta = Matview.joinDelta(
      l0, lIns = Seq((1L, 7L, "new")).toDF("lid", "k", "lv"),
      lDel = l0, lKey = "lid",
      r0 = r0, rIns = r0.limit(0), rDel = r0.limit(0), rKey = "rid",
      on = Seq("k"))
      .select("__op", "lv").as[(String, String)].collect().toSet
    assert(delta == Set(("D", "old"), ("I", "new")))
    // delete + reinsert of the identical row nets to nothing
    val noop = Matview.joinDelta(
      l0, lIns = l0, lDel = l0, lKey = "lid",
      r0 = r0, rIns = r0.limit(0), rDel = r0.limit(0), rKey = "rid",
      on = Seq("k"))
    assert(noop.isEmpty)
  }

  test("update that only changes the sum column keeps counts stable") {
    val prev = Seq(("a", 2L, 10L)).toDF("g", "n_rows", "sum_x")
    val out = asMap(Matview.maintainSums(prev,
      inserted = Seq(("a", 9L)).toDF("g", "x"),
      removed = Seq(("a", 4L)).toDF("g", "x"),
      groupCols = Seq("g"), sumCols = Seq("x")))
    assert(out == Map("a" -> (2L, 15L)))
  }

  test("group death drops the row; group birth creates it") {
    val prev = Seq(("a", 1L, 5L)).toDF("g", "n_rows", "sum_x")
    val out = asMap(Matview.maintainSums(prev,
      inserted = Seq(("b", 7L)).toDF("g", "x"),
      removed = Seq(("a", 5L)).toDF("g", "x"),
      groupCols = Seq("g"), sumCols = Seq("x")))
    assert(out == Map("b" -> (1L, 7L)))
  }
}
