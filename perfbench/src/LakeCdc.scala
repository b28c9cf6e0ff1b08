package perfbench

import java.io.File

import scala.collection.mutable

import graft.sinks.VersionedTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** lake_cdc: a keyed table in graft's `VersionedTable`, rebuilt from a fresh
  * root every pass: an initial write in four key-range files, upsert rounds
  * skewed toward recent keys, a merge with matched delete, a deleteWhere,
  * then reads (head, a time-travel version, the change feed across the
  * commits, a predicate read that prunes files), compact and vacuum, and a
  * last head read. Commits and snapshot resolution do the work; there is
  * no JDBC or graph code. An in-memory key -> row model of every version
  * is the reference for every read. */
final class LakeCdc(spark: SparkSession, seed: Long, work: String, trace: Trace)
    extends Workload {
  private val InitialRows = 5000
  private val UpsertRounds = 2
  private val UpsertRows = 250
  private val MergeRows = 250
  private val Groups = 16
  private val DeletedGroup = 3
  private val WhereBound = InitialRows / 4L

  private type Val = (Int, Long, Long) // grp, v, ts
  private type Snapshot = Map[Long, Val]
  private val schema = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("grp", IntegerType), StructField("v", LongType), StructField("ts", LongType)))
  private val mergeSchema = StructType(schema.fields :+ StructField("op", StringType))

  // generated inputs and the model snapshot after each commit
  private var initial: Seq[Row] = Nil
  private var upserts: Seq[Seq[Row]] = Nil
  private var mergeSrc: Seq[Row] = Nil
  private var model: Vector[Snapshot] = Vector.empty

  val opsPerPass = 12
  private val commitOps = Seq("write", "upsert", "merge", "delete", "compact")
  private val readOps = Seq("read_head", "read_version", "change_feed", "read_where")
  private var passNo = 0
  private def root = s"$work/lake/pass$passNo"
  private var got = mutable.LinkedHashMap.empty[String, Seq[Row]]
  private var versions = Vector.empty[Long]
  private val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def setup(): Unit = {
    val rnd = new java.util.Random(seed)
    def newV(old: Option[Val]): Long = {
      val v = rnd.nextLong() & 0xFFFFFFFFFFFFL
      if (old.exists(_._2 == v)) v + 1 else v
    }
    var snap: Snapshot = (1L to InitialRows).map(k =>
      k -> ((rnd.nextInt(Groups), newV(None), 0L))).toMap
    initial = snap.toSeq.sortBy(_._1).map { case (k, (g, v, t)) => Row(k, g, v, t) }
    model = Vector(snap)
    var maxKey = InitialRows.toLong
    // existing keys, skewed toward the most recently added ones
    def recentKeys(n: Int): Seq[Long] = {
      val ks = mutable.LinkedHashSet.empty[Long]
      while (ks.size < n) {
        val k = maxKey - (-math.log(1 - rnd.nextDouble()) * 500).toLong
        if (k >= 1 && snap.contains(k)) ks += k
      }
      ks.toSeq
    }
    upserts = (1 to UpsertRounds).map { r =>
      val old = recentKeys(UpsertRows * 4 / 5)
      val fresh = (1 to UpsertRows / 5).map(i => maxKey + i)
      maxKey += UpsertRows / 5
      val rows = (old ++ fresh).map { k =>
        val o = snap.get(k)
        k -> ((o.map(_._1).getOrElse(rnd.nextInt(Groups)), newV(o), r.toLong))
      }
      snap = snap ++ rows
      model :+= snap
      rows.map { case (k, (g, v, t)) => Row(k, g, v, t) }
    }
    val matched = recentKeys(MergeRows * 3 / 5)
    val fresh = (1 to MergeRows * 2 / 5).map(i => maxKey + i)
    val mergeTs = UpsertRounds + 1L
    mergeSrc = matched.zipWithIndex.map { case (k, i) =>
      Row(k, rnd.nextInt(Groups), newV(snap.get(k)), mergeTs, if (i % 3 == 0) "D" else "U")
    } ++ fresh.map(k => Row(k, rnd.nextInt(Groups), newV(None), mergeTs, "U"))
    // merge: matched 'D' deletes, other matched rows take v and ts,
    // unmatched source rows insert
    snap = mergeSrc.foldLeft(snap) { (s, r) =>
      val k = r.getLong(0)
      s.get(k) match {
        case Some(_) if r.getString(4) == "D" => s - k
        case Some((g, _, _)) => s + (k -> ((g, r.getLong(2), r.getLong(3))))
        case None => s + (k -> ((r.getInt(1), r.getLong(2), r.getLong(3))))
      }
    }
    model :+= snap
    snap = snap.filter(_._2._1 != DeletedGroup)
    model :+= snap
  }

  private def delete(dir: File): Unit = {
    Option(dir.listFiles).foreach(_.foreach(delete))
    dir.delete()
  }

  def reset(): Unit = {
    delete(new File(root))
    passNo += 1
    got = mutable.LinkedHashMap.empty
    versions = Vector.empty
  }

  private def frame(rows: Seq[Row], s: StructType, slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), s)

  def pass(ops: Ops): Unit = {
    // four files over disjoint key ranges, so predicate reads can prune
    versions :+= ops("write")(VersionedTable.write(frame(initial, schema, 4), root))
    upserts.foreach { u =>
      versions :+= ops("upsert")(VersionedTable.upsert(frame(u, schema, 1), root, Seq("k")))
    }
    versions :+= ops("merge")(VersionedTable.merge(frame(mergeSrc, mergeSchema, 1), root,
      Seq("k"), matchedDelete = Some(col("src_op") === "D"),
      matchedUpdate = Map("v" -> col("src_v"), "ts" -> col("src_ts"))))
    versions :+= ops("delete")(VersionedTable.deleteWhere(spark, root,
      col("grp") === DeletedGroup))
    got("read_head") = ops("read_head")(VersionedTable.read(spark, root).collect().toSeq)
    got("read_version") = ops("read_version")(
      VersionedTable.read(spark, root, Some(versions(1))).collect().toSeq)
    got("change_feed") = ops("change_feed")(VersionedTable.changeFeed(spark, root,
      Seq("k"), versions.head, Some(versions.last)).collect().toSeq)
    got("read_where") = ops("read_where")(
      VersionedTable.readWhere(spark, root, col("k") < WhereBound).collect().toSeq)
    ops("compact")(VersionedTable.compact(spark, root))
    ops("vacuum")(VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L))
    got("read_head_after") = ops("read_head")(VersionedTable.read(spark, root).collect().toSeq)
    if (trace.enabled && trace.timed) {
      val dir = new File(root)
      def bytes(f: File): Long =
        if (f.isDirectory) Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
        else f.length
      record("lake.table_mb", bytes(dir) / 1048576.0)
      record("lake.manifest_bytes", bytes(new File(dir, "_manifests")).toDouble)
      record("lake.files_live", VersionedTable.read(spark, root).inputFiles.length)
    }
  }

  private def record(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private def asModel(rows: Seq[Row]): Seq[(Long, Val)] =
    rows.map(r => (r.getAs[Long]("k"), (r.getAs[Int]("grp"), r.getAs[Long]("v"),
      r.getAs[Long]("ts")))).sortBy(_._1)

  private def expectedFeed: Seq[(Long, Val, String, Long)] =
    (1 until model.size).flatMap { i =>
      val (a, b) = (model(i - 1), model(i))
      (a.keySet ++ b.keySet).toSeq.flatMap { k =>
        (a.get(k), b.get(k)) match {
          case (None, Some(n)) => Some((k, n, "insert", versions(i)))
          case (Some(o), None) => Some((k, o, "delete", versions(i)))
          case (Some(o), Some(n)) if o != n => Some((k, n, "update", versions(i)))
          case _ => None
        }
      }
    }.sortBy(x => (x._4, x._1))

  def check(): Seq[String] = {
    val p = mutable.ArrayBuffer.empty[String]
    val head = model.last.toSeq.sortBy(_._1)
    def same(what: String, rows: Seq[Row], want: Seq[(Long, Val)]): Unit = {
      val have = asModel(rows)
      if (have != want)
        p += s"$what: ${have.size} rows differ from the model's ${want.size}"
    }
    if (versions.size != model.size || versions != versions.sorted.distinct)
      p += s"commit versions $versions for ${model.size} model versions"
    else {
      same("head read", got("read_head"), head)
      if (got("read_head").map(_.getAs[Long]("k")).distinct.size != got("read_head").size)
        p += "head read repeats a key"
      same("time-travel read", got("read_version"), model(1).toSeq.sortBy(_._1))
      same("predicate read", got("read_where"), head.filter(_._1 < WhereBound))
      same("head after compact and vacuum", got("read_head_after"), head)
      val feed = got("change_feed").map(r => (r.getAs[Long]("k"),
        (r.getAs[Int]("grp"), r.getAs[Long]("v"), r.getAs[Long]("ts")),
        r.getAs[String]("change_type"), r.getAs[Long]("_commit_version")))
        .sortBy(x => (x._4, x._1))
      if (feed != expectedFeed)
        p += s"change feed: ${feed.size} rows differ from the model's ${expectedFeed.size}"
    }
    p.toSeq
  }

  def layerMetrics(ops: Ops): Map[String, Double] = {
    val perOp = Map("write" -> "lake.write_ms", "upsert" -> "lake.upsert_ms",
      "merge" -> "lake.merge_ms", "delete" -> "lake.delete_ms",
      "change_feed" -> "lake.change_feed_ms", "read_head" -> "lake.read_head_ms",
      "read_version" -> "lake.read_version_ms", "read_where" -> "lake.read_where_ms",
      "compact" -> "lake.compact_ms", "vacuum" -> "lake.vacuum_ms")
      .map { case (op, m) => m -> ops.median(op) }
    perOp ++ layer.map { case (k, xs) => k -> Stats.median(xs.toSeq) } ++ Map(
      "lake.commit_p50_ms" -> Stats.median(commitOps.flatMap(o => ops.samples.getOrElse(o, Nil))),
      "lake.read_p50_ms" -> Stats.median(readOps.flatMap(o => ops.samples.getOrElse(o, Nil))),
      "lake.fs_read_ops_per_commit" -> ops.meanDelta(commitOps)(_.fsReadOps.toDouble),
      "lake.fs_read_ops_per_read" -> ops.meanDelta(readOps)(_.fsReadOps.toDouble),
      "lake.fs_write_ops_per_commit" -> ops.meanDelta(commitOps)(_.fsWriteOps.toDouble),
      "lake.jobs_per_commit" -> ops.meanDelta(commitOps)(_.jobs.toDouble),
      "lake.jobs_per_read" -> ops.meanDelta(readOps)(_.jobs.toDouble))
  }
}
