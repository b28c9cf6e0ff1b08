package graft

import graft.sinks.VersionedTable
import org.apache.spark.sql.functions._

/** Snapshot-isolation semantics of the manifest-log table: pinned
  * reads, time travel, upsert-as-commit, optimistic-concurrency
  * surface, vacuum retention. */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot() =
    java.nio.file.Files.createTempDirectory("vtable").toString + "/t"

  test("write/read round-trip and version numbering") {
    val root = tmpRoot()
    val v0 = VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      root)
    assert(v0 == 0L)
    val v1 = VersionedTable.write(Seq((3L, "c")).toDF("k", "v"), root)
    assert(v1 == 1L)
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L))
    // latest = full replace; v0 still readable (time travel)
    assert(VersionedTable.read(spark, root).count() == 1)
    assert(VersionedTable.read(spark, root, Some(0L)).count() == 2)
  }

  test("shallow clone: zero-copy branch, copy-on-write isolation, " +
      "stats carry, vacuum safety") {
    val base = java.nio.file.Files.createTempDirectory("vclone").toString
    val src = base + "/src"; val dst = base + "/clone"
    VersionedTable.write((1L to 100L).map(i => (i, i * 10))
      .toDF("k", "v"), src)
    VersionedTable.write((1L to 50L).map(i => (i, i * 10))
      .toDF("k", "v"), src) // v1 shrinks
    // clone the OLD version explicitly
    val cv = VersionedTable.cloneShallow(spark, src, dst, asOf = Some(0L))
    assert(cv == 0L)
    assert(VersionedTable.read(spark, dst).count() == 100)
    // zero data copied: the clone's data dir doesn't even exist yet
    assert(!new java.io.File(dst, "data").exists ||
      new java.io.File(dst, "data").listFiles.isEmpty)
    // per-file stats carried: metadata-only agg answers on the clone
    val st = VersionedTable.statsAgg(spark, dst, Seq("k")).head()
    assert(st.getLong(0) == 100L)
    // copy-on-write divergence: upsert the clone, source untouched
    VersionedTable.upsert(Seq((1L, 999L)).toDF("k", "v"), dst, Seq("k"))
    assert(VersionedTable.read(spark, dst)
      .filter($"k" === 1).select("v").as[Long].head() == 999L)
    assert(VersionedTable.read(spark, src, Some(0L))
      .filter($"k" === 1).select("v").as[Long].head() == 10L)
    // clone's vacuum must never delete SOURCE data: drop the clone's
    // history and vacuum with zero grace, then the source still reads
    VersionedTable.vacuum(spark, dst, keepVersions = 1, graceMs = 0L)
    assert(VersionedTable.read(spark, src, Some(0L)).count() == 100)
    assert(VersionedTable.read(spark, src).count() == 50)
    // and the clone itself still reads its head after vacuum
    assert(VersionedTable.read(spark, dst).count() == 100)
  }

  test("snapshot pinned at read time survives a later commit") {
    val root = tmpRoot()
    VersionedTable.write((1L to 10L).toDF("k"), root)
    val pinned = VersionedTable.read(spark, root) // resolves v0's files
    VersionedTable.write((1L to 3L).toDF("k"), root) // v1 replaces
    // the pinned plan still reads v0's immutable files
    assert(pinned.count() == 10)
    assert(VersionedTable.read(spark, root).count() == 3)
  }

  test("append accumulates; upsert replaces by key in one commit") {
    val root = tmpRoot()
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    VersionedTable.append(Seq((3L, "c")).toDF("k", "v"), root)
    assert(VersionedTable.read(spark, root).count() == 3)
    val v = VersionedTable.upsert(
      Seq((2L, "B"), (4L, "d")).toDF("k", "v"), root, Seq("k"))
    assert(v == 2L)
    val out = VersionedTable.read(spark, root)
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
    // pre-upsert snapshot unchanged
    val before = VersionedTable.read(spark, root, Some(1L))
      .as[(Long, String)].collect().toMap
    assert(before == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("restore rolls back as a new commit; history and stats survive") {
    val root = tmpRoot()
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root) // v0
    VersionedTable.append(Seq((3L, "c")).toDF("k", "v"), root) // v1
    VersionedTable.deleteWhere(spark, root, col("k") <= 2L) // v2
    assert(VersionedTable.read(spark, root).count() == 1)
    val v3 = VersionedTable.restore(spark, root, 1L)
    assert(v3 == 3L)
    // head content == v1 content, files reused by identity
    val restored = VersionedTable.read(spark, root)
      .as[(Long, String)].collect().toMap
    assert(restored == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // history is append-only: the pre-restore delete still time-travels
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L, 2L, 3L))
    assert(VersionedTable.read(spark, root, Some(2L))
      .as[(Long, String)].collect().toMap == Map(3L -> "c"))
    // stats carried from the TARGET manifest: the restored v0 files are
    // absent from v2's stats, yet readWhere still prunes on them
    val r = VersionedTable.readWhere(spark, root, col("k") === 3L)
    assert(r.inputFiles.length == 1, s"expected pruning, got ${r.inputFiles.length}")
    assert(r.count() == 1)
    // restoring a nonexistent version is refused
    intercept[IllegalArgumentException](
      VersionedTable.restore(spark, root, 99L))
    // schema evolution rolls back with the restore
    VersionedTable.append(Seq((4L, "d", 1.5)).toDF("k", "v", "score"),
      root, mergeSchema = true) // v4 widens
    assert(VersionedTable.read(spark, root).schema.fieldNames.length == 3)
    VersionedTable.restore(spark, root, 3L) // v5
    assert(VersionedTable.read(spark, root).schema.fieldNames.toSeq ==
      Seq("k", "v"))
  }

  test("vacuum deletes only files no retained manifest references") {
    val root = tmpRoot()
    VersionedTable.write((1L to 5L).toDF("k"), root)
    VersionedTable.write((6L to 9L).toDF("k"), root)
    VersionedTable.append((10L to 12L).toDF("k"), root)
    // keep v1+v2: v0's files become dead, v1's files are shared with v2
    // (graceMs = 0 — the default grace window protects in-flight staged
    // files, which would keep everything in this fresh fixture)
    val deleted = VersionedTable.vacuum(spark, root, keepVersions = 2,
      graceMs = 0L)
    assert(deleted > 0, "v0-only files must be deleted")
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L))
    assert(VersionedTable.read(spark, root).count() == 7)
    assert(VersionedTable.read(spark, root, Some(1L)).count() == 4,
      "files shared with a retained snapshot must survive vacuum")
  }

  test("commit claims are exclusive; manifest dir holds only versions") {
    val root = tmpRoot()
    VersionedTable.write((1L to 4L).toDF("k"), root)
    val f = new org.apache.hadoop.fs.Path(root, "_manifests")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = f.listStatus(
      new org.apache.hadoop.fs.Path(root, "_manifests"))
      .map(_.getPath.getName)
    assert(names.forall(_.startsWith("v")), names.mkString(","))
  }

  test("appendBatch is idempotent per batch id (exactly-once sink)") {
    val root = tmpRoot()
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    assert(VersionedTable.appendBatch(b0, root, batchId = 0L).isDefined)
    // failure re-delivery of the SAME batch: skipped, no duplicates
    assert(VersionedTable.appendBatch(b0, root, batchId = 0L).isEmpty)
    assert(VersionedTable.read(spark, root).count() == 2)
    assert(VersionedTable
      .appendBatch(Seq((3L, "c")).toDF("k", "v"), root, 1L).isDefined)
    assert(VersionedTable.read(spark, root).count() == 3)
    // replay from the earliest batch after a restart: both skipped
    assert(VersionedTable.appendBatch(b0, root, 0L).isEmpty)
    assert(VersionedTable
      .appendBatch(Seq((3L, "c")).toDF("k", "v"), root, 1L).isEmpty)
    assert(VersionedTable.read(spark, root).count() == 3)
  }

  test("a stream lands exactly-once through foreachBatch + appendBatch") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tmpRoot()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "v").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        VersionedTable.appendBatch(b, root, id); ()
      }.start()
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    val out = VersionedTable.read(spark, root)
      .as[(Long, String)].collect().sorted.toSeq
    assert(out == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("empty committed snapshot reads back with its own schema") {
    val root = tmpRoot()
    val empty = Seq((1L, "a")).toDF("k", "v").filter(lit(false))
    val v = VersionedTable.write(empty, root)
    val back = VersionedTable.read(spark, root, Some(v))
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == Seq("k", "v"),
      "schema must come from the manifest, not other snapshots' files")
  }

  test("upsert is file-pruned: untouched files survive by identity") {
    val root = tmpRoot()
    // two disjoint key-range files via two appends (each append stages
    // its own files)
    VersionedTable.write((1L to 100L).map(k => (k, "a")).toDF("k", "v")
      .repartition(1), root)
    VersionedTable.append((101L to 200L).map(k => (k, "a")).toDF("k", "v")
      .repartition(1), root)
    def files(v: Long) = VersionedTable.read(spark, root, Some(v))
      .select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0)).toSet
    val before = files(1L)
    assert(before.size == 2)
    // upsert touching only the low range: the high-range file must be
    // carried over with the SAME path (no rewrite), the low one replaced
    val v = VersionedTable.upsert(Seq((5L, "B")).toDF("k", "v"), root,
      Seq("k"))
    val after = files(v)
    assert(after.intersect(before).size == 1,
      s"exactly one (untouched) file should carry over: $before -> $after")
    val out = VersionedTable.read(spark, root)
    assert(out.count() == 200)
    assert(out.filter(col("k") === 5L).select("v").head().getString(0) == "B")
  }

  test("deleteWhere removes matching rows, keeps NULL-predicate rows") {
    val root = tmpRoot()
    VersionedTable.write(Seq((1L, Option("x")), (2L, Option.empty[String]),
      (3L, Option("y"))).toDF("k", "v"), root)
    // v = 'x' is NULL for k=2 — SQL DELETE keeps it
    val v = VersionedTable.deleteWhere(spark, root, col("v") === "x")
    val out = VersionedTable.read(spark, root)
      .as[(Long, Option[String])].collect().toMap
    assert(out == Map(2L -> None, 3L -> Some("y")))
    // time travel still sees the deleted row
    assert(VersionedTable.read(spark, root, Some(v - 1)).count() == 3)
  }

  test("deleteWhere is file-pruned and drops files left empty") {
    val root = tmpRoot()
    VersionedTable.write((1L to 50L).map(k => (k, "lo")).toDF("k", "v")
      .repartition(1), root)
    VersionedTable.append((51L to 100L).map(k => (k, "hi")).toDF("k", "v")
      .repartition(1), root)
    def files(v: Long) = VersionedTable.read(spark, root, Some(v))
      .select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0)).toSet
    val before = files(1L)
    // delete the whole hi file: lo must carry over by identity, hi's
    // empty rewrite must not stage a file at all
    val v = VersionedTable.deleteWhere(spark, root, col("v") === "hi")
    val after = files(v)
    assert(after.size == 1 && before.contains(after.head),
      s"lo file must carry over by identity, hi file vanish: $before -> $after")
    assert(VersionedTable.read(spark, root).count() == 50)
  }

  test("diff emits exact insert/update/delete rows between snapshots") {
    val root = tmpRoot()
    VersionedTable.write(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root) // v0
    VersionedTable.upsert(
      Seq((2L, "B"), (4L, "d")).toDF("k", "v"), root, Seq("k")) // v1
    VersionedTable.deleteWhere(spark, root, col("k") === 3L) // v2
    val d = VersionedTable.diff(spark, root, Seq("k"), 0L, 2L)
      .as[(Long, String, String)].collect().toSet
    assert(d == Set((2L, "B", "update"), (3L, "c", "delete"),
      (4L, "d", "insert")))
    // unchanged rows (k=1) emit nothing; self-diff is empty
    assert(VersionedTable.diff(spark, root, Seq("k"), 2L, 2L).isEmpty)
    // an upsert that rewrites a row to the SAME value is no net change
    VersionedTable.upsert(Seq((1L, "a")).toDF("k", "v"), root, Seq("k"))
    assert(VersionedTable.diff(spark, root, Seq("k"), 2L, 3L).isEmpty)
  }

  test("diffWithPreimages = diff + before-image rows of every update") {
    val root = tmpRoot()
    VersionedTable.write(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root) // v0
    VersionedTable.upsert(
      Seq((2L, "B"), (4L, "d")).toDF("k", "v"), root, Seq("k")) // v1
    VersionedTable.deleteWhere(spark, root, col("k") === 3L) // v2
    val d = VersionedTable.diffWithPreimages(spark, root, Seq("k"), 0L, 2L)
      .as[(Long, String, String)].collect().toSet
    assert(d == Set((2L, "B", "update"), (2L, "b", "update_preimage"),
      (3L, "c", "delete"), (4L, "d", "insert")))
    // the retraction set (update_preimage + delete) must equal the old
    // formulation: from-snapshot semi-joined on updated/deleted keys
    val cdc = VersionedTable.diff(spark, root, Seq("k"), 0L, 2L)
    // the preimage explode is diffWithPreimages' alone
    assert(cdc.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.isEmpty)
    val old = VersionedTable.read(spark, root, Some(0L))
      .join(cdc.filter(col("change_type").isin("update", "delete"))
        .select("k"), Seq("k"), "leftsemi")
      .as[(Long, String)].collect().toSet
    val neu = VersionedTable.diffWithPreimages(spark, root, Seq("k"),
        0L, 2L)
      .filter(col("change_type").isin("update_preimage", "delete"))
      .drop("change_type").as[(Long, String)].collect().toSet
    assert(neu == old)
    assert(VersionedTable.diffWithPreimages(spark, root, Seq("k"), 2L, 2L)
      .isEmpty)
  }

  test("compact merges small files, preserves content and old snapshots") {
    val root = tmpRoot()
    // 4 appends -> >= 4 small files
    (0 until 4).foreach(i => VersionedTable.append(
      ((i * 25 + 1).toLong to (i * 25 + 25).toLong).map(k => (k, s"b$i"))
        .toDF("k", "v").repartition(1), root))
    val headV = VersionedTable.versions(spark, root).max
    def nFiles(v: Long) = VersionedTable.read(spark, root, Some(v))
      .select(col("_metadata.file_path")).distinct().count()
    assert(nFiles(headV) == 4)
    val before = VersionedTable.read(spark, root)
      .as[(Long, String)].collect().toSet
    val Some(cv) = VersionedTable.compact(spark, root,
      smallBytes = 32L << 20, targetBytes = 128L << 20)
    // layout changed, content identical
    assert(nFiles(cv) == 1)
    assert(VersionedTable.read(spark, root)
      .as[(Long, String)].collect().toSet == before)
    // pre-compaction snapshot still reads its original small files
    assert(nFiles(headV) == 4)
    assert(VersionedTable.read(spark, root, Some(headV)).count() == 100)
    // immediately re-compacting is a no-op: no commit churned
    assert(VersionedTable.compact(spark, root).isEmpty)
    assert(VersionedTable.versions(spark, root).max == cv)
  }

  test("readWhere prunes files by manifest stats, results never change") {
    val root = tmpRoot()
    // 4 appends = 4 files with disjoint k ranges and distinct sources
    (0 until 4).foreach(i => VersionedTable.append(
      ((i * 100 + 1).toLong to (i * 100 + 100).toLong)
        .map(k => (k, s"src$i", k.toDouble / 2))
        .toDF("k", "src", "score").repartition(1), root))
    def planned(df: org.apache.spark.sql.DataFrame) = df.inputFiles.length
    // numeric range: only file 2 (201..300) can hold k in [250, 260]
    val r1 = VersionedTable.readWhere(spark, root,
      col("k") >= 250L && col("k") <= 260L)
    assert(planned(r1) == 1, s"expected 1 planned file, got ${planned(r1)}")
    assert(r1.count() == 11)
    // string equality prunes to one file (ASCII bounds)
    val r2 = VersionedTable.readWhere(spark, root, col("src") === "src1")
    assert(planned(r2) == 1)
    assert(r2.count() == 100)
    // OR of two ranges keeps two files
    val r3 = VersionedTable.readWhere(spark, root,
      col("k") < 50L || col("k") > 350L)
    assert(planned(r3) == 2)
    assert(r3.count() == 49 + 50)
    // impossible predicate prunes everything but still returns a typed DF
    val r4 = VersionedTable.readWhere(spark, root, col("k") > 100000L)
    assert(planned(r4) == 0 && r4.count() == 0)
    assert(r4.schema.fieldNames.toSeq == Seq("k", "src", "score"))
    // unsupported shape (modulo) prunes nothing and stays correct
    val r5 = VersionedTable.readWhere(spark, root, col("k") % 100 === 0)
    assert(planned(r5) == 4)
    assert(r5.count() == 4)
    // double column with a cast literal
    val r6 = VersionedTable.readWhere(spark, root, col("score") <= 25.0)
    assert(planned(r6) == 1 && r6.count() == 50)
  }

  test("bloom stats prune point lookups min/max cannot; negatives prove absence") {
    val root = tmpRoot()
    spark.conf.set("spark.graft.lake.bloom.cols", "k,src")
    try {
      // 4 files with INTERLEAVED k (k % 4 decides the file): every
      // file's [min,max] spans nearly the whole domain, so range stats
      // never prune an equality — only the bloom can
      (0 until 4).foreach(i => VersionedTable.append(
        (0L until 400L).filter(_ % 4 == i)
          .map(k => (k, s"src$k", k.toDouble))
          .toDF("k", "src", "score").repartition(1), root))
    } finally spark.conf.unset("spark.graft.lake.bloom.cols")
    def planned(df: org.apache.spark.sql.DataFrame) = df.inputFiles.length
    // k = 6 lives only in file 2 (6 % 4); min/max alone keeps all 4
    val r1 = VersionedTable.readWhere(spark, root, col("k") === 6L)
    assert(planned(r1) == 1, s"bloom should prune to 1, got ${planned(r1)}")
    assert(r1.count() == 1)
    // IN list across two residues keeps exactly those files
    val r2 = VersionedTable.readWhere(spark, root,
      col("k").isin(8L, 9L))
    assert(planned(r2) == 2)
    assert(r2.count() == 2)
    // absent key INSIDE the min/max range: bloom negative = proof,
    // every file prunes (false positives could keep some — accept <= 4
    // but require correctness; with 128Kibit over 100 keys fp ~ 0)
    val r3 = VersionedTable.readWhere(spark, root, col("k") === 401L)
    assert(planned(r3) == 0 && r3.count() == 0)
    // string column bloom: src is unique per row, ASCII min/max overlap
    val r4 = VersionedTable.readWhere(spark, root, col("src") === "src42")
    assert(planned(r4) == 1 && r4.count() == 1)
    // non-bloom column unaffected; range pruning still applies
    val r5 = VersionedTable.readWhere(spark, root, col("score") < -1.0)
    assert(planned(r5) == 0 && r5.count() == 0)
    // inequality on a bloom column ignores the bloom (range-only)
    val r6 = VersionedTable.readWhere(spark, root, col("k") >= 0L)
    assert(planned(r6) == 4 && r6.count() == 400)
    // STICKY blooms: an append WITHOUT the session conf (a maintenance
    // job in a fresh session) inherits the head's bloom columns. The
    // new file's k range [5, 365] overlaps every old file, so only its
    // INHERITED bloom can prune it out of a k = 6 lookup
    VersionedTable.append(
      (0 until 10).map(i => (i * 40L + 5L, s"x$i", 0.0))
        .toDF("k", "src", "score").repartition(1), root)
    val r7 = VersionedTable.readWhere(spark, root, col("k") === 6L)
    assert(planned(r7) == 1 && r7.count() == 1,
      "the conf-less append's file must carry an inherited bloom")
    // positive probe: 45 lives in old file 1 (45 % 4) AND the new file
    val r8 = VersionedTable.readWhere(spark, root, col("k") === 45L)
    assert(planned(r8) == 2 && r8.count() == 2)
  }

  test("compactZOrdered: content identical, old snapshot intact, " +
    "quadrant readWhere prunes where the random layout could not") {
    val root = tmpRoot()
    val rnd = new scala.util.Random(5)
    val pts = rnd.shuffle((0 until 64).flatMap(x =>
      (0 until 64).map(y => (x.toLong, y.toLong, s"p$x-$y"))))
    val v0 = VersionedTable.write(pts.toDF("x", "y", "tag")
      .repartition(16), root)
    def planned(df: org.apache.spark.sql.DataFrame) = df.inputFiles.length
    val quadrant = col("x") < 16L && col("y") < 16L
    // shuffled ingest spread every (x, y) range over every file
    assert(planned(VersionedTable.readWhere(spark, root, quadrant)) >= 12)
    val v1 = VersionedTable.compactZOrdered(spark, root,
      Seq(col("x"), col("y")), nFiles = 16)
    assert(v1 == v0 + 1)
    // content identical at the head...
    val head = VersionedTable.read(spark, root)
    assert(head.count() == 64 * 64)
    assert(head.as[(Long, Long, String)].collect().toSet ==
      pts.toSet)
    // ...the Morton layout prunes on BOTH dims...
    val q = VersionedTable.readWhere(spark, root, quadrant)
    assert(planned(q) <= 4, s"quadrant still touches ${planned(q)} files")
    assert(q.count() == 16 * 16)
    val yOnly = VersionedTable.readWhere(spark, root, col("y") >= 48L)
    assert(planned(yOnly) <= 10, s"y-only touches ${planned(yOnly)}")
    assert(yOnly.count() == 64 * 16)
    // ...and the pre-optimize snapshot still reads its original files
    assert(VersionedTable.read(spark, root, Some(v0)).count() == 64 * 64)
  }

  test("readWhere stats survive carried-over files and prune timestamps") {
    val root = tmpRoot()
    val mkTs = (day: Int) => java.sql.Timestamp.valueOf(f"1997-01-$day%02d 00:00:00")
    VersionedTable.append((1 to 10).map(d => (d.toLong, mkTs(d)))
      .toDF("k", "ts").repartition(1), root)
    VersionedTable.append((11 to 20).map(d => (d.toLong, mkTs(d)))
      .toDF("k", "ts").repartition(1), root)
    // timestamp predicate via a CAST STRING literal — folded at analysis
    val r = VersionedTable.readWhere(spark, root,
      col("ts") >= lit("1997-01-15 00:00:00").cast("timestamp"))
    assert(r.inputFiles.length == 1, "cast-literal timestamp must prune")
    assert(r.count() == 6)
    // an upsert rewriting only file 2 carries file 1's stats through the
    // new manifest — pruning still works for the untouched file
    VersionedTable.upsert(Seq((15L, mkTs(16))).toDF("k", "ts"), root,
      Seq("k"))
    val r2 = VersionedTable.readWhere(spark, root, col("k") <= 5L)
    assert(r2.inputFiles.length == 1, "carried-over stats must still prune")
    assert(r2.count() == 5)
  }

  test("readWhere null semantics: IsNull prunes to files with nulls") {
    val root = tmpRoot()
    VersionedTable.append(Seq((1L, Option("a")), (2L, Option("b")))
      .toDF("k", "v").repartition(1), root)
    VersionedTable.append(Seq((3L, Option("c")), (4L, Option.empty[String]))
      .toDF("k", "v").repartition(1), root)
    val r = VersionedTable.readWhere(spark, root, col("v").isNull)
    assert(r.inputFiles.length == 1)
    assert(r.select("k").as[Long].collect().toSeq == Seq(4L))
    // equality never matches a NULL: file 2's non-null bound still prunes
    val r2 = VersionedTable.readWhere(spark, root, col("v") === "zz")
    assert(r2.inputFiles.length == 0 && r2.count() == 0)
  }

  test("appendClustered tightens stats: narrow readWhere touches few files") {
    val root = tmpRoot()
    // keys arrive SHUFFLED; clustering must impose the layout
    val shuffled = new scala.util.Random(7).shuffle((1L to 800L).toList)
    VersionedTable.appendClustered(shuffled.toDF("k"), root,
      Seq("k"), nFiles = 8)
    assert(VersionedTable.read(spark, root)
      .select(col("_metadata.file_path")).distinct().count() == 8)
    // a ~1/8 key range must touch 1-2 clustered files, not all 8
    val r = VersionedTable.readWhere(spark, root,
      col("k") >= 300L && col("k") < 400L)
    assert(r.inputFiles.length <= 2,
      s"clustered range scan touched ${r.inputFiles.length} files")
    assert(r.count() == 100)
    // without clustering the same data+predicate touches every file
    val root2 = tmpRoot()
    VersionedTable.append(shuffled.toDF("k").repartition(8), root2)
    val r2 = VersionedTable.readWhere(spark, root2,
      col("k") >= 300L && col("k") < 400L)
    assert(r2.inputFiles.length == 8,
      "round-robin layout must not prune (control case)")
    assert(r2.count() == 100)
  }

  test("history lists the commit chain; readAsOf time-travels by mtime") {
    val root = tmpRoot()
    VersionedTable.write((1L to 5L).toDF("k"), root)
    Thread.sleep(1100) // LocalFileSystem mtime granularity is 1 s
    val t0 = System.currentTimeMillis()
    Thread.sleep(1100)
    VersionedTable.append((6L to 9L).toDF("k"), root)
    val h = VersionedTable.history(spark, root)
      .orderBy(col("version"))
      .select("version", "commit_time", "n_files", "total_bytes",
        "batch_id")
      .as[(Long, java.sql.Timestamp, Int, Long, Option[Long])].collect()
    assert(h.map(_._1).toSeq == Seq(0L, 1L))
    assert(h.forall(_._4 > 0) && h.forall(_._5.isEmpty))
    assert(h(0)._2.getTime <= h(1)._2.getTime)
    // between the two commits: readAsOf resolves v0
    assert(VersionedTable.readAsOf(spark, root, t0).count() == 5)
    assert(VersionedTable
      .readAsOf(spark, root, System.currentTimeMillis()).count() == 9)
    intercept[IllegalArgumentException] {
      VersionedTable.readAsOf(spark, root, 1000L) // before any commit
    }
    // a streaming commit carries its batch id into history
    VersionedTable.appendBatch((10L to 11L).toDF("k"), root, batchId = 42L)
    val last = VersionedTable.history(spark, root)
      .orderBy(col("version").desc).limit(1)
      .select("batch_id").as[Option[Long]].head()
    assert(last.contains(42L))
  }

  test("stats knob off: commits skip the stats pass, reads stay correct") {
    val root = tmpRoot()
    spark.conf.set("spark.graft.lake.stats.enabled", "false")
    try {
      (0 until 2).foreach(i => VersionedTable.append(
        ((i * 100 + 1).toLong to (i * 100 + 100).toLong).toDF("k")
          .repartition(1), root))
      // no stats -> no pruning, but readWhere results are unaffected
      val r = VersionedTable.readWhere(spark, root, col("k") <= 50L)
      assert(r.inputFiles.length == 2, "statless files must not prune")
      assert(r.count() == 50)
    } finally spark.conf.unset("spark.graft.lake.stats.enabled")
    // stats resume for NEW files; old statless files still never prune
    VersionedTable.append((201L to 300L).toDF("k").repartition(1), root)
    val r2 = VersionedTable.readWhere(spark, root, col("k") > 250L)
    assert(r2.inputFiles.length == 3, "only the new file carries stats")
    val r3 = VersionedTable.readWhere(spark, root, col("k") <= 50L)
    assert(r3.inputFiles.length == 2, "the stats-bearing file prunes")
    assert(r3.count() == 50)
  }

  test("readAppended consumes append-only increments exactly once") {
    val root = tmpRoot()
    VersionedTable.write((1L to 3L).toDF("k"), root) // v0
    VersionedTable.append((4L to 6L).toDF("k"), root) // v1
    VersionedTable.append((7L to 9L).toDF("k"), root) // v2
    def ks(df: org.apache.spark.sql.DataFrame) =
      df.as[Long].collect().toSet
    assert(ks(VersionedTable.readAppended(spark, root, 0L)) ==
      (4L to 9L).toSet)
    // consecutive windows partition the appended rows: nothing lost,
    // nothing duplicated
    assert(ks(VersionedTable.readAppended(spark, root, 0L, Some(1L))) ==
      (4L to 6L).toSet)
    assert(ks(VersionedTable.readAppended(spark, root, 1L, Some(2L))) ==
      (7L to 9L).toSet)
    assert(VersionedTable.readAppended(spark, root, 2L).isEmpty)
    // under an upsert the rewritten file's rows re-appear (documented:
    // at-least-once for non-append flows; use diff for net changes)
    VersionedTable.upsert(Seq(5L).toDF("k"), root, Seq("k"))
    assert(ks(VersionedTable.readAppended(spark, root, 2L)).contains(5L))
  }

  test("schema evolution: mergeSchema adds nullable columns, strict rejects") {
    val root = tmpRoot()
    VersionedTable.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    // strict append with a new column: rejected
    intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((3L, "c", 9L)).toDF("k", "v", "extra"), root)
    }
    // mergeSchema: accepted; old rows read back NULL in the new column
    VersionedTable.append(Seq((3L, "c", 9L)).toDF("k", "v", "extra"), root,
      mergeSchema = true)
    val out = VersionedTable.read(spark, root)
      .as[(Long, String, Option[Long])].collect().toSet
    assert(out == Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(9L))))
    // type drift on an existing column is ALWAYS rejected
    intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((4L, 5.0)).toDF("k", "v"), root,
        mergeSchema = true)
    }
    // upsert across the widened schema: updates carry the new column
    VersionedTable.upsert(Seq((1L, "A", 7L)).toDF("k", "v", "extra"), root,
      Seq("k"), mergeSchema = true)
    val out2 = VersionedTable.read(spark, root)
      .as[(Long, String, Option[Long])].collect().toSet
    assert(out2 == Set((1L, "A", Some(7L)), (2L, "b", None),
      (3L, "c", Some(9L))))
    // time travel: v0 still reads with its ORIGINAL two-column schema
    assert(VersionedTable.read(spark, root, Some(0L))
      .schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("concurrent upserts: every writer commits, no update lost") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpRoot()
    VersionedTable.write((1L to 20L).map(k => (k, "orig")).toDF("k", "v"),
      root)
    // 3 writers race disjoint key sets through the optimistic-commit
    // loop; every one must land (losers re-merge against the new head)
    val futs = (0 until 3).map { w =>
      Future {
        VersionedTable.upsert(
          Seq(((w * 5 + 1).toLong, s"w$w"), ((w * 5 + 2).toLong, s"w$w"))
            .toDF("k", "v"), root, Seq("k"))
      }
    }
    Await.result(Future.sequence(futs), 300.seconds)
    val out = VersionedTable.read(spark, root)
      .as[(Long, String)].collect().toMap
    assert(out.size == 20, s"row count drifted: ${out.size}")
    (0 until 3).foreach { w =>
      assert(out((w * 5 + 1).toLong) == s"w$w" &&
        out((w * 5 + 2).toLong) == s"w$w",
        s"writer $w's update was lost: $out")
    }
    assert(out.count(_._2 == "orig") == 14)
    // version chain: 1 initial + 3 upserts
    assert(VersionedTable.versions(spark, root).size == 4)
  }

  test("tags: stable release pointers, immutable unless overwritten, " +
    "pinned through vacuum") {
    val root = tmpRoot()
    val v0 = VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), root)
    VersionedTable.append(Seq((2L, "b")).toDF("k", "v"), root)
    VersionedTable.append(Seq((3L, "c")).toDF("k", "v"), root)
    VersionedTable.tag(spark, root, "train-v1", v0)
    assert(VersionedTable.readTag(spark, root, "train-v1").count() == 1)
    assert(VersionedTable.tags(spark, root) == Seq("train-v1" -> v0))
    // immutable: re-pointing needs overwrite
    intercept[java.io.IOException] {
      VersionedTable.tag(spark, root, "train-v1", v0 + 1)
    }
    // a missing version or bad name is rejected
    intercept[IllegalArgumentException] {
      VersionedTable.tag(spark, root, "nope", 99L)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.tag(spark, root, "bad name", v0)
    }
    // vacuum keeps only the newest version... except tagged pins
    VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    assert(VersionedTable.versions(spark, root).toSet ==
      Set(v0, v0 + 2), "tagged v0 must survive the retention window")
    assert(VersionedTable.readTag(spark, root, "train-v1")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // re-point with overwrite, then untag releases the pin
    VersionedTable.tag(spark, root, "train-v1", v0 + 2, overwrite = true)
    assert(VersionedTable.readTag(spark, root, "train-v1").count() == 3)
    assert(VersionedTable.untag(spark, root, "train-v1"))
    VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    assert(VersionedTable.versions(spark, root) == Seq(v0 + 2))
  }

  test("a crashed writer's unterminated manifest is ignored and reclaimed") {
    val root = tmpRoot()
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), root)
    // simulate a crash: an unterminated claim for v1
    val junk = new org.apache.hadoop.fs.Path(root,
      "_manifests/v000000000001.json")
    val f = junk.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(junk, false)
    out.write("{\"type\":\"struct\",\"fields\":[]}\npartial".getBytes("UTF-8"))
    out.close()
    // age it past the in-flight grace window: a crashed manifest is only
    // reclaimable once no live writer could still be mid-write on it
    f.setTimes(junk, System.currentTimeMillis() - 60000L, -1L)
    // readers ignore it...
    assert(VersionedTable.versions(spark, root) == Seq(0L))
    assert(VersionedTable.read(spark, root).count() == 1)
    // ...and the next commit garbage-collects the junk and claims v1
    val v = VersionedTable.append(Seq((2L, "b")).toDF("k", "v"), root)
    assert(v == 1L)
    assert(VersionedTable.read(spark, root).count() == 2)
  }

  test("every operation resolves the head beneath a crashed writer's " +
      "newest-numbered junk manifest") {
    val root = tmpRoot()
    VersionedTable.write((1L to 6L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartition(3), root)
    VersionedTable.append(Seq((7L, "v7")).toDF("k", "v"), root)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an unterminated manifest one past the head, aged past the
    // in-flight grace window: a writer that crashed mid-write
    def plantJunk(): Long = {
      val v = VersionedTable.versions(spark, root).max + 1
      val junk = new org.apache.hadoop.fs.Path(root,
        f"_manifests/v$v%012d.json")
      val out = f.create(junk, true)
      out.write("{\"type\":\"struct\",\"fields\":[]}\npartial"
        .getBytes("UTF-8"))
      out.close()
      f.setTimes(junk, System.currentTimeMillis() - 60000L, -1L)
      v
    }
    val junk = plantJunk()
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L))
    // reads see the valid head v1 beneath the junk
    assert(VersionedTable.readWhere(spark, root, col("k") <= 3L).count() == 3)
    val agg = VersionedTable.statsAgg(spark, root, Seq("k")).head()
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) == ((7L, 1L, 7L)))
    assert(VersionedTable.changeFeed(spark, root, Seq("k"), 0L)
      .select("k", "change_type").as[(Long, String)].collect().toSeq ==
      Seq((7L, "insert")))
    val miss = intercept[IllegalArgumentException] {
      VersionedTable.read(spark, root, Some(junk))
    }
    assert(miss.getMessage.contains(s"version $junk"), miss.getMessage)
    // each commit builds on that head, and recovery hands it the junk's
    // version number
    assert(VersionedTable.upsert(Seq((1L, "u1")).toDF("k", "v"), root,
      Seq("k")) == junk)
    val j2 = plantJunk()
    assert(VersionedTable.merge(Seq((2L, "m2"), (8L, "m8")).toDF("k", "v"),
      root, Seq("k"), None, Map("v" -> col("src_v"))) == j2)
    val j3 = plantJunk()
    assert(VersionedTable.deleteWhere(spark, root, col("k") === 3L) == j3)
    val j4 = plantJunk()
    assert(VersionedTable.compact(spark, root, smallBytes = 1L << 30)
      .contains(j4))
    assert(VersionedTable.read(spark, root).as[(Long, String)].collect()
      .sorted.toSeq == Seq((1L, "u1"), (2L, "m2"), (4L, "v4"), (5L, "v5"),
        (6L, "v6"), (7L, "v7"), (8L, "m8")))
    assert(VersionedTable.versions(spark, root) == (0L to j4))
  }

  test("OCC torture: 8 writers, mixed ops, nothing lost, chain contiguous") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpRoot()
    VersionedTable.write((1L to 80L).map(k => (k, "orig", 0L))
      .toDF("k", "who", "round"), root)
    // 8 writers x 3 rounds of disjoint-key upserts racing each other —
    // every single update must survive to the head (the lost-update
    // invariant the round-5 race broke), and the version chain must be
    // contiguous (no claimed-but-vanished versions)
    val futs = (0 until 8).map { w =>
      Future {
        (1 to 3).foreach { r =>
          VersionedTable.upsert(
            (1 to 5).map(i => ((w * 10 + i).toLong, s"w$w", r.toLong))
              .toDF("k", "who", "round"), root, Seq("k"))
        }
      }
    }
    Await.result(Future.sequence(futs), 600.seconds)
    val vs = VersionedTable.versions(spark, root)
    assert(vs == (0L to 24L), s"version chain not contiguous: $vs")
    val head = VersionedTable.read(spark, root)
      .as[(Long, String, Long)].collect()
    assert(head.length == 80)
    (0 until 8).foreach { w =>
      (1 to 5).foreach { i =>
        val row = head.find(_._1 == w * 10 + i).get
        assert(row._2 == s"w$w" && row._3 == 3L,
          s"writer $w key ${w * 10 + i} lost its final round: $row")
      }
    }
    // untouched keys intact
    assert(head.count(_._2 == "orig") == 80 - 40)
  }

  test("a YOUNG claim is not stolen while its writer may still be " +
    "mid-write; a crashed claim is recovered after the grace window") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpRoot()
    VersionedTable.write(Seq((1L, "a")).toDF("k", "v"), root)
    // simulate a live writer between claim and manifest terminator:
    // claim file + partial manifest, both with fresh mtimes
    val mdir = new org.apache.hadoop.fs.Path(root, "_manifests")
    val f = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = new org.apache.hadoop.fs.Path(mdir,
      "v000000000001.json.claim")
    val junk = new org.apache.hadoop.fs.Path(mdir, "v000000000001.json")
    f.create(claim, false).close()
    val out = f.create(junk, false)
    out.write("{\"type\":\"struct\",\"fields\":[]}\npartial".getBytes("UTF-8"))
    out.close()
    val append = Future {
      VersionedTable.append(Seq((2L, "b")).toDF("k", "v"), root)
    }
    // within the grace window the committer must keep retrying, NOT
    // clear the young claim out from under its (presumed live) writer
    Thread.sleep(2500)
    assert(!append.isCompleted, "young in-flight claim was stolen")
    assert(f.exists(claim), "young in-flight claim was deleted")
    // the writer "crashes": age the claim past the grace window; the
    // committer's next retry recovers the slot and lands v1
    f.setTimes(claim, System.currentTimeMillis() - 60000L, -1L)
    f.setTimes(junk, System.currentTimeMillis() - 60000L, -1L)
    assert(Await.result(append, 60.seconds) == 1L)
    assert(VersionedTable.read(spark, root).count() == 2)
  }

  test("merge: delete + update + insert in one commit; time travel intact") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.write(Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("k", "v"), root)
    // source: k=1 -> delete (src_v negative), k=2 -> update to 99,
    // k=9 -> insert
    val src = Seq((1L, -1L), (2L, 99L), (9L, 90L)).toDF("k", "v")
    VersionedTable.merge(src, root, Seq("k"),
      matchedDelete = Some(col("src_v") < 0),
      matchedUpdate = Map("v" -> col("src_v")))
    val got = VersionedTable.read(spark, root)
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(got == Seq((2L, 99L), (3L, 30L), (4L, 40L), (9L, 90L)))
    // v0 unchanged under time travel
    assert(VersionedTable.read(spark, root, Some(0L)).count() == 4)
  }

  test("merge: insertUnmatched=false drops new keys; bad column rejected") {
    import spark.implicits._
    val root = tmpRoot()
    VersionedTable.write(Seq((1L, 10L)).toDF("k", "v"), root)
    VersionedTable.merge(Seq((1L, 11L), (5L, 50L)).toDF("k", "v"), root,
      Seq("k"), matchedDelete = None,
      matchedUpdate = Map("v" -> col("src_v")), insertUnmatched = false)
    val got = VersionedTable.read(spark, root)
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 11L)))
    intercept[IllegalArgumentException] {
      VersionedTable.merge(Seq((1L, 1L)).toDF("k", "v"), root, Seq("k"),
        None, Map("nope" -> lit(1)))
    }
  }

  test("statsAgg answers from the manifest alone: exact after edits, " +
      "zero data files touched") {
    val root = tmpRoot()
    VersionedTable.write(
      Seq((1L, 5.0, "b"), (2L, 7.0, "a"), (3L, 1.5, "c"))
        .toDF("k", "x", "s"),
      root)
    VersionedTable.upsert(Seq((2L, 70.0, "a")).toDF("k", "x", "s"), root,
      Seq("k"))
    VersionedTable.deleteWhere(spark, root, col("s") === "c")
    def expect(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect().head
      assert(r.getLong(0) == 2L) // cnt
      assert(r.getLong(1) == 1L && r.getLong(2) == 2L) // k bounds
      assert(r.getDouble(3) == 5.0 && r.getDouble(4) == 70.0) // x bounds
      assert(r.getString(5) == "a" && r.getString(6) == "b") // s bounds
    }
    expect(VersionedTable.statsAgg(spark, root, Seq("k", "x", "s")))
    // the metadata-only proof: remove every data file; the head's
    // statsAgg still answers (nothing below the manifest is read)
    val dd = new org.apache.hadoop.fs.Path(root, "data")
    dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(dd, true)
    expect(VersionedTable.statsAgg(spark, root, Seq("k", "x", "s")))
  }

  test("statsAgg: exact fallback for stats-less files; all-null and " +
      "empty-table edges") {
    val root = tmpRoot()
    spark.conf.set("spark.graft.lake.stats.enabled", "false")
    try VersionedTable.write(Seq((10L, Some(2.0)), (20L, None))
        .toDF("k", "x"), root)
    finally spark.conf.unset("spark.graft.lake.stats.enabled")
    VersionedTable.append(Seq((30L, Some(9.0))).toDF("k", "x"), root)
    // v1 head: one stats-less file (read back), one stats-bearing file
    val r = VersionedTable.statsAgg(spark, root, Seq("k", "x"))
      .collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 10L && r.getLong(2) == 30L)
    assert(r.getDouble(3) == 2.0 && r.getDouble(4) == 9.0)
    // all-null column: bounds are NULL, count still exact
    val root2 = tmpRoot()
    VersionedTable.write(Seq((1L, Option.empty[Double]),
      (2L, Option.empty[Double])).toDF("k", "x"), root2)
    val r2 = VersionedTable.statsAgg(spark, root2, Seq("x")).collect().head
    assert(r2.getLong(0) == 2L && r2.isNullAt(1) && r2.isNullAt(2))
    // time travel: bounds of the PRE-delete version
    val rv0 = VersionedTable.statsAgg(spark, root, Seq("k"),
      version = Some(0L)).collect().head
    assert(rv0.getLong(0) == 2L && rv0.getLong(2) == 20L)
  }

  test("mergeBranch: from-only changes land (insert/update/delete), " +
      "into-only survive, divergent keys conflict with both payloads, " +
      "convergent edits are silent") {
    val root = tmpRoot(); val br = root + "-branch"
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"),
      (5L, "e"), (6L, "f")).toDF("k", "v")
    VersionedTable.write(base, root)
    VersionedTable.cloneShallow(spark, root, br)
    // into: update 1, delete 4, update 5 -> "zz" (will converge)
    VersionedTable.upsert(Seq((1L, "A"), (5L, "zz")).toDF("k", "v"),
      root, Seq("k"))
    VersionedTable.deleteWhere(spark, root, col("k") === 4L)
    // from: update 1 differently (conflict), update 2, delete 3,
    // insert 7, update 5 -> "zz" identically (convergent)
    VersionedTable.upsert(
      Seq((1L, "X"), (2L, "B"), (7L, "g"), (5L, "zz")).toDF("k", "v"),
      br, Seq("k"))
    VersionedTable.deleteWhere(spark, br, col("k") === 3L)
    val m = VersionedTable.mergeBranch(spark, root, br, Seq("k"),
      baseRoot = root, baseVersion = 0L)
    assert(m.nUpserts == 2 && m.nDeletes == 1) // 2:B, 7:g; delete 3
    val conf = m.conflicts.select(col("k"), col("into_v"), col("from_v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(conf.toSeq == Seq((1L, "A", "X")))
    val got = VersionedTable.read(spark, root)
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "A", 2L -> "B", 5L -> "zz", 6L -> "f",
      7L -> "g")) // 3 deleted by merge, 4 by into; 1 keeps into
    // delete-vs-update divergence also conflicts
    val m2root = tmpRoot(); val m2br = m2root + "-b"
    VersionedTable.write(Seq((9L, "q")).toDF("k", "v"), m2root)
    VersionedTable.cloneShallow(spark, m2root, m2br)
    VersionedTable.deleteWhere(spark, m2root, col("k") === 9L)
    VersionedTable.upsert(Seq((9L, "Q")).toDF("k", "v"), m2br, Seq("k"))
    val m2 = VersionedTable.mergeBranch(spark, m2root, m2br, Seq("k"),
      baseRoot = m2root, baseVersion = 0L)
    assert(m2.nUpserts == 0 && m2.nDeletes == 0)
    assert(m2.conflicts.count() == 1)
    assert(VersionedTable.read(spark, m2root).count() == 0)
  }

  test("CHECK constraints: add validates existing data, writes reject " +
      "violations atomically, NULL passes, merge updates are checked, " +
      "drop re-opens the gate") {
    val root = tmpRoot()
    VersionedTable.write(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), root)
    // dirty add fails loud
    val dirty = intercept[IllegalArgumentException] {
      VersionedTable.addConstraint(spark, root, "v_big", "v >= 15")
    }
    assert(dirty.getMessage.contains("existing row"))
    VersionedTable.addConstraint(spark, root, "v_pos", "v > 0")
    assert(VersionedTable.constraints(spark, root) ==
      Seq("v_pos" -> "v > 0"))
    val v0 = VersionedTable.versions(spark, root).max
    // violating append: throws, no new version, snapshot unchanged
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(Seq((3L, -5L)).toDF("k", "v"), root)
    }
    assert(e.getMessage.contains("v_pos"))
    assert(VersionedTable.versions(spark, root).max == v0)
    assert(VersionedTable.read(spark, root).count() == 2)
    // ANSI semantics: NULL is not a violation
    VersionedTable.append(Seq((4L, Option.empty[Long])).toDF("k", "v"),
      root)
    assert(VersionedTable.read(spark, root).count() == 3)
    // the constraint rides unrelated commits
    assert(VersionedTable.constraints(spark, root).map(_._1) ==
      Seq("v_pos"))
    // merge whose UPDATE EXPRESSION manufactures a violation is caught
    // at the staging choke point (validating merge's input would miss it)
    val m = intercept[IllegalArgumentException] {
      VersionedTable.merge(Seq((1L, 99L)).toDF("k", "v"), root, Seq("k"),
        matchedDelete = None,
        matchedUpdate = Map("v" -> (org.apache.spark.sql.functions
          .col("src_v") * -1L)))
    }
    assert(m.getMessage.contains("v_pos"))
    // upsert with clean values passes; violating upsert rejected
    VersionedTable.upsert(Seq((1L, 11L)).toDF("k", "v"), root, Seq("k"))
    intercept[IllegalArgumentException] {
      VersionedTable.upsert(Seq((2L, -1L)).toDF("k", "v"), root, Seq("k"))
    }
    // drop re-opens the gate and is itself a commit
    VersionedTable.dropConstraint(spark, root, "v_pos")
    VersionedTable.append(Seq((5L, -5L)).toDF("k", "v"), root)
    // rows: (1,11 upserted) (2,20) (4,null) (5,-5)
    assert(VersionedTable.read(spark, root).count() == 4)
    assert(VersionedTable.constraints(spark, root).isEmpty)
    // time travel before the drop still shows the constraint in force
    val preDrop = VersionedTable.versions(spark, root)
      .sorted.takeRight(3).head
    // (manifest-level check via the public list at head only; the
    // dropped constraint's history is the manifest line — read v)
    assert(VersionedTable.read(spark, root, Some(preDrop)).count() <= 5)
  }

  test("statsAgg: NaN and ±Infinity float extrema propagate exactly " +
      "through both stats paths (never silently dropped)") {
    // footer path (default): parquet abandons FP stats on NaN, and our
    // footerCanonical drops ±Inf — the column is OMITTED per file, so
    // statsAgg routes those files to the exact slow scan, which must
    // PROPAGATE the non-finite extrema (advisor finding, round 8)
    def check(root: String): Unit = {
      val r = VersionedTable.statsAgg(spark, root, Seq("x"))
        .collect().head
      assert(r.getLong(0) == 4L)
      assert(r.getDouble(1) == Double.NegativeInfinity,
        s"min must be -Inf, got ${r.getDouble(1)}")
      assert(r.getDouble(2).isNaN, s"max must be NaN, got ${r.getDouble(2)}")
    }
    val root = tmpRoot()
    VersionedTable.write(Seq((1L, 1.5), (2L, Double.NaN),
      (3L, Double.NegativeInfinity), (4L, 7.0)).toDF("k", "x")
      .coalesce(1), root)
    check(root)
    // scan-stats path: collectStatsByScan must likewise omit the
    // column for NaN/Inf-bearing files (no partial bounds)
    val root2 = tmpRoot()
    spark.conf.set("spark.graft.lake.stats.footer", "false")
    try VersionedTable.write(Seq((1L, 1.5), (2L, Double.NaN),
      (3L, Double.NegativeInfinity), (4L, 7.0)).toDF("k", "x")
      .coalesce(1), root2)
    finally spark.conf.unset("spark.graft.lake.stats.footer")
    check(root2)
    // mixed: a clean file still folds from the manifest (fast), the
    // NaN file takes the slow path — NaN must win the max across both
    val root3 = tmpRoot()
    VersionedTable.write(Seq((1L, 100.0), (2L, 200.0)).toDF("k", "x")
      .coalesce(1), root3)
    VersionedTable.append(Seq((3L, 5.0), (4L, Double.NaN)).toDF("k", "x")
      .coalesce(1), root3)
    val r3 = VersionedTable.statsAgg(spark, root3, Seq("x"))
      .collect().head
    assert(r3.getLong(0) == 4L && r3.getDouble(1) == 5.0 &&
      r3.getDouble(2).isNaN)
    // finite-only tables are unaffected (fast fold, exact)
    val r3k = VersionedTable.statsAgg(spark, root3, Seq("k"))
      .collect().head
    assert(r3k.getLong(1) == 1L && r3k.getLong(2) == 4L)
  }
}
