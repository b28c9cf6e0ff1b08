package graft

import graft.sinks.VersionedTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** `spark.readStream.format("graft")` — the lake as a streaming
  * source: commit versions are offsets, a micro-batch is a version
  * range's added files, replay is exactly-once from the checkpoint. */
class LakeStreamSpec extends SparkSpec {
  import spark.implicits._

  private def runOnce(root: String, out: String, ckpt: String,
      options: Map[String, String] = Map.empty): Unit = {
    var r = spark.readStream.format("graft")
    options.foreach { case (k, v) => r = r.option(k, v) }
    val q = r.load(root).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.streams.resetTerminated()
  }

  test("snapshot-then-increments with exactly-once replay across " +
      "checkpointed restarts") {
    val base = tmpDir("lks1")
    val root = s"$base/t"; val out = s"$base/out"; val ckpt = s"$base/ck"
    VersionedTable.write((1L to 40L).map(i => (i, i * 2)).toDF("k", "v"),
      root)
    VersionedTable.append((41L to 60L).map(i => (i, i * 2)).toDF("k", "v"),
      root)
    runOnce(root, out, ckpt)
    assert(spark.read.parquet(out).count() == 60)
    // idle restart: nothing re-emitted
    runOnce(root, out, ckpt)
    assert(spark.read.parquet(out).count() == 60)
    // two more commits land; restart streams ONLY the increments
    VersionedTable.append((61L to 75L).map(i => (i, i * 2)).toDF("k", "v"),
      root)
    VersionedTable.append((76L to 90L).map(i => (i, i * 2)).toDF("k", "v"),
      root)
    runOnce(root, out, ckpt)
    val got = spark.read.parquet(out)
    assert(got.count() == 90, "exactly-once: no loss")
    assert(got.groupBy("k").count().filter(col("count") > 1).count() == 0,
      "exactly-once: no duplicates")
  }

  test("maxVersionsPerTrigger paces catch-up into bounded batches") {
    val base = tmpDir("lks2")
    val root = s"$base/t"; val out = s"$base/out"; val ckpt = s"$base/ck"
    (0 until 3).foreach { b =>
      VersionedTable.append(
        (b * 10 + 1 to b * 10 + 10).map(i => (i.toLong, i.toLong))
          .toDF("k", "v"), root)
    }
    var r = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1")
    val q = r.load(root).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    spark.streams.resetTerminated()
    assert(spark.read.parquet(out).count() == 30)
    assert(batches == 3,
      s"3 commits at 1 version/trigger must be 3 batches, got $batches")
  }

  test("startingVersion streams increments only, skipping the snapshot") {
    val base = tmpDir("lks3")
    val root = s"$base/t"; val out = s"$base/out"; val ckpt = s"$base/ck"
    VersionedTable.write((1L to 40L).map(i => (i, i)).toDF("k", "v"), root)
    VersionedTable.append((41L to 55L).map(i => (i, i)).toDF("k", "v"),
      root)
    runOnce(root, out, ckpt, Map("startingVersion" -> "0"))
    val got = spark.read.parquet(out)
    assert(got.count() == 15, "only the post-v0 increment streams")
    assert(got.agg(min(col("k")), max(col("k"))).head() ==
      org.apache.spark.sql.Row(41L, 55L))
  }

  test("startingTimestamp resolves through the batch timestampAsOf " +
      "arithmetic and streams strictly-after increments") {
    val base = tmpDir("lks3t")
    val root = s"$base/t"
    VersionedTable.write((1L to 40L).map(i => (i, i)).toDF("k", "v"), root)
    // capture the v0 commit instant, then land a later commit
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0mtime = f.listStatus(
      new org.apache.hadoop.fs.Path(root, "_manifests"))
      .filter(s => s.getPath.getName.startsWith("v") &&
        s.getPath.getName.endsWith(".json")) // not the commit claim
      .map(_.getModificationTime).min
    Thread.sleep(1100) // mtime granularity
    VersionedTable.append((41L to 55L).map(i => (i, i)).toDF("k", "v"),
      root)
    // ts at v0: the v0 snapshot counts as processed -> only v1 streams
    runOnce(root, s"$base/out1", s"$base/ck1",
      Map("startingTimestamp" -> v0mtime.toString))
    val got = spark.read.parquet(s"$base/out1")
    assert(got.count() == 15 &&
      got.agg(min(col("k"))).head().getLong(0) == 41L,
      "timestamp at v0 must stream only the post-v0 increment")
    // ts before the first commit: everything streams (-1 resolution)
    runOnce(root, s"$base/out2", s"$base/ck2",
      Map("startingTimestamp" -> (v0mtime - 60000).toString))
    assert(spark.read.parquet(s"$base/out2").count() == 55)
    // both starting options together are rejected
    val ex = intercept[Exception] {
      runOnce(root, s"$base/out3", s"$base/ck3",
        Map("startingTimestamp" -> v0mtime.toString,
          "startingVersion" -> "0"))
    }
    assert(ex.getMessage.contains("at most one") ||
      Option(ex.getCause).exists(_.getMessage.contains("at most one")))
    spark.streams.resetTerminated()
  }

  test("a non-append commit fails the stream loudly; ignoreChanges " +
      "re-emits rewrites instead") {
    val base = tmpDir("lks4")
    val root = s"$base/t"; val out = s"$base/out"; val ckpt = s"$base/ck"
    VersionedTable.write((1L to 30L).map(i => (i, i)).toDF("k", "v"), root)
    runOnce(root, out, ckpt)
    assert(spark.read.parquet(out).count() == 30)
    // an upsert rewrites matching files: adds are NOT new data
    VersionedTable.upsert((1L to 5L).map(i => (i, i * 100)).toDF("k", "v"),
      root, Seq("k"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(root, out, ckpt)
    }
    assert(ex.getMessage.contains("ignoreChanges") ||
      Option(ex.getCause).exists(_.getMessage.contains("ignoreChanges")),
      s"wanted the append-only contract error, got: ${ex.getMessage}")
    spark.streams.resetTerminated()
    // opting in streams the rewritten files' rows
    runOnce(root, out, ckpt, Map("ignoreChanges" -> "true"))
    assert(spark.read.parquet(out).count() > 30)
  }

  test("format streaming SINK: exactly-once lake commits per " +
      "micro-batch, idempotent across a checkpointed restart") {
    val base = tmpDir("lkw1")
    val src = s"$base/src"; val dst = s"$base/dst"; val ck = s"$base/ck"
    VersionedTable.append((1L to 30L).map(i => (i, i)).toDF("k", "v"), src)
    VersionedTable.append((31L to 50L).map(i => (i, i)).toDF("k", "v"),
      src)
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1").load(src)
        .writeStream.format("graft").option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start(dst)
      q.awaitTermination()
      spark.streams.resetTerminated()
    }
    run()
    assert(VersionedTable.read(spark, dst).count() == 50)
    assert(VersionedTable.versions(spark, dst).size == 2,
      "one dst commit per paced micro-batch")
    // restart with no new data: nothing re-committed
    run()
    assert(VersionedTable.read(spark, dst).count() == 50)
    // new source commit: exactly its rows land, no duplicates
    VersionedTable.append((51L to 60L).map(i => (i, i)).toDF("k", "v"),
      src)
    run()
    val got = VersionedTable.read(spark, dst)
    assert(got.count() == 60)
    assert(got.groupBy("k").count().filter(col("count") > 1).count() == 0)
  }

  test("format streaming sink rejects non-append output modes and " +
      "partitionBy") {
    val base = tmpDir("lkw2")
    val src = s"$base/src"
    VersionedTable.append((1L to 10L).map(i => (i, i)).toDF("k", "v"), src)
    val agg = spark.readStream.format("graft").load(src)
      .groupBy(col("v")).count()
    val e = intercept[Exception] {
      agg.writeStream.format("graft")
        .option("checkpointLocation", s"$base/ck")
        .outputMode("complete").trigger(Trigger.AvailableNow())
        .start(s"$base/dst")
    }
    assert(e.getMessage.contains("append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("append-only")))
    spark.streams.resetTerminated()
  }

  test("streaming rejects time travel options and empty tables") {
    val base = tmpDir("lks5")
    val root = s"$base/t"
    intercept[Exception] { // no committed version yet
      spark.readStream.format("graft").load(root)
    }
    VersionedTable.write((1L to 5L).map(i => (i, i)).toDF("k", "v"), root)
    val e = intercept[Exception] {
      spark.readStream.format("graft").option("versionAsOf", "0")
        .load(root).writeStream.format("noop")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(e.getMessage.contains("batch-only") ||
      Option(e.getCause).exists(_.getMessage.contains("batch-only")))
    spark.streams.resetTerminated()
  }
}
