package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Semantics + recall specs for the hash-based near-dup operators (these
  * use xxhash64 so they are not DuckDB-oracle-checkable; the exact-Jaccard
  * operator IS oracle-checked and serves as their ground truth). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, Sf0).cache()

  test("exactKeep keeps exactly one row per distinct text") {
    val kept = Dedup.exactKeep(docs, "doc_id", "text")
    assert(kept.count() == docs.select("text").distinct().count())
    // idempotent: dedup of deduped is a no-op
    assert(Dedup.exactKeep(kept, "doc_id", "text").count() == kept.count())
  }

  test("duplicated corpus: exact dedup collapses the copies, keeps min id") {
    val dup = docs.select($"doc_id" + 100000, $"text").toDF("doc_id", "text")
    val both = docs.select("doc_id", "text").unionByName(dup)
    val groups = Dedup.exactGroups(both, col("doc_id"), col("text"))
    assert(groups.count() == docs.count()) // sf0.001 texts are all distinct
    assert(groups.agg(max("n_dups")).head.getLong(0) == 2)
    assert(groups.agg(max("keep_id")).head.getLong(0) < 100000)
  }

  test("minhash est_jaccard approximates exact jaccard on true pairs") {
    val exact = Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
        k = 3, tau = 0.5)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)]
      .collect().map { case (a, b, j) => ((a, b), j) }.toMap
    val cand = Dedup.minhashCandidates(docs, col("doc_id"), col("text"),
        k = 3, perms = 32, bands = 8)
      .select($"doc_a", $"doc_b", $"est_jaccard").as[(Long, Long, Double)]
      .collect().map { case (a, b, j) => ((a, b), j) }.toMap
    // recall: high-similarity pairs should be found by LSH
    val high = exact.filter(_._2 >= 0.7)
    if (high.nonEmpty) {
      val found = high.keys.count(cand.contains)
      assert(found.toDouble / high.size >= 0.8,
        s"LSH recall ${found.toDouble / high.size} < 0.8 on ${high.size} pairs")
    }
    // estimates on common pairs are within a loose band
    val common = exact.keySet.intersect(cand.keySet)
    common.foreach { k =>
      assert(math.abs(exact(k) - cand(k)) < 0.45,
        s"pair $k exact=${exact(k)} est=${cand(k)}")
    }
  }

  test("CDC chunks: boundaries resync after a prepended edit (shared " +
      "tail keeps its chunk hashes); chunks tile the doc exactly") {
    val rng = new scala.util.Random(11)
    val body = (0 until 300).map(_ =>
      ('a' + rng.nextInt(26)).toChar).mkString
    val df = Seq(
      (1L, body),
      (2L, "PREPENDED EDIT >>> " + body), // shifts every fixed window
      (3L, rng.shuffle(body.toList).mkString)) // same chars, other order
      .toDF("doc_id", "text")
    val out = Dedup.cdcChunks(df, col("doc_id"), col("text"),
        w = 16, maskBits = 4)
      .select($"doc_id", $"chunk_idx", $"start_cp", $"len_cp",
        $"chunk_hash")
      .as[(Long, Int, Int, Int, Long)].collect()
    // chunks tile each doc: contiguous, full coverage
    for (id <- Seq(1L, 2L, 3L)) {
      val cs = out.filter(_._1 == id).sortBy(_._2)
      assert(cs.head._3 == 0)
      cs.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 == b._3)
        case _ =>
      }
      val n = df.filter($"doc_id" === id).select(length($"text"))
        .as[Int].head()
      assert(cs.last._3 + cs.last._4 == n)
    }
    // the resync property: doc 2 = edit + doc 1's exact body, so most
    // of doc 1's chunk hashes reappear in doc 2 — while the same-length
    // shuffled doc 3 shares essentially nothing
    val h1 = out.filter(_._1 == 1L).map(_._5).toSet
    val h2 = out.filter(_._1 == 2L).map(_._5).toSet
    val h3 = out.filter(_._1 == 3L).map(_._5).toSet
    val shared12 = (h1 & h2).size.toDouble / h1.size
    assert(shared12 > 0.5, s"resync failed: only $shared12 shared")
    assert((h1 & h3).size <= 1)
  }

  test("replayable CDC chunks: same tiling + resync guarantees as the " +
      "rolling-hash variant; hashes are md5_head63 of the substrings") {
    val rng = new scala.util.Random(11)
    val body = (0 until 300).map(_ =>
      ('a' + rng.nextInt(26)).toChar).mkString
    val df = Seq(
      (1L, body),
      (2L, "PREPENDED EDIT >>> " + body),
      (3L, rng.shuffle(body.toList).mkString))
      .toDF("doc_id", "text")
    val out = Dedup.cdcChunksReplayable(df, col("doc_id"), col("text"),
        w = 16, maskBits = 4)
      .select($"doc_id", $"chunk_idx", $"start_cp", $"len_cp",
        $"chunk_hash")
      .as[(Long, Int, Int, Int, Long)].collect()
    for (id <- Seq(1L, 2L, 3L)) {
      val cs = out.filter(_._1 == id).sortBy(_._2)
      assert(cs.head._3 == 0)
      cs.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 == b._3)
        case _ =>
      }
      val n = df.filter($"doc_id" === id).select(length($"text"))
        .as[Int].head()
      assert(cs.last._3 + cs.last._4 == n)
    }
    val h1 = out.filter(_._1 == 1L).map(_._5).toSet
    val h2 = out.filter(_._1 == 2L).map(_._5).toSet
    val h3 = out.filter(_._1 == 3L).map(_._5).toSet
    assert((h1 & h2).size.toDouble / h1.size > 0.5, "resync failed")
    assert((h1 & h3).size <= 1)
    // chunk hashes ARE md5_head63 of the chunk text (the oracle contract)
    val doc1 = body
    out.filter(_._1 == 1L).foreach { case (_, _, s, l, h) =>
      val expect = graft.functions.HashUtil.md5head63(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          doc1.substring(s, s + l)))
      assert(h == expect)
    }
  }

  test("prefix-filtered Jaccard: row-identical to the full-index join, " +
      "including planted near-dups") {
    // plant near-dups so the equality isn't vacuous: word-level
    // perturbed copies land at J ~ 0.7-0.9
    val perturbed = docs.select($"doc_id" + 500000, // still > any real id
        regexp_replace($"text", "^(\\S+) ", "$1x "))
      .toDF("doc_id", "text")
    val corpus = docs.select("doc_id", "text").unionByName(perturbed)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4),
        r.getDouble(5))
    val full = Dedup.jaccardPairs(corpus, col("doc_id"), col("text"),
      k = 3, tau = 0.5).collect().map(key).sortBy(p => (p._1, p._2))
    val pref = Dedup.jaccardPairsPrefix(corpus, col("doc_id"), col("text"),
      k = 3, tau = 0.5).collect().map(key).sortBy(p => (p._1, p._2))
    assert(full.nonEmpty, "fixture produced no near-dup pairs")
    assert(pref.toSeq == full.toSeq)
  }

  test("prefix-filtered containment: row-identical to the all-postings " +
      "form, including a planted subset-dup") {
    val long = docs.orderBy(desc("n_chars")).select($"doc_id", $"text")
      .as[(Long, String)].head()
    val excerpt = long._2.split(" ").slice(3, 20).mkString(" ")
    val corpus = docs.select("doc_id", "text")
      .unionByName(Seq((900001L, excerpt)).toDF("doc_id", "text"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7))
    val full = Dedup.containmentPairs(corpus, col("doc_id"), col("text"),
      k = 3, tau = 0.8).collect().map(key).sortBy(p => (p._1, p._2))
    val pref = Dedup.containmentPairsPrefix(corpus, col("doc_id"),
      col("text"), k = 3, tau = 0.8).collect().map(key)
      .sortBy(p => (p._1, p._2))
    assert(full.nonEmpty, "planted subset-dup not found by the base form")
    assert(pref.toSeq == full.toSeq)
  }

  test("containment finds a planted subset-dup that Jaccard misses") {
    // short doc = an exact 12-word excerpt of a much longer doc: every
    // shingle of the excerpt appears in the host, so containment = 1.0
    // while Jaccard ~ |A|/|B| is far below any useful tau
    val long = docs.orderBy(desc("n_chars")).select($"doc_id", $"text")
      .as[(Long, String)].head()
    val excerpt = long._2.split(" ").slice(3, 15).mkString(" ")
    val planted = Seq((900001L, excerpt)).toDF("doc_id", "text")
    val corpus = docs.select("doc_id", "text").unionByName(planted)

    val cont = Dedup.containmentPairs(corpus, col("doc_id"), col("text"),
        k = 3, tau = 0.9)
      .filter($"doc_a" === long._1 && $"doc_b" === 900001L)
      .collect()
    assert(cont.length == 1)
    val r = cont.head
    assert(r.getAs[Double]("cont_b_in_a") == 1.0) // excerpt fully contained
    assert(r.getAs[Double]("containment") == 1.0)
    // symmetric Jaccard on the same pair is below the dedup threshold
    val jac = Dedup.jaccardPairs(corpus, col("doc_id"), col("text"),
        k = 3, tau = 0.0001)
      .filter($"doc_a" === long._1 && $"doc_b" === 900001L)
      .select($"jaccard").as[Double].collect()
    assert(jac.headOption.forall(_ < 0.5))
  }

  test("simhash: identical docs distance 0; pairs verified <= maxDist") {
    // identical text => identical simhash
    val dup = docs.select(($"doc_id" + 100000).as("doc_id"), $"text")
    val both = docs.select("doc_id", "text").unionByName(dup)
    val pairs = Dedup.simhashPairs(both, col("doc_id"), col("text"),
      maxDist = 0)
    val exactPairs = pairs.filter($"hamming" === 0).count()
    assert(exactPairs >= docs.count()) // each dup pair at distance 0
    // reported pairs respect the bound
    val p6 = Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxDist = 6)
    assert(p6.filter($"hamming" > 6).count() == 0)
  }

  test("simhash combination blocking: brute-force recall + >=16-bit keys") {
    // exact parity vs the all-pairs brute force: pigeonhole says every
    // pair within maxDist shares at least one m-of-b chunk key, and the
    // bit_count verify drops everything beyond maxDist — the two sets
    // must be EQUAL, at an m=1 maxDist and an m=2 one
    val sh = Dedup.simhashes(docs, col("doc_id"), col("text"))
    val a = sh.select($"doc_id".as("ia"), $"sh".as("ha"))
    val b = sh.select($"doc_id".as("ib"), $"sh".as("hb"))
    for (maxDist <- Seq(3, 6)) {
      val brute = a.join(b, $"ia" < $"ib")
        .select($"ia", $"ib",
          bit_count($"ha".bitwiseXOR($"hb")).cast("int").as("d"))
        .filter($"d" <= maxDist)
        .as[(Long, Long, Int)].collect().toSet
      val found = Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxDist)
        .select($"doc_a", $"doc_b", $"hamming".cast("int"))
        .as[(Long, Long, Int)].collect().toSet
      assert(found == brute,
        s"maxDist=$maxDist missed=${(brute -- found).size} " +
          s"extra=${(found -- brute).size}")
    }
    // keyspace: naive maxDist+1 banding keys on 9 bits at maxDist=6
    // (candidates ~ n^2/512); combination keys must reach >= 16 bits
    // through maxDist=12
    (0 to 12).foreach { d =>
      assert(Dedup.simhashKeyWidth(d) >= 16,
        s"maxDist=$d key width ${Dedup.simhashKeyWidth(d)} < 16")
    }
  }

  test("native sketch projections equal the explode/groupBy references") {
    // includes a null-text row: both forms must drop it identically
    val docs = this.docs.select($"doc_id", $"text")
      .unionByName(Seq((999999L, null: String)).toDF("doc_id", "text"))
    val sigNew = Dedup.minhashSignatures(docs, col("doc_id"), col("text"),
      k = 3, perms = 32)
    val sigRef = Dedup.minhashSignaturesAgg(docs, col("doc_id"), col("text"),
      k = 3, perms = 32)
    val sigBad = sigNew.withColumnRenamed("sig", "s1")
      .join(sigRef.withColumnRenamed("sig", "s2"), "doc_id", "full_outer")
      .filter($"s1".isNull || $"s2".isNull || $"s1" =!= $"s2").count()
    assert(sigBad == 0)

    val shNew = Dedup.simhashes(docs, col("doc_id"), col("text"))
    val shRef = Dedup.simhashesAgg(docs, col("doc_id"), col("text"))
    val shBad = shNew.withColumnRenamed("sh", "h1")
      .join(shRef.withColumnRenamed("sh", "h2"), "doc_id", "full_outer")
      .filter($"h1".isNull || $"h2".isNull || $"h1" =!= $"h2").count()
    assert(shBad == 0)
  }

  test("replayable simhash: pairs equal brute-force Hamming over the " +
      "md5-token fingerprints; md5 shingles hash the joined token windows") {
    val d = docs.limit(120)
    // brute-force ground truth from the same md5-token fingerprints
    val sh = d.filter($"text".isNotNull)
      .select($"doc_id", coalesce(graft.functions.SketchFunctions
        .simhash64(Dedup.md5TokenHashes($"text")), lit(0L)).as("sh"))
    val a = sh.as("a"); val b = sh.as("b")
    val brute = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter($"hamming" <= 6)
      .as[(Long, Long, Int)].collect().toSet
    val got = Dedup.simhashPairsReplayable(d, col("doc_id"), col("text"),
        maxDist = 6)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brute, s"blocked=${got.size} brute=${brute.size}")

    // one-pass native shingle/window digests equal the composed forms
    // over the full corpus (incl. runs of spaces and short docs)
    val probe = docs.select($"text")
      .unionByName(Seq("a  b   c d", "x", "", "one two").toDF("text"))
    val shBad = probe.select(
        Dedup.md5ShingleHashes($"text", 3).as("nat"),
        Dedup.md5ShingleHashesComposed($"text", 3).as("ref"))
      .where($"nat" =!= $"ref").count()
    assert(shBad == 0, "native word-shingle digests drifted from composed")
    val cwBad = probe.select(
        graft.functions.HashFunctions
          .md5_char_window_heads63($"text", 16).as("nat"),
        when(char_length($"text") >= 16,
          transform(sequence(lit(1), char_length($"text") - 15),
            i => graft.functions.HashFunctions.md5_head63(
              $"text".substr(i, lit(16)))))
          .otherwise(array().cast("array<bigint>")).as("ref"))
      .where($"nat" =!= $"ref").count()
    assert(cwBad == 0, "native char-window digests drifted from composed")

    // md5ShingleHashes = md5_head63 of each space-joined token window
    val k = 3
    val text = "w1 w2 w3 w4 w5"
    val expect = (0 to 2).map { i =>
      graft.functions.HashUtil.md5head63(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          text.split(" ").slice(i, i + k).mkString(" ")))
    }
    val got2 = Seq(text).toDF("text")
      .select(Dedup.md5ShingleHashes($"text", k).as("h"))
      .head().getSeq[Long](0)
    assert(got2 == expect)
    // < k tokens -> empty array (mirrors word_shingle_hashes)
    assert(Seq("one two").toDF("text")
      .select(Dedup.md5ShingleHashes($"text", k))
      .head().getSeq[Long](0).isEmpty)
  }

  test("replayable incremental minhash: cross-batch near-dup drops, " +
      "hasher is part of the index contract") {
    val dir = tmpDir("mh-md5")
    val idx = s"$dir/idx"
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val b1 = Seq((1L, base), (2L, "completely different text body here"))
      .toDF("doc_id", "text")
    val k1 = Dedup.minhashKeepIncremental(b1, "doc_id", "text", idx,
      tau = 0.5, replayableHash = true)
    assert(k1.count() == 2)
    // batch 2: a near-copy of doc 1 must drop against the INDEX alone
    val b2 = Seq((10L, base + " tail"), (11L, "novel unrelated content"))
      .toDF("doc_id", "text")
    val k2 = Dedup.minhashKeepIncremental(b2, "doc_id", "text", idx,
      tau = 0.5, replayableHash = true)
    assert(k2.select("doc_id").as[Long].collect().sorted.toSeq == Seq(11L))
    // probing an md5 index with the xxhash hasher must fail loud
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashKeepIncremental(b2, "doc_id", "text", idx, tau = 0.5)
    }
    assert(e.getMessage.contains("hash=md5"))
  }

  test("minhash signature build plan has no shuffle") {
    val plan = Dedup.minhashSignatures(docs, col("doc_id"), col("text"),
      3, 32).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected map-only plan:\n$plan")
  }

  test("incremental dedup: cross-batch suppression via the hash index") {
    val dir = tmpDir("dedup-idx")
    val idx = s"$dir/hash_index"
    val b1 = Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "alpha beta"))
      .toDF("doc_id", "text")
    val k1 = Dedup.exactKeepIncremental(b1, "doc_id", "text", idx)
    // batch-internal dedup: min id survives
    assert(k1.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    // batch 2: one historical dup, one in-batch dup pair, one new
    val b2 = Seq((10L, "gamma"), (11L, "delta"), (12L, "delta"),
        (13L, "epsilon"))
      .toDF("doc_id", "text")
    val k2 = Dedup.exactKeepIncremental(b2, "doc_id", "text", idx)
    assert(k2.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(11L, 13L))
    // replaying the same batch is a no-op (idempotent index append)
    val k3 = Dedup.exactKeepIncremental(b2, "doc_id", "text", idx)
    assert(k3.isEmpty)
    // index holds exactly the distinct hashes ever admitted
    assert(spark.read.parquet(idx).count() == 4)
  }

  test("incremental NEAR-dup: LSH index suppression, replay-stable") {
    val dir = tmpDir("neardup-idx")
    val idx = s"$dir/lsh_index"
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val nearBase = (1 to 19).map(i => s"tok$i").mkString(" ") + " CHANGED"
    val other = (1 to 20).map(i => s"zzz$i").mkString(" ")
    // batch 1: 1 ~ 2 (one word off), 3 unrelated, 4 too short to shingle
    val b1 = Seq((1L, base), (2L, nearBase), (3L, other), (4L, "xy"))
      .toDF("doc_id", "text")
    val k1 = Dedup.minhashKeepIncremental(b1, "doc_id", "text", idx,
      tau = 0.5)
    assert(k1.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L))
    // batch 2: 10 near-dups the INDEXED doc 1; 11 is new; 12 is short
    val b2 = Seq((10L, base + " TAIL"), (11L, (1 to 20)
        .map(i => s"qqq$i").mkString(" ")), (12L, "ab"))
      .toDF("doc_id", "text")
    val k2 = Dedup.minhashKeepIncremental(b2, "doc_id", "text", idx,
      tau = 0.5)
    assert(k2.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(11L, 12L))
    // replaying batch 2 returns the SAME survivors (same-id index
    // entries are excluded, so 11 doesn't self-match)
    val k3 = Dedup.minhashKeepIncremental(b2, "doc_id", "text", idx,
      tau = 0.5)
    assert(k3.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(11L, 12L))
    // index holds bands only for admitted, shingle-able docs: 1, 3, 11
    val indexed = spark.read.parquet(idx).select("doc_id")
      .distinct().as[Long].collect().sorted.toSeq
    assert(indexed == Seq(1L, 3L, 11L))
    // probing with DIFFERENT (k, perms, bands) than the index was built
    // with fails loudly instead of silently missing cross-batch dups
    val mismatch = intercept[IllegalArgumentException] {
      Dedup.minhashKeepIncremental(b2, "doc_id", "text", idx,
        tau = 0.5, perms = 16, bands = 4)
    }
    assert(mismatch.getMessage.contains("built with"))
    // matching parameters still work after the failed probe
    val k4 = Dedup.minhashKeepIncremental(b2, "doc_id", "text", idx,
      tau = 0.5)
    assert(k4.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(11L, 12L))
  }

  test("hash split: deterministic, ratio-true, SQL formula parity") {
    import graft.operators.Sampling
    val split = Sampling.hashSplit(docs, col("doc_id"),
      Seq(("train", 80), ("val", 10), ("test", 10)))
    // every row assigned, assignment invariant under repartitioning
    assert(split.filter($"split".isNull).isEmpty)
    val a = split.select($"doc_id", $"split")
    val b = Sampling.hashSplit(docs.repartition(7), col("doc_id"),
      Seq(("train", 80), ("val", 10), ("test", 10)))
      .select($"doc_id", $"split")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // ratios within binomial noise on the 500-doc fixture
    val n = docs.count().toDouble
    val train = split.filter($"split" === "train").count()
    assert(train > n * 0.7 && train < n * 0.9, s"train=$train of $n")
    // the SQL text formula computes the identical bucket
    docs.select(md5($"doc_id".cast("string")).as("h"),
        Sampling.hashBucket($"doc_id").as("b"))
      .createOrReplaceTempView("hb")
    val mismatch = spark.sql(
      s"SELECT * FROM hb WHERE ${Sampling.hashBucketSql("doc_id")} != b")
    assert(mismatch.isEmpty)
    // validation: percents must sum to 100
    intercept[IllegalArgumentException](
      Sampling.hashSplit(docs, col("doc_id"), Seq(("a", 50), ("b", 40))))
  }

  test("sequence packing: contiguous within shard, deterministic") {
    import graft.operators.Packing
    def pack(df: org.apache.spark.sql.DataFrame) =
      Packing.packSequences(df, col("doc_id"),
          size(TextAnalysis.tokens(col("text"))), capTokens = 512,
          shards = 4)
        .select($"doc_id", $"shard", $"n_tok", $"seq_id", $"tok_offset")
    val rows = pack(docs).orderBy($"shard", $"doc_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.length == docs.count())
    // contiguity: replaying each shard's docs in order reproduces every
    // (seq_id, tok_offset) from the running token count
    rows.groupBy(_._2).foreach { case (_, rs) =>
      var cum = 0L
      rs.foreach { case (_, _, n, seq, off) =>
        assert(seq == cum / 512 && off == cum % 512)
        assert(off < 512)
        cum += n
      }
    }
    // layout invariant under input repartitioning
    val again = pack(docs.repartition(5)).orderBy($"shard", $"doc_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.sameElements(again))
  }

  test("connected components: chains, stars, singletons") {
    // graph: chain 1-2-3-4, star 10-{11,12}, singleton 99
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L))
      .toDF("a", "b")
    val comp = Dedup.connectedComponents(nodes, pairs, "id", "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L))
    assert(comp(99L) == 99L)
  }

  test("connected components: 150-link chain converges in O(log n) rounds") {
    // min-label alone needs ~n rounds on a chain and would blow
    // maxIter=20; pointer jumping must close it well inside the budget
    val n = 150
    val nodes = (1 to n).map(_.toLong).toDF("id")
    val pairs = (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    val comp = Dedup.connectedComponents(nodes, pairs, "id", "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(comp.size == n && comp.values.forall(_ == 1L))
    // non-convergence is an error, never a silent partial answer
    intercept[IllegalStateException] {
      Dedup.connectedComponents(nodes, pairs, "id", "a", "b", maxIter = 2)
        .count()
    }
  }

  test("connected components: partition-local contraction is layout-blind") {
    // the r11 union-find pre-pass emits per-partition stars, so the
    // intermediate edge set DEPENDS on partitioning — the converged
    // labels must not. Stress it: one long chain sliced across many
    // partitions, plus duplicate pairs, reversed pairs and self-pairs.
    val n = 120
    val nodes = (1 to n).map(_.toLong).toDF("id")
    val chain = (1 until n).map(i => (i.toLong, i.toLong + 1))
    val noisy = chain ++ chain.map(_.swap) ++ Seq((5L, 5L), (7L, 7L)) ++
      chain.take(10)
    for (parts <- Seq(1, 3, 16)) {
      val pairs = noisy.toDF("a", "b").repartition(parts)
      val comp = Dedup.connectedComponents(nodes, pairs, "id", "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(comp.size == n && comp.values.forall(_ == 1L),
        s"parts=$parts broke contraction")
    }
  }

  test("winnowing: shared substrings of length >= w+k-1 share a fingerprint") {
    val k = 8; val w = 4
    val core = "the quick brown fox jumps over the lazy dog"
    val a = "AAAA " + core + " BBBB"
    val b = "XXXXXXX " + core + " YY"
    val fa = TextAnalysis.winnow(TextAnalysis.rollingHash(a, k), w).toSet
    val fb = TextAnalysis.winnow(TextAnalysis.rollingHash(b, k), w).toSet
    assert((fa intersect fb).nonEmpty) // core >> w+k-1 chars
    // unrelated text shares nothing
    val fc = TextAnalysis.winnow(
      TextAnalysis.rollingHash("completely different content 123", k), w).toSet
    assert((fa intersect fc).isEmpty)
    // degenerate inputs
    assert(TextAnalysis.winnow(Array.empty, w).isEmpty)
    assert(TextAnalysis.winnow(Array(5L, 3L), w).sameElements(Array(3L)))
  }

  test("rolling hash: shift-invariant window equality") {
    val h1 = TextAnalysis.rollingHash("abcdefgh", 4)
    val h2 = TextAnalysis.rollingHash("XYabcdefgh", 4)
    // windows "abcd".."efgh" appear in both, offset by 2
    assert(h1.length == 5 && h2.length == 7)
    (0 until 5).foreach(i => assert(h1(i) == h2(i + 2)))
    // distinct windows hash differently here
    assert(h1.distinct.length == h1.length)
    assert(TextAnalysis.rollingHash("abc", 4).isEmpty)
  }

  test("char_window_hashes: shift-invariance, short-input, codegen=eval") {
    import graft.functions.ShingleFunctions.char_window_hashes
    val df = Seq("abcdefgh", "XYabcdefgh", "abc").toDF("t")
    val rows = df.select(char_window_hashes($"t", 4)).as[Seq[Long]].collect()
    assert(rows(0).length == 5 && rows(1).length == 7 && rows(2).isEmpty)
    (0 until 5).foreach(i => assert(rows(0)(i) == rows(1)(i + 2)))
    // interpreted eval agrees with the codegen'd path
    val interp = graft.functions.CharWindowHashUtil
      .charWindowHashes(org.apache.spark.unsafe.types.UTF8String
        .fromString("abcdefgh"), 4).toLongArray().toSeq
    assert(interp == rows(0))
  }

  test("duplicateSpans: planted cross-doc run found; overlaps merge; " +
      "within-doc repeats alone do not fire") {
    val shared = "0123456789ABCDEFGHIJ" // 20 chars, window 10 => 11 windows
    val docs = Seq(
      (1L, s"aaaaaaaaaa${shared}bbbbbbbbbb"),          // run at 11..30
      (2L, s"cccc${shared}dddddddddddddddd"),          // run at 5..24
      (3L, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"), // unique
      (4L, "qqqqqqqqqqqqqqqqqqqqqqqqqqqqqq")            // self-repetitive only
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", col("text"), window = 10)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long)].collect()
    assert(spans.toSeq == Seq((1L, 11L, 30L), (2L, 5L, 24L)),
      spans.mkString(","))
    // minDocs = 3 excludes a 2-doc run
    assert(Dedup.duplicateSpans(docs, "doc_id", col("text"),
      window = 10, minDocs = 3).count() == 0)
  }

  test("duplicateSpans: exact-duplicate docs produce full-length spans") {
    val text = "the quick brown fox jumps over the lazy dog again"
    val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", col("text"), window = 8)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(spans == Seq((1L, 1L, text.length.toLong),
      (2L, 1L, text.length.toLong)))
  }

  test("priorityKeep: trusted source wins its key; unlisted sources " +
      "rank after all listed; deterministic under repartitioning") {
    val rows = Seq(
      // key k1 in three sources: curated must beat raw and unlisted
      (1L, "raw", "k1"), (2L, "curated", "k1"), (3L, "zzz", "k1"),
      // key k2 only in unlisted sources: (source, id) lexicographic
      (4L, "bbb", "k2"), (5L, "aaa", "k2"), (6L, "aaa", "k2"),
      // key k3 single row survives untouched
      (7L, "raw", "k3"))
    val df = rows.toDF("id", "source", "key")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.priorityKeep(d, "id", col("key"), "source",
          Seq("curated", "raw"))
        .select($"id").as[Long].collect().toSeq.sorted
    val got = run(df)
    // k1 -> curated id 2; k2 -> source aaa, min id 5; k3 -> 7
    assert(got == Seq(2L, 5L, 7L))
    assert(run(df.repartition(5)) == got)
    // a listed source present loses to a better-listed one even with a
    // smaller id (priority dominates the id tie-break)
    val g2 = graft.operators.Dedup.priorityKeep(
        Seq((1L, "raw", "k"), (9L, "curated", "k")).toDF("id", "source", "key"),
        "id", col("key"), "source", Seq("curated", "raw"))
      .select($"id").as[Long].collect().toSeq
    assert(g2 == Seq(9L))
  }

  test("sink-first ingest loop: a crash at EITHER position, then batch " +
      "redelivery, loses no row and duplicates none") {
    import graft.sinks.VersionedTable
    val base = tmpDir("crashpos")
    val root = s"$base/lake"; val idx = s"$base/index"
    def lake() = VersionedTable.read(spark, root)
      .select($"id").as[Long].collect().toSet
    def ingest(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val staged = graft.operators.Dedup.exactKeepStage(b, "id", "text", idx)
      VersionedTable.appendBatch(staged.select($"id"), root, id)
      graft.operators.Dedup.exactKeepCommit(staged, idx)
    }
    // batch 0 lands normally
    ingest(Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text"), 0L)
    assert(lake() == Set(1L, 2L))

    // CRASH POSITION A — after the lake commit, BEFORE the index upsert
    val b1 = Seq((2L, "beta"), (3L, "gamma"), (4L, "delta"))
      .toDF("id", "text")
    val staged1 = graft.operators.Dedup.exactKeepStage(b1, "id", "text", idx)
    VersionedTable.appendBatch(staged1.select($"id"), root, 1L)
    // <- process dies here: survivors {3,4} are in the lake, index
    //    still doesn't know their hashes
    assert(lake() == Set(1L, 2L, 3L, 4L), "pre-crash commit visible")
    // REDELIVERY of batch 1: the stage recomputes the SAME survivors
    // (index never learned them), the lake skips the committed batch id
    // (no duplicates), the index re-apply is an idempotent upsert
    val staged1r = graft.operators.Dedup.exactKeepStage(b1, "id", "text", idx)
    assert(staged1r.select($"id").as[Long].collect().toSet == Set(3L, 4L))
    assert(VersionedTable.appendBatch(staged1r.select($"id"), root, 1L)
      .isEmpty, "committed batch id must be skipped on redelivery")
    graft.operators.Dedup.exactKeepCommit(staged1r, idx)
    assert(lake() == Set(1L, 2L, 3L, 4L), "no loss, no duplicate")

    // CRASH POSITION B — after the stage, BEFORE the lake commit:
    // nothing persisted anywhere, redelivery is a clean first delivery
    val b2 = Seq((4L, "delta"), (5L, "epsilon")).toDF("id", "text")
    graft.operators.Dedup.exactKeepStage(b2, "id", "text", idx) // crash
    val staged2r = graft.operators.Dedup.exactKeepStage(b2, "id", "text", idx)
    assert(staged2r.select($"id").as[Long].collect().toSet == Set(5L))
    assert(VersionedTable.appendBatch(staged2r.select($"id"), root, 2L)
      .nonEmpty)
    graft.operators.Dedup.exactKeepCommit(staged2r, idx)
    assert(lake() == Set(1L, 2L, 3L, 4L, 5L))

    // the index caught up in both cases: every hash now dedups away
    val all = Seq((1L, "alpha"), (3L, "gamma"), (4L, "delta"),
      (5L, "epsilon")).toDF("id", "text")
    assert(graft.operators.Dedup.exactKeepStage(all, "id", "text", idx)
      .isEmpty)
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("minhash banding recall is 1 on the fixture: verified LSH pairs " +
      "equal the exact all-pairs set (the dedup_minhash_lsh oracle " +
      "contract)") {
    val docs = graft.Tables.documents(spark, Sf0)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val exact = pairSet(Dedup.jaccardPairs(docs, col("doc_id"),
      col("text"), k = 3, tau = 0.5))
    val lsh = pairSet(Dedup.minhashVerifiedPairs(docs, col("doc_id"),
      col("text"), k = 3, perms = 32, bands = 16, tau = 0.5))
    assert(lsh.subsetOf(exact), "verify step must force precision 1")
    assert(exact == lsh,
      s"banding missed ${(exact -- lsh).take(5)} — recall < 1 breaks " +
        "the gate's oracle equality")
  }

  test("minhash permutations are decorrelated: a near-identical pair " +
      "whose extra element has the SMALLEST base hash still agrees on " +
      "~J of its slots (regression: sequential small multipliers let " +
      "that element dominate every slot)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val base = (1 to 19).map(i => 1000L * 104729L * i).toArray
    val withTiny = base :+ 5L // smallest h by far -> old perms: all mins
    def sig(xs: Array[Long]) = graft.functions.SketchUtil
      .minhashSig(new GenericArrayData(xs), 64)
    val sa = sig(base); val sb = sig(withTiny)
    val agree = (0 until 64).count(i => sa.getLong(i) == sb.getLong(i))
    // J = 19/20 = 0.95; binomial(64, 0.95) below 45 is ~impossible,
    // while the correlated-perm bug scored ~0 here
    assert(agree >= 45, s"only $agree/64 slots agree — perms correlated")
  }
}
