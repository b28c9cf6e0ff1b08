package graft

import graft.operators.TextIndex
import org.apache.spark.sql.functions._

/** Pins the trigram-postings substring index: exact parity with a
  * contains() scan on real fixture text (the index can only add
  * collision candidates, verify must scrub them), actual candidate
  * pruning, the short-pattern fallback, and code-point (not UTF-16)
  * windowing. */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, Sf0)
  private lazy val postings =
    TextIndex.buildPostings(docs, "doc_id", col("text")).cache()

  private def scanIds(pattern: String): Seq[Long] =
    docs.filter(col("text").contains(pattern))
      .select($"doc_id").as[Long].collect().sorted.toSeq

  private def searchIds(pattern: String): Seq[Long] =
    TextIndex.search(postings, docs, "doc_id", col("text"), pattern)
      .select($"doc_id").as[Long].collect().sorted.toSeq

  test("index search == contains() scan for phrases, words, and misses") {
    for (p <- Seq("merge batch", "table", "scan slow fast",
      "no such needle", "row scan")) {
      assert(searchIds(p) == scanIds(p), s"parity broke for '$p'")
    }
  }

  test("probing is selective: candidates far fewer than the corpus") {
    val n = docs.count()
    val c = TextIndex.candidates(postings, spark, "merge batch").count()
    val hits = scanIds("merge batch").size.toLong
    assert(c >= hits, "candidates must cover every true match")
    assert(c < n / 2, s"index should prune: $c candidates of $n docs")
  }

  test("short patterns fall back to a scan, same semantics") {
    assert(searchIds("ta") == scanIds("ta"))
    intercept[IllegalArgumentException] {
      TextIndex.patternHashes(spark, "ab")
    }
  }

  test("code-point windows: supplementary chars count as one") {
    val emoji = Seq((1L, "a😀b see"), (2L, "plain text here"))
      .toDF("doc_id", "text")
    val p = TextIndex.buildPostings(emoji, "doc_id", col("text"))
    // "a<emoji>b" is 3 code points -> indexable as one trigram
    val out = TextIndex
      .search(p, emoji, "doc_id", col("text"), "a😀b")
      .select($"doc_id").as[Long].collect().toSeq
    assert(out == Seq(1L))
  }

  test("incremental persisted index: batches accrue, replays are no-ops") {
    val dir = tmpDir("tidx") + "/idx"
    val b1 = Seq((1L, "alpha merge batch beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val b2 = Seq((3L, "the merge batch returns"), (4L, "unrelated words"))
      .toDF("doc_id", "text")
    TextIndex.appendPostings(b1, "doc_id", col("text"), dir)
    TextIndex.appendPostings(b2, "doc_id", col("text"), dir)
    TextIndex.appendPostings(b2, "doc_id", col("text"), dir) // replay
    val all = b1.unionByName(b2)
    val out = TextIndex
      .searchIndexed(dir, all, "doc_id", col("text"), "merge batch")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 3L))
    // replayed batch added no duplicate postings
    val p = spark.read.parquet(dir)
    assert(p.count() == p.distinct().count())
  }

  test("phraseSearch: adjacency only, duplicate terms, positions exact") {
    val corpus = Seq(
      (1L, "the cat the dog"),   // "the cat the" at 0
      (2L, "the cat the cat the"), // matches at 0 and 2
      (3L, "cat the the cat"),   // no "the cat the" run
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val r = TextIndex.phraseSearch(corpus, "doc_id", col("text"),
        Seq("the", "cat", "the"))
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((1L, 1L, 0L), (2L, 2L, 0L)))
    // single-term phrase degenerates to term positions
    val one = TextIndex.phraseSearch(corpus, "doc_id", col("text"),
        Seq("dog")).orderBy("doc_id").collect()
    assert(one.map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      .toSeq == Seq((1L, 1L, 3L)))
  }

  test("bm25TopK: rarity, saturation, and length normalization") {
    import graft.operators.TextAnalysis
    val corpus = Seq(
      (1L, "rare word pad pad pad pad"),        // one rare hit, long
      (2L, "rare word"),                        // one rare hit, short
      (3L, "common common common common pad"),  // saturated common hits
      (4L, "common pad"),
      (5L, "pad pad pad pad pad pad pad"),
      (6L, "common rare pad")                   // both terms
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(corpus, "doc_id", col("text"),
        Seq("rare", "common"), k = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val ids = got.map(_._1).toSeq
    // doc 6 (both terms) first; 5 (no hits) absent entirely
    assert(ids.head == 6L && !ids.contains(5L))
    val score = got.toMap
    // length normalization: same single 'rare' hit, shorter doc wins
    assert(score(2L) > score(1L))
    // tf saturation: 4x'common' beats 1x but nowhere near 4x the score
    assert(score(3L) > score(4L) &&
      score(3L).toDouble / score(4L) < 2.5)
    // replay the exact integer formula for one cell: doc 2, 'rare'
    // (df=3, D=6, A=25 total tokens, tf=1, dl=2)
    val a = 25L; val dTot = 6L; val dl = 2L; val tf = 1L
    val idf2 = graft.functions.FixedLog.log2Fp(2 * dTot + 2) -
      graft.functions.FixedLog.log2Fp(2 * 3 + 1)
    val rare2 = (BigInt(idf2) * 44 * a * tf /
      (BigInt(a) * 20 * tf + BigInt(a) * 6 + BigInt(dl) * 18 * dTot))
      .toLong
    assert(score(2L) == rare2, s"got ${score(2L)} want $rare2")
  }

  test("rakePhrases: run segmentation and exact deg/freq fixed point") {
    import graft.operators.TextAnalysis
    val corpus = Seq(
      (1L, "deep learning of deep networks"),
      (2L, "deep")).toDF("doc_id", "text")
    val got = TextAnalysis.rakePhrases(corpus, "doc_id", col("text"),
        stop = Seq("of"), k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toList
    // deg(deep)=2+2+1=5 freq=3 -> wfp=floor(5*2^20/3); learning/
    // networks: deg=2 freq=1 -> 2*2^20
    val wDeep = 5L * (1L << 20) / 3
    val w2 = 2L * (1L << 20)
    assert(got.map(_._1).toSet ==
      Set("deep learning", "deep networks", "deep"))
    val m = got.map(x => x._1 -> x).toMap
    assert(m("deep learning")._4 == wDeep + w2)
    assert(m("deep")._4 == wDeep && m("deep")._2 == 1L)
    // multi-word phrases outrank the bare common word
    assert(got.head._1 != "deep")
  }

  test("null text is indexable corpus-side and never matches") {
    val d = Seq((1L, "has merge batch inside"))
      .toDF("doc_id", "text")
      .unionByName(Seq((2L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val p = TextIndex.buildPostings(d, "doc_id", col("text"))
    val out = TextIndex.search(p, d, "doc_id", col("text"), "merge batch")
      .select($"doc_id").as[Long].collect().toSeq
    assert(out == Seq(1L))
  }

  test("minCoverSpan: brute-force parity on seeded corpora; absent " +
      "term excludes the doc") {
    import graft.operators.TextIndex
    val terms = Seq("a", "b", "c")
    val rnd = new scala.util.Random(17)
    val alphabet = Vector("a", "b", "c", "x", "y")
    val txts = (1L to 120L).map(i =>
      (i, (1 to 2 + rnd.nextInt(25))
        .map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString(" ")))
    def brute(t: String): Option[(Long, Long)] = {
      val toks = t.split(" ")
      val covers = for {
        j <- toks.indices if terms.contains(toks(j))
        starts = terms.map(q => (0 to j).filter(i => toks(i) == q))
        if starts.forall(_.nonEmpty)
      } yield j - starts.map(_.max).min + 1
      if (covers.isEmpty) None
      else Some((covers.size.toLong, covers.min.toLong))
    }
    val got = TextIndex.minCoverSpan(txts.toDF("id", "t"), "id", $"t",
        terms)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    txts.foreach { case (id, t) =>
      assert(got.get(id) == brute(t), s"doc $id: '$t'")
    }
    // sanity on a known layout: cover of the adjacent run is |terms|
    val tight = TextIndex.minCoverSpan(
        Seq((1L, "x a y b c a z")).toDF("id", "t"), "id", $"t", terms)
      .as[(Long, Long, Long)].collect().head
    // covers end at c(pos4): [a1..c4] = 4, and at a(pos5):
    // [b3..a5] = 3 — the sweep must find the tighter trailing window
    assert(tight == ((1L, 2L, 3L)))
  }

  test("rrfFuse: exact reciprocal fixed point, per-query partitions, " +
      "agreement count") {
    import graft.operators.Retrieval
    // two per-query ranked lists; doc 10 is rank 1 in both for q1
    val a = Seq(("q1", 10L, 5L), ("q1", 11L, 3L), ("q2", 12L, 9L))
      .toDF("q", "id", "s")
    val b = Seq(("q1", 10L, 0.9), ("q1", 12L, 0.8), ("q2", 12L, 0.7))
      .toDF("q", "id", "s")
    val ra = Retrieval.rankOf(a, Seq("q"), Seq($"s".desc, $"id"))
    val rb = Retrieval.rankOf(b, Seq("q"), Seq($"s".desc, $"id"))
    val out = Retrieval.rrfFuse(Seq(ra, rb), "id", by = Seq("q"))
      .orderBy($"q", $"id")
      .as[(String, Long, Long, Long)].collect().toSeq
    def fp(rank: Long) = (1L << 20) / (rank + 60)
    assert(out == Seq(
      ("q1", 10L, 2L, 2 * fp(1)),
      ("q1", 11L, 1L, fp(2)),
      ("q1", 12L, 1L, fp(2)),
      ("q2", 12L, 2L, 2 * fp(1))))
    // both-lists doc must outrank any single-list doc at these depths:
    // 2/(61) > 1/(61) always, and the paper bound holds for k=60
    assert(out.filter(_._1 == "q1").maxBy(_._4)._2 == 10L)
  }

  private def fuzzy(vocab: Seq[String], qs: Seq[String], d: Int)
      : Seq[(String, String, Long)] =
    TextIndex.fuzzyLookup(vocab.toDF("w"), "w", qs.toDF("q"), "q", d)
      .as[(String, String, Long)].collect().toSeq.sorted

  test("fuzzyLookup == brute-force levenshtein filter (d=1 and d=2)") {
    // small vocab where all edit kinds occur: substitution, insertion,
    // deletion, transposition-as-two-edits, and a total miss
    val vocab = Seq("spark", "spork", "sprk", "sharks", "scala", "stark")
    val qs = Seq("spark", "sprak", "shark", "zcala", "qqqqq")
    for (d <- Seq(1, 2)) {
      val brute = (for (q <- qs.distinct; w <- vocab.distinct) yield {
        val dist = levDist(q, w)
        (q, w, dist.toLong)
      }).filter(_._3 <= d).sorted
      assert(fuzzy(vocab, qs, d) == brute, s"d=$d")
    }
  }

  test("fuzzyLookup plan: the distance bound prunes IN the join (before " +
      "the dedup exchange), the projection computes it once more") {
    val plan = TextIndex.fuzzyLookup(Seq("spark").toDF("w"), "w",
        Seq("spork").toDF("q"), "q", 1)
      .queryExecution.optimizedPlan.toString
    // Catalyst hoists `levenshtein <= d` into the join condition — the
    // early prune documented in the scaladoc; exactly one more
    // evaluation (the output column) may appear above the Aggregate
    val n = "levenshtein".r.findAllIn(plan).size
    assert(n == 2, s"levenshtein appears $n times:\n$plan")
    assert(plan.contains("Join Inner, ((levenshtein"), plan)
  }

  test("fuzzyLookup: duplicates collapse; nulls and empties are safe") {
    val out = fuzzy(Seq("ab", "ab", "abc"), Seq("ab", "ab"), 1)
    assert(out == Seq(("ab", "ab", 0L), ("ab", "abc", 1L)))
    // null query/vocab rows drop; 1-char words share the "" deletion
    // key (kept on purpose — SymSpell completeness for length-<=d words)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("w", StringType, true)))
    val v = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("a"), Row(null))), sch)
    val q = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("a"), Row(null))), sch)
    val got = TextIndex.fuzzyLookup(v, "w", q, "w", 1)
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("a", "a", 0L)))
    // completeness through the "" key: dist("a","b") = 1 and their ONLY
    // shared deletion variant is the empty string
    val ab = fuzzy(Seq("a", "b"), Seq("a"), 1)
    assert(ab == Seq(("a", "a", 0L), ("a", "b", 1L)))
  }

  /** Reference Levenshtein for the brute-force cross-check. */
  private def levDist(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }
}
