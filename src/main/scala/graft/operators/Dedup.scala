package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB): every variant is a shuffle-on-key plan — no
  * driver-side materialization, no cross joins. Exact dedup shuffles on a
  * 128-bit content hash (never the full text). Near-dup variants generate
  * candidate pairs through an inverted index (shingle / LSH band / SimHash
  * band) so the self-join degree is bounded by bucket size, then verify
  * candidates exactly. AQE handles residual bucket skew.
  */
object Dedup {

  /** Optimizer fence for expensive computed arrays that feed an explode +
    * equi-join: returns `arr` unchanged but NON-DETERMINISTIC, so
    * predicate pushdown cannot substitute the projection away — the
    * generator/constraint-inferred `size(...) > 0 / isnotnull(...)`
    * filters then evaluate on the projected ATTRIBUTE (the array already
    * in hand) instead of re-running the full shingle-hash chain inside
    * the parquet scan as a DataFilter (the round-4/5 computed-column
    * trap; PlanDump showed the postings scans of the Jaccard family
    * evaluating `array_distinct(word_shingle_hashes(text))` twice per
    * row). The value is ALWAYS exactly `arr`: whichever branch the
    * gaussian draw takes, the coalesce lands on `arr` — the identity
    * holds unconditionally, the non-determinism marker is all that
    * remains. `randn()` rather than `rand()`: Spark 4's OptimizeRand
    * bounds-folds rand comparisons (`rand() < 2` → true, verified, and
    * the trap returns with it), while the gaussian is unbounded so no
    * rule can fold it. Cost: one PRNG draw per row (an earlier
    * `shuffle(arr)` fence drew per ELEMENT — measurably slower on long
    * shingle sets). PlanSpec pins the fenced plans. */
  private[graft] def fence(arr: Column): Column =
    coalesce(when(randn() < 1e9, arr), arr)

  /** Exact dedup groups: one row per distinct content hash with the
    * surviving doc id (min) and duplicate count. */
  def exactGroups(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(text).as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dups"))

  /** The deduplicated table: first (min-id) row per distinct content. */
  def exactKeep(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Cross-source duplicate survivorship by SOURCE PRIORITY: when the
    * same `key` (canonical URL, content hash, entity id...) appears in
    * several sources, keep the copy from the most-trusted source — the
    * mixture-hygiene rule real crawl pipelines apply (a curated dump
    * beats a raw scrape of the same resource). `priority` lists sources
    * best-first; unlisted sources rank after ALL listed ones, and ties
    * break (source, id) lexicographically so the survivor set is
    * deterministic under any partitioning.
    *
    * Scale shape: one key-keyed aggregate whose min-struct combiner is
    * map-side partial (a hot key reduces before the exchange), then a
    * semi-join on the id — never a window over the full corpus. */
  def priorityKeep(df: DataFrame, idCol: String, key: Column,
      sourceCol: String, priority: Seq[String]): DataFrame = {
    require(priority.nonEmpty && priority.distinct.size == priority.size,
      s"priority must be non-empty and distinct: $priority")
    val rank = priority.zipWithIndex
      .foldRight(lit(priority.size).cast("int"): Column) {
        case ((sv, i), acc) =>
          when(col(sourceCol) === sv, lit(i)).otherwise(acc)
      }
    val keyed = df.withColumn("__pk", key)
    val winners = keyed
      .groupBy(col("__pk"))
      .agg(min(struct(rank.as("r"), col(sourceCol).as("s"),
        col(idCol).as("i"))).as("w"))
      .select(col("w.i").as(idCol))
    keyed.join(winners, Seq(idCol), "left_semi").drop("__pk")
  }

  /** Incremental exact dedup against a persistent hash index — how dedup
    * actually runs in a production ingest loop: each new batch drops rows
    * whose content hash was EVER seen before, then the survivors' hashes
    * append to the index. At 100 TB the historical corpus is never
    * re-read — only the hash-only index joins (column-pruned, one
    * anti-join shuffle), and the index append is idempotent by hash
    * ([[graft.sinks.ParquetUpsert]] keyed on the hash), so replaying a
    * failed batch cannot corrupt it. Returns the surviving rows. */
  def exactKeepIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, indexPath: String): DataFrame = {
    val staged = exactKeepStage(newDocs, idCol, textCol, indexPath)
    exactKeepCommit(staged, indexPath)
    staged.drop("content_hash")
  }

  /** Phase 1 of [[exactKeepIncremental]] for TRANSACTIONAL sinks:
    * compute the batch's survivors (with their `content_hash` column,
    * lineage cut) WITHOUT touching the index. Callers commit their own
    * sink first, then [[exactKeepCommit]] the hashes — index-first
    * ordering has a crash window where a redelivered batch dedups
    * itself away against the half-committed index and its rows are
    * lost forever; sink-first is safe in both crash positions (the
    * sink's idempotence absorbs the redelivery, the index re-commit is
    * an idempotent upsert). */
  def exactKeepStage(newDocs: DataFrame, idCol: String,
      textCol: String, indexPath: String): DataFrame = {
    val spark = newDocs.sparkSession
    val target = new org.apache.hadoop.fs.Path(indexPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hashed = newDocs.withColumn("content_hash", md5(col(textCol)))
    val unseen =
      if (fs.exists(target))
        hashed.join(spark.read.parquet(indexPath), Seq("content_hash"),
          "left_anti")
      else hashed
    // batch-internal dedup (min id per hash); the pin CUTS the plan's
    // lineage to the index files — recomputed after the index write's
    // refreshByPath, it would run against the post-write index and drop
    // everything
    Pin.workingSet(unseen.join(
      unseen.groupBy(col("content_hash")).agg(min(col(idCol)).as(idCol)),
      Seq(idCol, "content_hash"), "left_semi"))
  }

  /** Phase 2 of [[exactKeepIncremental]]: record the staged survivors'
    * hashes in the persistent index (idempotent keyed upsert). */
  def exactKeepCommit(staged: DataFrame, indexPath: String): Unit =
    graft.sinks.ParquetUpsert.upsert(
      staged.select(col("content_hash")).distinct(), indexPath,
      Seq("content_hash"))

  /** Incremental cross-batch NEAR-dup ingest against a persistent
    * MinHash-LSH band index — [[exactKeepIncremental]]'s near-duplicate
    * sibling, the production loop for "drop new docs near-duplicating
    * anything already ingested" without ever re-reading the old corpus.
    *
    * The index holds (band, band_hash, doc_id, sig) — hash-only rows,
    * no text. A new batch: (1) builds signatures map-only (short docs
    * with < k tokens have no signature: trivially unique, kept, never
    * indexed); (2) drops docs whose bands collide with an index entry of
    * a DIFFERENT doc id at estimated Jaccard >= tau (the same-id guard
    * makes a replayed batch return the same survivors instead of
    * self-matching against its own half-written index entries);
    * (3) drops docs matching a LOWER-id doc within the batch (greedy
    * keep-first — over-drops chains, never under-drops, deterministic);
    * (4) appends the survivors' bands to the index idempotently
    * (ParquetUpsert keyed on (band, band_hash, doc_id)). Returns the
    * surviving rows with their original columns.
    *
    * Scale: the index join shuffles band keys only (16 bytes/row + the
    * signature), the batch is bounded, and the historical corpus never
    * rescans — index size is O(total survivors * bands). */
  def minhashKeepIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, indexPath: String, tau: Double, k: Int = 3,
      perms: Int = 32, bands: Int = 8,
      replayableHash: Boolean = false): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1]: $tau")
    require(perms % bands == 0, s"bands must divide perms: $perms/$bands")
    val spark = newDocs.sparkSession
    val target = new org.apache.hadoop.fs.Path(indexPath)
    val hfs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // (k, perms, bands) are BAKED INTO the stored signatures and band
    // hashes: probing an index built with different parameters zips
    // mismatched-length signatures / joins disjoint band hashes, which
    // silently deflates the Jaccard estimate and MISSES cross-batch
    // near-dups instead of failing. The parameters persist in an
    // underscore-prefixed sidecar (invisible to Spark's parquet listing,
    // like _SUCCESS) and must match on every later ingest.
    val paramsFile = new org.apache.hadoop.fs.Path(target,
      "_graft_minhash_params")
    // the hasher is part of the index contract too: md5-replayable and
    // xxhash signatures/band hashes are disjoint value spaces, so probing
    // across them would silently miss every cross-batch near-dup
    val paramsStr = s"k=$k,perms=$perms,bands=$bands" +
      (if (replayableHash) ",hash=md5" else "")
    if (hfs.exists(target)) {
      if (hfs.exists(paramsFile)) {
        val in = hfs.open(paramsFile)
        val stored =
          try scala.io.Source.fromInputStream(in).mkString.trim
          finally in.close()
        require(stored == paramsStr,
          s"minhash index at $indexPath was built with ($stored) but this " +
            s"ingest uses ($paramsStr) — cross-batch near-dups would be " +
            s"silently missed; rebuild the index or match its parameters")
      } else {
        // pre-sidecar index: the stored signature length at least pins perms
        spark.read.parquet(indexPath).select(size(col("sig")))
          .limit(1).collect().headOption.foreach { r =>
            require(r.getInt(0) == perms,
              s"minhash index at $indexPath stores ${r.getInt(0)}-perm " +
                s"signatures, this ingest uses perms=$perms")
          }
      }
    }
    val rows = perms / bands
    val text = col(textCol)
    // cheap token-count gate (no hashing) — see minhashSignatures
    val hasSig = text.isNotNull &&
      length(text) - length(replace(text, lit(" "), lit(""))) + 1 >= k
    val shorties = newDocs.filter(text.isNull ||
      length(text) - length(replace(text, lit(" "), lit(""))) + 1 < k)
    val shingleHashes =
      if (replayableHash) md5ShingleHashes(text, k)
      else graft.functions.ShingleFunctions.word_shingle_hashes(text, k)
    val withSig = newDocs.filter(hasSig)
      .withColumn("__sig",
        coalesce(graft.functions.SketchFunctions.minhash_signature(
          shingleHashes, perms), array()))
    // band hash: equality is all that matters, so the replayable variant
    // hashes the band's slot values rendered canonically ("b:m0,m1,...")
    // — DuckDB rebuilds the identical key string and md5
    val bandHashes = array((0 until bands).map { bnd =>
      val slots = (0 until rows).map(r =>
        element_at(col("__sig"), bnd * rows + r + 1))
      if (replayableHash)
        graft.functions.HashFunctions.md5_head63(concat(lit(s"$bnd:"),
          concat_ws(",", slots.map(_.cast("string")): _*)))
      else xxhash64(lit(bnd) +: slots: _*)
    }: _*)
    val banded = withSig.select(col(idCol).as("__id"), col("__sig"),
        posexplode(bandHashes))
      .select(col("__id"), col("__sig"), col("pos").as("band"),
        col("col").as("band_hash"))
    def est(a: Column, b: Column): Column =
      size(filter(zip_with(a, b, (x, y) => x === y), m => m))
        .cast("double") / perms
    val dupVsIndex =
      if (hfs.exists(target))
        banded.join(spark.read.parquet(indexPath)
            .select(col("band"), col("band_hash"),
              col("doc_id").as("__idx_id"), col("sig").as("__idx_sig")),
          Seq("band", "band_hash"))
          .filter(col("__idx_id") =!= col("__id") &&
            est(col("__sig"), col("__idx_sig")) >= tau)
          .select(col("__id"))
      else banded.select(col("__id")).limit(0)
    val a = banded.as("a"); val b = banded.as("b")
    val dupInBatch = a.join(b, col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.__id") < col("b.__id"))
      .filter(est(col("a.__sig"), col("b.__sig")) >= tau)
      .select(col("b.__id").as("__id"))
    val dups = dupVsIndex.union(dupInBatch).distinct()
    // the pin CUTS lineage to the index files before the index write
    // below refreshes the path (same trap as exactKeepIncremental)
    val survivors = Pin.workingSet(withSig
      .join(dups, withSig(idCol) === dups("__id"), "left_anti"))
    val newEntries = survivors.select(col(idCol).as("__id"), col("__sig"),
        posexplode(bandHashes))
      .select(col("pos").as("band"), col("col").as("band_hash"),
        col("__id").as("doc_id"), col("__sig").as("sig"))
    graft.sinks.ParquetUpsert.upsert(newEntries, indexPath,
      Seq("band", "band_hash", "doc_id"))
    // (re)write the params sidecar AFTER the upsert so a directory swap
    // can't drop it; overwrite is idempotent
    val out = hfs.create(paramsFile, true)
    try out.write(paramsStr.getBytes("UTF-8")) finally out.close()
    survivors.drop("__sig").unionByName(shorties)
  }

  /** Exact n-gram Jaccard similarity pairs >= tau via inverted-index
    * self-join (candidates only materialize for docs sharing a shingle).
    *
    * The postings build is MAP-ONLY: the per-doc shingle set is
    * `array_distinct` over the native hash array (shingle sets are
    * per-document, so corpus-wide explode->distinct would shuffle the
    * whole corpus for nothing), and the set size rides along for free —
    * no count aggregation, no counts join. Exact-preserving prunings on
    * the self-join:
    *  - join on the 8-byte xxhash64 shingle hash (a same-pair 64-bit
    *    collision is ~2^-40 per corpus and would only ever overcount one
    *    intersection);
    *  - length-ratio prefilter: J >= tau forces min(|A|,|B|) >=
    *    tau*max(|A|,|B|), so size-incompatible pairs never reach the
    *    aggregation. */
  def jaccardPairs(df: DataFrame, id: Column, text: Column,
      k: Int = 3, tau: Double = 0.5): DataFrame = {
    val postings = df.select(id.as("doc_id"),
        fence(array_distinct(
          graft.functions.ShingleFunctions.word_shingle_hashes(text, k)))
          .as("set"))
      .select(col("doc_id"), size(col("set")).as("n_sh"),
        explode(col("set")).as("sh"))
    val a = postings.as("a"); val b = postings.as("b")
    val inter = a.join(b, col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id") &&
        least(col("a.n_sh"), col("b.n_sh")) >=
          greatest(col("a.n_sh"), col("b.n_sh")) * tau)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
        col("n_b"), col("jaccard"))
  }

  /** Prefix-filtered exact Jaccard pairs — identical output to
    * [[jaccardPairs]], radically smaller candidate join. The full
    * inverted-index self-join posts EVERY shingle, so corpus-frequent
    * shingles ("of the", boilerplate n-grams) each contribute O(df²)
    * candidate pairs — the term that blows up first at 100 TB. Prefix
    * filtering (Chaudhuri et al. ICDE'06; Bayardo et al. WWW'07 —
    * all-pairs/PPJoin) posts only each doc's first
    * n − ⌈tau·n⌉ + 1 shingles under a GLOBAL rarest-first order:
    * J(A,B) ≥ tau forces |A∩B| ≥ ⌈tau·max(|A|,|B|)⌉, and two sets
    * with that much overlap must share an element inside both prefixes
    * (the standard prefix-filter theorem), so no qualifying pair is
    * lost. Stop-shingles land at the END of the order and mostly fall
    * outside every prefix — exactly the postings that caused the df²
    * blow-up.
    *
    * Three shuffles instead of one (df aggregate, per-doc rarest-first
    * rank, candidate join) plus an exact verify join on the surviving
    * candidates (array_intersect over the full sets) — the right trade
    * precisely when candidates ≪ all shared-shingle pairs, i.e. at
    * scale. The length-ratio prune and tau filter are unchanged, so the
    * output is row-identical to [[jaccardPairs]] (spec-asserted) and
    * rides the same DuckDB oracle. */
  def jaccardPairsPrefix(df: DataFrame, id: Column, text: Column,
      k: Int = 3, tau: Double = 0.5): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1]: $tau")
    val sets = df.select(id.as("doc_id"),
        fence(sort_array(array_distinct(
          graft.functions.ShingleFunctions.word_shingle_hashes(text, k))))
          .as("set"))
      .withColumn("n_sh", size(col("set")))
    val post = sets.select(col("doc_id"), col("n_sh"),
      explode(col("set")).as("sh"))
    val dfreq = post.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // global total order = (df ASC, sh): rarest shingles first; ties
    // broken by the hash so the order is total (any consistent total
    // order preserves the theorem)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    val prefix = post.join(dfreq, "sh")
      .withColumn("__pos", row_number().over(w))
      .filter(col("__pos") <=
        col("n_sh") - ceil(lit(tau) * col("n_sh")).cast("int") + 1)
      .select(col("doc_id"), col("n_sh"), col("sh"))
    val a = prefix.as("a"); val b = prefix.as("b")
    val cand = a.join(b, col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id") &&
        least(col("a.n_sh"), col("b.n_sh")) >=
          greatest(col("a.n_sh"), col("b.n_sh")) * tau)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val verified = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("set").as("__sa"),
        col("n_sh").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("set").as("__sb"),
        col("n_sh").as("n_b")), "doc_b")
      .withColumn("n_inter",
        graft.functions.VectorFunctions.set_intersect_count(
          col("__sa"), col("__sb")))
    verified
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
        col("n_b"), col("jaccard"))
  }

  /** Content-defined chunking (CDC) — the byte-level dedup unit of
    * storage/dataset dedup systems (FastCDC family): a chunk boundary
    * falls wherever the rolling `w`-codepoint hash satisfies
    * `hash % 2^maskBits == 0` (expected chunk length ≈ 2^maskBits), so
    * boundaries are a function of CONTENT, not position — prepending a
    * sentence to a document shifts every fixed-window chunk but CDC
    * boundaries resynchronize right after the edit, and the unchanged
    * tail keeps its chunk hashes (the resync property the spec pins).
    * Fixed-size chunking ([[graft.operators.Packing.chunkByTokens]])
    * cannot see that kind of sharing.
    *
    * Map-only: the rolling hashes are one codegen'd expression
    * (CharWindowHashes, the winnow/span machinery), cut positions and
    * chunk spans are array math over it, and the chunk explode is the
    * usual fan-out. Output: (doc_id, chunk_idx, start_cp, len_cp,
    * chunk_hash). Chunk hashes are engine-specific (xxhash64) — queries
    * over this are rows-only gated with the semantics spec-pinned. */
  def cdcChunks(df: DataFrame, id: Column, text: Column,
      w: Int = 16, maskBits: Int = 6): DataFrame = {
    require(w > 0 && maskBits >= 0 && maskBits < 62)
    val m = 1L << maskBits
    val hs = graft.functions.ShingleFunctions.char_window_hashes(text, w)
    // cut AFTER the window that fires: position i (0-based window start)
    // -> boundary at codepoint i + w
    val cuts = filter(
      transform(hs, (h, i) => when(pmod(h, lit(m)) === 0, i + w)),
      c => c.isNotNull)
    val bounds = array_union(
      concat(array(lit(0)), cuts, array(char_length(text))),
      array(lit(0))) // array_union also dedups a cut landing on the end
    val sorted = array_sort(bounds)
    df.select(id.as("doc_id"), text.as("__t"),
        fence(sorted).as("__b"))
      // a doc with no text yields bounds [0]: guard the descending-
      // sequence edge (sequence(0, -1) counts DOWN in Spark)
      .withColumn("chunk_idx",
        explode(when(size(col("__b")) >= 2,
          sequence(lit(0), size(col("__b")) - 2))
          .otherwise(array().cast("array<int>"))))
      .withColumn("start_cp",
        element_at(col("__b"), col("chunk_idx") + 1))
      .withColumn("len_cp",
        element_at(col("__b"), col("chunk_idx") + 2) - col("start_cp"))
      .filter(col("len_cp") > 0)
      .withColumn("chunk_hash",
        xxhash64(col("__t").substr(col("start_cp") + 1, col("len_cp"))))
      .select(col("doc_id"), col("chunk_idx"), col("start_cp"),
        col("len_cp"), col("chunk_hash"))
  }

  /** [[cdcChunks]] with the REPLAYABLE md5 window hash: the cut rule is
    * already boundary-local (cut after any w-codepoint window whose hash
    * masks to 0 — no min/max-size state, so boundaries are independent
    * predicates), which means swapping the rolling hash for
    * md5_head63(substr(text, i, w)) makes boundaries, chunk spans, AND
    * chunk hashes rebuildable in ANSI SQL. The resync-after-edit
    * property is the same (boundaries depend only on local content).
    * O(n·w) hashing vs the rolling form's O(n) — the gate/oracle tier;
    * [[cdcChunks]] stays the scale path. */
  def cdcChunksReplayable(df: DataFrame, id: Column, text: Column,
      w: Int = 16, maskBits: Int = 6): DataFrame = {
    require(w > 0 && maskBits >= 0 && maskBits < 62)
    val m = 1L << maskBits
    val hs =
      graft.functions.HashFunctions.md5_char_window_heads63(text, w)
    val cuts = filter(
      transform(hs, (h, i) => when(pmod(h, lit(m)) === 0, i + w)),
      c => c.isNotNull)
    val bounds = array_union(
      concat(array(lit(0)), cuts, array(char_length(text))),
      array(lit(0)))
    val sorted = array_sort(bounds)
    df.select(id.as("doc_id"), text.as("__t"),
        fence(sorted).as("__b"))
      .withColumn("chunk_idx",
        explode(when(size(col("__b")) >= 2,
          sequence(lit(0), size(col("__b")) - 2))
          .otherwise(array().cast("array<int>"))))
      .withColumn("start_cp",
        element_at(col("__b"), col("chunk_idx") + 1))
      .withColumn("len_cp",
        element_at(col("__b"), col("chunk_idx") + 2) - col("start_cp"))
      .filter(col("len_cp") > 0)
      .withColumn("chunk_hash", graft.functions.HashFunctions.md5_head63(
        col("__t").substr(col("start_cp") + 1, col("len_cp"))))
      .select(col("doc_id"), col("chunk_idx"), col("start_cp"),
        col("len_cp"), col("chunk_hash"))
  }

  /** Asymmetric shingle-containment pairs: C(A in B) = |A ∩ B| / |A|.
    * Catches the subset-duplicate family symmetric Jaccard structurally
    * misses — a short doc pasted verbatim inside a much longer one has
    * J = |A|/|B| ≈ 0 but containment ≈ 1 (Broder's original resemblance
    * vs containment distinction, SEQUENCES '97). Emits each unordered
    * candidate pair once with BOTH directions' containment plus the
    * symmetric max; a pair qualifies when either direction >= tau.
    *
    * Same inverted-index backbone as [[jaccardPairs]] (map-only postings
    * over the native shingle-hash expression, self-join only on shared
    * shingles), with one deliberate difference: the Jaccard length-ratio
    * prune is UNSOUND here — a 10-shingle doc fully contained in a
    * 10,000-shingle doc is exactly the pair this operator exists to find,
    * so size-incompatible pairs must still meet. The exact-preserving
    * prune that remains: inter <= min(|A|,|B|), so
    * max-containment >= tau can only hold when n_inter >= tau * min —
    * applied after the count, it only trims the output. At 100 TB the
    * blocking story is unchanged from Jaccard (candidates require a
    * shared shingle); the missing length prune is inherent to the
    * semantics, not a plan defect. */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
      k: Int = 3, tau: Double = 0.8): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1]: $tau")
    val postings = df.select(id.as("doc_id"),
        fence(array_distinct(
          graft.functions.ShingleFunctions.word_shingle_hashes(text, k)))
          .as("set"))
      .select(col("doc_id"), size(col("set")).as("n_sh"),
        explode(col("set")).as("sh"))
    val a = postings.as("a"); val b = postings.as("b")
    a.join(b, col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("cont_a_in_b", col("n_inter").cast("double") / col("n_a"))
      .withColumn("cont_b_in_a", col("n_inter").cast("double") / col("n_b"))
      .withColumn("containment", greatest(col("cont_a_in_b"),
        col("cont_b_in_a")))
      .filter(col("containment") >= tau)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
        col("n_b"), col("cont_a_in_b"), col("cont_b_in_a"),
        col("containment"))
  }

  /** Prefix-filtered containment pairs — identical output to
    * [[containmentPairs]] (same oracle), with the df² stop-shingle
    * candidate term pruned the way [[jaccardPairsPrefix]] prunes
    * Jaccard's. Containment's asymmetry changes the prefix argument:
    * max-containment ≥ tau forces |A∩B| ≥ ⌈tau·min(|A|,|B|)⌉ — a bound
    * in the SMALLER set's size only — so only the smaller side of a
    * pair can be prefix-trimmed, and the candidate join becomes
    * prefix(smaller) ⋈ full-postings(larger): if every common element
    * avoided the smaller's rarest-first prefix of length
    * n − ⌈tau·n⌉ + 1, the ⌈tau·n⌉ required common elements would have
    * to fit in its ⌈tau·n⌉ − 1 suffix slots — contradiction, so no
    * qualifying pair is lost. Per shared shingle the candidate count
    * drops from df² to df_prefix · df, and corpus-frequent shingles
    * rarely survive into any prefix. Candidates verify exactly via
    * array_intersect over the full sets, then the tau filter — output
    * row-identical to the all-postings form (spec-asserted). */
  def containmentPairsPrefix(df: DataFrame, id: Column, text: Column,
      k: Int = 3, tau: Double = 0.8): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1]: $tau")
    val sets = df.select(id.as("doc_id"),
        fence(sort_array(array_distinct(
          graft.functions.ShingleFunctions.word_shingle_hashes(text, k))))
          .as("set"))
      .withColumn("n_sh", size(col("set")))
    val full = sets.select(col("doc_id"), col("n_sh"),
      explode(col("set")).as("sh"))
    val dfreq = full.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    val prefix = full.join(dfreq, "sh")
      .withColumn("__pos", row_number().over(w))
      .filter(col("__pos") <=
        col("n_sh") - ceil(lit(tau) * col("n_sh")).cast("int") + 1)
      .select(col("doc_id").as("p_id"), col("n_sh").as("p_n"), col("sh"))
    // smaller (or equal) side's prefix probes the full postings; the
    // unordered pair then re-keys to (min id, max id) to match the
    // all-postings output convention
    val cand = prefix.join(
        full.select(col("doc_id").as("f_id"), col("n_sh").as("f_n"),
          col("sh")), "sh")
      .filter(col("p_id") =!= col("f_id") && col("p_n") <= col("f_n"))
      .select(least(col("p_id"), col("f_id")).as("doc_a"),
        greatest(col("p_id"), col("f_id")).as("doc_b"))
      .distinct()
    val verified = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("set").as("__sa"),
        col("n_sh").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("set").as("__sb"),
        col("n_sh").as("n_b")), "doc_b")
      .withColumn("n_inter",
        graft.functions.VectorFunctions.set_intersect_count(
          col("__sa"), col("__sb")))
    verified
      .withColumn("cont_a_in_b", col("n_inter").cast("double") / col("n_a"))
      .withColumn("cont_b_in_a", col("n_inter").cast("double") / col("n_b"))
      .withColumn("containment", greatest(col("cont_a_in_b"),
        col("cont_b_in_a")))
      .filter(col("containment") >= tau)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
        col("n_b"), col("cont_a_in_b"), col("cont_b_in_a"),
        col("containment"))
  }

  /** Connected components over a near-duplicate pair graph — the final
    * dedup step (pairs -> clusters -> one canonical survivor per
    * cluster). Component id = min node id reachable.
    *
    * Distributed min-label propagation WITH POINTER JUMPING: every
    * iteration joins neighbor labels (one edges-x-labels join +
    * min-aggregate) and then also adopts the label's own label
    * (labels-x-labels join) — the path-halving step that makes rounds
    * O(log n) instead of O(diameter), so a 1M-link chain converges in
    * ~20 rounds, not 1M. All shuffle-on-key, no driver data paths; the
    * only driver-side value is the convergence count, observed on the
    * iteration's pin ([[Pin.round]]: ONE action per iteration).
    *
    * Throws IllegalStateException if maxIter rounds don't converge —
    * silently returning partial labels would be a wrong dedup.
    *
    * `nodes` may carry isolated ids (docs with no near-dup): they keep
    * their own id as component. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      nodeCol: String, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // TWO-PHASE contraction (r11): phase 1 collapses each PARTITION's
    // edges with an in-memory union-find and emits per-partition STAR
    // edges (local-min-root, member) — a connectivity-EQUIVALENT edge
    // set (every original edge (u,v) inside a partition is implied by
    // its two stars), but of depth 1 per partition-component, so the
    // distributed pointer-jumping rounds start from diameter ~
    // #partitions instead of the raw graph diameter. Measured: the
    // round count (and the job-latency floor that dominates CC at
    // bench SF) drops by ~2x on the dbscan/near-dup cluster gates.
    // Star sets vary with input partitioning, but the CONVERGED labels
    // are partitioning-independent (same components -> same min id),
    // so results are unchanged.
    //
    // The star edge set is pinned: it is re-scanned every
    // pointer-jumping round. Null endpoints are dropped up front — a
    // null side never joined to any label, so this is exactly the old
    // behavior.
    val spark0 = pairs.sparkSession
    import spark0.implicits._
    val stars = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrDefault(x, x)
          while (p != x) { x = p; p = parent.getOrDefault(x, x) }
          var y = x0
          while (y != x) { val n = parent.get(y); parent.put(y, x); y = n }
          x
        }
        it.foreach { case (u, v) =>
          val ru = find(u); val rv = find(v)
          if (ru != rv) {
            if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
          }
        }
        // emit BOTH directions here: a post-hoc symmetrize union would
        // put the pair-generation subtree in the plan twice (the old
        // shape executed it twice per pin); per-partition stars are
        // duplicate-free, and the min-aggregate rounds tolerate the
        // rare cross-partition duplicate, so no distinct is needed
        val out = Vector.newBuilder[(Long, Long)]
        parent.forEach((k, v) => if (k != v) {
          val r = find(k); out += ((r, k)); out += ((k, r))
        })
        out.result().iterator
      }
      .toDF("u", "v")
    val edges = Pin.workingSet(stars)
    try {
      var labels = Pin.workingSet(nodes.select(col(nodeCol).as("node"))
        .distinct().withColumn("component", col("node")))
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val nbrMin = edges.join(labels, edges("v") === labels("node"))
          .groupBy(col("u")).agg(min(col("component")).as("nbr_min"))
        val viaNbr = labels
          .join(nbrMin, labels("node") === nbrMin("u"), "left")
          .select(col("node"), col("component"),
            least(col("component"), coalesce(col("nbr_min"), col("component")))
              .as("comp1"))
        // pointer jump: also adopt the current label OF the new label —
        // halves every label chain each round
        val parents = labels
          .select(col("node").as("p_node"), col("component").as("p_comp"))
        val (next, nChanged) = Pin.round[Long](viaNbr
          .join(parents, viaNbr("comp1") === parents("p_node"), "left")
          .select(col("node"),
            least(col("comp1"), coalesce(col("p_comp"), col("comp1")))
              .as("new_comp"),
            col("component"))
          .select(col("node"), col("new_comp").as("component"),
            (col("new_comp") < col("component")).as("changed")),
          s"cc_changed_$i", sum(col("changed").cast("long")))
        // sum over an empty frame is null -> converged
        converged = nChanged.forall(_ == 0L)
        labels = next.drop("changed")
        i += 1
      }
      if (!converged) throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds")
      labels
    } finally edges.unpersist()
  }

  /** MinHash signature: `perms` permutations h_i(x) = (a_i*x + b_i) mod p
    * over 64-bit shingle hashes (xxhash64). Returns array<bigint>. */
  // 31-bit Mersenne prime: h < 2^31 keeps a*h + b far from long overflow
  private val MinhashP = 2147483647L

  /** MinHash signature per document as a DataFrame (doc_id, sig) — a pure
    * PROJECTION: the native sketch expression folds the per-row shingle-
    * hash array in one pass (graft.functions.MinHashSignature), so
    * signature build is a map-only stage with NO shuffle. Docs with < k
    * tokens have no shingles and are dropped (null signature), matching
    * the aggregate reference form below. */
  def minhashSignatures(df: DataFrame, id: Column, text: Column,
      k: Int, perms: Int): DataFrame =
    // the signature is null IFF the doc has < k tokens; gate on the token
    // count (spaces + 1 — length arithmetic, no split allocation, no hash)
    // BEFORE computing the signature: filtering on sig.isNotNull pushes
    // `isnotnull(minhash_signature(...))` into the scan as a DataFilter,
    // re-hashing and re-permuting every document a second time per side
    // coalesce never fires (>= k tokens guarantees a signature) — it marks
    // sig NON-NULLABLE so constraint inference can't push an inferred
    // `isnotnull(minhash_signature(...))` back into the scan (see
    // simhashes above for the double-hash mechanics)
    df.filter(text.isNotNull &&
        length(text) - length(replace(text, lit(" "), lit(""))) + 1 >= k)
      .select(id.as("doc_id"),
        coalesce(graft.functions.SketchFunctions.minhash_signature(
          graft.functions.ShingleFunctions.word_shingle_hashes(text, k), perms),
          array())
          .as("sig"))

  /** Declarative reference for [[minhashSignatures]] (explode -> groupBy
    * with `perms` min-aggregates) — the shape the native expression is
    * spec'd against. Shuffles one row per (doc, shingle); kept for tests
    * and as the fallback shape if signatures ever need to aggregate
    * across multiple input rows per document. */
  def minhashSignaturesAgg(df: DataFrame, id: Column, text: Column,
      k: Int, perms: Int): DataFrame = {
    val hashed = df.select(id.as("doc_id"),
        explode(graft.functions.ShingleFunctions.word_shingle_hashes(text, k))
          .as("s"))
      .select(col("doc_id"), pmod(col("s"), lit(MinhashP)).as("h"))
    val mins = (0 until perms).map { i =>
      // Carter-Wegman perms shared with the native fold (see
      // SketchUtil.minhashPerm for why the multipliers must be mixed)
      val (a, b) = graft.functions.SketchUtil.minhashPerm(i)
      min(pmod(col("h") * lit(a) + lit(b), lit(MinhashP))).as(s"m$i")
    }
    hashed.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until perms).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH candidate pairs: signature split into `bands` bands of
    * `perms/bands` rows; docs sharing any full band become candidates.
    * Returns (doc_a, doc_b, est_jaccard) with est = matching signature
    * fraction. A banded inverted index: shuffle on (band_idx, band_hash),
    * never all-pairs. */
  def minhashCandidates(df: DataFrame, id: Column, text: Column,
      k: Int = 3, perms: Int = 32, bands: Int = 8): DataFrame = {
    val rows = perms / bands
    val sigd = minhashSignatures(df, id, text, k, perms)
    // band hash = xxhash64 over the band's signature slots (numeric —
    // no string rendering) + the band index, fully codegen'd
    val bandHashes = array((0 until bands).map { bnd =>
      xxhash64(lit(bnd) +: (0 until rows).map(r =>
        element_at(col("sig"), bnd * rows + r + 1)): _*)
    }: _*)
    val banded = sigd.select(col("doc_id"), col("sig"),
        posexplode(bandHashes))
      .select(col("doc_id"), col("sig"), col("pos").as("band"),
        col("col").as("band_hash"))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          m => m)).cast("double") / size(col("a.sig"))).as("est_jaccard"))
      .distinct()
  }

  /** MinHash-LSH candidates EXACT-VERIFIED — the full production dedup
    * pipeline (Leskovec/Rajaraman/Ullman, MMDS ch.3): banding replaces
    * the all-pairs self-join with a bucket join, then every candidate is
    * re-checked with the TRUE shingle-set Jaccard (integer
    * intersection/union sizes) and pairs below `tau` drop. Precision is
    * therefore exactly 1; recall is the banding curve's. Output schema =
    * [[jaccardPairs]]' (doc_a, doc_b, n_inter, n_a, n_b, jaccard).
    *
    * Oracle note: where banding recall over a corpus is 1 (DedupSpec
    * measures exactly that on the fixtures), the verified output EQUALS
    * the exact all-pairs set, so the same DuckDB Jaccard oracle checks
    * this gate end-to-end even though the candidates are LSH-found.
    *
    * Scale shape: the candidate join shuffles on (band, band_hash)
    * buckets, the verify join is |candidates|-sized on doc keys — never
    * all-pairs, never a corpus window. */
  def minhashVerifiedPairs(df: DataFrame, id: Column, text: Column,
      k: Int = 3, perms: Int = 32, bands: Int = 8, tau: Double = 0.5)
      : DataFrame = {
    val cand = minhashCandidates(df, id, text, k, perms, bands)
      .select(col("doc_a"), col("doc_b"))
    val sets = df.select(id.as("doc_id"),
        fence(sort_array(array_distinct(
          graft.functions.ShingleFunctions.word_shingle_hashes(text, k))))
          .as("set"))
      .withColumn("n_sh", size(col("set")))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("set").as("__sa"),
        col("n_sh").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("set").as("__sb"),
        col("n_sh").as("n_b")), "doc_b")
      .withColumn("n_inter",
        graft.functions.VectorFunctions.set_intersect_count(
          col("__sa"), col("__sb")))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
        col("n_b"), col("jaccard"))
  }

  /** SimHash fingerprints per document as a DataFrame (doc_id, sh) — a
    * pure projection like [[minhashSignatures]]: the native expression
    * folds the token-hash array's 64 sign votes per row, no shuffle.
    * (split("") = [""], so every doc has >= 1 token hash.) */
  def simhashes(df: DataFrame, id: Column, text: Column): DataFrame =
    // null text -> no fingerprint (ref parity). sh is null IFF text is null
    // (split("") = [""] gives every non-null doc >= 1 token hash), so the
    // null gate is on TEXT, before the hash: filtering on sh.isNotNull
    // pushes `isnotnull(simhash64(wordshinglehashes(text)))` into the scan
    // as a DataFilter, re-hashing every document a second time per side
    // coalesce never fires (text is non-null here) — it marks sh
    // NON-NULLABLE so InferFiltersFromConstraints can't see the
    // null-intolerant join residual on sh and push an inferred
    // `isnotnull(simhash64(...))` back into the scan (same re-hash)
    df.filter(text.isNotNull)
      .select(id.as("doc_id"),
        coalesce(graft.functions.SketchFunctions.simhash64(
          graft.functions.ShingleFunctions.word_shingle_hashes(text, 1)),
          lit(0L))
          .as("sh"))

  /** Declarative reference for [[simhashes]] (explode -> groupBy with 64
    * sign-vote sums), kept for spec parity. */
  def simhashesAgg(df: DataFrame, id: Column, text: Column): DataFrame = {
    val th = df.select(id.as("doc_id"),
      explode(graft.functions.ShingleFunctions.word_shingle_hashes(text, 1))
        .as("h"))
    val votes = (0 until 64).map { i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1))
        .as(s"v$i")
    }
    th.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(i =>
          when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sh"))
  }

  /** Blocking plan for [[simhashPairs]]: (chunksPerKey m, nChunks b).
    *
    * The 64-bit fingerprint splits into `b` chunks; each blocking key is
    * the concatenation of `m` chunks (one key per m-combination, C(b,m)
    * keys per doc). Pigeonhole recall: a pair within `maxDist` Hamming
    * distance damages at most maxDist chunks, and b = maxDist + m leaves
    * >= m clean chunks, so at least one m-combination matches exactly —
    * full recall for ANY maxDist in [0, 63].
    *
    * m is the SMALLEST value whose key width m*floor(64/b) reaches 16
    * bits: naive maxDist+1 banding (m=1) keys on ~floor(64/(maxDist+1))
    * bits, which at maxDist=6 is 9 bits — random collisions at 2^-9 make
    * candidates grow ~n^2/512, quadratic merely deferred. Combination
    * blocking trades more keys per doc (C(8,2)=28 vs 7 at maxDist=6) for
    * a >=16-bit keyspace (collisions at <=2^-16). For maxDist <= 3, m=1
    * already gives >= 16-bit bands and the plan is the classic banding.
    * Past maxDist ~24 no m reaches 16 bits; the widest achievable key is
    * used (recall still exact; collision rate documented by the width). */
  private[operators] def simhashBlocking(maxDist: Int): (Int, Int) = {
    val options = (1 to 8).map(m => (m, maxDist + m)).filter(_._2 <= 64)
    options.find { case (m, b) => m * (64 / b) >= 16 }
      .getOrElse(options.maxBy { case (m, b) => m * (64 / b) })
  }

  /** Minimum blocking-key width in bits for `maxDist` (spec surface). */
  private[graft] def simhashKeyWidth(maxDist: Int): Int = {
    val (m, b) = simhashBlocking(maxDist)
    // m smallest chunks: chunk widths are floor or ceil of 64/b
    (0 until b).map(i => (i + 1) * 64 / b - i * 64 / b).sorted.take(m).sum
  }

  /** SimHash near-dup candidate pairs with Hamming distance <= maxDist,
    * blocked on m-of-b chunk-combination keys (see [[simhashBlocking]] for
    * the recall argument and keyspace sizing), then verified exactly with
    * bit_count. */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
      maxDist: Int = 3): DataFrame =
    hammingPairs64(simhashes(df, id, text), maxDist)

  /** Replayable-hash token array: one md5-derived nonnegative 63-bit
    * value per ' '-split token (split semantics match DuckDB's
    * `string_split(text, ' ')`, including empty tokens from runs of
    * spaces). Bit 63 is constant-zero, so a simhash over these votes
    * bit 63 to 0 on both engines. */
  private[graft] def md5TokenHashes(text: Column): Column =
    graft.functions.HashFunctions.md5_word_shingle_heads63(text, 1)

  /** Replayable-hash word-k-shingle array: tokens re-joined with ' '
    * per window, each window md5_head63-hashed — DuckDB rebuilds the
    * identical values via `array_to_string(ws[i:i+k-1], ' ')`. Empty
    * for docs with < k tokens (mirrors word_shingle_hashes). */
  private[graft] def md5ShingleHashes(text: Column, k: Int): Column =
    graft.functions.HashFunctions.md5_word_shingle_heads63(text, k)

  /** Declarative reference for [[md5ShingleHashes]] (split + slice +
    * concat_ws + per-shingle digest) — the shape the one-pass native
    * expression is spec'd against in DedupSpec. */
  private[graft] def md5ShingleHashesComposed(text: Column, k: Int)
      : Column = {
    val ws = split(text, " ", -1)
    val n = size(ws) - (k - 1)
    // sequence(1, 0) would DESCEND ([1,0]) — gate the degenerate case
    when(n >= 1, transform(sequence(lit(1), n),
        i => graft.functions.HashFunctions.md5_head63(
          concat_ws(" ", slice(ws, i, lit(k))))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** [[simhashPairs]] with the md5-replayable token hash — bit-identical
    * result on any engine that ships md5, which makes the pair set FULLY
    * oracle-checkable (the m-of-b blocking is pigeonhole-complete, so the
    * output is exactly "all pairs with Hamming <= maxDist" regardless of
    * the blocking plan, and DuckDB recomputes the same fingerprints from
    * md5 hex + sign votes). Same plan shape as the xxhash production
    * variant: map-only fingerprints, banded candidate join, exact
    * bit_count verify. */
  def simhashPairsReplayable(df: DataFrame, id: Column, text: Column,
      maxDist: Int = 3): DataFrame = {
    val sh = df.filter(text.isNotNull)
      .select(id.as("doc_id"),
        coalesce(graft.functions.SketchFunctions.simhash64(
          md5TokenHashes(text)), lit(0L)).as("sh"))
    hammingPairs64(sh, maxDist)
  }

  /** Hamming-ball candidate pairs over ANY precomputed 64-bit code
    * column `(doc_id, sh)` — the blocking engine behind [[simhashPairs]],
    * exposed for other locality-sensitive codes (perceptual image
    * hashes, audio fingerprints: see graft.operators.Multimodal). Same
    * pigeonhole-complete m-of-b chunk-combination blocking, exact
    * bit_count verify before the pair-dedup shuffle. */
  def hammingPairs64(hashed: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64,
      s"hamming maxDist must be in [0, 63], got $maxDist")
    val (m, nChunks) = simhashBlocking(maxDist)
    val sh = hashed
    // chunks partition the 64 bits as evenly as integer division allows
    val starts = (0 to nChunks).map(i => i * 64 / nChunks)
    def chunk(i: Int): Column = {
      val width = starts(i + 1) - starts(i)
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      shiftrightunsigned(col("sh"), starts(i)).bitwiseAND(lit(mask))
    }
    // one key per m-combination: the selected chunks packed into a single
    // long (their widths sum to <= 64) + the combination's ordinal
    val bandKeys = (0 until nChunks).combinations(m).toSeq.zipWithIndex
      .map { case (idxs, cid) =>
        val (packed, _) = idxs.foldLeft((lit(0L): Column, 0)) {
          case ((acc, shift), i) =>
            (acc.bitwiseOR(shiftleft(chunk(i), shift)),
              shift + (starts(i + 1) - starts(i)))
        }
        struct(lit(cid).as("band"), packed.as("key"))
      }
    val banded = sh.select(col("doc_id"), col("sh"),
      explode(array(bandKeys: _*)).as("bk"))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      // verify BEFORE the pair-dedup shuffle: most candidates fail the
      // Hamming check, so the distinct only sees true pairs (each found
      // once per matching band), not every random band collision
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Corpus-level boilerplate-span removal (the C4/CCNet "line dedup"
    * rule, over token spans since the fixtures carry no newlines): cut
    * each doc into consecutive non-overlapping `spanTokens`-token spans,
    * drop every span occurring in >= `minDocs` DISTINCT docs anywhere in
    * the corpus, and reassemble the surviving spans in document order.
    *
    * Returns (id, n_spans, n_spans_kept, text_clean) — text_clean is ''
    * when every span was boilerplate. Scale shape: explode -> span-keyed
    * count (map-side partial agg; the span domain, not the corpus, bounds
    * the exchange) -> shuffle join back on span -> groupBy(doc)
    * reassembly. The span-count table is corpus-wide state, but
    * distinct-span cardinality is sublinear in corpus size for natural
    * text; skew on ultra-hot spans is absorbed by the partial agg. */
  def dropBoilerplateSpans(df: DataFrame, idCol: String, text: Column,
      spanTokens: Int = 3, minDocs: Int = 5): DataFrame = {
    require(spanTokens > 0 && minDocs > 1,
      s"need spanTokens > 0, minDocs > 1: $spanTokens / $minDocs")
    // materialize the token array into a column FIRST: the transform
    // lambda below evaluates interpreted, so slicing the raw split()
    // expression would re-split the full document text once per span
    // (the anti-pattern shinglesOf documents as measured ~10x slower)
    val withWs = df.withColumn("__ws", TextAnalysis.tokens(text))
    val ws = col("__ws")
    // span starts 1, 1+s, 1+2s, ... — a step-sequence, no division; the
    // ragged tail span just slices short
    val spanStarts = sequence(lit(1), size(ws), lit(spanTokens))
    val spans = transform(spanStarts,
      st => concat_ws(" ", slice(ws, st, lit(spanTokens))))
    val exploded = withWs
      .select(col(idCol), posexplode(spans).as(Seq("pos", "span")))
    val hot = exploded.groupBy(col("span"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("span"))
    val kept = exploded.join(hot, Seq("span"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("span")))),
          x => x.getField("span")), " ").as("text_clean"))
    // n_spans = |spanStarts| — transform preserves size, so skip
    // building the span strings just to count them
    withWs.select(col(idCol), size(spanStarts).cast("long").as("n_spans"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_spans_kept"), lit(0L)).as("n_spans_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Corpus-wide sentence dedup, FIRST OCCURRENCE KEPT (the
    * RefinedWeb-style line-dedup rule, at sentence granularity via
    * [[TextAnalysis.sentences]]): every later occurrence of an exact
    * duplicate sentence is removed and each document reassembled from
    * its surviving sentences in order. Contrast [[dropBoilerplateSpans]]
    * — that rule deletes EVERY copy of a frequent span; this one always
    * preserves one canonical copy (the globally first by (id, ordinal)),
    * so information is never lost, only repetition.
    *
    * Returns (id, n_sents, n_kept, text_clean); text_clean is '' when
    * every sentence of a doc appeared earlier elsewhere. Scale shape:
    * sentence explode (map-only) -> first-occurrence cut as a
    * rank-1-per-sentence window — Spark plans the rk=1 filter as
    * WindowGroupLimit, one survivor candidate per partition BEFORE the
    * sentence-keyed exchange, so the shuffle carries ~|distinct
    * sentences|, not |occurrences| — -> groupBy(doc) reassembly. */
  def dedupSentencesKeepFirst(df: DataFrame, idCol: String, text: Column)
      : DataFrame = {
    val sents = TextAnalysis.sentences(df, idCol, text)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sentence")).orderBy(col(idCol), col("sent_idx"))
    val survivors = sents
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
    val rebuilt = survivors.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("sent_idx"),
            col("sentence")))),
          x => x.getField("sentence")), " ").as("text_clean"))
    sents.groupBy(col(idCol)).agg(count(lit(1)).as("n_sents"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_sents"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Cross-document EXACT duplicate-substring spans (the "dedup exact
    * substrings" pass of LLM corpus prep, Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): every maximal character
    * span whose every `window`-char substring also appears in >= `minDocs`
    * distinct documents. Returns (id, span_start, span_end) with 1-based
    * INCLUSIVE character positions — `substr(text, span_start,
    * span_end - span_start + 1)` is the duplicated run.
    *
    * Plan shape, suffix-array-free: (1) one codegen'd linear pass per doc
    * emits the rolling hash of every w-char window
    * ([[graft.functions.CharWindowHashes]] — 8-byte hashes, never
    * substrings, reach the explode); (2) distinct (hash, doc) then a
    * partial-agg count finds hashes in >= minDocs docs; (3) hits join back
    * on hash; (4) per-doc gaps-and-islands (pos - row_number) merges
    * overlapping/adjacent duplicated windows into maximal spans. At
    * 100 TB: the gram stream is |corpus chars| rows of (long, long, int) —
    * the dominant but embarrassingly hash-partitioned shuffle (the exact
    * shape of the published MapReduce variants); the island window is
    * per-document, bounded by document length. Hash collisions (2^-61 per
    * pair) can only ADD a span, never lose one.
    *
    * Oracle-exact: positions are code-point addressed, matching SQL
    * `substr`, so DuckDB reproduces the spans from raw substrings. */
  def duplicateSpans(df: DataFrame, idCol: String, text: Column,
      window: Int, minDocs: Int = 2): DataFrame = {
    require(window > 0 && minDocs > 1,
      s"need window > 0, minDocs > 1: $window / $minDocs")
    val grams = df.select(col(idCol),
        posexplode(graft.functions.ShingleFunctions
          .char_window_hashes(text, window)).as(Seq("idx", "h")))
      .select(col(idCol), (col("idx") + 1).cast("long").as("pos"), col("h"))
    // minDocs == 2 (the common case): ">= 2 distinct docs share h" is
    // exactly min(doc) != max(doc) over the hash partition — ONE shuffle
    // of the gram stream and ONE pass over the text (the agg + join-back
    // form below recomputes the scan/explode subtree in both branches
    // and shuffles the stream twice; measured 1.9x slower at 15M chars).
    // General minDocs needs the exact distinct count -> two-level agg +
    // join back on the hash.
    val hits =
      if (minDocs == 2) {
        val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
        grams.withColumn("__dup",
            min(col(idCol)).over(wh) =!= max(col(idCol)).over(wh))
          .filter(col("__dup")).drop("__dup", "h")
      } else {
        val dup = grams.select(col("h"), col(idCol)).distinct()
          .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= minDocs)
          .select(col("h"))
        grams.join(dup, Seq("h"))
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    hits.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + window - 1).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }
}
