package graft.queries

import graft.Tables
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication query surface over the `documents` table
  * (training-data-pipeline operators; SURVEY.md §7 v3).
  *
  * Oracle-checked where ANSI-SQL-expressible (exact/ngram dedup, token
  * stats, quality, langid, fingerprint); MinHash-LSH and SimHash use
  * engine-specific hashing (xxhash64) so they get rows-only driver checks
  * plus recall specs against the exact-Jaccard ground truth in DedupSpec.
  */
object TextDedup {
  type Q = (SparkSession, String) => DataFrame

  /** Fixed retrieval query for `text_search_topk`: two common + two
    * rarer fixture-vocabulary terms so idf weights actually differ. */
  private val SearchTerms = Seq("hash", "merge", "window", "spark")

  val defs: Map[String, Q] = Map(
    // fuzzy entity resolution by edit distance: resolve the DISTINCT
    // name dictionary (aggregate rows per name first — the pairwise
    // work must scale with the vocabulary, never the row count), then
    // MULTI-KEY blocking: a pair is a candidate if it shares its first
    // OR last word (one block pass per key, unioned + distinct — a
    // single key misses pairs whose block token itself was edited),
    // exact levenshtein <= 2 on candidates. Both engines ship
    // levenshtein, so the query and its blocking trade are oracle-exact
    "dedup_fuzzy_parts" -> ((s, d) => {
      val names = Tables.part(s, d)
        .groupBy(col("p_name"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("w1", substring_index(col("p_name"), " ", 1))
        .withColumn("wlast", substring_index(col("p_name"), " ", -1))
      def blockPass(key: String) =
        names.as("a").join(names.as("b"),
            col(s"a.$key") === col(s"b.$key") &&
              col("a.p_name") < col("b.p_name"))
          .select(col("a.p_name").as("name_a"),
            col("b.p_name").as("name_b"),
            col("a.n_rows").as("n_rows_a"), col("b.n_rows").as("n_rows_b"))
      blockPass("w1").unionByName(blockPass("wlast")).distinct()
        .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
        .filter(col("lev") <= 2)
        .orderBy(col("name_a"), col("name_b"))
    }),

    "dedup_exact_groups" -> ((s, d) => {
      Dedup.exactGroups(Tables.documents(s, d), col("doc_id"), col("text"))
        .orderBy(col("content_hash"))
    }),

    "dedup_exact_keep" -> ((s, d) => {
      Dedup.exactKeep(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "dedup_ngram_jaccard" -> ((s, d) => {
      Dedup.jaccardPairs(Tables.documents(s, d), col("doc_id"), col("text"),
          k = 3, tau = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // prefix-filtered exact Jaccard (PPJoin-style): row-identical to
    // dedup_ngram_jaccard — same oracle — but only rarest-prefix
    // postings enter the candidate join (the 100 TB form of the
    // set-similarity self-join)
    "dedup_jaccard_prefix" -> ((s, d) => {
      Dedup.jaccardPairsPrefix(Tables.documents(s, d), col("doc_id"),
          col("text"), k = 3, tau = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // asymmetric containment |A∩B|/|A| — the subset-duplicate detector
    // (short doc pasted inside a long one scores ~1 here, ~0 on Jaccard)
    "dedup_containment" -> ((s, d) => {
      Dedup.containmentPairs(Tables.documents(s, d), col("doc_id"),
          col("text"), k = 3, tau = 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // containment's scale path: the SMALLER side's rarest prefix probes
    // the full postings index (the asymmetric prefix-filter argument) —
    // row-identical to dedup_containment, same oracle
    "dedup_containment_prefix" -> ((s, d) => {
      Dedup.containmentPairsPrefix(Tables.documents(s, d), col("doc_id"),
          col("text"), k = 3, tau = 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // content-defined chunking: per-doc chunk counts + how many chunks
    // are shared with another doc (the byte-level storage-dedup view).
    // FULLY oracle-checked: the cut rule is boundary-local and the md5
    // window hash replays in SQL, so DuckDB rebuilds boundaries, spans
    // and chunk hashes. Boundary-resync stays spec'd in DedupSpec.
    "dedup_cdc_chunks" -> ((s, d) => {
      val chunks = Dedup.cdcChunksReplayable(Tables.documents(s, d),
        col("doc_id"), col("text"))
      val sharing = chunks.groupBy(col("chunk_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs_with"))
      chunks.join(sharing, "chunk_hash")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_docs_with") > 1, 1L).otherwise(0L))
            .as("n_shared_chunks"))
        .orderBy(col("doc_id"))
    }),

    // near-dup clustering: connected components over the exact-Jaccard
    // pair graph — every doc mapped to its cluster's canonical (min) id.
    // DuckDB checks it with a recursive-CTE transitive closure.
    "dedup_near_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
        k = 3, tau = 0.5)
      Dedup.connectedComponents(docs.select(col("doc_id")), pairs,
          "doc_id", "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("component"))
        .orderBy(col("doc_id"))
    }),

    // MinHash banding + exact shingle-Jaccard verification — the full
    // production dedup loop, FULLY oracle-checked: precision is 1 by the
    // verify step, and banding recall on the fixtures is 1 (DedupSpec
    // pins it vs the exact all-pairs set), so the surviving pairs equal
    // dedup_ngram_jaccard's and ride the same DuckDB oracle
    // 16 bands x 2 rows: a J >= 0.5 pair collides in some band w.p.
    // >= 1 - (1 - 0.25)^16 ≈ 0.99 — at 8x4 banding one borderline sf0.1
    // pair was missed; this curve holds recall 1 at every fixture SF
    "dedup_minhash_lsh" -> ((s, d) => {
      Dedup.minhashVerifiedPairs(Tables.documents(s, d), col("doc_id"),
          col("text"), k = 3, perms = 32, bands = 16, tau = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // incremental near-dup ingest end-to-end: first half of the corpus
    // seeds a persistent LSH band index, the second half ingests against
    // it — cross-batch near-dups drop without re-reading batch 1.
    // FULLY oracle-checked via the replayable md5 shingle + band hashes:
    // DuckDB rebuilds the 32-perm signatures, the 8-band keys, and both
    // drop rules (est-Jaccard vs the seeded index, greedy keep-first in
    // batch) and reproduces the exact survivor set. Cross-batch planted
    // dups stay spec'd in DedupSpec.
    "dedup_minhash_incremental" -> ((s, d) => {
      val root = Scratch.dir("dedup_minhash_incremental", d)
      val idx = s"$root/lsh_index"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"),
        col("source"))
      val cut = 250L
      Dedup.minhashKeepIncremental(docs.filter(col("doc_id") < cut),
        "doc_id", "text", idx, tau = 0.5, replayableHash = true)
      val survivors2 = Dedup.minhashKeepIncremental(
        docs.filter(col("doc_id") >= cut), "doc_id", "text", idx,
        tau = 0.5, replayableHash = true)
      survivors2.select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // SimHash near-dup pairs, FULLY oracle-checked: the m-of-b chunk
    // blocking is pigeonhole-complete (output = exactly all pairs with
    // Hamming <= 6, independent of the blocking plan) and the md5-based
    // token hash lets DuckDB recompute the identical 64-bit fingerprints
    // (sign votes over md5 bits) — candidates are LSH-found, the result
    // is exact. The xxhash production variant keeps its recall/blocking
    // specs in DedupSpec.
    "dedup_simhash" -> ((s, d) => {
      Dedup.simhashPairsReplayable(Tables.documents(s, d), col("doc_id"),
          col("text"), maxDist = 6)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // corpus-trained smoothed bigram LM score (the perplexity-filter
    // shape, fixed-point so it oracle-checks exactly — see
    // TextAnalysis.bigramLmScore)
    // cross-document exact duplicate-substring spans (Lee et al. 2022):
    // maximal character runs whose every 40-char window appears in >= 2
    // distinct docs. Rolling code-point hashes keep substrings off the
    // shuffle; positions are substr-compatible, so DuckDB reproduces the
    // exact spans from raw substrings — a fully oracle-checked dedup gate.
    "dedup_substring_spans" -> ((s, d) => {
      Dedup.duplicateSpans(Tables.documents(s, d), "doc_id", col("text"),
          window = 40, minDocs = 2)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // CCNet-style head/middle/tail quality partition (Wenzek et al.
    // 2020): rank docs by LM predictability (fixed-point bigram score
    // per bigram — higher = more language-like) and cut into three
    // equal-depth buckets with the distributed exactBucket (a global
    // NTILE would collapse to one partition). Per-bucket totals stay
    // integral, so the gate is fully oracle-exact.
    "text_perplexity_buckets" -> ((s, d) => {
      val scored = TextAnalysis.bigramLmScore(Tables.documents(s, d),
          "doc_id", col("text"))
        .withColumn("proxy",
          col("score").cast("double") / greatest(col("n_bigrams"), lit(1L)))
      graft.operators.Profiling.exactBucket(scored, col("proxy").desc,
          Seq(col("doc_id")), 3, "bucket")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("score")).as("total_score"),
          sum(col("n_bigrams")).as("total_bigrams"))
        .orderBy(col("bucket"))
    }),

    "text_lm_bigram" -> ((s, d) => {
      TextAnalysis.bigramLmScore(Tables.documents(s, d), "doc_id",
          col("text"))
        .orderBy(col("doc_id"))
    }),

    // interpolated Kneser-Ney bigram scores: absolute discount d=3/4,
    // continuation-count backoff, the whole probability a ratio of
    // integers ridden in 2^20 fixed point — exact vs the oracle replay
    "text_lm_kneser_ney" -> ((s, d) => {
      TextAnalysis.kneserNeyScore(Tables.documents(s, d), "doc_id",
          col("text"))
        .orderBy(col("doc_id"))
    }),

    "text_tokens" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val ws = TextAnalysis.tokens(col("text"))
      docs.select(col("doc_id"), size(ws).as("n_tokens"),
          size(array_distinct(ws)).as("n_distinct"),
          regexp_count(col("text"), lit("[a-z]+")).as("n_alpha_runs"),
          // BPE-ish subword unit count: alpha runs + digit runs + each
          // non-alphanumeric symbol (the classic pre-tokenizer split; a
          // cheap, cross-engine-exact token-cost estimator for LLM data)
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
            .as("n_subword_units"),
          length(col("text")).as("len"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style rule-based quality gate (Rae et al. 2021 applied
    // doc-level heuristic filters before training — public literature):
    // each document gets keep/fail with the FIRST failing rule named, so
    // corpus curation is auditable (why was this dropped?) rather than a
    // silent filter. Rules: length floor, top-token repetition ceiling,
    // type-token diversity floor. One explode + two-level agg for the
    // per-doc token histogram stats — all map-side combinable.
    "quality_filter_rules" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = split(col("text"), " ")
      val base = docs.select(col("doc_id"), size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"))
      val hist = docs.select(col("doc_id"), explode(toks).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
      val scored = base.join(hist, "doc_id")
        .withColumn("top_ratio", col("mx").cast("double") / col("tot"))
        .withColumn("distinct_ratio",
          col("n_distinct").cast("double") / col("n_tokens"))
        .withColumn("fail_reason",
          when(col("n_tokens") < 20, "too_short")
            .when(col("top_ratio") > 0.15, "repetitive")
            .when(col("distinct_ratio") < 0.3, "low_diversity"))
      scored.select(col("doc_id"), col("n_tokens"), col("top_ratio"),
          col("distinct_ratio"), col("fail_reason").isNull.as("keep"),
          col("fail_reason"))
        .orderBy(col("doc_id"))
    }),

    // the distributed-BPE core, oracle-exact: frequency-weighted adjacent
    // symbol-pair counts over the char+</w> vocabulary — the statistic
    // every training iteration argmaxes. Total deterministic order so the
    // top-20 cut is stable.
    "bpe_pair_counts" -> ((s, d) => {
      graft.operators.Bpe.pairCounts(graft.operators.Bpe.asSymbols(
          graft.operators.Bpe.wordCounts(Tables.documents(s, d), col("text"))))
        .orderBy(col("weight").desc, col("a"), col("b")).limit(20)
    }),

    // end-to-end BPE: train a FIXED 8 merges on the corpus vocabulary
    // (8 pair-count shuffles + 8 one-row argmaxes; the corpus is
    // scanned once), then tokenize every document with the learned
    // merges via the rank-order native encode. FULLY oracle-checked
    // (round-8 conversion): the merge ranking is total and
    // deterministic (weight DESC, a, b), the per-merge rewrite is a
    // greedy left-to-right scan, and encode = the same merges applied
    // in rank order — so an unrolled 8-stage CTE replays TRAINING and
    // TOKENIZATION bit-for-bit in DuckDB (run-parity greedy selection;
    // see bpeTrainOracle). The k-means/PCA replayable-training pattern
    // applied to BPE. BpeSpec still pins the general-nMerges operator
    // against a single-node reference.
    "text_bpe_tokens" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.operators.Bpe.train(docs, col("text"), 8)
      val toks = graft.operators.Bpe.tokens(col("text"), merges)
      docs.select(col("doc_id"), size(toks).as("n_bpe_tokens"),
          size(array_distinct(toks)).as("n_distinct_tokens"))
        .orderBy(col("doc_id"))
    }),

    // end-to-end unigram-LM tokenizer (SentencePiece's second
    // algorithm): seed substring vocabulary, 2 EM rounds of native
    // Viterbi re-segmentation over the distinct-word table, then
    // tokenize every doc. FULLY oracle-checked (round-9 conversion):
    // piece costs are Q20 log2_fp fixed point over exact counts and
    // the DP tie-break is total (longest piece on equal cost), so the
    // oracle replays BOTH EM rounds and the final tokenization as
    // recursive-CTE Viterbi passes in DuckDB — see unigramTrainOracle.
    // UnigramSpec still pins coverage/partition-invariance/astral
    // behavior the SQL replay doesn't exercise.
    "text_unigram_tokens" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the DuckDB oracle indexes by CODE POINT (substr/length) while
      // the Scala DP (segmentWord, MaxPieceLen windows, seed
      // substrings) runs over UTF-16 units — identical iff the corpus
      // is BMP-only. Fail LOUD on an astral fixture instead of letting
      // the hash gate mismatch silently (advisor finding, round 9;
      // UnigramSpec pins the astral-input Scala behavior itself).
      require(docs.filter(col("text").rlike("[\\uD800-\\uDBFF]"))
        .isEmpty, "text_unigram_tokens: fixture contains astral " +
        "(non-BMP) characters — the recursive-CTE oracle replay is " +
        "code-point-indexed and would diverge from the UTF-16 DP")
      val vocab = graft.operators.Unigram.train(docs, col("text"),
        vocabSize = 200)
      val toks = graft.operators.Unigram.tokens(col("text"), vocab)
      docs.select(col("doc_id"), size(toks).as("n_pieces"),
          size(array_distinct(toks)).as("n_distinct_pieces"))
        .orderBy(col("doc_id"))
    }),

    "text_quality" -> ((s, d) => {
      TextAnalysis.qualityFeatures(Tables.documents(s, d), col("text"))
        .select(col("doc_id"), col("n_tokens"), col("alpha_ratio"),
          col("stopword_ratio"), col("mean_token_len"))
        .orderBy(col("doc_id"))
    }),

    // Flesch reading ease + Flesch-Kincaid grade from three exact
    // regexp counts (sentences clamped >= 1; vowel-group syllables) —
    // map-only quality signals for filter thresholds
    "text_readability" -> ((s, d) => {
      TextAnalysis.readability(Tables.documents(s, d), col("doc_id"),
          col("text"))
        .orderBy(col("doc_id"))
    }),

    "text_langid" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang").as("lang_label"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // end-to-end training-data cleaning pipeline: quality gate ->
    // language filter -> exact dedup (keep min id) -> cleaned corpus.
    // The composition a pipeline user actually runs; every stage is one
    // of the operators above, fused by Catalyst into 2 shuffles
    // (dedup groupBy + semi join).
    "pipeline_clean_corpus" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = TextAnalysis.qualityFeatures(docs, col("text"))
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      val gated = scored.filter(col("n_tokens") >= 5 &&
        col("alpha_ratio") > 0.5 && col("lang_pred") =!= "und")
      Dedup.exactKeep(gated, "doc_id", "text")
        .select(col("doc_id"), col("lang_pred"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // generator/UDTF surface: explode tokens to word granularity, then
    // reaggregate (the wordcount shape; map-side partial agg pre-shuffle)
    "explode_wordcount" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("word"))
    }),

    // winnowing fingerprints (Schleimer et al. 2003), FULLY
    // oracle-checked via the md5 k-gram hash: DuckDB replays the window
    // minima + consecutive-dup collapse with window functions over
    // md5(substr(text,i,k)) values. Shared-substring guarantee and the
    // rolling-hash scale variant stay spec'd in DedupSpec.
    "text_winnow" -> ((s, d) => {
      TextAnalysis.winnowFingerprints(s, Tables.documents(s, d),
          "doc_id", "text", replayableHash = true)
        .select(col("doc_id"), size(col("fingerprints")).as("n_fps"),
          array_min(col("fingerprints")).as("min_fp"))
        .orderBy(col("doc_id"))
    }),

    "text_fingerprint" -> ((s, d) => {
      TextAnalysis.fingerprint(Tables.documents(s, d), col("text"), k = 3)
        .select(col("doc_id"), col("content_hash"), col("min_shingle_md5"))
        .orderBy(col("doc_id"))
    }),

    // ranked keyword retrieval: top-20 docs for a fixed 4-term query,
    // fixed-point integer idf weights (IdfScale div df) — the
    // oracle-exact stand-in for log-idf BM25, same rare-term-dominates
    // ordering. The term filter prunes the token stream pre-shuffle and
    // the cut is TakeOrderedAndProject
    "text_search_topk" -> ((s, d) => {
      TextAnalysis.rankByTerms(Tables.documents(s, d), "doc_id",
        col("text"), SearchTerms, k = 20)
    }),

    // TF-IDF backbone, integer-exact: per-doc term frequencies + corpus
    // document frequencies, top-3 terms per doc by (tf desc, term). The
    // idf itself is a float log the caller applies (ln(N/df)) — keeping
    // the query integral makes it hash-exact across engines while
    // exercising the full shape: explode -> (doc,term) agg -> df join ->
    // per-doc window. df join shuffles on term (vocabulary-partitioned;
    // broadcast it when the vocab fits).
    "text_tfidf_topterms" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text")))
          .as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("term"))
      tf.join(df_, "term")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"))
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // THE end-to-end LLM-prep pipeline: quality gate -> language filter
    // -> exact dedup -> deterministic train/val split -> sharded
    // sequence packing -> per-(split, shard) manifest. Every stage is an
    // operator above; every stage is integral, so the whole composition
    // is hash-exact against the oracle.
    "pipeline_training_shards" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = TextAnalysis.qualityFeatures(docs, col("text"))
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      val gated = scored.filter(col("n_tokens") >= 5 &&
        col("alpha_ratio") > 0.5 && col("lang_pred") =!= "und")
      val deduped = Dedup.exactKeep(gated, "doc_id", "text")
      val split = graft.operators.Sampling.hashSplit(deduped, col("doc_id"),
        Seq(("train", 90), ("val", 10)))
      val packed = graft.operators.Packing.packSequences(split,
        col("doc_id"), col("n_tokens"), capTokens = 512, shards = 4,
        within = Seq(col("split")))
      packed.groupBy(col("split"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tokens"),
          max(col("seq_id")).as("max_seq"))
        .orderBy(col("split"), col("shard"))
    }),

    // chunk-then-pack pipeline: documents fan out to overlapping
    // 24-token windows (stride 16), each chunk gets a synthetic orderable
    // key, and chunks pack into 128-token training sequences within 4
    // hash shards — the "long doc -> context windows -> packed batches"
    // layout. All arithmetic integral, fully oracle-checked.
    "pipeline_chunked_shards" -> ((s, d) => {
      val chunks = graft.operators.Packing.chunkByTokens(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("text"), chunkTokens = 24, strideTokens = 16)
        .select((col("doc_id") * 100 + col("chunk_id")).as("ck"),
          col("n_chunk_tokens"))
      graft.operators.Packing.packSequences(chunks, col("ck"),
          col("n_chunk_tokens"), capTokens = 128, shards = 4)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tok")).as("sum_tokens"),
          max(col("seq_id")).as("max_seq"))
        .orderBy(col("shard"))
    }),

    // sequence packing: docs concatenated into 512-token sequences
    // within 8 deterministic hash shards — integral cumulative-sum
    // layout, bit-identical across engines
    "pack_sequences" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Packing.packSequences(docs, col("doc_id"),
          size(TextAnalysis.tokens(col("text"))), capTokens = 512,
          shards = 8)
        .select(col("doc_id"), col("shard"), col("n_tok"), col("seq_id"),
          col("tok_offset"))
        .orderBy(col("doc_id"))
    }),

    // T5 span corruption: 3-token blocks masked at 15% by the md5
    // draw on (doc, block); input keeps one <extra_id_K> sentinel per
    // masked block, target lists sentinel + hidden tokens — the
    // denoising-objective pair generator, fully replayable
    "pack_span_corruption" -> ((s, d) => {
      graft.operators.Packing.spanCorruptionPairs(
          Tables.documents(s, d), "doc_id", col("text"))
        .orderBy(col("doc_id"))
    }),

    // serpentine balanced sharding: 8 equal-WORK shards by n_chars —
    // rank desc, boustrophedon rounds; per-shard loads land within one
    // max row weight of each other, assignment fully replayable
    "pack_balanced_shards" -> ((s, d) => {
      graft.operators.Packing.balancedShards(
          Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          col("doc_id"), col("n_chars"), shards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("shard"))
    }),

    // deterministic train/val/test split by content-hash bucket — the
    // reproducible sampling protocol (stable across runs/engines/
    // repartitions; oracle-exact because the bucket is an arithmetic
    // md5-nibble decode, not an engine hash)
    // systematic sampling: every 10th row of the md5-hash order (1-based
    // offset 1) — equal-probability draws spread EVENLY across the hash
    // order, the classic survey-sampling design; the global position is
    // the distributed range-partition zipWithIndex, never a
    // one-partition window
    "sample_systematic" -> ((s, d) => {
      val h = md5(concat(col("doc_id").cast("string"), lit(":sys")))
      val pos = graft.operators.Ids.denseGlobalRowNumber(
        Tables.documents(s, d).select(col("doc_id"), h.as("__h")),
        Seq(col("__h"), col("doc_id")), "pos0")
      pos.where(pmod(col("pos0"), lit(10L)) === 0)
        .select(col("doc_id"), (col("pos0") + 1).as("pos"))
        .orderBy(col("pos"))
    }),

    "sample_hash_split" -> ((s, d) => {
      graft.operators.Sampling.hashSplit(Tables.documents(s, d),
          col("doc_id"), Seq(("train", 80), ("val", 10), ("test", 10)))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("split"))
    }),

    // collocation mining: adjacent-token bigrams ranked by exact
    // fixed-point lift (= monotone in PMI) — no log, no float, the
    // pairRules decimal(38) scheme over unigram/bigram counts
    "text_collocations" -> ((s, d) => {
      graft.operators.TextAnalysis.collocations(
        Tables.documents(s, d), col("text"), minCount = 5, topK = 20)
    }),

    // full entity-resolution pipeline: blocked levenshtein match ->
    // transitive-closure clustering -> deterministic survivorship (the
    // canonical record per entity). brand is deterministically nulled on
    // id % 7 = 0 so the first-non-null-in-id-order rule is exercised for
    // real; the oracle reproduces the closure with a recursive CTE
    "er_resolve_parts" -> ((s, d) => {
      val recs = Tables.part(s, d).select(
        col("p_partkey").as("id"), col("p_name").as("name"),
        when(col("p_partkey") % 7 =!= 0, col("p_brand")).as("brand"),
        col("p_retailprice").as("price"))
      graft.operators.EntityResolution
        .resolve(recs, "id", "name", Seq("brand", "price"), maxDist = 2)
        .withColumnRenamed("canonical_name", "name")
        .orderBy(col("entity_id"))
    }),

    // golden-record survivorship over declared clusters: per attribute
    // a deterministic total-order pick — longest name, modal brand,
    // latest price (recency stood in by p_partkey, documented) — the
    // MDM consolidation step after resolution, fully oracle-replayable
    "er_golden_record" -> ((s, d) => {
      import graft.operators.EntityResolution._
      goldenRecord(Tables.part(s, d),
          expr("p_partkey div 4"),
          Seq(("name", col("p_name"), LongestPick),
            ("brand", col("p_brand"), ModePick),
            ("price", col("p_retailprice"), LatestPick(col("p_partkey")))))
        .orderBy(col("cluster"))
    }),

    // Fellegi-Sunter probabilistic linkage scores over two-token
    // composite blocks: per-attribute log2(m/u) agreement weights with
    // u estimated exactly from value frequencies, all integer
    // fixed-point — the principled match score next to the
    // edit-distance pipeline. Two-token keys because the fixture's
    // name vocabulary is FIXED: single-token blocks grow linearly with
    // the data (pairs quadratically); the composite keeps occupancy
    // bounded — the blocking-cardinality rule the operator documents
    "er_fellegi_sunter" -> ((s, d) => {
      val recs = Tables.part(s, d).select(
        col("p_partkey").as("id"), col("p_name").as("name"),
        when(col("p_partkey") % 7 =!= 0, col("p_brand")).as("brand"),
        col("p_retailprice").as("price"))
      graft.operators.EntityResolution
        .fellegiSunterScore(recs, "id",
          Seq(substring_index(col("name"), " ", 2),
            substring_index(col("name"), " ", -2)),
          Seq("name", "brand", "price"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // model-based quality filter (CCNet/fastText recipe): weak labels
    // from the corpus's own bigram-LM signal, hashed unigram+bigram
    // logistic regression, map-only scoring of every doc. L-BFGS floats
    // are not cross-engine reproducible -> rows-only gate; the planted
    // clean-vs-junk separation and weak-label agreement are spec-pinned
    // in QualityModelSpec.
    "quality_model_score" -> ((s, d) => {
      graft.operators.QualityModel
        .weakLabelScore(Tables.documents(s, d), "doc_id", col("text"),
          numFeatures = 1 << 12, maxIter = 20)
        .select(col("doc_id"), col("weak_label"), col("model_quality"))
        .orderBy(col("doc_id"))
    }),

    // per-source token-distribution Shannon entropy: the vocabulary-
    // diversity quality signal, hash-exact — H_bits = ent_num/(T*2^20)
    // with the log in the fixed-point integer log2_fp expression (no
    // libm), replayed by the oracle as a 20-step recursive CTE
    "text_token_entropy" -> ((s, d) => {
      TextAnalysis.tokenEntropy(Tables.documents(s, d), col("source"),
          col("text"))
        .withColumnRenamed("grp", "source")
        .orderBy(col("source"))
    }),

    // multinomial naive Bayes over document tokens (train buckets 1-4,
    // test bucket 0; class = declared lang): the whole train -> score ->
    // argmax loop in log2_fp fixed point — a fully oracle-checked text
    // classifier, no float anywhere
    "text_naive_bayes" -> ((s, d) => {
      TextAnalysis.naiveBayes(Tables.documents(s, d), col("doc_id"),
          col("text"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // moving-average type-token ratio: length-robust lexical diversity
    // per doc — repetitive boilerplate scores low at any length. The
    // window mean is computed interval-analytically (no w-times row
    // inflation); integers end-to-end, one IEEE division readout.
    "text_mattr" -> ((s, d) => {
      TextAnalysis.mattr(Tables.documents(s, d), col("doc_id"),
          col("text"), w = 25)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // sparse TF-IDF cosine pairs: weighted-bag document similarity (tf
    // weighting + rare-term dominance, which set-Jaccard can't express),
    // thresholded by exact decimal cross-multiplication — no float
    // ratio anywhere, so the pair report hash-matches. df <= 400 is the
    // idf prune that is also the quadratic-fan-out guard
    "text_sparse_cosine_pairs" -> ((s, d) => {
      TextAnalysis.sparseCosinePairs(Tables.documents(s, d), "doc_id",
          col("text"), tauNum = 9, tauDen = 10, maxDf = 400)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // sorted-neighborhood ER blocking (Hernandez-Stolfo SNM): candidates
    // = pairs within a window of the global name order — catches pairs
    // whose shared block TOKEN was itself corrupted, with a data-
    // independent candidate count. Global rank via the distributed
    // zipWithIndex (never a one-partition window), bucketed equi-join
    // the sort KEY is the designed part (Hernandez-Stolfo's point):
    // last word first, so "cold widget"/"old widget" sort adjacent by
    // noun — plain alphabetical order puts them a whole color-alphabet
    // apart (gap 32 in this fixture) and any affordable window misses
    // them
    "er_sorted_neighborhood" -> ((s, d) => {
      val names = Tables.part(s, d).groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("id"))
        .select(col("id"), col("p_name").as("name"))
      val key = concat(substring_index(col("name"), " ", -1),
        lit(" "), col("name"))
      graft.operators.EntityResolution.sortedNeighborhoodPairs(
          names, "id", "name", key, window = 9, maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // cross-source overlap matrix: per source pair, exact intersection/
    // union of distinct word-shingle sets (mixture observability — "how
    // much of A is already in B"). Integer counts, no ratio -> hash-
    // exact; pairs with empty intersections are absent by construction
    "dedup_source_overlap" -> ((s, d) => {
      graft.operators.CorpusOverlap
        .pairwiseShingleOverlap(Tables.documents(s, d), col("source"),
          col("text"), n = 3)
        .orderBy(col("src_a"), col("src_b"))
    }),

    // trigram-postings substring search (the code-search index shape):
    // build the (gram_hash, doc) inverted index, probe it with the
    // pattern's trigrams, exact-verify candidates — result provably
    // identical to contains(text, pattern), which the oracle computes
    // directly
    "text_substring_search" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val postings = graft.operators.TextIndex
        .buildPostings(docs, "doc_id", col("text"))
      graft.operators.TextIndex
        .search(postings, docs, "doc_id", col("text"), SearchPattern)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // SymSpell fuzzy lookup over the part-name corpus: deterministic
    // one-char-deleted corruptions of a 5% name sample matched back
    // within edit distance 1 through the deletion-neighborhood
    // equi-join; the oracle brute-forces the |Q| x |V| levenshtein
    // product the engine's index avoids (customer names are the one
    // SF-scaled high-cardinality string column in the fixture — the
    // realistic entity-matching shape)
    "text_fuzzy_lookup" -> ((s, d) => {
      val vocab = Tables.customer(s, d).select(col("c_name").as("term"))
        .where(col("term").isNotNull).distinct()
      val pos = pmod(graft.functions.HashFunctions.md5_u32(
        concat(lit("fz#"), col("term"))), length(col("term"))) + 1
      val queries = vocab
        .where(graft.operators.Sampling.hashBucket(col("term"), 20) === 0)
        .select(concat(col("term").substr(lit(1), pos - 1),
          col("term").substr(pos + 1, length(col("term")))).as("q"))
      graft.operators.TextIndex.fuzzyLookup(vocab, "term", queries, "q",
          maxEdits = 1)
        .orderBy(col("query_term"), col("match_term"))
    }),

    // positional-postings phrase query: docs where the tokens "table"
    // and "scan" are ADJACENT, with match count and first position —
    // the retrieval primitive substring containment can't express
    "text_phrase_search" -> ((s, d) => {
      graft.operators.TextIndex.phraseSearch(Tables.documents(s, d),
          "doc_id", col("text"), Seq("table", "scan"))
        .orderBy(col("doc_id"))
    }),

    // proximity ranking: the minimal token window covering ALL of
    // (fast, join, scan) per doc — the conditional-running-max sweep,
    // |terms| windows over IN-filtered postings, top 20 tightest
    "text_search_proximity" -> ((s, d) => {
      graft.operators.TextIndex.minCoverSpan(Tables.documents(s, d),
          "doc_id", col("text"), Seq("fast", "join", "scan"))
        .orderBy(col("min_cover"), col("doc_id"))
        .limit(20)
    }),

    // BM25 top-k: tf saturation + length normalization in exact
    // integer fixed point (rational k1/b, un-divided avgdl, log2_fp
    // Lucene idf) — scores are bigints, ranking engine-independent
    "text_search_bm25" -> ((s, d) => {
      TextAnalysis.bm25TopK(Tables.documents(s, d), "doc_id",
        col("text"), Seq("fast", "join", "scan"), k = 20)
    }),

    // hybrid-retrieval rank fusion: the fixed-point idf term ranking
    // and the rational-BM25 ranking (different terms, incomparable
    // score scales) fused by reciprocal rank — each list contributes
    // 2^20 div (rank + 60), so the fused scores are exact bigints and
    // the agreement count (n_lists) rides along. Everything downstream
    // of the two top-20 cuts is arithmetic over <= 40 rows.
    "search_rrf_fusion" -> ((s, d) => {
      import graft.operators.Retrieval
      val docs = Tables.documents(s, d)
      val lex = Retrieval.rankOf(
        TextAnalysis.rankByTerms(docs, "doc_id", col("text"),
          SearchTerms, k = 20),
        Nil, Seq(col("score").desc, col("doc_id")))
      val bm = Retrieval.rankOf(
        TextAnalysis.bm25TopK(docs, "doc_id", col("text"),
          Seq("fast", "join", "scan"), k = 20),
        Nil, Seq(col("bm25_fp").desc, col("doc_id")))
      Retrieval.rrfFuse(Seq(lex, bm), "doc_id")
        .orderBy(col("rrf_fp").desc, col("doc_id"))
    }),

    // RAKE keyphrases: stopword-free runs scored by fixed-point
    // deg/freq word weights — document keyword extraction without a
    // model, engine-exact ranking
    "text_keyphrases_rake" -> ((s, d) => {
      TextAnalysis.rakePhrases(Tables.documents(s, d), "doc_id",
        col("text"), stop = Seq("a", "the"), k = 20)
    }),

    // Rule-based sentence segmentation: the partition-of-the-text
    // regexp, match ordinals preserved, blank matches dropped — the
    // map-only explode that turns document-level cleaning into
    // sentence-level rows. The fixture text carries no punctuation, so
    // the query first derives it deterministically (a period after
    // every 'table', word-boundary matched — replayable in Java regex
    // and RE2 alike); segmentation itself is fully oracle-exact.
    "text_sentences" -> ((s, d) => {
      TextAnalysis.sentences(Tables.documents(s, d), "doc_id",
          regexp_replace(col("text"), "\\btable\\b", "table."))
        .orderBy(col("doc_id"), col("sent_idx"))
    })
  )

  /** Fixed probe for `text_substring_search`: a two-word phrase, so the
    * result depends on word ADJACENCY that any bag-of-words/token query
    * cannot express (matches ~5% of fixture docs at every SF). */
  private val SearchPattern = "merge batch"

  // shared by dedup_ngram_jaccard and dedup_jaccard_prefix (prefix
  // filtering changes the plan, never the output)
  private lazy val jaccardOracle =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, UNNEST($duckShingles) AS shingle
       |  FROM documents),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_inter, ca.n AS n_a, cb.n AS n_b,
       |  CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter) AS jaccard
       |FROM pairs
       |JOIN cnt ca ON doc_a = ca.doc_id
       |JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // shared by dedup_containment and dedup_containment_prefix (the
  // smaller-side prefix filter changes the plan, never the output)
  private lazy val containmentOracle =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, UNNEST($duckShingles) AS shingle
       |  FROM documents),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_inter, ca.n AS n_a, cb.n AS n_b,
       |  CAST(n_inter AS DOUBLE) / ca.n AS cont_a_in_b,
       |  CAST(n_inter AS DOUBLE) / cb.n AS cont_b_in_a,
       |  GREATEST(CAST(n_inter AS DOUBLE) / ca.n,
       |           CAST(n_inter AS DOUBLE) / cb.n) AS containment
       |FROM pairs
       |JOIN cnt ca ON doc_a = ca.doc_id
       |JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE GREATEST(CAST(n_inter AS DOUBLE) / ca.n,
       |               CAST(n_inter AS DOUBLE) / cb.n) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  // DuckDB-side shingle expression: word 3-grams from 1-based list math,
  // empty for docs with < 3 tokens (mirrors TextAnalysis.shingles).
  private[queries] val duckShingles =
    """list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 1)),
      |    i -> string_split(text,' ')[i] || ' ' ||
      |         string_split(text,' ')[i+1] || ' ' ||
      |         string_split(text,' ')[i+2])""".stripMargin

  // shared DuckDB scaffolding for the language-ID heuristic — one source
  // of truth for every oracle that scores languages (hits columns,
  // GREATEST(best), argmax CASE chain)
  private[queries] lazy val (langHits, langBest, langChain) = {
    val sets = TextAnalysis.Stopwords.toSeq.sortBy(_._1)
    val hits = sets.map { case (l, ws) =>
      s"len(list_filter(string_split(text,' '), t -> t IN (${ws.map("'" + _ + "'").mkString(",")}))) AS hits_$l"
    }.mkString(",\n    ")
    val best = sets.map { case (l, _) => s"hits_$l" }
      .mkString("GREATEST(", ", ", ")")
    val chain = sets.map { case (l, _) =>
      s"WHEN hits_$l = best AND best > 0 THEN '$l'"
    }.mkString(" ")
    (hits, best, s"CASE $chain ELSE 'und' END")
  }

  private def langCase: String =
    s"""WITH scored AS (SELECT doc_id, lang AS lang_label,
       |    $langHits
       |  FROM documents),
       |b AS (SELECT *, $langBest AS best FROM scored)
       |SELECT doc_id, lang_label,
       |  $langChain AS lang_pred
       |FROM b ORDER BY doc_id""".stripMargin

  private def pipelineOracle: String = {
    val hits = langHits
    val best = langBest
    s"""WITH scored AS (
       |  SELECT doc_id, text,
       |    len(string_split(text,' ')) AS n_tokens,
       |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
       |      / length(text) AS alpha_ratio,
       |    $hits
       |  FROM documents),
       |b AS (SELECT *, $best AS best FROM scored),
       |lang AS (SELECT doc_id, text, n_tokens, alpha_ratio,
       |    $langChain AS lang_pred FROM b),
       |gated AS (SELECT * FROM lang
       |  WHERE n_tokens >= 5 AND alpha_ratio > 0.5 AND lang_pred != 'und'),
       |keep AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text))
       |SELECT g.doc_id, g.lang_pred, g.n_tokens
       |FROM gated g JOIN keep k ON g.doc_id = k.doc_id
       |ORDER BY g.doc_id""".stripMargin
  }

  private def trainingShardsOracle: String = {
    import graft.operators.Sampling
    s"""WITH scored AS (
       |  SELECT doc_id, text,
       |    len(string_split(text,' ')) AS n_tokens,
       |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
       |      / length(text) AS alpha_ratio,
       |    $langHits
       |  FROM documents),
       |bb AS (SELECT *, $langBest AS best FROM scored),
       |lang AS (SELECT doc_id, text, n_tokens, alpha_ratio,
       |    $langChain AS lang_pred FROM bb),
       |gated AS (SELECT * FROM lang
       |  WHERE n_tokens >= 5 AND alpha_ratio > 0.5 AND lang_pred != 'und'),
       |keep AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
       |ded AS (SELECT g.doc_id, g.n_tokens
       |  FROM gated g JOIN keep k ON g.doc_id = k.doc_id),
       |hx AS (SELECT doc_id, n_tokens, md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM ded),
       |sb AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tok,
       |  CASE WHEN ${Sampling.hashBucketSql("doc_id", 100)} < 90
       |    THEN 'train' ELSE 'val' END AS split,
       |  ${Sampling.hashBucketSql("doc_id", 4)} AS shard FROM hx),
       |c AS (SELECT split, shard, n_tok, doc_id,
       |  CAST(SUM(n_tok) OVER (PARTITION BY split, shard ORDER BY doc_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok AS start FROM sb)
       |SELECT split, shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       |  MAX(start // 512) AS max_seq
       |FROM c GROUP BY split, shard ORDER BY split, shard""".stripMargin
  }

  /** The md5-head63 value of `e` in DuckDB SQL — the exact twin of
    * graft.functions.HashUtil.md5head63 (top u32 masked to 31 bits,
    * shifted, plus the second u32; always nonnegative). */
  private def md5h63Sql(e: String): String =
    s"(CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT) & 2147483647)" +
      s" * 4294967296 + CAST(('0x' || substr(md5($e), 9, 8)) AS BIGINT)"

  /** Generated replay of the two-batch incremental MinHash ingest (cut
    * at doc_id 250, tau 0.5 -> >= 16 of 32 equal slots, k=3, 8 bands x 4
    * rows). The 32 Carter-Wegman (a,b) constants interpolate from
    * SketchUtil.minhashPerm so the Spark fold and this SQL can only
    * drift in review. */
  private def minhashIncrementalOracle: String = {
    val P = graft.functions.SketchUtil.MinhashP
    val perms = 32; val bands = 8; val rows = 4
    val mins = (0 until perms).map { i =>
      val (a, b) = graft.functions.SketchUtil.minhashPerm(i)
      s"MIN((h * $a + $b) % $P) AS m$i"
    }.mkString(",\n         |    ")
    val bandRows = (0 until bands).map { bnd =>
      val slots = (0 until rows).map(r => s"m${bnd * rows + r}")
      s"SELECT doc_id, $bnd AS band, '$bnd:' || ${slots.mkString(" || ',' || ")} AS key FROM sig"
    }.mkString("\n         |  UNION ALL ")
    val eqSum = (0 until perms)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
      .mkString(" +\n         |      ")
    s"""WITH elig AS (
       |  SELECT doc_id, text, source, string_split(text, ' ') AS ws
       |  FROM documents
       |  WHERE text IS NOT NULL
       |    AND length(text) - length(replace(text, ' ', '')) + 1 >= 3
       |), sh AS (
       |  SELECT doc_id,
       |    (${md5h63Sql("array_to_string(ws[i:i+2], ' ')")}) % $P AS h
       |  FROM elig, UNNEST(range(1, greatest(len(ws) - 1, 1))) AS r(i)
       |), sig AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM sh GROUP BY doc_id
       |), bnd AS (
       |  $bandRows
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
       |  FROM bnd x JOIN bnd y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |), simp AS (
       |  SELECT c.da, c.db
       |  FROM cand c JOIN sig a ON a.doc_id = c.da
       |    JOIN sig b ON b.doc_id = c.db
       |  WHERE ($eqSum) >= 16
       |), b1 AS (SELECT doc_id FROM elig WHERE doc_id < 250
       |), s1 AS (
       |  SELECT doc_id FROM b1
       |  WHERE NOT EXISTS (SELECT 1 FROM simp p
       |    WHERE p.db = b1.doc_id AND p.da < 250)
       |), b2 AS (SELECT doc_id FROM elig WHERE doc_id >= 250
       |), s2 AS (
       |  SELECT doc_id FROM b2
       |  WHERE NOT EXISTS (SELECT 1 FROM simp p JOIN s1
       |      ON p.da = s1.doc_id WHERE p.db = b2.doc_id)
       |    AND NOT EXISTS (SELECT 1 FROM simp p
       |      WHERE p.db = b2.doc_id AND p.da >= 250)
       |), keep2 AS (
       |  SELECT doc_id FROM s2
       |  UNION ALL
       |  SELECT doc_id FROM documents
       |  WHERE doc_id >= 250 AND (text IS NULL OR
       |    length(text) - length(replace(text, ' ', '')) + 1 < 3)
       |)
       |SELECT d.doc_id, d.source FROM documents d
       |JOIN keep2 USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** Unrolled-CTE DuckDB replay of `Bpe.train(k)` + rank-order encode.
    *
    * Per iteration: (1) weighted adjacent-pair counts over the symbol
    * rows, (2) argmax (weight DESC, a, b; weight >= 2 or the iteration
    * is a no-op — train()'s stop rule), (3) the greedy left-to-right
    * merge as run-parity selection: among each maximal run of
    * consecutive match positions, exactly the even offsets merge — the
    * scan can only enter a run at its head, so this IS the one-pass
    * skip-2 semantics of [[graft.functions.BpeUtil.mergePair]].
    * Tokenization needs no second pass: encode applies the same merges
    * in the same order, so each word's final symbols are the training
    * state itself — per-doc counts join the word occurrences back to
    * the final vocabulary state. */
  private def bpeTrainOracle(k: Int): String = {
    val iters = (0 until k).map { i =>
      s"""pc$i AS MATERIALIZED (
         |  SELECT x.sym AS a, y.sym AS b, SUM(x.wc) AS weight
         |  FROM seq$i x JOIN seq$i y ON x.w = y.w AND y.pos = x.pos + 1
         |  GROUP BY 1, 2),
         |best$i AS MATERIALIZED (
         |  SELECT a, b FROM pc$i WHERE weight >= 2
         |  ORDER BY weight DESC, a, b LIMIT 1),
         |m$i AS (
         |  SELECT w, wc, pos, sym,
         |    CASE WHEN sym = (SELECT a FROM best$i) AND
         |      lead(sym) OVER (PARTITION BY w ORDER BY pos) =
         |        (SELECT b FROM best$i) THEN 1 ELSE 0 END AS mt
         |  FROM seq$i),
         |g$i AS (
         |  SELECT *, CASE WHEN mt = 1 THEN pos - ROW_NUMBER() OVER (
         |      PARTITION BY w, mt ORDER BY pos) END AS grp
         |  FROM m$i),
         |sel$i AS (
         |  SELECT w, wc, pos, sym,
         |    CASE WHEN mt = 1 AND
         |      (pos - MIN(pos) OVER (PARTITION BY w, grp)) % 2 = 0
         |      THEN 1 ELSE 0 END AS sel
         |  FROM g$i),
         |seq${i + 1} AS MATERIALIZED (
         |  SELECT w, wc, ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos)
         |      AS pos,
         |    CASE WHEN sel = 1 THEN sym || nxt ELSE sym END AS sym
         |  FROM (SELECT *, lead(sym) OVER (PARTITION BY w ORDER BY pos)
         |          AS nxt,
         |          COALESCE(lag(sel) OVER (PARTITION BY w ORDER BY pos),
         |            0) AS psel
         |        FROM sel$i)
         |  WHERE psel = 0)""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM (
       |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |seq0 AS MATERIALIZED (
       |  SELECT w, wc, UNNEST(arr) AS sym,
       |    UNNEST(range(1, len(arr) + 1)) AS pos
       |  FROM (SELECT w, wc,
       |          list_append(string_split(w, ''), '</w>') AS arr
       |        FROM words)),
       |$iters,
       |doc_words AS (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
       |  FROM documents)
       |SELECT d.doc_id,
       |  CAST(COUNT(f.sym) AS BIGINT) AS n_bpe_tokens,
       |  CAST(COUNT(DISTINCT f.sym) AS BIGINT) AS n_distinct_tokens
       |FROM documents d
       |LEFT JOIN (SELECT doc_id, w FROM doc_words WHERE w <> '') dw
       |  ON dw.doc_id = d.doc_id
       |LEFT JOIN seq$k f ON f.w = dw.w
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  /** One Viterbi segmentation pass over the distinct-word table as a
    * DuckDB recursive CTE — the SQL replay of
    * [[graft.functions.UnigramUtil.segmentWord]]. State per (word,
    * position i): the last 6 DP costs (`c1` = dp[i] ... `c6` = dp[i-5])
    * and their piece paths, advanced one position per recursion step.
    * Candidate selection packs (cost, piece length) into one integer
    * key `cost*8 + (6-k)` so `LEAST` reproduces the Scala tie-break
    * exactly: min cost first, LONGEST piece on ties (the DP scans
    * longest-first and moves only on strict improvement). Unknown
    * single characters get the same finite floor cost; longer unknown
    * substrings are invalid candidates (the HUGE sentinel). Produces
    * `seg$t` (all DP states) — callers read `i = len` rows and split
    * the chr(31)-joined path back into pieces. */
  private def unigramViterbiCte(t: Int, vocabCte: String): String = {
    val huge = "4611686018427387904" // 2^62: above any real packed key
    val unk = graft.operators.Unigram.UnkCostFp
    def cand(k: Int): String = {
      val cost =
        if (k == 1) s"COALESCE(v1.cost, $unk)" else s"v$k.cost"
      val guard = if (k == 1) "" else s"i+1 >= $k AND "
      s"CASE WHEN $guard$cost IS NOT NULL THEN (c$k + $cost)*8 + ${6 - k} " +
        s"ELSE $huge END"
    }
    val joins = (1 to 6).map { k =>
      val on =
        if (k == 1) s"v1.piece = substr(s.w, CAST(s.i+1 AS INT), 1)"
        else s"s.i+1 >= $k AND " +
          s"v$k.piece = substr(s.w, CAST(s.i+2-$k AS INT), $k)"
      s"LEFT JOIN $vocabCte v$k ON $on"
    }.mkString("\n  ")
    val newPath = s"""CASE bk % 8
       |      WHEN 5 THEN p1 || chr(31) || substr(w, CAST(i+1 AS INT), 1)
       |      WHEN 4 THEN p2 || chr(31) || substr(w, CAST(i AS INT), 2)
       |      WHEN 3 THEN p3 || chr(31) || substr(w, CAST(i-1 AS INT), 3)
       |      WHEN 2 THEN p4 || chr(31) || substr(w, CAST(i-2 AS INT), 4)
       |      WHEN 1 THEN p5 || chr(31) || substr(w, CAST(i-3 AS INT), 5)
       |      ELSE p6 || chr(31) || substr(w, CAST(i-4 AS INT), 6)
       |    END""".stripMargin
    s"""seg$t AS (
       |  SELECT w, wc, len, CAST(0 AS BIGINT) AS i,
       |    CAST(0 AS BIGINT) AS c1, CAST($huge AS BIGINT) AS c2,
       |    CAST($huge AS BIGINT) AS c3, CAST($huge AS BIGINT) AS c4,
       |    CAST($huge AS BIGINT) AS c5, CAST($huge AS BIGINT) AS c6,
       |    '' AS p1, '' AS p2, '' AS p3, '' AS p4, '' AS p5, '' AS p6
       |  FROM wl
       |  UNION ALL
       |  SELECT w, wc, len, i+1,
       |    bk // 8, c1, c2, c3, c4, c5,
       |    $newPath,
       |    p1, p2, p3, p4, p5
       |  FROM (
       |    SELECT s.*, LEAST(${(1 to 6).map(cand).mkString(",\n      ")})
       |        AS bk
       |    FROM seg$t s
       |  $joins
       |    WHERE s.i < s.len) z),
       |fin$t AS (SELECT w, wc, p1 AS path FROM seg$t WHERE i = len),
       |pcs$t AS MATERIALIZED (
       |  SELECT w, wc,
       |    UNNEST(list_filter(string_split(path, chr(31)), x -> x <> ''))
       |      AS piece
       |  FROM fin$t)""".stripMargin
  }

  /** Full unrolled replay of [[graft.operators.Unigram.train]] +
    * tokenize in DuckDB: seed substring vocabulary (top maxSeed by
    * (freq DESC, piece) + all single chars), Q20 fixed-point costs
    * through the [[graft.functions.FixedLog]] CTE (one instance per
    * round), `emIters` EM rounds of recursive-CTE Viterbi
    * re-segmentation + expected-count prune (chars always kept), and a
    * final Viterbi tokenization pass joined back to documents — the
    * BPE/OPQ/PCA replayable-training pattern applied to the unigram
    * LM. Every quantity is an exact integer, so the gate is
    * hash-exact. */
  private def unigramTrainOracle(vocabSize: Int, emIters: Int): String = {
    val maxSeed = vocabSize * 4
    def logFor(t: Int, src: String): String =
      graft.functions.FixedLog.duckdbCte(src, s"u$t")
    // seed -> vocab0
    val seedCtes =
      s"""words AS MATERIALIZED (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM (
         |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> '' GROUP BY w),
         |wl AS MATERIALIZED (
         |  SELECT w, wc, CAST(length(w) AS BIGINT) AS len FROM words),
         |subs AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(wc) AS BIGINT) AS freq FROM (
         |    SELECT wc, substr(w, CAST(i AS INT), CAST(k AS INT)) AS piece
         |    FROM (SELECT w, wc, UNNEST(range(1, length(w)+1)) AS i
         |          FROM words),
         |      UNNEST(range(1, 7)) AS t(k)
         |    WHERE i + k - 1 <= length(w)) e
         |  GROUP BY piece),
         |seedtop AS (SELECT piece, freq FROM subs
         |  ORDER BY freq DESC, piece LIMIT $maxSeed),
         |seed AS MATERIALIZED (
         |  SELECT piece, CAST(MAX(freq) AS BIGINT) AS c FROM (
         |    SELECT piece, freq FROM seedtop
         |    UNION ALL
         |    SELECT piece, freq FROM subs WHERE length(piece) = 1) u
         |  GROUP BY piece),
         |seedchars AS (SELECT piece FROM seed WHERE length(piece) = 1),
         |tot0 AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM seed),
         |xs0 AS (SELECT c AS x FROM seed UNION SELECT t FROM tot0),
         |${logFor(0, "xs0")},
         |vocab0 AS MATERIALIZED (
         |  SELECT s.piece,
         |    (SELECT l FROM lgu0 WHERE x = (SELECT t FROM tot0)) - g.l
         |      AS cost
         |  FROM seed s JOIN lgu0 g ON g.x = s.c)""".stripMargin
    // EM round t: segment under vocab(t-1), count, prune, re-cost
    val emCtes = (1 to emIters).map { t =>
      s"""${unigramViterbiCte(t, s"vocab${t - 1}")},
         |cnt$t AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(wc) AS BIGINT) AS c
         |  FROM pcs$t GROUP BY piece),
         |chars$t AS (
         |  SELECT s.piece,
         |    GREATEST(COALESCE(c.c, CAST(0 AS BIGINT)),
         |      CAST(1 AS BIGINT)) AS c
         |  FROM seedchars s LEFT JOIN cnt$t c ON c.piece = s.piece),
         |multi$t AS (
         |  SELECT piece, c FROM cnt$t WHERE length(piece) > 1
         |  QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, piece)
         |    <= $vocabSize - (SELECT COUNT(*) FROM seedchars)),
         |kept$t AS MATERIALIZED (
         |  SELECT piece, c FROM chars$t
         |  UNION ALL SELECT piece, c FROM multi$t),
         |tot$t AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM kept$t),
         |xs$t AS (SELECT c AS x FROM kept$t UNION SELECT t FROM tot$t),
         |${logFor(t, s"xs$t")},
         |vocab$t AS MATERIALIZED (
         |  SELECT k2.piece,
         |    (SELECT l FROM lgu$t WHERE x = (SELECT t FROM tot$t)) - g.l
         |      AS cost
         |  FROM kept$t k2 JOIN lgu$t g ON g.x = k2.c)""".stripMargin
    }.mkString(",\n")
    val fin = emIters + 1
    s"""WITH RECURSIVE $seedCtes,
       |$emCtes,
       |${unigramViterbiCte(fin, s"vocab$emIters")},
       |doc_words AS (
       |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
       |  FROM documents)
       |SELECT d.doc_id,
       |  CAST(COUNT(f.piece) AS BIGINT) AS n_pieces,
       |  CAST(COUNT(DISTINCT f.piece) AS BIGINT) AS n_distinct_pieces
       |FROM documents d
       |LEFT JOIN (SELECT doc_id, w FROM doc_words WHERE w <> '') dw
       |  ON dw.doc_id = d.doc_id
       |LEFT JOIN pcs$fin f ON f.w = dw.w
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // full training + tokenization replay of the fixed-point unigram
    // LM (see unigramTrainOracle; gate trains vocabSize=200, 2 EM
    // rounds — the Scala defaults)
    "text_unigram_tokens" -> unigramTrainOracle(200, 2),
    // same run segmentation (stopword prefix count), same fixed-point
    // deg/freq word scores, same phrase-type rollup
    "text_keyphrases_rake" ->
      """WITH toks AS (
        |  SELECT doc_id, l[i+1] AS term, i AS pos
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l
        |        FROM documents WHERE text IS NOT NULL),
        |    UNNEST(range(len(l))) AS r(i)
        |), marked AS (
        |  SELECT doc_id, term, pos, term IN ('a','the') AS stop,
        |    SUM(CASE WHEN term IN ('a','the') THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS UNBOUNDED PRECEDING) AS run
        |  FROM toks
        |), runs AS (SELECT * FROM marked WHERE NOT stop),
        |phr AS (
        |  SELECT doc_id, run,
        |    string_agg(term, ' ' ORDER BY pos) AS phrase,
        |    COUNT(*) AS len
        |  FROM runs GROUP BY doc_id, run
        |), members AS (
        |  SELECT p.doc_id, p.run, p.phrase, p.len, r.term
        |  FROM phr p JOIN runs r
        |    ON r.doc_id = p.doc_id AND r.run = p.run
        |), ws AS (
        |  SELECT term,
        |    (SUM(len) * 1048576) // COUNT(*) AS wfp
        |  FROM members GROUP BY term
        |), occ AS (
        |  SELECT m.doc_id, m.run, m.phrase, m.len,
        |    SUM(w.wfp) AS occ_fp
        |  FROM members m JOIN ws w ON w.term = m.term
        |  GROUP BY m.doc_id, m.run, m.phrase, m.len
        |)
        |SELECT phrase, CAST(MAX(len) AS BIGINT) AS n_words,
        |  COUNT(*) AS n_occurrences,
        |  CAST(MAX(occ_fp) AS BIGINT) AS score_fp
        |FROM occ GROUP BY phrase
        |ORDER BY score_fp DESC, phrase LIMIT 20""".stripMargin,

    // same rational-BM25 integer arithmetic, idf through the log2_fp
    // CTE (scalar-subquery lookups into lg), hugeint floor division
    "text_search_bm25" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
         |  FROM documents WHERE text IS NOT NULL
         |), dlen AS (
         |  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
         |), tot AS (
         |  SELECT CAST(SUM(dl) AS BIGINT) AS a_tot, COUNT(*) AS d_tot
         |  FROM dlen
         |), tf AS (
         |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM toks WHERE term IN ('fast','join','scan')
         |  GROUP BY doc_id, term
         |), dfq AS (
         |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
         |), xs AS (
         |  SELECT 2*d_tot + 2 AS x FROM tot
         |  UNION SELECT 2*df + 1 FROM dfq
         |),
         |${graft.functions.FixedLog.duckdbCte("xs")},
         |idf AS (
         |  SELECT d.term,
         |    (SELECT l FROM lg WHERE x = 2*t.d_tot + 2)
         |      - (SELECT l FROM lg WHERE x = 2*d.df + 1) AS idf2
         |  FROM dfq d, tot t
         |), contrib AS (
         |  SELECT f.doc_id,
         |    CAST(i.idf2 AS HUGEINT) * 44 * t.a_tot * f.tf
         |      // (CAST(t.a_tot AS HUGEINT) * 20 * f.tf
         |          + CAST(t.a_tot AS HUGEINT) * 6
         |          + CAST(l.dl AS HUGEINT) * 18 * t.d_tot) AS c
         |  FROM tf f
         |  JOIN idf i USING (term)
         |  JOIN dlen l USING (doc_id), tot t
         |)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS bm25_fp
         |FROM contrib GROUP BY doc_id
         |ORDER BY bm25_fp DESC, doc_id LIMIT 20""".stripMargin,

    // per-rule window replays: longest -> (len desc, value desc),
    // latest -> (ts desc, value desc), mode -> (count desc, value asc)
    "er_golden_record" ->
      """WITH p AS (
        |  SELECT p_partkey // 4 AS cluster, p_partkey, p_name, p_brand,
        |    p_retailprice
        |  FROM part
        |), base AS (
        |  SELECT cluster, COUNT(*) AS n_members FROM p GROUP BY 1
        |), nm AS (
        |  SELECT cluster, p_name FROM (
        |    SELECT cluster, p_name, ROW_NUMBER() OVER (
        |      PARTITION BY cluster
        |      ORDER BY length(p_name) DESC, p_name DESC) AS rk
        |    FROM p WHERE p_name IS NOT NULL) WHERE rk = 1
        |), pr AS (
        |  SELECT cluster, p_retailprice FROM (
        |    SELECT cluster, p_retailprice, ROW_NUMBER() OVER (
        |      PARTITION BY cluster
        |      ORDER BY p_partkey DESC, p_retailprice DESC) AS rk
        |    FROM p WHERE p_retailprice IS NOT NULL) WHERE rk = 1
        |), mf AS (
        |  SELECT cluster, p_brand FROM (
        |    SELECT cluster, p_brand, ROW_NUMBER() OVER (
        |      PARTITION BY cluster ORDER BY c DESC, p_brand) AS rk
        |    FROM (SELECT cluster, p_brand, COUNT(*) AS c FROM p
        |          WHERE p_brand IS NOT NULL GROUP BY 1, 2)) WHERE rk = 1
        |)
        |SELECT b.cluster, b.n_members, nm.p_name AS name,
        |  mf.p_brand AS brand, pr.p_retailprice AS price
        |FROM base b
        |LEFT JOIN nm USING (cluster)
        |LEFT JOIN mf USING (cluster)
        |LEFT JOIN pr USING (cluster)
        |ORDER BY cluster""".stripMargin,

    // same conditional-running-max sweep per term, least() cover cut
    "text_search_proximity" ->
      """WITH t0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS l
        |  FROM documents WHERE text IS NOT NULL
        |), toks AS (
        |  SELECT doc_id, i AS pos, l[i + 1] AS term
        |  FROM t0, UNNEST(range(len(l))) AS r(i)
        |), f AS (
        |  SELECT doc_id, pos, term FROM toks
        |  WHERE term IN ('fast', 'join', 'scan')
        |), lw AS (
        |  SELECT doc_id, pos,
        |    MAX(CASE WHEN term = 'fast' THEN pos END) OVER w AS l0,
        |    MAX(CASE WHEN term = 'join' THEN pos END) OVER w AS l1,
        |    MAX(CASE WHEN term = 'scan' THEN pos END) OVER w AS l2
        |  FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY pos
        |    ROWS UNBOUNDED PRECEDING)
        |), c AS (
        |  SELECT doc_id, pos - least(l0, l1, l2) + 1 AS cover
        |  FROM lw
        |  WHERE l0 IS NOT NULL AND l1 IS NOT NULL AND l2 IS NOT NULL
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_covers,
        |  CAST(MIN(cover) AS BIGINT) AS min_cover
        |FROM c GROUP BY doc_id
        |ORDER BY min_cover, doc_id LIMIT 20""".stripMargin,

    // both retrieval oracles replayed as CTE chains (lexical CTEs
    // renamed to avoid clashes), then rank + 2^20 // (rank+60) fusion
    "search_rrf_fusion" -> {
      val terms = SearchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
         |  FROM documents WHERE text IS NOT NULL
         |), dlen AS (
         |  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
         |), tot AS (
         |  SELECT CAST(SUM(dl) AS BIGINT) AS a_tot, COUNT(*) AS d_tot
         |  FROM dlen
         |), tf AS (
         |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM toks WHERE term IN ('fast','join','scan')
         |  GROUP BY doc_id, term
         |), dfq AS (
         |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
         |), xs AS (
         |  SELECT 2*d_tot + 2 AS x FROM tot
         |  UNION SELECT 2*df + 1 FROM dfq
         |),
         |${graft.functions.FixedLog.duckdbCte("xs")},
         |idf AS (
         |  SELECT d.term,
         |    (SELECT l FROM lg WHERE x = 2*t.d_tot + 2)
         |      - (SELECT l FROM lg WHERE x = 2*d.df + 1) AS idf2
         |  FROM dfq d, tot t
         |), contrib AS (
         |  SELECT f.doc_id,
         |    CAST(i.idf2 AS HUGEINT) * 44 * t.a_tot * f.tf
         |      // (CAST(t.a_tot AS HUGEINT) * 20 * f.tf
         |          + CAST(t.a_tot AS HUGEINT) * 6
         |          + CAST(l.dl AS HUGEINT) * 18 * t.d_tot) AS c
         |  FROM tf f
         |  JOIN idf i USING (term)
         |  JOIN dlen l USING (doc_id), tot t
         |), bmtop AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS bm25_fp
         |  FROM contrib GROUP BY doc_id
         |  ORDER BY bm25_fp DESC, doc_id LIMIT 20
         |), tf2 AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
         |  WHERE term IN ($terms) GROUP BY doc_id, term
         |), dfc2 AS (SELECT term, COUNT(*) AS df FROM tf2 GROUP BY term),
         |lextop AS (
         |  SELECT tf2.doc_id,
         |    CAST(SUM(tf2.tf * (${TextAnalysis.IdfScale} // dfc2.df))
         |      AS BIGINT) AS score
         |  FROM tf2 JOIN dfc2 USING (term)
         |  GROUP BY tf2.doc_id
         |  ORDER BY score DESC, doc_id LIMIT 20
         |), ranked AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (
         |      ORDER BY score DESC, doc_id) AS rank
         |  FROM lextop
         |  UNION ALL
         |  SELECT doc_id, ROW_NUMBER() OVER (
         |      ORDER BY bm25_fp DESC, doc_id) AS rank
         |  FROM bmtop
         |)
         |SELECT doc_id, COUNT(*) AS n_lists,
         |  CAST(SUM(1048576 // (rank + 60)) AS BIGINT) AS rrf_fp
         |FROM ranked GROUP BY doc_id
         |ORDER BY rrf_fp DESC, doc_id""".stripMargin
    },

    // positions via list index + range unnest; same shift-and-count
    // phrase alignment
    "text_phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id, l[i+1] AS term, i AS pos
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l
        |        FROM documents WHERE text IS NOT NULL),
        |    UNNEST(range(len(l))) AS r(i)
        |), ph(term, k) AS (VALUES ('table', 0), ('scan', 1)),
        |st AS (
        |  SELECT doc_id, pos - k AS start
        |  FROM toks JOIN ph USING (term)
        |  WHERE pos - k >= 0
        |), m AS (
        |  SELECT doc_id, start FROM st
        |  GROUP BY doc_id, start HAVING COUNT(*) = 2
        |)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |  CAST(MIN(start) AS BIGINT) AS first_pos
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same three regexp counts (RE2 len(regexp_extract_all) = Java
    // regexp_count on these patterns), same double dag
    "text_readability" ->
      """WITH b AS (
        |  SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    CAST(GREATEST(len(regexp_extract_all(t, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sents,
        |    CAST(len(regexp_extract_all(t, '[a-z]+')) AS BIGINT)
        |      AS n_words,
        |    CAST(len(regexp_extract_all(t, '[aeiouy]+')) AS BIGINT)
        |      AS n_syll
        |  FROM b
        |), m AS (
        |  SELECT doc_id, n_sents, n_words, n_syll,
        |    CAST(n_words AS DOUBLE)/CAST(n_sents AS DOUBLE) AS wps,
        |    CAST(n_syll AS DOUBLE)/CAST(n_words AS DOUBLE) AS spw
        |  FROM c
        |)
        |SELECT doc_id, n_sents, n_words, n_syll,
        |  CASE WHEN n_words > 0
        |    THEN 0.39 * wps + 11.8 * spw - 15.59 END AS fk_grade,
        |  CASE WHEN n_words > 0
        |    THEN 206.835 - 1.015 * wps - 84.6 * spw END AS reading_ease
        |FROM m ORDER BY doc_id""".stripMargin,
    "dedup_fuzzy_parts" ->
      """WITH names AS (
        |  SELECT p_name, COUNT(*) AS n_rows FROM part GROUP BY p_name)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  a.n_rows AS n_rows_a, b.n_rows AS n_rows_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev
        |FROM names a JOIN names b
        |  ON (split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
        |      OR (string_split(a.p_name, ' '))[-1]
        |         = (string_split(b.p_name, ' '))[-1])
        | AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,

    "text_collocations" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS ws FROM documents
        |  WHERE text IS NOT NULL),
        |u AS (SELECT UNNEST(ws) AS w FROM t),
        |uc AS (SELECT w, COUNT(*) AS c FROM u GROUP BY w),
        |nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uc),
        |bg AS (
        |  SELECT ws[i] AS w1, ws[i + 1] AS w2
        |  FROM t, UNNEST(range(1, len(ws))) AS r(i)),
        |bc AS (SELECT w1, w2, COUNT(*) AS n_pair FROM bg GROUP BY 1, 2),
        |nb AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n FROM bc)
        |SELECT w1, w2, n_pair, ca.c AS n_w1, cb.c AS n_w2,
        |  CAST((CAST(n_pair AS HUGEINT) * nu.n * nu.n * 1000)
        |    // (CAST(nb.n AS HUGEINT) * ca.c * cb.c) AS BIGINT)
        |    AS lift_x1000
        |FROM bc JOIN uc ca ON ca.w = bc.w1 JOIN uc cb ON cb.w = bc.w2,
        |  nu, nb
        |WHERE n_pair >= 5
        |ORDER BY lift_x1000 DESC, w1, w2 LIMIT 20""".stripMargin,

    "er_resolve_parts" ->
      """WITH RECURSIVE r AS (
        |  SELECT p_partkey AS id, p_name AS name,
        |    CASE WHEN p_partkey % 7 = 0 THEN NULL ELSE p_brand END AS brand,
        |    p_retailprice AS price
        |  FROM part),
        |n AS (SELECT id, name,
        |    split_part(name, ' ', 1) AS w1,
        |    (string_split(name, ' '))[-1] AS wlast
        |  FROM r),
        |p AS (
        |  SELECT a.id AS src, b.id AS dst FROM n a JOIN n b
        |  ON (a.w1 = b.w1 OR a.wlast = b.wlast) AND a.id < b.id
        |  WHERE levenshtein(a.name, b.name) <= 2),
        |e AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
        |walk(node, lbl) AS (
        |  SELECT id, id FROM r
        |  UNION
        |  SELECT e.dst, w.lbl FROM walk w JOIN e ON e.src = w.node),
        |comp AS (SELECT node, MIN(lbl) AS component FROM walk GROUP BY node),
        |j AS (SELECT r.*, c.component FROM r JOIN comp c ON c.node = r.id),
        |agg AS (
        |  SELECT component AS entity_id, COUNT(*) AS n_records,
        |    MIN(id) AS min_id,
        |    MIN(CASE WHEN brand IS NOT NULL THEN id END) AS brand_id,
        |    MIN(CASE WHEN price IS NOT NULL THEN id END) AS price_id
        |  FROM j GROUP BY component)
        |SELECT a.entity_id, a.n_records, rn.name AS name,
        |  rb.brand AS brand, rp.price AS price
        |FROM agg a
        |JOIN r rn ON rn.id = a.min_id
        |LEFT JOIN r rb ON rb.id = a.brand_id
        |LEFT JOIN r rp ON rp.id = a.price_id
        |ORDER BY a.entity_id""".stripMargin,

    "pipeline_clean_corpus" -> pipelineOracle,
    "pipeline_training_shards" -> trainingShardsOracle,
    "pipeline_chunked_shards" -> {
      import graft.operators.Sampling
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents WHERE text IS NOT NULL),
         |ch AS (SELECT doc_id, CAST((g - 1) / 16 AS INT) AS chunk_id,
         |    CAST(LEAST(24, len(ws) - g + 1) AS BIGINT) AS n_tok
         |  FROM t, UNNEST(generate_series(1, len(ws), 16)) AS u(g)),
         |k AS (SELECT doc_id * 100 + chunk_id AS ck, n_tok,
         |  md5(CAST(doc_id * 100 + chunk_id AS VARCHAR)) AS h FROM ch),
         |sb AS (SELECT ck, n_tok,
         |  ${Sampling.hashBucketSql("ck", 4)} AS shard FROM k),
         |c AS (SELECT shard, n_tok, ck,
         |  CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY ck
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok AS start FROM sb)
         |SELECT shard, COUNT(*) AS n_chunks,
         |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
         |  MAX(start // 128) AS max_seq
         |FROM c GROUP BY shard ORDER BY shard""".stripMargin
    },
    "text_search_topk" -> {
      val terms = SearchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
         |  WHERE term IN ($terms) GROUP BY doc_id, term),
         |dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
         |SELECT tf.doc_id,
         |  CAST(SUM(tf.tf * (${TextAnalysis.IdfScale} // dfc.df))
         |    AS BIGINT) AS score
         |FROM tf JOIN dfc USING (term)
         |GROUP BY tf.doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },

    "text_tfidf_topterms" ->
      """WITH tf AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
        |  FROM documents),
        |tfc AS (SELECT doc_id, term, COUNT(*) AS tf
        |  FROM tf GROUP BY doc_id, term),
        |dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY term),
        |ranked AS (
        |  SELECT tfc.doc_id, tfc.term, tfc.tf, dfc.df,
        |    ROW_NUMBER() OVER (PARTITION BY tfc.doc_id
        |      ORDER BY tfc.tf DESC, tfc.term) AS rnk
        |  FROM tfc JOIN dfc USING (term))
        |SELECT doc_id, rnk, term, tf, df FROM ranked
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    // same md5-bucket mask draw per (doc, block), same sentinel
    // numbering via the running masked count
    "pack_span_corruption" -> {
      val h = graft.operators.Sampling.hashU32Sql("")
      s"""WITH t0 AS (
         |  SELECT doc_id, string_split(text, ' ') AS l
         |  FROM documents WHERE text IS NOT NULL
         |), toks AS (
         |  SELECT doc_id, i AS pos, l[i + 1] AS tok
         |  FROM t0, UNNEST(range(len(l))) AS r(i)
         |), b AS (
         |  SELECT doc_id, pos // 3 AS blk, COUNT(*) AS bn,
         |    string_agg(tok, ' ' ORDER BY pos) AS btxt
         |  FROM toks GROUP BY 1, 2
         |), hx AS (
         |  SELECT doc_id, blk, bn, btxt,
         |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(blk AS VARCHAR))
         |      AS h
         |  FROM b
         |), m AS (
         |  SELECT doc_id, blk, bn, btxt, ($h % 100) < 15 AS msk
         |  FROM hx
         |), k AS (
         |  SELECT doc_id, blk, bn, btxt, msk,
         |    COALESCE(SUM(CASE WHEN msk THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY doc_id ORDER BY blk
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS kk
         |  FROM m
         |), sel AS (
         |  SELECT doc_id, blk, bn, msk,
         |    CASE WHEN msk THEN '<extra_id_' || CAST(kk AS VARCHAR)
         |      || '>' ELSE btxt END AS piece,
         |    CASE WHEN msk THEN '<extra_id_' || CAST(kk AS VARCHAR)
         |      || '> ' || btxt END AS tpiece
         |  FROM k
         |)
         |SELECT doc_id, CAST(SUM(bn) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN msk THEN bn ELSE 0 END) AS BIGINT)
         |    AS n_masked,
         |  string_agg(piece, ' ' ORDER BY blk) AS input_text,
         |  COALESCE(string_agg(tpiece, ' ' ORDER BY blk), '')
         |    AS target_text
         |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // rank desc by weight, snake over 8 shards, aggregate loads
    "pack_balanced_shards" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1
        |      AS gr
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, n_chars,
        |    CAST(CASE WHEN (gr // 8) % 2 = 0 THEN gr % 8
        |      ELSE 7 - (gr % 8) END AS INT) AS shard
        |  FROM r
        |)
        |SELECT shard, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,

    "pack_sequences" ->
      s"""WITH hx AS (SELECT doc_id,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
         |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |b AS (SELECT doc_id, n_tok,
         |  ${graft.operators.Sampling.hashBucketSql("doc_id", 8)} AS shard
         |  FROM hx),
         |c AS (SELECT doc_id, shard, n_tok,
         |  CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok AS start
         |  FROM b)
         |SELECT doc_id, shard, n_tok, start // 512 AS seq_id,
         |  start % 512 AS tok_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    "sample_systematic" ->
      """WITH h AS (SELECT doc_id,
        |    md5(CAST(doc_id AS VARCHAR) || ':sys') AS hh
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY hh, doc_id) AS pos
        |  FROM h)
        |SELECT doc_id, pos FROM r WHERE pos % 10 = 1
        |ORDER BY pos""".stripMargin,

    "sample_hash_split" ->
      s"""WITH hx AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         |b AS (SELECT doc_id,
         |  ${graft.operators.Sampling.hashBucketSql("doc_id")} AS bucket
         |  FROM hx)
         |SELECT CASE WHEN bucket < 80 THEN 'train'
         |    WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         |  COUNT(*) AS n_docs, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         |FROM b GROUP BY 1 ORDER BY split""".stripMargin,
    "dedup_exact_groups" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,

    "dedup_exact_keep" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
        |ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" -> jaccardOracle,
    // prefix filtering is output-invariant: same oracle verbatim
    "dedup_jaccard_prefix" -> jaccardOracle,
    // banding + exact verify: precision 1 by construction, recall 1 on
    // the fixtures (DedupSpec) -> output equals the exact pair set
    "dedup_minhash_lsh" -> jaccardOracle,

    // full simhash replay: md5-63 token hashes, 64 sign votes, exact
    // Hamming — the m-of-b blocking is pigeonhole-complete so the gate's
    // output is hash-determined, and the hash is md5. Bit 63 of every
    // token hash is 0 (head-63 construction), so the vote loop only
    // needs bits 0..62 (bit 63 of both engines' fingerprints is 0).
    "dedup_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE text IS NOT NULL
         |), th AS (
         |  SELECT doc_id, ${md5h63Sql("tok")} AS h FROM toks
         |), votes AS (
         |  SELECT doc_id, r.i AS i,
         |    SUM(CASE WHEN (h >> r.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM th, UNNEST(range(63)) AS r(i)
         |  GROUP BY doc_id, r.i
         |), sh AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i)
         |      ELSE 0 END) AS BIGINT) AS sh
         |  FROM votes GROUP BY doc_id
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,

    // winnowing replay: md5-63 of every 8-char window, min over each
    // 4-window (rightmost tie irrelevant to VALUES), consecutive-dup
    // collapse via LAG; docs with 1..4 k-grams take the single global
    // min (the Scala early-return), shorter docs have no fingerprints
    "text_winnow" ->
      s"""WITH docs AS (
         |  SELECT doc_id, COALESCE(text, '') AS text FROM documents
         |), kg AS (
         |  SELECT doc_id, r.i AS pos,
         |    ${md5h63Sql("substr(text, r.i, 8)")} AS h
         |  FROM docs, UNNEST(range(1, greatest(length(text) - 6, 1)))
         |    AS r(i)
         |), cnt AS (
         |  SELECT doc_id, COUNT(*) AS nh FROM kg GROUP BY doc_id
         |), wmin AS (
         |  SELECT doc_id, pos,
         |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
         |    COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wsz
         |  FROM kg
         |), fw AS (
         |  SELECT doc_id, pos, m FROM wmin WHERE wsz = 4
         |), seq AS (
         |  SELECT doc_id, m,
         |    LAG(m) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM fw
         |), agg AS (
         |  SELECT doc_id,
         |    CAST(SUM(CASE WHEN prev IS NULL OR m <> prev THEN 1 ELSE 0 END)
         |      AS INTEGER) AS n_fps,
         |    MIN(m) AS min_fp
         |  FROM seq GROUP BY doc_id
         |), small AS (
         |  SELECT kg.doc_id, 1 AS n_fps, MIN(h) AS min_fp
         |  FROM kg JOIN cnt USING (doc_id) WHERE cnt.nh <= 4
         |  GROUP BY kg.doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(COALESCE(a.n_fps, s.n_fps, 0) AS INTEGER) AS n_fps,
         |  COALESCE(a.min_fp, s.min_fp) AS min_fp
         |FROM docs d
         |LEFT JOIN agg a USING (doc_id)
         |LEFT JOIN small s USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // CDC replay: cut after any 16-char window whose md5-63 masks to 0
    // (boundary-local — no sequential state), spans via LAG over the
    // sorted distinct bounds, chunk hashes as md5-63 of the substrings
    "dedup_cdc_chunks" ->
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
         |), cuts AS (
         |  SELECT doc_id, r.i + 16 AS b
         |  FROM docs, UNNEST(range(greatest(length(text) - 15, 0)))
         |    AS r(i)
         |  WHERE (${md5h63Sql("substr(text, r.i + 1, 16)")}) % 64 = 0
         |), bounds AS (
         |  SELECT doc_id, b FROM cuts
         |  UNION SELECT doc_id, 0 FROM docs
         |  UNION SELECT doc_id, length(text) FROM docs
         |), spans AS (
         |  SELECT doc_id, b AS e,
         |    LAG(b) OVER (PARTITION BY doc_id ORDER BY b) AS s
         |  FROM bounds
         |), chunks AS (
         |  SELECT d.doc_id,
         |    ${md5h63Sql("substr(d.text, sp.s + 1, sp.e - sp.s)")}
         |      AS chunk_hash
         |  FROM spans sp JOIN docs d USING (doc_id)
         |  WHERE sp.s IS NOT NULL AND sp.e - sp.s > 0
         |), sharing AS (
         |  SELECT chunk_hash, COUNT(DISTINCT doc_id) AS nd
         |  FROM chunks GROUP BY 1
         |)
         |SELECT c.doc_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(CASE WHEN s.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shared_chunks
         |FROM chunks c JOIN sharing s USING (chunk_hash)
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    // end-to-end incremental-ingest replay: 32-perm signatures from
    // md5-63 shingle hashes (Carter-Wegman constants interpolated from
    // SketchUtil.minhashPerm — single source of truth), 8 band keys as
    // canonical strings, est-Jaccard >= 0.5 as >= 16 equal slots, then
    // both drop rules: greedy keep-first inside each batch, and
    // batch-2 vs the SURVIVORS of batch 1 (= the seeded index)
    "dedup_minhash_incremental" -> minhashIncrementalOracle,

    "dedup_containment" -> containmentOracle,
    // smaller-side prefix filtering is output-invariant: same oracle
    "dedup_containment_prefix" -> containmentOracle,

    "dedup_near_clusters" ->
      s"""WITH RECURSIVE
         |sh AS (
         |  SELECT DISTINCT doc_id, UNNEST($duckShingles) AS shingle
         |  FROM documents),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |good AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  JOIN cnt ca ON doc_a = ca.doc_id
         |  JOIN cnt cb ON doc_b = cb.doc_id
         |  WHERE CAST(n_inter AS DOUBLE) / (ca.n + cb.n - n_inter) >= 0.5),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM good
         |  UNION SELECT doc_b, doc_a FROM good),
         |reach(node, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.node)
         |SELECT node AS doc_id, MIN(label) AS component
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

    "explode_wordcount" ->
      """SELECT word, COUNT(*) AS n FROM (
        |  SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin,

    "dedup_substring_spans" ->
      """WITH n AS (SELECT UNNEST(range(1, 2001)) AS i),
        |grams AS (
        |  SELECT d.doc_id, n.i AS pos, substr(d.text, CAST(n.i AS INT), 40) AS g
        |  FROM documents d JOIN n ON n.i <= length(d.text) - 39),
        |dup AS (
        |  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        |hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM hits)
        |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
        |  CAST(MAX(pos) + 39 AS BIGINT) AS span_end
        |FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin,

    "text_perplexity_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), uni AS (
        |  SELECT tok, COUNT(*) AS c1
        |  FROM (SELECT UNNEST(t) AS tok FROM toks) GROUP BY tok
        |), vv AS (SELECT COUNT(*) AS v FROM uni),
        |bgs AS (
        |  SELECT doc_id, UNNEST(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i + 1])) AS bg
        |  FROM toks
        |), bgc AS (SELECT bg, COUNT(*) AS c2 FROM bgs GROUP BY bg),
        |sc AS (
        |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |    SUM((c.c2 * 1000000000) // (u.c1 + (SELECT v FROM vv)))
        |      AS score
        |  FROM bgs b JOIN bgc c ON b.bg = c.bg
        |  JOIN uni u ON u.tok = string_split(b.bg, ' ')[1]
        |  GROUP BY b.doc_id),
        |docsc AS (
        |  SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
        |    CAST(COALESCE(score, 0) AS BIGINT) AS score
        |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docsc),
        |r AS (
        |  SELECT doc_id, n_bigrams, score,
        |    (ROW_NUMBER() OVER (ORDER BY
        |      CAST(score AS DOUBLE) / GREATEST(n_bigrams, 1) DESC, doc_id)
        |      - 1) AS rr
        |  FROM docsc)
        |SELECT rr * 3 // n.n + 1 AS bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(score) AS BIGINT) AS total_score,
        |  CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams
        |FROM r, n GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_lm_bigram" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), uni AS (
        |  SELECT tok, COUNT(*) AS c1
        |  FROM (SELECT UNNEST(t) AS tok FROM toks) GROUP BY tok
        |), vv AS (SELECT COUNT(*) AS v FROM uni),
        |bgs AS (
        |  SELECT doc_id, UNNEST(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i + 1])) AS bg
        |  FROM toks
        |), bgc AS (SELECT bg, COUNT(*) AS c2 FROM bgs GROUP BY bg),
        |sc AS (
        |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |    SUM((c.c2 * 1000000000) // (u.c1 + (SELECT v FROM vv)))
        |      AS score
        |  FROM bgs b JOIN bgc c ON b.bg = c.bg
        |  JOIN uni u ON u.tok = string_split(b.bg, ' ')[1]
        |  GROUP BY b.doc_id)
        |SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
        |  CAST(COALESCE(score, 0) AS BIGINT) AS score
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // same discount/continuation arithmetic: (4c2-3)+ * T + 3*n1p*nc
    // over 4*c1*T, floored at 2^20
    "text_lm_kneser_ney" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), bgs AS (
        |  SELECT doc_id, UNNEST(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i + 1])) AS bg
        |  FROM toks
        |), bgc AS (SELECT bg, COUNT(*) AS c2 FROM bgs GROUP BY bg),
        |parts AS (
        |  SELECT bg, c2, string_split(bg, ' ')[1] AS w1,
        |    string_split(bg, ' ')[2] AS w2
        |  FROM bgc
        |), ctx AS (
        |  SELECT w1, SUM(c2) AS c1, COUNT(*) AS n1p
        |  FROM parts GROUP BY w1
        |), cont AS (SELECT w2, COUNT(*) AS nc FROM parts GROUP BY w2),
        |tt AS (SELECT COUNT(*) AS t FROM parts),
        |sc AS (
        |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |    SUM((CAST(greatest(4 * p.c2 - 3, 0) AS HUGEINT) * tt.t
        |         + CAST(3 AS HUGEINT) * x.n1p * n.nc) * 1048576
        |      // (CAST(4 AS HUGEINT) * x.c1 * tt.t)) AS score_kn
        |  FROM bgs b
        |  JOIN parts p ON b.bg = p.bg
        |  JOIN ctx x ON x.w1 = p.w1
        |  JOIN cont n ON n.w2 = p.w2, tt
        |  GROUP BY b.doc_id)
        |SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
        |  CAST(COALESCE(score_kn, 0) AS BIGINT) AS score_kn
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id, len(string_split(text,' ')) AS n_tokens,
        |  len(list_distinct(string_split(text,' '))) AS n_distinct,
        |  len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_runs,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |    AS n_subword_units,
        |  length(text) AS len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "quality_filter_rules" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), base AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    len(list_distinct(toks)) AS n_distinct
        |  FROM t
        |), hist AS (
        |  SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM (
        |    SELECT doc_id, w, COUNT(*) AS c FROM (
        |      SELECT doc_id, UNNEST(toks) AS w FROM t) GROUP BY doc_id, w)
        |  GROUP BY doc_id
        |), scored AS (
        |  SELECT b.doc_id, b.n_tokens,
        |    CAST(h.mx AS DOUBLE) / h.tot AS top_ratio,
        |    CAST(b.n_distinct AS DOUBLE) / b.n_tokens AS distinct_ratio,
        |    CASE WHEN b.n_tokens < 20 THEN 'too_short'
        |         WHEN CAST(h.mx AS DOUBLE) / h.tot > 0.15 THEN 'repetitive'
        |         WHEN CAST(b.n_distinct AS DOUBLE) / b.n_tokens < 0.3
        |           THEN 'low_diversity' END AS fail_reason
        |  FROM base b JOIN hist h ON b.doc_id = h.doc_id
        |)
        |SELECT doc_id, n_tokens, top_ratio, distinct_ratio,
        |  fail_reason IS NULL AS keep, fail_reason
        |FROM scored ORDER BY doc_id""".stripMargin,

    "text_bpe_tokens" -> bpeTrainOracle(8),

    "bpe_pair_counts" ->
      """WITH words AS (
        |  SELECT w, COUNT(*) AS wc FROM (
        |    SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w
        |), syms AS (
        |  SELECT wc, list_append(string_split(w, ''), '</w>') AS sym
        |  FROM words
        |), pairs AS (
        |  SELECT pz[1] AS a, pz[2] AS b, wc FROM (
        |    SELECT UNNEST(list_zip(sym[1:len(sym)-1], sym[2:len(sym)])) AS pz,
        |      wc
        |    FROM syms)
        |)
        |SELECT a, b, CAST(SUM(wc) AS BIGINT) AS weight FROM pairs
        |GROUP BY a, b ORDER BY weight DESC, a, b LIMIT 20""".stripMargin,

    "text_quality" ->
      s"""SELECT doc_id, len(string_split(text,' ')) AS n_tokens,
         |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
         |    / length(text) AS alpha_ratio,
         |  CAST(len(list_filter(string_split(text,' '), t -> t IN (${
             TextAnalysis.Stopwords.values.flatten.toSeq.distinct
               .map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
         |    / len(string_split(text,' ')) AS stopword_ratio,
         |  CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
         |    / len(string_split(text,' ')) AS mean_token_len
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_langid" -> langCase,

    "text_substring_search" ->
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE contains(text, '$SearchPattern')
         |ORDER BY doc_id""".stripMargin,

    "text_fuzzy_lookup" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT c_name AS term FROM customer
         |  WHERE c_name IS NOT NULL),
         |sel AS (
         |  SELECT term FROM (SELECT term, md5(term) AS h FROM toks) x
         |  WHERE (${graft.operators.Sampling.hashU32Sql("term")}) % 20 = 0),
         |qs AS (
         |  SELECT DISTINCT
         |    substring(term, 1, pos - 1) || substring(term, pos + 1) AS q
         |  FROM (
         |    SELECT term,
         |      (${graft.operators.Sampling.hashU32Sql("term")})
         |        % length(term) + 1 AS pos
         |    FROM (SELECT term, md5('fz#' || term) AS h FROM sel) y) z)
         |SELECT q.q AS query_term, t.term AS match_term,
         |  CAST(levenshtein(q.q, t.term) AS BIGINT) AS dist
         |FROM qs q JOIN toks t ON levenshtein(q.q, t.term) <= 1
         |ORDER BY query_term, match_term""".stripMargin,

    "text_token_entropy" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT source, UNNEST(string_split(text, ' ')) AS term
         |  FROM documents WHERE text IS NOT NULL),
         |cnt AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM toks GROUP BY 1, 2),
         |g AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |    CAST(COUNT(*) AS BIGINT) AS vocab
         |  FROM cnt GROUP BY 1),
         |xs AS (SELECT c AS x FROM cnt UNION SELECT n_tokens FROM g),
         |${graft.functions.FixedLog.duckdbCte("xs")},
         |sc AS (SELECT source, CAST(SUM(c * lg.l) AS BIGINT) AS sum_clc
         |  FROM cnt JOIN lg ON cnt.c = lg.x GROUP BY 1)
         |SELECT g.source, g.n_tokens, g.vocab, sc.sum_clc,
         |  CAST(g.n_tokens * lt.l - sc.sum_clc AS BIGINT) AS ent_num
         |FROM g JOIN sc USING (source) JOIN lg lt ON g.n_tokens = lt.x
         |ORDER BY g.source""".stripMargin,

    "text_naive_bayes" ->
      s"""WITH RECURSIVE hx AS (SELECT doc_id, lang AS cls, text,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
         |bb AS (SELECT doc_id, cls, text,
         |    ${graft.operators.Sampling.hashBucketSql("doc_id", 5)} AS bkt
         |  FROM hx),
         |train AS (SELECT * FROM bb WHERE bkt <> 0),
         |test AS (SELECT * FROM bb WHERE bkt = 0),
         |tok AS (SELECT cls, UNNEST(string_split(text, ' ')) AS term
         |  FROM train),
         |cells AS (SELECT cls, term, COUNT(*) AS cnt
         |  FROM tok GROUP BY 1, 2),
         |classes AS (SELECT cls, COUNT(*) AS n_docs FROM train GROUP BY 1),
         |tots AS (SELECT cls, CAST(SUM(cnt) AS BIGINT) AS tot
         |  FROM cells GROUP BY 1),
         |voc AS (SELECT COUNT(DISTINCT term) AS v FROM cells),
         |nall AS (SELECT COUNT(*) AS n_all FROM train),
         |xs AS (SELECT cnt + 1 AS x FROM cells
         |  UNION SELECT tot + v FROM tots CROSS JOIN voc
         |  UNION SELECT n_docs FROM classes
         |  UNION SELECT n_all FROM nall),
         |${graft.functions.FixedLog.duckdbCte("xs")},
         |clsconst AS (
         |  SELECT c.cls, lp.l - la.l AS prior_fp, ld.l AS denom_fp
         |  FROM classes c
         |  CROSS JOIN nall CROSS JOIN voc
         |  JOIN tots t ON t.cls = c.cls
         |  JOIN lg lp ON lp.x = c.n_docs
         |  JOIN lg la ON la.x = nall.n_all
         |  JOIN lg ld ON ld.x = t.tot + voc.v),
         |model AS (SELECT cells.cls, term, lg.l AS lfp
         |  FROM cells JOIN lg ON lg.x = cells.cnt + 1),
         |tt AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
         |  FROM test),
         |tm AS (SELECT doc_id, term, COUNT(*) AS m FROM tt GROUP BY 1, 2),
         |percls AS (
         |  SELECT tm.doc_id, cc.cls,
         |    CAST(SUM(tm.m * COALESCE(model.lfp, 0)) AS BIGINT) AS tok_fp,
         |    CAST(SUM(tm.m) AS BIGINT) AS t_doc
         |  FROM tm CROSS JOIN (SELECT cls FROM classes) cc
         |  LEFT JOIN model ON model.cls = cc.cls AND model.term = tm.term
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT p.doc_id, p.cls,
         |    cc.prior_fp + p.tok_fp - p.t_doc * cc.denom_fp AS score_fp
         |  FROM percls p JOIN clsconst cc ON cc.cls = p.cls),
         |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score_fp DESC, cls) AS rn
         |  FROM scored)
         |SELECT b.doc_id, t.cls AS true_cls, b.cls AS pred_cls,
         |  CAST(b.score_fp AS BIGINT) AS score_fp,
         |  CAST(CASE WHEN b.cls = t.cls THEN 1 ELSE 0 END AS BIGINT)
         |    AS correct
         |FROM best b JOIN test t ON t.doc_id = b.doc_id
         |WHERE rn = 1 ORDER BY b.doc_id""".stripMargin,

    "text_mattr" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    UNNEST(string_split(text, ' ')) AS term,
        |    UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS q
        |  FROM documents WHERE text IS NOT NULL),
        |lagd AS (SELECT doc_id, q,
        |    LAG(q) OVER (PARTITION BY doc_id, term ORDER BY q) AS prev
        |  FROM toks),
        |tn AS (SELECT doc_id, MAX(q) OVER (PARTITION BY doc_id) AS t,
        |    q, prev
        |  FROM lagd),
        |contrib AS (SELECT doc_id, t,
        |    GREATEST(LEAST(q + 24, t)
        |      - GREATEST(q, COALESCE(prev, -2305843009213693952) + 25, 25)
        |      + 1, 0) AS c
        |  FROM tn),
        |agg AS (SELECT doc_id, CAST(MAX(t) AS BIGINT) AS n_tokens,
        |    CAST(SUM(c) AS BIGINT) AS mattr_num
        |  FROM contrib GROUP BY doc_id)
        |SELECT doc_id, n_tokens, mattr_num,
        |  CAST(25 * (n_tokens - 24) AS BIGINT) AS mattr_den,
        |  CAST(mattr_num AS DOUBLE)
        |    / CAST(25 * (n_tokens - 24) AS DOUBLE) AS mattr
        |FROM agg WHERE n_tokens >= 25 ORDER BY doc_id""".stripMargin,

    "text_sparse_cosine_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(string_split(text,' ')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |w AS (
        |  SELECT doc_id, t.term, CAST(tf * (100000 // df) AS BIGINT) AS w
        |  FROM tf t JOIN dfc USING (term) WHERE df <= 400),
        |norms AS (
        |  SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2
        |  FROM w GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(SUM(a.w * b.w) AS BIGINT) AS num
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, num, x.n2 AS norm_a, y.n2 AS norm_b
        |FROM pairs p
        |JOIN norms x ON p.doc_a = x.doc_id
        |JOIN norms y ON p.doc_b = y.doc_id
        |WHERE 100 * num * num >= 81 * x.n2 * y.n2
        |ORDER BY doc_a, doc_b""".stripMargin,

    "er_fellegi_sunter" ->
      s"""WITH RECURSIVE recs AS (
         |  SELECT p_partkey AS id, p_name AS name,
         |    CASE WHEN p_partkey % 7 <> 0 THEN p_brand END AS brand,
         |    p_retailprice AS price
         |  FROM part),
         |un AS (SELECT CAST(GREATEST(1, SUM(f*(f-1))) AS BIGINT) AS u,
         |    CAST(GREATEST(1, SUM(f)*(SUM(f)-1)) AS BIGINT) AS d
         |  FROM (SELECT COUNT(*) AS f FROM recs
         |        WHERE name IS NOT NULL GROUP BY name)),
         |ub AS (SELECT CAST(GREATEST(1, SUM(f*(f-1))) AS BIGINT) AS u,
         |    CAST(GREATEST(1, SUM(f)*(SUM(f)-1)) AS BIGINT) AS d
         |  FROM (SELECT COUNT(*) AS f FROM recs
         |        WHERE brand IS NOT NULL GROUP BY brand)),
         |up AS (SELECT CAST(GREATEST(1, SUM(f*(f-1))) AS BIGINT) AS u,
         |    CAST(GREATEST(1, SUM(f)*(SUM(f)-1)) AS BIGINT) AS d
         |  FROM (SELECT COUNT(*) AS f FROM recs
         |        WHERE price IS NOT NULL GROUP BY price)),
         |xs AS (SELECT CAST(9 AS BIGINT) AS x UNION SELECT 10 UNION
         |  SELECT 1 UNION
         |  SELECT u FROM un UNION SELECT d FROM un
         |  UNION SELECT GREATEST(1, d - u) FROM un
         |  UNION SELECT u FROM ub UNION SELECT d FROM ub
         |  UNION SELECT GREATEST(1, d - u) FROM ub
         |  UNION SELECT u FROM up UNION SELECT d FROM up
         |  UNION SELECT GREATEST(1, d - u) FROM up),
         |${graft.functions.FixedLog.duckdbCte("xs")},
         |w AS (SELECT
         |  (SELECT l FROM lg WHERE x = 9) AS lm,
         |  (SELECT l FROM lg WHERE x = 10) AS lmd,
         |  (SELECT l FROM lg WHERE x = 1) AS lm1,
         |  (SELECT l FROM lg JOIN un ON lg.x = un.u) AS lun,
         |  (SELECT l FROM lg JOIN un ON lg.x = un.d) AS lud,
         |  (SELECT l FROM lg JOIN un ON lg.x = GREATEST(1, un.d - un.u))
         |    AS ludn,
         |  (SELECT l FROM lg JOIN ub ON lg.x = ub.u) AS lbn,
         |  (SELECT l FROM lg JOIN ub ON lg.x = ub.d) AS lbd,
         |  (SELECT l FROM lg JOIN ub ON lg.x = GREATEST(1, ub.d - ub.u))
         |    AS lbdn,
         |  (SELECT l FROM lg JOIN up ON lg.x = up.u) AS lpn,
         |  (SELECT l FROM lg JOIN up ON lg.x = up.d) AS lpd,
         |  (SELECT l FROM lg JOIN up ON lg.x = GREATEST(1, up.d - up.u))
         |    AS lpdn),
         |pairs AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |    a.name AS na, b.name AS nb, a.brand AS ba, b.brand AS bb,
         |    a.price AS pa, b.price AS pb
         |  FROM recs a JOIN recs b ON a.id < b.id AND
         |    (array_to_string((string_split(a.name, ' '))[1:2], ' ') =
         |       array_to_string((string_split(b.name, ' '))[1:2], ' ')
         |     OR array_to_string((string_split(a.name, ' '))[-2:], ' ') =
         |        array_to_string((string_split(b.name, ' '))[-2:], ' ')))
         |SELECT id_a, id_b,
         |  CAST((CASE WHEN na IS NOT NULL AND nb IS NOT NULL AND na = nb
         |      THEN 1 ELSE 0 END)
         |    + (CASE WHEN ba IS NOT NULL AND bb IS NOT NULL AND ba = bb
         |      THEN 1 ELSE 0 END)
         |    + (CASE WHEN pa IS NOT NULL AND pb IS NOT NULL AND pa = pb
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         |  CAST((CASE WHEN na IS NULL OR nb IS NULL THEN 0
         |      WHEN na = nb THEN w.lm - w.lmd - w.lun + w.lud
         |      ELSE w.lm1 - w.lmd - w.ludn + w.lud END)
         |    + (CASE WHEN ba IS NULL OR bb IS NULL THEN 0
         |      WHEN ba = bb THEN w.lm - w.lmd - w.lbn + w.lbd
         |      ELSE w.lm1 - w.lmd - w.lbdn + w.lbd END)
         |    + (CASE WHEN pa IS NULL OR pb IS NULL THEN 0
         |      WHEN pa = pb THEN w.lm - w.lmd - w.lpn + w.lpd
         |      ELSE w.lm1 - w.lmd - w.lpdn + w.lpd END) AS BIGINT)
         |    AS score_fp
         |FROM pairs CROSS JOIN w
         |ORDER BY id_a, id_b""".stripMargin,

    "er_sorted_neighborhood" ->
      """WITH names AS (
        |  SELECT MIN(p_partkey) AS id, p_name AS name
        |  FROM part GROUP BY p_name),
        |r AS (
        |  SELECT id, name, ROW_NUMBER() OVER (ORDER BY
        |    (string_split(name, ' '))[-1] || ' ' || name, id) AS rn
        |  FROM names),
        |cand AS (
        |  SELECT LEAST(a.id, b.id) AS id_a, GREATEST(a.id, b.id) AS id_b,
        |    a.name AS na, b.name AS nb
        |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn < a.rn + 9)
        |SELECT id_a, id_b, CAST(levenshtein(na, nb) AS INT) AS lev
        |FROM cand WHERE levenshtein(na, nb) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_source_overlap" ->
      s"""WITH posts AS (
         |  SELECT DISTINCT source AS src, UNNEST($duckShingles) AS sh
         |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
         |sizes AS (SELECT src, COUNT(*) AS n FROM posts GROUP BY src),
         |common AS (
         |  SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_common
         |  FROM posts a JOIN posts b ON a.sh = b.sh AND a.src < b.src
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
         |  sa.n + sb.n - n_common AS n_union
         |FROM common
         |JOIN sizes sa ON sa.src = common.src_a
         |JOIN sizes sb ON sb.src = common.src_b
         |ORDER BY src_a, src_b""".stripMargin,

    "text_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS content_hash,
         |  list_aggregate(list_transform($duckShingles, s -> md5(s)), 'min')
         |    AS min_shingle_md5
         |FROM documents ORDER BY doc_id""".stripMargin,

    // same left-to-right partition regexp, same 1-based ordinals, same
    // trim-then-drop-blank rule
    "text_sentences" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    regexp_replace(coalesce(text, ''), '\btable\b', 'table.',
        |      'g') AS t
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    regexp_extract_all(t, '[^.!?]+[.!?]*') AS l
        |  FROM p
        |), e AS (
        |  SELECT doc_id, generate_subscripts(l, 1) AS sent_idx,
        |    unnest(l) AS s
        |  FROM m
        |)
        |SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx,
        |  trim(s) AS sentence,
        |  CAST(length(trim(s)) AS BIGINT) AS n_chars
        |FROM e WHERE length(trim(s)) > 0
        |ORDER BY doc_id, sent_idx""".stripMargin
  )
}
