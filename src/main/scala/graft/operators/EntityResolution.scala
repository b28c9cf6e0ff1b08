package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity resolution: match -> cluster -> survivorship.
  *
  * The classic record-linkage pipeline over a table of dirty records:
  * (1) BLOCKED fuzzy matching proposes candidate pairs that share a cheap
  * block key (first/last name token) and verifies them with an edit-
  * distance bound — the blocking step is what makes matching feasible at
  * scale (candidates ~ block population, never the n^2 cross product;
  * same posture as the dedup LSH band join); (2) the verified match graph
  * is clustered by transitive closure (Dedup.connectedComponents — min-
  * label propagation with pointer jumping, O(log n) rounds); (3) each
  * cluster collapses to ONE canonical record by deterministic
  * survivorship rules (min-id record wins; per-attribute first-non-null
  * in id order fills its gaps) — deterministic aggregates only, so the
  * result is independent of partitioning and fully oracle-checkable
  * (the closure reproduces in ANSI SQL as a recursive CTE).
  *
  * 100 TB posture: both block passes are equi-joins hashed on the block
  * key; verification cost is bounded by block population (a hot block —
  * e.g. a very common first token — is ordinary join skew: AQE splits
  * it, or pre-salt like SkewJoin); clustering is the same shuffle-on-key
  * iterative CC the near-dup path uses; survivorship is one map-side-
  * partial aggregate per cluster.
  */
object EntityResolution {

  /** Fellegi–Sunter probabilistic match scoring (Fellegi & Sunter 1969;
    * the model behind Splink-style record linkage) over caller-chosen
    * candidate blocks — the principled replacement for an ad-hoc
    * edit-distance threshold: each attribute
    * contributes an AGREEMENT weight `log2(m/u)` or a DISAGREEMENT
    * weight `log2((1-m)/(1-u))` and the pair's match score is their
    * sum.
    *
    * `m` (P[agree | same entity]) is the caller's prior as an exact
    * fraction `mNum/mDen` (default 9/10). `u` (P[agree | different
    * entities]) is estimated EXACTLY from the data as the
    * without-replacement collision probability
    * `sum(f_v*(f_v-1)) / (N*(N-1))` over each attribute's non-null
    * value frequencies — the standard frequency-based u. Both are
    * exact integer fractions, so the weights are differences of
    * fixed-point logs ([[graft.functions.FixedLog.log2Fp]], units of
    * 2^-20 bits) and every score is an exact BIGINT — hash-exact, the
    * oracle replays the same integer algorithm. A zero numerator or
    * denominator (all-distinct or constant column) floors at 1, the
    * Laplace convention. NULL on either side contributes weight 0 (the
    * missing-gamma convention).
    *
    * u-estimation is one aggregation per attribute collapsing to TWO
    * scalars (driver state is 2|attrs| longs); candidate pairs are the
    * union of one equi-join per caller-supplied `blockKeys` expression
    * — nothing here reads the n^2 cross product. The BLOCK KEY is the
    * scale lever and is deliberately explicit: a key whose domain does
    * not grow with the data (e.g. the first token of a fixed
    * vocabulary) makes block occupancy linear in the data and pair
    * count QUADRATIC; pick keys whose cardinality grows with the
    * table (composite tokens, sorted-neighborhood ranks, phonetic
    * codes) so occupancy stays bounded. Output: id_a, id_b, n_agree,
    * score_fp. */
  def fellegiSunterScore(records: DataFrame, idCol: String,
      blockKeys: Seq[Column], attrs: Seq[String],
      mNum: Long = 9, mDen: Long = 10): DataFrame = {
    require(attrs.nonEmpty, "need at least one scoring attribute")
    require(blockKeys.nonEmpty, "need at least one blocking key")
    require(mNum >= 1 && mNum < mDen,
      s"m must be a fraction in (0,1): $mNum/$mDen")
    import graft.functions.FixedLog.log2Fp
    val keyed = Pin.workingSet(records.select(
      (idCol +: attrs).distinct.map(col) ++
        blockKeys.zipWithIndex.map { case (k, i) => k.as(s"__fs_k$i") }: _*)
      // hash-repartition on the id BEFORE pinning: the record table
      // inherits the source's input splits (2 tasks for one small
      // parquet file), and the block self-join EXPLODES each probe row
      // into its block's pairs — measured 5.4 s on 2 of 32 cores at
      // sf0.1. Spreading the probe side across the session's shuffle
      // parallelism makes pair generation scale with the cluster, not
      // with the file count (partition count follows
      // spark.sql.shuffle.partitions / AQE, no constant baked in).
      // pinned: consumed by |attrs| u-aggs + both join sides
      .repartition(col(idCol)))
    val recs = keyed
    // exact u per attribute: collision probability of two random
    // non-null values, as the integer fraction (sum f(f-1), N(N-1))
    val weights: Map[String, (Long, Long)] = attrs.map { c =>
      val r = recs.filter(col(c).isNotNull)
        .groupBy(col(c)).agg(count(lit(1)).as("f"))
        .agg(sum(col("f") * (col("f") - 1)).as("un"),
          sum(col("f")).as("n"))
        .collect().head
      // N(N-1) multiplied on the driver with an explicit bound check —
      // Spark's non-ANSI long multiply would wrap silently. Past ~3e9
      // non-null values per attribute the fraction leaves 63 bits;
      // estimate u on a hash sample at that scale (m is a prior anyway)
      val n = BigInt(r.getLong(1))
      require(n * (n - 1) <= Long.MaxValue,
        s"u-denominator overflows 63 bits for $c (N=$n): " +
          "estimate u on a hash sample at this scale")
      val (un, ud) = (math.max(1L, r.getLong(0)),
        math.max(1L, (n * (n - 1)).toLong))
      val wAgree = log2Fp(mNum) - log2Fp(mDen) - log2Fp(un) + log2Fp(ud)
      val wDis = log2Fp(mDen - mNum) - log2Fp(mDen) -
        log2Fp(math.max(1L, ud - un)) + log2Fp(ud)
      c -> ((wAgree, wDis))
    }.toMap
    // one equi-join per blocking key. r11 restructure (guide §2.3 —
    // shuffle fewer bytes): the old shape unioned the raw passes,
    // DISTINCTed the multi-million-pair stream (a full exchange of the
    // most-exploded frame in the query; 5.1 s of the gate's 13.7 s-cpu
    // at sf0.1 — and the fixture's two name-token keys produce the SAME
    // 3.1M pairs, so the distinct removed half the stream again), then
    // re-joined the survivors against the records TWICE to fetch the
    // scoring attributes. Now:
    //  - pass i keeps only pairs NOT already found by an earlier key
    //    (NOT non-null-equal on every k_j, j < i), so the passes are
    //    DISJOINT by construction and the union needs no dedup — the
    //    pair stream is never exchanged at all;
    //  - the scoring attributes ride the (linear, |records|-sized) join
    //    sides, so each pair is born scored — the two post-joins that
    //    re-shuffled the pair stream are gone. Same (id_a, id_b) set,
    //    same scores, bit-for-bit.
    val aAttrs = attrs.map(c => col(c).as(s"__fa_$c"))
    val bAttrs = attrs.map(c => col(c).as(s"__fb_$c"))
    val baseA = recs.select((col(idCol).as("__fs_id") +:
      blockKeys.indices.map(i => col(s"__fs_k$i"))) ++ aAttrs: _*)
    val baseB = recs.select((col(idCol).as("__fs_id") +:
      blockKeys.indices.map(i => col(s"__fs_k$i"))) ++ bAttrs: _*)
    val perAttr = attrs.map { c =>
      val (wa, wd) = weights(c)
      when(col(s"__fa_$c").isNull || col(s"__fb_$c").isNull, lit(0L))
        .when(col(s"__fa_$c") === col(s"__fb_$c"), lit(wa))
        .otherwise(lit(wd))
    }
    val agrees = attrs.map { c =>
      when(col(s"__fa_$c").isNotNull && col(s"__fb_$c").isNotNull &&
        col(s"__fa_$c") === col(s"__fb_$c"), 1L).otherwise(0L)
    }
    def blockPass(i: Int) = {
      // "found by pass j" means k_j compared non-null-EQUAL in j's
      // equi-join; exclude exactly those pairs (null keys never joined)
      val notEarlier = (0 until i).map(j =>
        !(col(s"a.__fs_k$j") <=> col(s"b.__fs_k$j") &&
          col(s"a.__fs_k$j").isNotNull))
      val cond = (Seq(col(s"a.__fs_k$i") === col(s"b.__fs_k$i"),
        col("a.__fs_id") < col("b.__fs_id")) ++ notEarlier).reduce(_ && _)
      baseA.as("a").join(baseB.as("b"), cond)
        .select(col("a.__fs_id").as("id_a"), col("b.__fs_id").as("id_b"),
          agrees.reduce(_ + _).as("n_agree"),
          perAttr.reduce(_ + _).as("score_fp"))
    }
    blockKeys.indices.map(blockPass).reduce(_ unionByName _)
  }

  /** Candidate pairs (id_a < id_b) sharing a first- or last-token block
    * whose names are within `maxDist` edits. Output: id_a, id_b, lev.
    *
    * A length-difference prune (|len(a) - len(b)| > maxDist implies
    * lev > maxDist) runs inside the join condition, before the O(len^2)
    * edit-distance verify — the standard Ed-Join cheap filter. */
  def matchPairs(records: DataFrame, idCol: String, nameCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0)
    val base = records.select(col(idCol).as("id"), col(nameCol).as("name"))
      .withColumn("w1", substring_index(col("name"), " ", 1))
      .withColumn("wlast", substring_index(col("name"), " ", -1))
      .withColumn("len", length(col("name")))
    def blockPass(key: String) =
      base.as("a").join(base.as("b"),
          col(s"a.$key") === col(s"b.$key") && col("a.id") < col("b.id") &&
            abs(col("a.len") - col("b.len")) <= maxDist)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.name").as("name_a"), col("b.name").as("name_b"))
    blockPass("w1").unionByName(blockPass("wlast")).distinct()
      // thresholded 3-arg levenshtein: banded DP with early abandon
      // (O(maxDist * len) per pair instead of O(len^2)), returns -1
      // past the bound — the verify step's cost no longer grows with
      // how DIFFERENT non-matching candidates are
      .withColumn("lev", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("lev") >= 0)
      .select(col("id_a"), col("id_b"), col("lev"))
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995): sort by a
    * blocking key, candidates = all pairs within a sliding `window` of
    * the GLOBAL sort order, then the same thresholded-levenshtein
    * verify. Complements [[matchPairs]]' token blocks: SNM catches
    * pairs whose shared block token itself was corrupted (it only
    * needs the sort to bring them NEAR each other) and its candidate
    * count is exactly n * (window-1) - C(window,2) — data-independent,
    * where token blocks degrade on hot tokens.
    *
    * Distributed shape: the global rank comes from
    * [[Ids.denseGlobalRowNumber]] (range shuffle + zipWithIndex — never
    * a one-partition window), and the within-window self-join is an
    * EQUI-join on the window bucket `rank div window` (each left row
    * joins its own and the next bucket — 2 keys/row) with the rank
    * band as a residual, so the candidate join is hash-partitioned,
    * never a cross product. */
  def sortedNeighborhoodPairs(records: DataFrame, idCol: String,
      nameCol: String, sortKey: Column, window: Int, maxDist: Int)
      : DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    require(maxDist >= 0)
    val ranked = Ids.denseGlobalRowNumber(
        records.select(col(idCol).as("id"), col(nameCol).as("name"),
          sortKey.as("__snm_key")),
        order = Seq(col("__snm_key"), col("id")), idCol = "__snm_rn")
      .select(col("id"), col("name"), col("__snm_rn"))
    val w = window.toLong
    val left = ranked
      .withColumn("__snm_b", explode(array(
        (col("__snm_rn") / w).cast("long"),
        (col("__snm_rn") / w).cast("long") + 1L)))
    val right = ranked
      .withColumn("__snm_b", (col("__snm_rn") / w).cast("long"))
    left.as("a").join(right.as("b"),
        col("a.__snm_b") === col("b.__snm_b") &&
          col("b.__snm_rn") > col("a.__snm_rn") &&
          col("b.__snm_rn") < col("a.__snm_rn") + w)
      .select(
        least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
      .withColumn("lev", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("lev") >= 0)
      .select(col("id_a"), col("id_b"), col("lev"))
  }

  /** Resolve `records` into canonical entities. `attrs` are the
    * survivable attribute columns: each canonical value is the first
    * non-null in ascending-id order within the cluster. Output:
    * entity_id (min id in cluster), n_records, canonical `nameCol`
    * (the min-id record's name), and one survived column per attr. */
  def resolve(records: DataFrame, idCol: String, nameCol: String,
      attrs: Seq[String], maxDist: Int): DataFrame = {
    // Match on the DISTINCT-NAME domain, not the record level: real
    // corpora repeat values heavily (TPC-H part carries 20k records over
    // 64 names at sf0.1), and record-level matching squares that
    // repetition into millions of redundant pairs. Each name gets its
    // min-id record as representative; the edge set is then (a) every
    // record -> its name's rep (lev-0 closure of duplicates) and (b)
    // rep -> rep for each matched name pair. The transitive closure —
    // and so every component — is IDENTICAL to the all-pairs graph:
    // same-name records are pairwise linked through their rep, and any
    // cross-name path maps to the rep path of the same names. Pair
    // count drops from O(sum block^2) over records to O(sum block^2)
    // over distinct names + one linear rep join.
    val reps = records.groupBy(col(nameCol).as("name"))
      .agg(min(col(idCol)).as("rep"))
    val namePairs = matchPairs(
      reps.select(col("rep").as(idCol), col("name").as(nameCol)),
      idCol, nameCol, maxDist)
    val sameName = records.select(col(idCol).as("id_a"), col(nameCol))
      .join(reps.select(col("name").as("__er_name"), col("rep")),
        col(nameCol) === col("__er_name"))
      .filter(col("id_a") =!= col("rep"))
      .select(col("id_a"), col("rep").as("id_b"))
    val pairs = namePairs.select(col("id_a"), col("id_b"))
      .unionByName(sameName)
    val comp = Dedup.connectedComponents(
      records.select(col(idCol).as("node")), pairs, "node", "id_a", "id_b")
    val labeled = records.join(comp, col(idCol) === col("node")).drop("node")
    // min(struct(id, v)) skips rows where the struct is null, so wrapping
    // the struct in when(v.isNotNull, ...) yields "v of the smallest id
    // having v" — the deterministic first-non-null survivorship rule
    val survived = attrs.map { a =>
      min(when(col(a).isNotNull, struct(col(idCol), col(a))))
        .getField(a).as(a)
    }
    val aggs =
      count(lit(1)).as("n_records") +:
        min(struct(col(idCol), col(nameCol))).getField(nameCol)
          .as(s"canonical_$nameCol") +:
        survived
    labeled.groupBy(col("component").as("entity_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Survivorship rule for one golden-record attribute. */
  sealed trait Pick
  /** Most frequent non-null value; ties break to the LEXICOGRAPHICALLY
    * SMALLEST value (deterministic, unlike hash-order argmax). */
  case object ModePick extends Pick
  /** Value of the row with the greatest `ts` (non-null values only);
    * ties break to the LARGEST value. */
  final case class LatestPick(ts: Column) extends Pick
  /** Longest non-null value; ties break to the LARGEST value. */
  case object LongestPick extends Pick

  /** Golden-record consolidation — the survivorship step AFTER entity
    * resolution (dedup found the cluster; this decides what the ONE
    * surviving record says): per cluster, each attribute picks its
    * value by a declared rule. Every rule is a deterministic total
    * order, so the golden record is engine/partitioning-independent
    * and fully oracle-checkable — the property ad-hoc "first()/any()"
    * consolidation lacks.
    *
    * Scale shape: non-mode rules fold in ONE cluster-keyed aggregation
    * via the max(struct(orderKey, value)) trick (map-side combined, no
    * window); each mode rule adds one (cluster, value) count + rank
    * (WindowGroupLimit-capped) and a join back on the cluster key. No
    * row history is carried — state per cluster is one struct per
    * attribute. */
  def goldenRecord(df: DataFrame, cluster: Column,
      attrs: Seq[(String, Column, Pick)]): DataFrame = {
    require(attrs.nonEmpty, "goldenRecord needs attributes")
    val foldAggs = attrs.flatMap {
      case (n, c, LatestPick(ts)) => Some(
        max(when(c.isNotNull, struct(ts.as("k"), c.as("v"))))
          .getField("v").as(n))
      case (n, c, LongestPick) => Some(
        max(when(c.isNotNull, struct(length(c).as("k"), c.as("v"))))
          .getField("v").as(n))
      case (_, _, ModePick) => None
    }
    val base = df.groupBy(cluster.as("cluster"))
      .agg(count(lit(1)).as("n_members"),
        foldAggs: _*)
    attrs.foldLeft(base) {
      case (acc, (n, c, ModePick)) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__cl"))
          .orderBy(col("__c").desc, col("__v"))
        val mode = df.select(cluster.as("__cl"), c.as("__v"))
          .where(col("__v").isNotNull)
          .groupBy(col("__cl"), col("__v"))
          .agg(count(lit(1)).as("__c"))
          .withColumn("__rk", row_number().over(w))
          .where(col("__rk") === 1)
          .select(col("__cl"), col("__v").as(n))
        acc.join(mode, acc("cluster") === mode("__cl"), "left")
          .drop("__cl")
      case (acc, _) => acc
    }
  }
}
