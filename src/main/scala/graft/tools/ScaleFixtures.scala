package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: derive a larger scale factor from an existing fixture dir by
  * replication — for scale-CURVE smokes (sf0.1 -> sf1) of the expensive
  * dedup/ANN/lake queries, where the interesting number is the SLOPE of
  * runtime vs data size, not absolute runtime.
  *
  * Replication preserves the data's similarity structure instead of
  * inflating it: naive copies would make every document an exact dup of
  * its 9 replicas (dedup pair counts grow ~factor^2, clusters fuse) and
  * every vector its own nearest neighbor 9 times over. So each replica i:
  *  - documents: every token is prefixed `r{i}_`, making replica shingle
  *    spaces DISJOINT — within-replica near-dup structure is identical to
  *    the source, cross-replica Jaccard is 0, token counts and length
  *    distribution stay proportional (replica 0 is the verbatim source);
  *  - embeddings: a small deterministic per-(id, replica, dim) hash noise
  *    rotates each replica copy a few degrees away, so replicas are near
  *    but not exact neighbors — the corpus grows `factor`x while the
  *    query set (vec_id < NQueries) stays the replica-0 originals.
  *
  * Usage: runMain graft.tools.ScaleFixtures <srcDir> <dstDir> [factor]
  */
object ScaleFixtures {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1, s"factor: $factor")
    val spark = graft.Sessions.local(8, "graft-scale-fixtures")
    spark.sparkContext.setLogLevel("ERROR")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.count()
    val docCopies = (0 until factor).map { i =>
      if (i == 0) docs
      else docs.select(
        (col("doc_id") + lit(i.toLong * nDocs)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1").as("text"),
        col("lang"), col("source"),
        length(regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1"))
          .cast("long").as("n_chars"))
    }
    docCopies.reduce(_ unionByName _)
      .repartition(16)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nEmb = emb.count()
    val embCopies = (0 until factor).map { i =>
      if (i == 0) emb
      else emb.select(
        (col("vec_id") + lit(i.toLong * nEmb)).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          // never-firing coalesce keeps element nullability FALSE so the
          // native-dot rewrite stays eligible on the replicated fixture
          coalesce(x + ((pmod(xxhash64(col("vec_id"), lit(i), j), lit(1000))
              .cast("double") / 1000.0 - 0.5) * 0.05).cast("float"),
            lit(0.0f))).as("embedding"),
        col("label"))
    }
    embCopies.reduce(_ unionByName _)
      .repartition(16)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    // Relational tables replicate with SHIFTED KEYS so the join graph
    // scales the way TPC-H scales: fact and association keys grow
    // factor-x while join selectivity, group cardinality per key, and
    // predicate selectivity stay constant (each replica is a disjoint
    // key universe joined only to itself); region/nation stay fixed like
    // real TPC-H dims.
    def keyMax(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    val supp = spark.read.parquet(s"$src/supplier.parquet")
    val (mo, mc, mp, ms) = (keyMax(orders, "o_orderkey"),
      keyMax(cust, "c_custkey"), keyMax(part, "p_partkey"),
      keyMax(supp, "s_suppkey"))
    def replicate(df: DataFrame, out: String,
        shifts: Map[String, Long]): Unit =
      (0 until factor).map { i =>
        if (i == 0) df
        else df.select(df.columns.toSeq.map { c =>
          shifts.get(c).fold(col(c))(m => (col(c) + lit(i * m)).as(c))
        }: _*)
      }.reduce(_ unionByName _)
        .repartition(16)
        .write.mode("overwrite").parquet(s"$dst/$out.parquet")
    replicate(orders, "orders",
      Map("o_orderkey" -> mo, "o_custkey" -> mc))
    replicate(li, "lineitem",
      Map("l_orderkey" -> mo, "l_partkey" -> mp, "l_suppkey" -> ms))
    replicate(cust, "customer", Map("c_custkey" -> mc))
    replicate(part, "part", Map("p_partkey" -> mp))
    replicate(supp, "supplier", Map("s_suppkey" -> ms))
    for (t <- Seq("region", "nation")) // fixed dims, copied verbatim
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // events: replicas shift event_id/user_id into disjoint universes
    // but keep the SAME time window, so event density — and therefore
    // watermark-horizon state volume for the streaming queries (window/
    // session/join state per key-partition) — grows factor-x, which is
    // exactly the axis streaming state scales on. Caveat: the source
    // column is TIMESTAMP(NANOS), which this session reads as epoch-ns
    // long (nanosAsLong) and re-writes as plain int64 — every engine
    // query handles either physical type, but the derived dir is for
    // bench slopes only (DuckDB oracles expect the ns-typed original).
    val ev = spark.read.parquet(s"$src/events.parquet")
    val (me, mu) = (keyMax(ev, "event_id"), keyMax(ev, "user_id"))
    replicate(ev, "events", Map("event_id" -> me, "user_id" -> mu))

    println(s"[scale-fixtures] $dst: documents=${nDocs * factor} " +
      s"embeddings=${nEmb * factor} relational=${factor}x " +
      s"(factor $factor from $src)")
    spark.stop()
  }
}
