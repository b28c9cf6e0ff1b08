package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink format matrix beyond parquet: CSV, JSON (line-delimited),
  * and ORC round-trips preserve the documents table bit-for-bit under an
  * explicit schema (schemas stay SOURCE-OWNED — inference is never
  * relied on), plus the AQE runtime re-plan that coalesces an
  * over-partitioned shuffle. */
class FormatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, Sf0)
    .select($"doc_id", $"text", $"lang", $"source", $"n_chars")

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def roundTrips(fmt: String, writeOpts: Map[String, String],
      readOpts: Map[String, String]): Unit = {
    val dir = tmpDir(s"fmt-$fmt")
    docs.write.options(writeOpts).format(fmt).save(s"$dir/t")
    val back = spark.read.options(readOpts).schema(docSchema)
      .format(fmt).load(s"$dir/t")
    assert(back.count() == docs.count(), s"$fmt row count")
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty,
      s"$fmt round-trip must be exact")
  }

  test("CSV round-trip is exact with explicit schema + quoting") {
    // text contains spaces/commas-free words but quote anyway: the
    // escape/quote options are part of the source-owned contract
    roundTrips("csv",
      Map("header" -> "true", "quoteAll" -> "true", "escape" -> "\""),
      Map("header" -> "true", "quote" -> "\"", "escape" -> "\""))
  }

  test("JSON (line-delimited) round-trip is exact") {
    roundTrips("json", Map.empty, Map.empty)
  }

  test("ORC round-trip is exact") {
    roundTrips("orc", Map.empty, Map.empty)
  }

  test("malformed JSON: PERMISSIVE quarantines, DROPMALFORMED drops, FAILFAST throws") {
    val dir = tmpDir("mal")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/data.json"),
      """{"k": 1, "v": "a"}
        |not json at all
        |{"k": 2, "v": "b"}
        |{"k": "not-a-number", "v": "c"}
        |""".stripMargin)
    val schema = "k LONG, v STRING, _corrupt_record STRING"
    // PERMISSIVE (the ingest default): bad lines survive as quarantine
    // rows — the file-format face of the row-sink DLQ (W5). Spark
    // forbids filtering on ONLY the corrupt column straight off the
    // scan (the parser would need to re-run); cache first, as the
    // AnalysisException itself prescribes
    val p = spark.read.schema(schema).json(dir).cache()
    assert(p.filter(col("_corrupt_record").isNull).count() == 2)
    val bad = p.filter(col("_corrupt_record").isNotNull)
    assert(bad.count() == 2)
    assert(bad.filter(col("k").isNull).count() == 2,
      "corrupt rows must not leak partial typed values for the bad field")
    // DROPMALFORMED drops only syntactically unparseable lines; a
    // TYPE-mismatched field nulls out but the row survives (asymmetric
    // with PERMISSIVE, which flags that row corrupt above) — worth
    // pinning, it regularly surprises ingest authors
    assert(spark.read.schema("k LONG, v STRING")
      .option("mode", "DROPMALFORMED").json(dir).count() == 3)
    // FAILFAST: the batch dies loudly
    intercept[org.apache.spark.SparkException] {
      spark.read.schema("k LONG, v STRING")
        .option("mode", "FAILFAST").json(dir).collect()
    }
  }

  test("AQE coalesces an over-partitioned shuffle at runtime") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // an EXPLICIT repartition(200) is honored by AQE (user intent);
    // the coalesce rule targets optimizer-introduced exchanges, so the
    // over-partitioning must come from spark.sql.shuffle.partitions
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try {
      val out = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      out.collect()
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("AQEShuffleRead") ||
        plan.contains("coalesced"),
        s"AQE should coalesce the shuffle read:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }
}
