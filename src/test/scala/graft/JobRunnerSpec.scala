package graft

import graft.sources.JobRunner
import org.apache.spark.sql.functions._

/** The reference's JSON job wire format driven end-to-end: reader spec
  * (projection/where/split/querySql) -> DataFrame -> writer spec
  * (hooks, insert/replace) -> parquet target. */
class JobRunnerSpec extends SparkSpec {
  import spark.implicits._

  test("reader spec: projection + where + key-range split == plain scan") {
    JobRunner.registerDataset(spark, Sf0, Seq("orders"))
    val json = """{
      "connection": {"table": {"name": "orders"}}, "column": ["o_orderkey", "o_custkey", "o_totalprice"],
      "where": "o_totalprice > 100000.0",
      "split": {"key": "o_orderkey"}
    }"""
    val cfg = graft.sources.ConfigJson.reader(json)
    val out = JobRunner.read(spark, cfg, numSplits = 4)
    assert(out.columns.toSeq ==
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    val plain = spark.table("orders")
      .filter($"o_totalprice" > 100000.0)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    assert(out.count() == plain.count() && out.count() > 0)
    assert(out.exceptAll(plain).isEmpty && plain.exceptAll(out).isEmpty)
    // the split produced a union of range branches
    assert(out.queryExecution.analyzed.toString.contains("Union"))
  }

  test("reader spec: timestamp split key at day accuracy, exact union") {
    JobRunner.registerDataset(spark, Sf0, Seq("orders"))
    val cfg = graft.sources.ConfigJson.reader("""{
      "connection": {"table": {"name": "orders"}}, "split": {"key": "o_orderdate", "timeAccuracy": "day"}
    }""")
    val out = JobRunner.read(spark, cfg, numSplits = 3)
    assert(out.count() == spark.table("orders").count())
  }

  test("reader spec: querySql statements run as one union") {
    JobRunner.registerDataset(spark, Sf0, Seq("nation", "region"))
    val cfg = graft.sources.ConfigJson.reader("""{
      "connection": {"table": {"name": "ignored"}},
      "querySql": [
        "SELECT n_name AS name FROM nation WHERE n_nationkey < 3",
        "SELECT r_name AS name FROM region"
      ]
    }""")
    val out = JobRunner.read(spark, cfg)
    assert(out.count() == 3 + 5)
  }

  test("writer spec: insert appends; replace upserts by key; hooks fire") {
    val target = tmpDir("job") + "/t"
    val wInsert = graft.sources.ConfigJson.writer("""{
      "connection": {"table": {"name": "t"}}, "writeMode": "insert",
      "preSQL": ["CREATE TABLE IF NOT EXISTS job_hook_marker(x INT) USING parquet"]
    }""")
    val n1 = JobRunner.write(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), target, wInsert)
    assert(n1 == 2)
    assert(spark.catalog.tableExists("job_hook_marker"), "preSQL must run")
    spark.sql("DROP TABLE job_hook_marker")
    val wReplace = graft.sources.ConfigJson.writer(
      """{"connection": {"table": {"name": "t"}}, "writeMode": "replace"}""")
    val n2 = JobRunner.write(
      Seq((2L, "B"), (3L, "c")).toDF("k", "v"), target, wReplace,
      keys = Seq("k"))
    assert(n2 == 3)
    val out = spark.read.parquet(target)
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // select is forbidden in hooks (writer/config.go:167-175)
    intercept[IllegalArgumentException] {
      JobRunner.write(Seq((9L, "z")).toDF("k", "v"), target,
        wInsert.copy(preSql = Seq("SELECT 1")))
    }
  }

  test("full job: reader json -> writer json end-to-end") {
    JobRunner.registerDataset(spark, Sf0, Seq("customer"))
    val target = tmpDir("job") + "/c"
    val n = JobRunner.run(spark,
      """{"connection": {"table": {"name": "customer"}}, "column": ["c_custkey", "c_mktsegment"],
          "where": "c_mktsegment = 'BUILDING'",
          "split": {"key": "c_custkey"}}""",
      """{"connection": {"table": {"name": "c"}}, "writeMode": "insert"}""",
      target, numSplits = 4)
    val expected = spark.table("customer")
      .filter($"c_mktsegment" === "BUILDING").count()
    assert(n == expected && n > 0)
  }
}
