package graft.sources

import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TablesSpec extends AnyFunSuite {
  lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  test("events reader refuses a raw BIGINT ts (footer not NANOS-annotated) and scopes the legacy conf") {
    // under nanosAsLong a genuine BIGINT and TIMESTAMP(NANOS) both surface
    // as LongType — the footer annotation is the only ground truth, and a
    // raw epoch column of unknown unit must fail loud, never divide by 1000
    val dir = java.nio.file.Files.createTempDirectory("graftrawts").toString
    Seq((1L, 1234567890123456L, 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.load(spark, dir, "events"))
    assert(e.getMessage.contains("does not annotate"))
    // and the read must not leak the session-wide legacy flag: an
    // unrelated parquet read of a NANOS column should still fail loud
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      .forall(_ != "true"))
    // the stream-schema sniff shares both the rejection and the scoping
    val e2 = intercept[IllegalArgumentException](
      Tables.eventsStreamSchema(spark, s"$dir/events.parquet"))
    assert(e2.getMessage.contains("does not annotate"))
  }

  test("events reader handles the MICROS corpus without touching the legacy conf") {
    val before = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    assert(Tables.load(spark, "/root/testdata/sf0.001", "events").count() > 0)
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong") == before)
  }

  test("load reads every table with the schema spark.read.parquet infers (events.ts normalized), starting no job") {
    val dir = "/root/testdata/sf0.001"
    for (name <- Tables.all) {
      val (df, jobs) = JobCounter.count(spark.sparkContext)(Tables.load(spark, dir, name))
      assert(jobs == 0, name)
      val inferred = spark.read.parquet(s"$dir/$name.parquet")
      val expected =
        if (name == "events") Tables.eventsTsNormalizer(inferred.schema("ts").dataType)(inferred)
        else inferred
      assert(df.schema == expected.schema, name)
    }
  }

  test("corpusSummary digest is doc_id-keyed: duplicate-text pairs cannot xor-cancel") {
    val tmp = java.nio.file.Files.createTempDirectory("graftdup").toString
    val rows = Seq(
      (1L, "same text twice", "en", "s", 15L),
      (2L, "same text twice", "en", "s", 15L)) // text-only xor would cancel to 0
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val d = Jsonl.corpusSummary(
      Tables.load(spark, tmp, "documents")).select("content_digest")
      .first().getLong(0)
    assert(d != 0L, "a duplicate-text pair xor-cancelled the certificate digest")
  }

  test("writeShards/writeJsonl reject non-positive shard counts") {
    val df = Seq((1L, "a")).toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("graftshardguard").toString
    intercept[IllegalArgumentException](Sinks.writeShards(df, p, shards = 0))
    intercept[IllegalArgumentException](Sinks.writeJsonl(df, p, shards = 0))
  }
}
