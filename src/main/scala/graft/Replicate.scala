package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage an N× replica of the driver corpus for replication spots
  * (SURVEY §8.5): each table is crossed with `range(factor)` and its id
  * columns shifted by `copy * 10M`, so replicas are distinct rows under
  * every id-keyed operator while the per-copy distribution is the
  * driver's own. Embedding values get a tiny deterministic per-copy
  * offset so vector replicas are geometrically distinct too (100 exact
  * copies of every point would hand kmeans/PQ a degenerate input that
  * under-states real training cost); the offset (≤5e-3 per coordinate)
  * is orders below the inter-point distances, so the corpus SHAPE — and
  * with it list occupancy and residual stats — stays the driver's.
  *
  * Usage: `tools/run.sh graft.Replicate <srcDir> <outDir> <factor>
  * [tables]` (tables default `documents,embeddings,events`). Output is
  * `<outDir>/<table>.parquet` directories, loadable by every façade
  * query via the same `dir` argument as the driver's own sf dirs.
  */
object Replicate {
  val stride = 10000000L

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: graft.Replicate <srcDir> <outDir> <factor> [tables]")
    val Array(src, out, f) = args.take(3)
    val tables =
      if (args.length > 3) args(3).split(",").toSeq
      else Seq("documents", "embeddings", "events")
    val spark = DriverSession.build(defaultCpus = "32")
    stage(spark, src, out, f.toInt, tables)
    spark.stop()
  }

  def stage(s: SparkSession, src: String, out: String, factor: Int,
      tables: Seq[String]): Unit = {
    require(factor >= 1, s"Replicate: factor=$factor must be >= 1")
    for (t <- tables) {
      val base = graft.sources.Tables.load(s, src, t)
      // repartition before the write: the driver tables are single small
      // files, and a broadcast cross join preserves that 1-partition
      // layout — an N× replica written as ONE part file hands every
      // consumer (and especially the file-STREAM source, which never
      // splits a file across tasks) a single-task scan, so the spot would
      // time one core against a corpus meant for 32
      replicated(base, t, factor).repartition(32)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"replicated $t ×$factor -> $out/$t.parquet")
    }
  }

  /** The N× frame itself (no write), as [[stage]] writes it. NOTE:
    * documents replicas keep their TEXT verbatim (only doc_id shifts) —
    * for dedup-family spots that is the deliberate pathological clique
    * regime (§8.5's prior-round methodology); id-keyed and content-scoring
    * operators see N distinct rows.
    */
  def replicated(base: DataFrame, table: String, factor: Int): DataFrame = {
    val copies = base.sparkSession.range(factor.toLong).toDF("__copy")
    val rep = base.crossJoin(broadcast(copies))
    val out = table match {
      case "documents" =>
        rep.withColumn("doc_id", col("doc_id") + col("__copy") * stride)
      case "embeddings" =>
        // per-copy offset: injective for copies below 101·97 ≈ 9.8 k (a
        // first-order residue with period 101 plus a 1e-6-scale carry —
        // a plain mod-101 term alone would hand copies c and c+101 exact
        // duplicate vectors, re-creating at factor>101 the degenerate
        // training input the jitter exists to prevent) and exactly ZERO
        // at copy 0, so a factor-1 replica is the original corpus in the
        // replica layout, not a shifted cousin
        val eps =
          (pmod(col("__copy") * 37L + 50L, lit(101L)) - 50L).cast("float") *
            lit(1e-4f) +
          pmod(expr("__copy div 101"), lit(97L)).cast("float") * lit(1.3e-6f)
        rep.withColumn("vec_id", col("vec_id") + col("__copy") * stride)
          .withColumn("embedding", transform(col("embedding"), x => x + eps))
      case "events" =>
        rep.withColumn("event_id", col("event_id") + col("__copy") * stride)
          .withColumn("user_id", col("user_id") + col("__copy") * stride)
      case other => sys.error(s"Replicate: no id-shift rule for table " +
        s"'$other' — add one before staging it (a shiftless replica " +
        "silently builds duplicate-key cliques)")
    }
    out.drop("__copy")
  }
}
