package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The one measurement main: `tools/run.sh graft.Probe <names|all> [dir]
  * [passes] [planDir]` (defaults sf0.1, 3 passes). `names` are
  * comma-separated `SparkEntry.queries` keys, refused up front when
  * unknown; `dir` may be a [[Replicate]]-staged ×N corpus; cores come from
  * SPARK_GRAFT_CPUS.
  *
  * With a `planDir`, each query's `explain(FormattedMode)` goes to
  * `<planDir>/<name>.txt` before any timing (`PLAN FAILED: …` when it
  * cannot be planned); `passes = 0` stops there. Timing is [[Bench]]'s
  * method on the subset: a shape warm-up at sf0.001, then `passes` passes
  * to the noop sink, cache cleared between them, failed passes never
  * timed. One JSON line per query: counted per-pass seconds, `first`
  * (pass 1, the only one that pays SessionMemo builds, as Bench's
  * `queries_first`), `min` and `failed`; `first`/`min` are -1 when their
  * pass did not count.
  */
object Probe {
  private val WarmDir = "/root/testdata/sf0.001"

  final case class Result(query: String, passes: Seq[Double], first: Double, failed: Int) {
    def min: Double = if (passes.isEmpty) -1.0 else passes.min
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 1 && args.length <= 4,
      "usage: graft.Probe <names|all> [dir] [passes] [planDir]")
    val names =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else requireKnown(args(0).split(",").toSeq)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val passes = args.lift(2).fold(3)(_.toInt)
    val planDir = args.lift(3).map(Paths.get(_))
    require(passes >= 1 || (passes == 0 && planDir.isDefined),
      s"Probe: passes=$passes must be >= 1, or 0 with a planDir")
    val spark = DriverSession.build(defaultCpus = "32")
    try {
      val cpus = spark.sparkContext.defaultParallelism
      run(spark, names, dir, passes, planDir).foreach { r =>
        println(s"""{"query":${DriverSession.jsonQuote(r.query)},""" +
          s""""dir":${DriverSession.jsonQuote(dir)},"cpus":$cpus,""" +
          s""""passes":${r.passes.mkString("[", ",", "]")},""" +
          s""""first":${r.first},"min":${r.min},"failed":${r.failed}}""")
      }
    } finally spark.stop()
  }

  def run(spark: SparkSession, names: Seq[String], dir: String, passes: Int,
      planDir: Option[Path]): Seq[Result] = {
    requireKnown(names)
    planDir.foreach { p =>
      Files.createDirectories(p)
      names.foreach { n =>
        val plan =
          try SparkEntry.queries(n)(spark, dir).queryExecution.explainString(FormattedMode)
          catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}\n" }
        Files.writeString(p.resolve(s"$n.txt"), plan)
      }
    }
    if (passes < 1) Seq.empty
    else {
      names.foreach(n => timed(spark, n, WarmDir))
      val byPass = (1 to passes).map { _ =>
        spark.catalog.clearCache()
        names.map(n => timed(spark, n, dir))
      }
      names.indices.map { i =>
        val times = byPass.map(_(i))
        Result(names(i), times.flatten, times.head.getOrElse(-1.0), times.count(_.isEmpty))
      }
    }
  }

  private def requireKnown(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"Probe: unknown queries ${unknown.mkString(", ")}")
    names
  }

  /** Seconds for one run to the noop sink, or None when it throws. */
  private def timed(spark: SparkSession, name: String, dir: String): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      DriverSession.runToNoop(SparkEntry.queries(name)(spark, dir))
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        System.err.println(s"[probe] $name on $dir failed: ${e.getMessage}")
        None
    }
  }
}
