package omopbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampNTZType, TimestampType}

import graft.engine.{Engine, Etl, EtlScaleBench}
import graft.rules._

/** One benchmark run of the ETL engine's public `run` path in one JVM.
  *
  * Schedule: a pure-CPU calibration loop; `setups` set-ups (session build
  * plus staging a ×`factor` replica of the workbook corpus as parquet); one
  * cold op; warm ops while they fit in `seconds`; untimed output checks of
  * every op (row counts against the workbook golden grown ×`factor`, and at
  * ×1 every checked value too); the calibration loop again. An op is one `run` of the
  * validation rules: parse → spine → overlay → parquet write of every target.
  *
  * Untraced ops call [[Etl.cliMain]] exactly as the CLI does. Traced ops
  * perform the same steps through the public calls that `run` is made of
  * (RuleParser.parse, Engine.registerSource, Engine.initialize,
  * Engine.process, the parquet write), each inside a span, with a
  * SparkListener and a QueryExecutionListener attached. A traced run
  * alternates traced and untraced warm ops, so the tracing overhead is
  * measured within one JVM.
  *
  * Writes one raw JSON report; the Python front end turns it into metrics.
  *
  * Usage: `omopbench.EtlBench --work DIR --corpus DIR --rules DIR --factor N
  *   --seconds S --trace 0|1 --seed N --cpus N --setups K --report FILE`
  */
object EtlBench {

  private val CernerTables = Seq("person", "encounter", "encntr_loc_hist",
    "diagnosis", "problem", "address", "nomenclature")
  private val SharedTables = Seq("cerner" -> "code_value", "omop" -> "concept",
    "omop" -> "concept_relationship", "external" -> "facility_postcode",
    "external" -> "person_ethnicity_concept")

  /** CorpusSpec's (table, column) pairs, from the reference's `test_rules.py`. */
  val GoldenPairs: Seq[(String, String)] = Seq(
    "condition_occurrence" -> "condition_concept_id",
    "condition_occurrence" -> "condition_occurrence_id",
    "condition_occurrence" -> "person_id",
    "location" -> "location_id",
    "location" -> "state",
    "location" -> "zip",
    "person" -> "death_datetime",
    "person" -> "gender_source_concept_id",
    "person" -> "gender_source_value",
    "person" -> "person_id",
    "person" -> "year_of_birth",
    "visit_occurrence" -> "person_id",
    "visit_occurrence" -> "visit_occurrence_id")

  final case class Args(work: String, corpus: String, rules: String, factor: Int,
      seconds: Double, trace: Boolean, seed: Long, cpus: Int, setups: Int, report: String)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("work"), get("corpus"), get("rules"), get("factor").toInt, get("seconds").toDouble,
      get("trace") == "1", get("seed").toLong, get("cpus").toInt, get("setups").toInt, get("report"))
  }

  /** Fixed pure-JVM CPU work (xorshift over 2^27 steps). Its time only
    * flags a disturbed box; no metric is rescaled by it.
    */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < (1 << 27)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) System.err.println("")
    s
  }

  private def secSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The session `Etl.main` builds, with scratch space kept under `work`. */
  def buildSession(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** (schema, table, parquet path) for every source the rules read. */
  type Sources = Seq[(String, String, String)]

  /** Write the ×`factor` replica of the Cerner tables as parquet under
    * `dir`. Replica-private keys are shifted by [[EtlScaleBench.replicate]];
    * the seed permutes row order within each file, which no checked output
    * depends on.
    */
  def stage(spark: SparkSession, a: Args, dir: String): Sources = {
    def withNullCol(df: DataFrame, name: String): DataFrame =
      if (df.columns.contains(name)) df else df.withColumn(name, lit(null).cast("double"))
    val cerner = CernerTables.map { t =>
      val df = spark.read.parquet(s"${a.corpus}/cerner_$t.parquet")
      val full = if (t == "encounter" || t == "encntr_loc_hist") withNullCol(df, "active_ind") else df
      val path = s"$dir/cerner_$t.parquet"
      EtlScaleBench.replicate(full, a.factor).sortWithinPartitions(rand(a.seed))
        .write.mode("overwrite").parquet(path)
      ("cerner", t, path)
    }
    // shared dimensions are not replicated: the op reads them from the corpus
    val shared = SharedTables.map { case (sc, t) => (sc, t, s"${a.corpus}/${sc}_$t.parquet") }
    // omop.vocabulary exists in the DDL but ships empty
    val vocab = s"$dir/omop_vocabulary.parquet"
    spark.createDataFrame(java.util.List.of[Row](),
      StructType(Seq(StructField("vocabulary_id", StringType))))
      .write.mode("overwrite").parquet(vocab)
    cerner ++ shared :+ (("omop", "vocabulary", vocab))
  }

  def cliArgs(a: Args, src: Sources, out: String): Array[String] =
    Array("run", "--rules", a.rules, "--output", out) ++
      src.flatMap { case (sc, t, p) => Seq("--source", s"$sc.$t=$p") }

  /** Every verbatim SQL fragment of a rule, as the engine hands it to Dialect. */
  def fragments(r: Rule): Seq[String] = {
    def ref(s: SourceRef): Seq[String] = s match {
      case QueryRef(_, q) => Seq(q)
      case _ => Nil
    }
    val dep = (r.dep.preInit ++ r.dep.postInit).map(_.query)
    r match {
      case t: TableRule =>
        dep ++ t.primaryKey.sources.flatMap { case (_, s) => ref(s.table) ++ s.constraints } ++
          t.columns.flatMap {
            case c: TargetColumn => c.tables.flatMap(ref) ++ c.constraints :+ c.expression
            case _ => Nil
          }
      case _ => dep
    }
  }

  def ruleFiles(dir: String): Seq[Path] = {
    val stream = Files.list(Paths.get(dir))
    try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".yaml") || p.toString.endsWith(".yml"))
      .toSeq.sortBy(_.getFileName.toString)
    finally stream.close()
  }

  /** A traced op: the steps of `run`, one span per layer. Returns the
    * parsed rules and the number of statements the engine generated.
    */
  def tracedOp(spark: SparkSession, a: Args, src: Sources, out: String,
      tr: Tracer): (Seq[Rule], Int) = {
    val parsed = tr.span("rules.parse") {
      ruleFiles(a.rules).map { p =>
        val stem = p.getFileName.toString.replaceAll("\\.(yaml|yml)$", "")
        RuleParser.parse(stem, Files.readString(p))
      }
    }
    val tables = parsed.collect { case t: TableRule => t }
    require(tables.size == parsed.size,
      "traced op mirrors Engine.run for table rules only; the rule set has dependency files")
    val e = new Engine(spark)
    tr.span("sources.register") {
      src.foreach { case (sc, t, p) => e.registerSource(sc, t, spark.read.parquet(p)) }
    }
    tr.span("engine.spine")(tables.foreach(e.initialize))
    tr.span("engine.plan")(tables.foreach(e.process))
    tr.span("engine.write") {
      e.targets.foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$out/$n.parquet") }
    }
    (parsed, e.statementLog.size)
  }

  /** Dialect.translate runs inside spine and plan; replay it over every
    * fragment of the rules to time the layer on its own (averaged over many
    * passes: one pass takes microseconds).
    */
  def dialectReplay(parsed: Seq[Rule]): Map[String, Double] = {
    val frags = parsed.flatMap(fragments)
    val reps = 200
    val t0 = System.nanoTime()
    var i = 0
    while (i < reps) { frags.foreach(f => graft.dialect.Dialect.translate(f)); i += 1 }
    Map("dialect.translate_s" -> secSince(t0) / reps, "dialect.fragments" -> frags.size.toDouble)
  }

  /** Row count of every target an op wrote. */
  def counts(spark: SparkSession, out: String): Map[String, Long] = {
    val stream = Files.list(Paths.get(out))
    val names =
      try stream.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
      finally stream.close()
    names.map(n => n.stripSuffix(".parquet") -> spark.read.parquet(s"$out/$n").count()).toMap
  }

  /** CorpusSpec's comparison: order both sides by the target's pk and
    * compare each column, coerced by the expected column's type (one read
    * per table). Returns the mismatching pairs.
    */
  def goldenMismatches(spark: SparkSession, a: Args, out: String): Seq[String] =
    GoldenPairs.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (table, pairs) =>
      val expected = spark.read.parquet(s"${a.corpus}/expected_$table.parquet")
      val got = spark.read.parquet(s"$out/${table.toUpperCase}.parquet")
      val pk = expected.columns.head
      val cols = pairs.map { case (_, c) =>
        expected.schema(c).dataType match {
          case TimestampType | TimestampNTZType | StringType => col(c).cast("string")
          case _ => col(c).cast("double")
        }
      }
      def rows(df: DataFrame): Seq[Row] = df.orderBy(col(pk)).select(cols: _*).collect().toSeq
      val (e, g) = (rows(expected), rows(got))
      pairs.map(_._2).zipWithIndex.collect {
        case (c, i) if e.map(_.get(i)) != g.map(_.get(i)) => s"$table.$c"
      }
    }

  /** The growth invariant of self-contained replicas, from the ×1 counts:
    * PERSON, VISIT and CONDITION grow exactly ×N; LOCATION has 21 shared
    * facility/unit rows plus 10 address rows per replica.
    */
  def expectedCounts(base: Map[String, Long], factor: Int): Map[String, Long] =
    base.map {
      case ("LOCATION", _) => "LOCATION" -> (21L + 10L * factor)
      case (n, c) => n -> c * factor
    }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val calBefore = calibrate()
    val report = mutable.LinkedHashMap[String, Any](
      "jvm_start_s" -> jvmStartS, "calibration_before_s" -> calBefore,
      "factor" -> a.factor, "cpus" -> a.cpus)

    // set-up, repeated: each builds a fresh session and stages afresh
    var spark: SparkSession = null
    var src: Sources = Nil
    val setups = (1 to a.setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = buildSession(a)
      val tSession = secSince(t0)
      src = stage(spark, a, s"${a.work}/stage$i")
      Map("session_s" -> tSession, "total_s" -> secSince(t0))
    }
    report("setups") = setups

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    def op(kind: String, traced: Boolean): Unit = {
      val out = s"${a.work}/out/op${ops.size}"
      val rec = mutable.LinkedHashMap[String, Any]("kind" -> kind, "traced" -> traced, "out" -> out)
      var parsed: Seq[Rule] = Nil
      val t0 = System.nanoTime()
      try {
        if (traced) {
          val tr = tracer.get
          tr.begin()
          val (rules, statements) = tracedOp(spark, a, src, out, tr)
          rec ++= tr.end()
          rec("engine.statements") = statements.toDouble
          parsed = rules
        } else Etl.cliMain(cliArgs(a, src, out), spark)
        rec("ok") = true
      } catch {
        case NonFatal(e) =>
          tracer.foreach(_.detach())
          rec("ok") = false
          rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      rec("wall_s") = secSince(t0)
      if (parsed.nonEmpty) rec ++= dialectReplay(parsed)
      ops += rec.toMap
    }

    op("cold", traced = a.trace)

    // closed loop: the next warm op starts only if, at the last op's pace,
    // it ends within the window (at least one warm op; two in a traced run)
    var warm = 0.0
    var last = 0.0
    def nWarm = ops.count(_("kind") == "warm")
    while (nWarm < (if (a.trace) 2 else 1) || warm + last <= a.seconds) {
      // a traced run alternates traced and untraced ops, starting traced
      op("warm", traced = a.trace && nWarm % 2 == 0)
      last = ops.last("wall_s").asInstanceOf[Double]
      warm += last
    }
    tracer.foreach(_.detach())
    // heap the session still holds after the warm ops. A full collection
    // lets Spark's ContextCleaner release the dropped spines' blocks; the
    // second one frees what the cleaner let go, so the figure does not
    // depend on when the last collection happened to run.
    System.gc()
    Thread.sleep(500)
    System.gc()
    report("live_heap_mb") = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // untimed: every op's targets against the growth invariant, based on
    // the golden row counts; at ×1 also value for value against the golden
    val golden = GoldenPairs.map(_._1).distinct.map { t =>
      t.toUpperCase -> spark.read.parquet(s"${a.corpus}/expected_$t.parquet").count()
    }.toMap
    val expected = expectedCounts(golden, a.factor)
    val checkedOps = ops.map { o =>
      if (o("ok") != true) o
      else {
        val out = o("out").toString
        val (c, bad) =
          try (counts(spark, out), if (a.factor == 1) goldenMismatches(spark, a, out) else Nil)
          catch { case NonFatal(e) => (Map.empty[String, Long], Seq(s"check failed: ${e.getMessage}")) }
        o ++ Map("counts" -> c, "golden_mismatches" -> bad,
          "output_ok" -> (c == expected && bad.isEmpty), "rows_out" -> c.values.sum.toDouble)
      }
    }
    val checks = Map("expected_counts" -> expected, "golden_values" -> (a.factor == 1))
    report("checks") = checks
    report("ops") = checkedOps.toSeq
    spark.stop()
    report("calibration_after_s") = calibrate()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a.report), json.writeValueAsString(report))
  }
}
