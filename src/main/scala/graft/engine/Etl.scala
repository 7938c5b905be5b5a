package graft.engine

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.rules.{DisabledColumn, RuleParser, TableRule}

/** Top-level entry points — the Spark equivalents of the reference's CLI and
  * API surfaces (`omop_etl/__main__.py`, `omop_etl/api.py`).
  */
object Etl {

  /** `omop_etl compile` + `execute` in one: parse every YAML rule file in
    * `rulesDir` and run them through an [[Engine]] with the global two-phase
    * schedule (`__main__.py:54-88`). Files are processed in sorted name
    * order; dependency files run first regardless of position. Source tables
    * must already be registered on the engine (or pass `sources`).
    */
  def runDirectory(
      spark: SparkSession,
      rulesDir: String,
      udfs: Map[String, SparkSession => Unit] = Map.empty,
      configure: Engine => Unit = _ => ()): Map[String, DataFrame] = {
    val engine = new Engine(spark, udfs)
    configure(engine)
    engine.run(loadRules(rulesDir).map(_._2))
  }

  /** (file stem, parsed rule) in sorted file order — the reference keys
    * per-file outputs by stem (`__main__.py:17-31`), while a table rule's
    * NAME comes from its YAML `name:` field.
    */
  private[engine] def loadRules(rulesDir: String): Seq[(String, graft.rules.Rule)] = {
    // Files.list holds an open DirectoryStream until closed — a long-lived
    // host (the API server) calling this repeatedly would leak fds
    val stream = Files.list(Paths.get(rulesDir))
    val paths =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".yaml") || p.toString.endsWith(".yml"))
        .toSeq
      finally stream.close()
    paths.sortBy(_.getFileName.toString)
      .map { p =>
        val stem = p.getFileName.toString.replaceAll("\\.(yaml|yml)$", "")
        stem -> RuleParser.parse(stem, Files.readString(p))
      }
  }

  /** The reference's `compile` CLI surface (`__main__.py:33-96`): run the
    * rules and write the generated statements as script artifacts — one
    * `etl.sql` by default, or one `<rule>.sql` per rule file when
    * `oneFile = false` (the `--no-one-file` flag, `__main__.py:45-49`).
    * The engine executes Catalyst plans directly, so the scripts are a
    * readable translation artifact in Spark SQL dialect (statement order =
    * execution order), not a runnable Postgres script.
    */
  def compileDirectory(
      spark: SparkSession,
      rulesDir: String,
      outDir: String,
      oneFile: Boolean = true,
      dropTables: Boolean = false,
      udfs: Map[String, SparkSession => Unit] = Map.empty,
      configure: Engine => Unit = _ => ()): Map[String, DataFrame] = {
    val engine = new Engine(spark, udfs, dropTables)
    configure(engine)
    val loaded = loadRules(rulesDir)
    val targets = engine.run(loaded.map(_._2))
    val stemOf: Map[String, String] = loaded.map { case (stem, r) => r.name -> stem }.toMap
    val out = Paths.get(outDir)
    if (!Files.exists(out)) Files.createDirectories(out)
    val log = engine.statementLog.toSeq
    if (oneFile)
      Files.writeString(out.resolve("etl.sql"), Engine.render(log))
    else
      log.groupBy(s => stemOf.getOrElse(s.rule, s.rule)).foreach { case (stem, ss) =>
        Files.writeString(out.resolve(s"$stem.sql"), Engine.render(ss))
      }
    targets
  }

  private val usage: String =
    """usage: graft.engine.Etl compile --rules DIR --output DIR
      |         [--drop-tables] [--no-one-file]
      |         [--source schema.table=path.parquet]... [--external-csv DIR]
      |       graft.engine.Etl run --rules DIR --output DIR
      |         [--source schema.table=path.parquet]... [--external-csv DIR]
      |`compile` mirrors the reference's `omop_etl compile` flags
      |(`__main__.py:34-49`) and writes SQL script artifacts; `run` is the
      |working form of the reference's `omop_etl execute`
      |(`__main__.py:95-143`, bit-rotted there): execute the rules directory
      |and write each target table as parquet under --output. Source tables
      |are supplied as parquet paths (and/or a CSV directory for the
      |external schema) — the reference compiles against a live database;
      |here compilation IS execution.""".stripMargin

  /** Execute a rules directory and write every target table as parquet
    * under `outDir/<target>.parquet` — the `run` CLI verb's body, exposed
    * for library callers. Returns the targets. The writes run at the same
    * time; every target that can be written is, and the first failure in
    * target-name order, if any, is then thrown.
    */
  def executeDirectory(
      spark: SparkSession,
      rulesDir: String,
      outDir: String,
      udfs: Map[String, SparkSession => Unit] = Map.empty,
      configure: Engine => Unit = _ => ()): Map[String, DataFrame] = {
    val targets = runDirectory(spark, rulesDir, udfs, configure)
    val out = Paths.get(outDir)
    if (!Files.exists(out)) Files.createDirectories(out)
    Engine.concurrently(spark, targets.toSeq.sortBy(_._1).map { case (name, df) =>
      () => df.write.mode("overwrite").parquet(out.resolve(s"$name.parquet").toString)
    })
    targets
  }

  /** Argument parsing + dispatch for [[main]], separated so tests can drive
    * the CLI against an existing session. Returns the compiled targets.
    */
  def cliMain(args: Array[String], spark: SparkSession): Map[String, DataFrame] = {
    val verb = args.headOption.getOrElse("")
    require(verb == "compile" || verb == "run",
      s"expected `compile` or `run` subcommand\n$usage")
    var rules = "rules"
    // verbs default to distinct artifact dirs: compile writes SQL scripts,
    // run writes target parquet — sharing one default would interleave them
    var output = if (verb == "compile") "sql" else "out"
    var oneFile = true
    var dropTables = false
    val sources = Seq.newBuilder[(String, String, String)]
    val csvDirs = Seq.newBuilder[String]
    val it = args.iterator.drop(1)
    def value(flag: String): String =
      if (it.hasNext) it.next() else throw new IllegalArgumentException(s"$flag needs a value\n$usage")
    val Source = "([^=.]+)\\.([^=]+)=(.+)".r
    while (it.hasNext) it.next() match {
      case "--rules" => rules = value("--rules")
      case "--output" => output = value("--output")
      case f @ ("--drop-tables" | "--one-file" | "--no-one-file") =>
        require(verb == "compile", s"$f is a compile-only flag\n$usage")
        f match {
          case "--drop-tables" => dropTables = true
          case "--one-file" => oneFile = true
          case "--no-one-file" => oneFile = false
        }
      case "--source" => value("--source") match {
        case Source(schema, table, path) => sources += ((schema, table, path))
        case bad => throw new IllegalArgumentException(
          s"--source expects schema.table=path, got '$bad'\n$usage")
      }
      case "--external-csv" => csvDirs += value("--external-csv")
      case other => throw new IllegalArgumentException(s"unknown option: $other\n$usage")
    }
    val configure: Engine => Unit = { e =>
      sources.result().foreach { case (sc, t, p) => e.registerSource(sc, t, graft.sources.Tables.parquet(spark, p)) }
      csvDirs.result().foreach(d => registerExternalCsvDir(e, spark, d))
    }
    if (verb == "compile")
      compileDirectory(spark, rules, output, oneFile, dropTables, configure = configure)
    else
      executeDirectory(spark, rules, output, configure = configure)
  }

  /** The session [[main]] and [[ApiServer.main]] run on: local[SPARK_GRAFT_CPUS]
    * (default 4) with as many shuffle partitions, no UI, WARN logging, the
    * session time zone pinned to UTC, so date parts in rules
    * (`extract(year FROM …)`) do not depend on the host's zone, and the
    * driver session's codegen class cache: one `run` compiles about 210
    * classes, more than Spark's default 100 entries hold, so without it a
    * second run in the same JVM recompiles every one.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", graft.DriverSession.CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `graft.engine.Etl compile|run …` — the reference CLI (`__main__.py:34-49`, `95-143`). */
  def main(args: Array[String]): Unit = {
    val spark = session()
    try cliMain(args, spark)
    catch {
      case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2)
    }
    finally spark.stop()
  }

  /** Load the `external` schema from a directory of CSVs, one view per file
    * (`FACILITY_POSTCODE.csv` → `external_facility_postcode`) — the
    * reference's external-table path (`schema/external.sql`,
    * `tests/test_rules.py:123-126`).
    */
  def registerExternalCsvDir(engine: Engine, spark: SparkSession, dir: String): Unit = {
    val stream = Files.list(Paths.get(dir))
    val csvs =
      try stream.iterator().asScala
        .filter(_.toString.toLowerCase.endsWith(".csv")).toSeq
      finally stream.close()
    csvs.foreach { p: Path =>
        val name = p.getFileName.toString.replaceAll("(?i)\\.csv$", "").toLowerCase
        val df = spark.read
          .option("header", "true")
          .option("inferSchema", "true")
          .csv(p.toString)
        // the reference loader strips `PREFIX.` from header names
        val renamed = df.columns.foldLeft(df)((d, c) =>
          d.withColumnRenamed(c, c.split("\\.").last.toLowerCase))
        engine.registerSource("external", name, renamed)
      }
  }
}

/** The reference's web-API surface minus the HTTP transport
  * (`api.py:43-45`, `POST /api/translate`): one rule document in, the
  * generated script plus structured required-column warnings out. A JSON
  * body is accepted verbatim — JSON is valid YAML, and the reference's
  * endpoint takes the same object model. Divergence: the reference
  * compiles without a database; this engine's compilation IS execution,
  * so source tables must be registered via `configure`.
  */
object Api {

  /** Mirrors the reference's `Result` (`api.py:14-17`); each warning
    * carries the pydantic error envelope fields (`loc`, `msg`, `type` —
    * `api.py:26-31`, RequestValidationError.errors()).
    */
  case class Warning(loc: Seq[String], msg: String, tpe: String)
  case class Result(script: String, warnings: Seq[Warning])

  def translateTable(
      spark: SparkSession,
      ruleText: String,
      name: String = "rule",
      udfs: Map[String, SparkSession => Unit] = Map.empty,
      configure: Engine => Unit = _ => ()): Result = {
    val rule = RuleParser.parseTable(name, ruleText)
    val engine = new Engine(spark, udfs)
    // cleanup in finally: the API host shares ONE SparkSession across
    // requests, and a leaked mapping/pre-init view would let a later
    // document's dangling reference silently resolve against this one's
    // state instead of failing like the stateless reference API
    try {
      configure(engine)
      engine.run(Seq(rule))
      val script = Engine.render(engine.statementLog.toSeq)
      val warnings = RequiredColumns.warnings(rule)
        .map(msg => Warning(Seq("body", "columns"), msg, "value_error"))
      Result(script, warnings)
    } finally engine.cleanup()
  }
}

/** Required-column validation (A20): the reference's API computes structured
  * warnings for target columns that OMOP CDM v6 marks required but the rule
  * doesn't populate (`api.py:19-40`, `schema.py:44-52`,
  * `schema/required_omop_columns.csv` — shipped as a resource).
  */
object RequiredColumns {

  lazy val omopV6: Map[String, Set[String]] = {
    val in = getClass.getResourceAsStream("/required_omop_columns.csv")
    val lines = scala.io.Source.fromInputStream(in).getLines().drop(1)
    lines.map(_.split(",")).collect { case Array(t, c) => (t.trim, c.trim) }
      .toSeq.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
  }

  /** Messages in the reference's wording (`api.py:27-29`); table matched
    * lowercase, pk exempt, disabled columns don't count as defined.
    */
  def warnings(rule: TableRule, required: Map[String, Set[String]] = omopV6): Seq[String] = {
    val req = required.getOrElse(rule.name.toLowerCase, Set.empty) - rule.primaryKey.name
    val defined = rule.columns.collect {
      case c if !c.isInstanceOf[DisabledColumn] => c.name
    }.toSet + rule.primaryKey.name
    (req -- defined).toSeq.sorted.map(c => s"""Column "$c" is not defined""")
  }
}
