package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.rules.RuleParser

class EtlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  test("runDirectory: rule files from disk, deps first, targets built") {
    val dir = Files.createTempDirectory("graft-rules")
    Files.writeString(dir.resolve("20_copy.yaml"), """
      |name: baz
      |primary_key:
      |  name: id
      |  sources:
      |    foo_pk: {table: foo, columns: {id: integer}}
      |columns:
      |  - {name: alpha, tables: [foo], expression: foo.alpha}
      |""".stripMargin)
    Files.writeString(dir.resolve("10_dep.yaml"), """
      |pre_init:
      |  - alias: setup_temp
      |    query: select 1 as one
      |""".stripMargin)
    val out = Etl.runDirectory(spark, dir.toString, configure = { e =>
      e.registerSource("cerner", "foo",
        Seq((0, "a"), (1, "b")).toDF("id", "alpha"))
    })
    assert(out.keySet == Set("baz"))
    assert(out("baz").count() == 2)
    assert(spark.table("setup_temp").count() == 1)
  }

  test("registerExternalCsvDir: CSV -> external_* views with cleaned headers") {
    val dir = Files.createTempDirectory("graft-ext")
    Files.writeString(dir.resolve("LOOKUP.csv"),
      "PREFIX.id,PREFIX.Name\n1,alpha\n2,beta\n")
    val e = new Engine(spark)
    Etl.registerExternalCsvDir(e, spark, dir.toString)
    val df = spark.table("external_lookup")
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.count() == 2)
  }

  test("Engine init installs graft natives: rule expressions can call vec_dot / misra_gries") {
    new Engine(spark) // constructor side effect under test
    val d = spark.sql(
      "SELECT vec_dot(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT)))")
      .collect().head.getDouble(0)
    assert(d == 6.0)
    val hh = spark.sql(
      "SELECT misra_gries(t, 4)[0].token FROM VALUES ('a'), ('a'), ('b') AS v(t)")
      .collect().head.getString(0)
    assert(hh == "a")
  }

  test("re-running the same rules is idempotent (--drop-tables semantics, A6)") {
    val yaml = """
      |name: baz
      |primary_key:
      |  name: id
      |  sources:
      |    foo_pk: {table: foo, columns: {id: integer}}
      |columns:
      |  - {name: alpha, tables: [foo], expression: foo.alpha}
      |""".stripMargin
    def runOnce(): Seq[Seq[Any]] = {
      val e = new Engine(spark)
      e.registerSource("cerner", "foo", Seq((0, "a"), (1, "b")).toDF("id", "alpha"))
      e.run(Seq(graft.rules.RuleParser.parse("r", yaml)))("baz")
        .orderBy("id").collect().toSeq.map(_.toSeq)
    }
    assert(runOnce() == runOnce())
  }

  test("compileDirectory: one etl.sql or per-rule scripts (`--no-one-file`, `__main__.py:45-49`)") {
    val dir = Files.createTempDirectory("graft-compile")
    Files.writeString(dir.resolve("10_dep.yaml"), """
      |pre_init:
      |  - alias: cmp_temp
      |    query: select 1 as one
      |""".stripMargin)
    Files.writeString(dir.resolve("20_tab.yaml"), """
      |name: baz
      |primary_key:
      |  name: id
      |  sources:
      |    foo_pk: {table: foo, columns: {id: integer}}
      |columns:
      |  - {name: alpha, tables: [foo], expression: foo.alpha}
      |""".stripMargin)
    def cfg(e: Engine): Unit =
      e.registerSource("cerner", "foo", Seq((0, "a"), (1, "b")).toDF("id", "alpha"))
    val one = Files.createTempDirectory("graft-out1")
    val out = Etl.compileDirectory(spark, dir.toString, one.toString, configure = cfg)
    assert(out("baz").count() == 2)
    val script = Files.readString(one.resolve("etl.sql"))
    assert(script.contains("-- 10_dep: temp_table"))
    assert(script.contains("-- baz: column_update")) // statements carry the RULE name
    // dependency statements precede the table's (execution order)
    assert(script.indexOf("10_dep") < script.indexOf("-- baz:"))
    val per = Files.createTempDirectory("graft-out2")
    Etl.compileDirectory(spark, dir.toString, per.toString, oneFile = false, configure = cfg)
    // files are keyed by FILE STEM like the reference (`__main__.py:17-31`)
    assert(Files.exists(per.resolve("10_dep.sql")))
    val tab = Files.readString(per.resolve("20_tab.sql"))
    assert(tab.contains("spine_select") && tab.contains("skeleton") && tab.contains("column_update"))
    assert(!tab.contains("10_dep"))
    // --drop-tables (`__main__.py:41`, `schema.py:269-271`): one DROP per
    // mapping table, before its build
    val drops = Files.createTempDirectory("graft-out3")
    Etl.compileDirectory(spark, dir.toString, drops.toString,
      dropTables = true, configure = cfg)
    val withDrops = Files.readString(drops.resolve("etl.sql"))
    assert(withDrops.contains("DROP TABLE IF EXISTS mapping.baz"))
    assert(withDrops.indexOf("drop_table") < withDrops.indexOf("spine_select"))
    assert(!script.contains("DROP TABLE")) // default stays drop-free
  }

  test("cliMain: `compile` flags drive compileDirectory (`__main__.py:34-49`)") {
    val dir = Files.createTempDirectory("graft-cli-rules")
    Files.writeString(dir.resolve("20_tab.yaml"), """
      |name: baz
      |primary_key:
      |  name: id
      |  sources:
      |    foo_pk: {table: foo, columns: {id: integer}}
      |columns:
      |  - {name: alpha, tables: [foo], expression: foo.alpha}
      |""".stripMargin)
    val src = Files.createTempDirectory("graft-cli-src")
    Seq((0, "a"), (1, "b")).toDF("id", "alpha")
      .write.mode("overwrite").parquet(src.resolve("foo.parquet").toString)
    val one = Files.createTempDirectory("graft-cli-out1")
    val out = Etl.cliMain(Array("compile",
      "--rules", dir.toString, "--output", one.toString,
      "--source", s"cerner.foo=${src.resolve("foo.parquet")}"), spark)
    assert(out("baz").count() == 2)
    assert(Files.readString(one.resolve("etl.sql")).contains("-- baz: column_update"))
    // --no-one-file + --drop-tables, same flag names as the reference
    val per = Files.createTempDirectory("graft-cli-out2")
    Etl.cliMain(Array("compile",
      "--rules", dir.toString, "--output", per.toString,
      "--no-one-file", "--drop-tables",
      "--source", s"cerner.foo=${src.resolve("foo.parquet")}"), spark)
    assert(Files.exists(per.resolve("20_tab.sql")))
    assert(Files.readString(per.resolve("20_tab.sql")).contains("DROP TABLE IF EXISTS mapping.baz"))
    // unknown flag and missing subcommand are loud
    intercept[IllegalArgumentException](Etl.cliMain(Array("compile", "--bogus"), spark))
    intercept[IllegalArgumentException](Etl.cliMain(Array("execute"), spark))
    // compile-only flags are rejected under `run`
    intercept[IllegalArgumentException](Etl.cliMain(Array("run", "--drop-tables"), spark))
  }

  test("cliMain: `run` executes the 4 validation rules end-to-end, writes target parquet") {
    // the working form of the reference's `omop_etl execute`
    // (`__main__.py:95-143`, bit-rotted there): rules dir in, parquet out
    val rulesDir = Files.createTempDirectory("graft-run-rules")
    Seq("person", "location", "visit_occurrence", "condition_occurrence").foreach { n =>
      val in = getClass.getResourceAsStream(s"/validation/$n.yaml")
      val text = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      Files.writeString(rulesDir.resolve(s"$n.yaml"), text)
    }
    val corpus = "src/test/resources/corpus"
    val srcDir = Files.createTempDirectory("graft-run-src")
    val sourceArgs = Seq.newBuilder[String]
    def stage(schema: String, t: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val p = srcDir.resolve(s"${schema}_$t.parquet").toString
      df.write.mode("overwrite").parquet(p)
      sourceArgs += "--source" += s"$schema.$t=$p"
    }
    // same supplementation as CorpusSpec: the workbook populates a subset of
    // each DDL table's columns; rule-referenced ones must exist (as NULL)
    def withNullCol(df: org.apache.spark.sql.DataFrame, name: String) =
      if (df.columns.contains(name)) df
      else df.withColumn(name, org.apache.spark.sql.functions.lit(null).cast("double"))
    Seq("person", "encounter", "encntr_loc_hist", "diagnosis", "problem",
      "address", "nomenclature", "code_value").foreach { t =>
      val df = spark.read.parquet(s"$corpus/cerner_$t.parquet")
      val full = if (t == "encounter" || t == "encntr_loc_hist") withNullCol(df, "active_ind") else df
      stage("cerner", t, full)
    }
    Seq("concept", "concept_relationship").foreach { t =>
      stage("omop", t, spark.read.parquet(s"$corpus/omop_$t.parquet"))
    }
    stage("omop", "vocabulary", spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vocabulary_id",
          org.apache.spark.sql.types.StringType)))))
    Seq("facility_postcode", "person_ethnicity_concept").foreach { t =>
      stage("external", t, spark.read.parquet(s"$corpus/external_$t.parquet"))
    }
    val outDir = Files.createTempDirectory("graft-run-out")
    val targets = Etl.cliMain(Array("run",
      "--rules", rulesDir.toString, "--output", outDir.toString) ++ sourceArgs.result(), spark)
    // target keys carry the rules' own (uppercase) `name:` fields
    assert(targets.keySet == Set("PERSON", "LOCATION", "VISIT_OCCURRENCE", "CONDITION_OCCURRENCE"))
    // written artifacts match the workbook's expected row counts
    Seq("person", "location", "visit_occurrence", "condition_occurrence").foreach { t =>
      val written = spark.read.parquet(outDir.resolve(s"${t.toUpperCase}.parquet").toString)
      val expected = spark.read.parquet(s"$corpus/expected_$t.parquet")
      assert(written.count() == expected.count(), s"row count for $t")
    }
    // spot-check one value column end-to-end through the CLI path
    val person = spark.read.parquet(outDir.resolve("PERSON.parquet").toString)
    val expected = spark.read.parquet(s"$corpus/expected_person.parquet")
    val pk = expected.columns.head
    def vals(df: org.apache.spark.sql.DataFrame): Seq[Any] =
      df.orderBy(pk).select(org.apache.spark.sql.functions.col("year_of_birth").cast("double"))
        .collect().map(_.get(0)).toSeq
    assert(vals(person) == vals(expected))
  }

  test("cliMain: --external-csv feeds EXTERNAL.* tables to a pure-CLI run") {
    // a CLI-only user ships lookup tables as a directory of CSVs; the flag
    // must carry them through registerExternalCsvDir into a rule that joins
    // EXTERNAL.FACILITY_POSTCODE (location.yaml) — no --source staging of
    // the external schema
    val rulesDir = Files.createTempDirectory("graft-extcli-rules")
    val in = getClass.getResourceAsStream("/validation/location.yaml")
    val text = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    Files.writeString(rulesDir.resolve("location.yaml"), text)
    val corpus = "src/test/resources/corpus"
    val srcDir = Files.createTempDirectory("graft-extcli-src")
    val sourceArgs = Seq.newBuilder[String]
    def withNullCol(df: org.apache.spark.sql.DataFrame, name: String) =
      if (df.columns.contains(name)) df
      else df.withColumn(name, org.apache.spark.sql.functions.lit(null).cast("double"))
    Seq("encounter", "encntr_loc_hist", "address").foreach { t =>
      val df = spark.read.parquet(s"$corpus/cerner_$t.parquet")
      val full = if (t == "address") df else withNullCol(df, "active_ind")
      val p = srcDir.resolve(s"cerner_$t.parquet").toString
      full.write.mode("overwrite").parquet(p)
      sourceArgs += "--source" += s"cerner.$t=$p"
    }
    // the external table as a user would ship it: just the columns the rule
    // reads, PREFIX.-qualified headers (the loader strips them)
    val extDir = Files.createTempDirectory("graft-extcli-csv")
    val rows = spark.read.parquet(s"$corpus/external_facility_postcode.parquet")
      .select("source_facility_cd", "target_postcode")
      .collect().map(r => s"${r.get(0)},${r.get(1)}")
    Files.writeString(extDir.resolve("FACILITY_POSTCODE.csv"),
      ("EXT.source_facility_cd,EXT.target_postcode" +: rows.toSeq).mkString("\n"))
    val outDir = Files.createTempDirectory("graft-extcli-out")
    val targets = Etl.cliMain(Array("run",
      "--rules", rulesDir.toString, "--output", outDir.toString,
      "--external-csv", extDir.toString) ++ sourceArgs.result(), spark)
    assert(targets.keySet == Set("LOCATION"))
    val written = spark.read.parquet(outDir.resolve("LOCATION.parquet").toString)
    val expected = spark.read.parquet(s"$corpus/expected_location.parquet")
    assert(written.count() == expected.count())
    def zips(df: org.apache.spark.sql.DataFrame): Seq[Option[Double]] =
      df.select(org.apache.spark.sql.functions.col("zip").cast("double"))
        .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
        .toSeq.sortBy(_.getOrElse(-1.0))
    assert(zips(written) == zips(expected), "postcodes joined from the CSV external must match")
  }

  test("depends_on inherits the dep file's default_schema (`__main__.py:67-80`)") {
    val dir = Files.createTempDirectory("graft-depschema")
    Files.writeString(dir.resolve("10_src.yaml"), """
      |default_schema: custom
      |scripts: ["TRUE;"]
      |""".stripMargin)
    Files.writeString(dir.resolve("20_tab.yaml"), """
      |name: baz
      |depends_on: [10_src]
      |primary_key:
      |  name: id
      |  sources:
      |    dsfoo_pk: {table: dsfoo, columns: {id: integer}}
      |columns:
      |  - {name: alpha, tables: [dsfoo], expression: dsfoo.alpha}
      |""".stripMargin)
    val out = Etl.runDirectory(spark, dir.toString, configure = { e =>
      // `dsfoo` exists ONLY under the dep's schema: bare refs must resolve
      // through the inherited default_schema, not the `cerner` fallback
      e.registerSource("custom", "dsfoo", Seq((0, "a"), (1, "b")).toDF("id", "alpha"))
    })
    assert(out("baz").orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
    // without depends_on the same rule set fails to resolve (pins that the
    // pass above really came from inheritance)
    Files.writeString(dir.resolve("20_tab.yaml"),
      Files.readString(dir.resolve("20_tab.yaml")).replace("depends_on: [10_src]", ""))
    intercept[Exception] {
      Etl.runDirectory(spark, dir.toString, configure = { e =>
        e.registerSource("custom", "dsfoo", Seq((0, "a")).toDF("id", "alpha"))
      })
    }
  }

  test("setup scripts that fail to parse are tolerated (warned, not thrown)") {
    val e = new Engine(spark)
    e.registerSource("cerner", "foo", Seq((0, "a")).toDF("id", "alpha"))
    val rule = RuleParser.parse("r", """
      |name: baz
      |scripts: ["THIS IS NOT SQL AT ALL ;;;"]
      |primary_key:
      |  name: id
      |  sources:
      |    foo_pk: {table: foo, columns: {id: integer}}
      |columns:
      |  - {name: alpha, tables: [foo], expression: foo.alpha}
      |""".stripMargin)
    assert(e.run(Seq(rule))("baz").count() == 1)
  }

  test("analysis errors carry rule/column context (SURVEY.md §7.6)") {
    val e = new Engine(spark)
    e.registerSource("cerner", "foo", Seq((0, "a")).toDF("id", "alpha"))
    val bad = graft.rules.RuleParser.parse("bad", """
      |name: baz
      |primary_key:
      |  name: id
      |  sources:
      |    foo_pk: {table: foo, columns: {id: integer}}
      |columns:
      |  - {name: alpha, tables: [foo], expression: foo.no_such_column}
      |""".stripMargin)
    val err = intercept[IllegalArgumentException](e.run(Seq(bad)))
    assert(err.getMessage.contains("rule 'baz', column 'alpha'"))
    assert(err.getMessage.contains("no_such_column"))
  }

  test("a column whose rule values have no common type fails naming rule and column") {
    val e = new Engine(spark)
    e.registerSource("cerner", "foo", Seq((0, "a")).toDF("id", "alpha"))
    val bad = graft.rules.RuleParser.parse("bad", """
      |name: baz
      |primary_key:
      |  name: id
      |  sources:
      |    foo_pk: {table: foo, columns: {id: integer}}
      |columns:
      |  - {name: alpha, tables: [foo], expression: "CAST('2020-01-01' AS DATE)"}
      |  - {name: alpha, tables: [foo], expression: array(foo.id)}
      |""".stripMargin)
    val err = intercept[IllegalArgumentException](e.run(Seq(bad)))
    assert(err.getMessage.contains("rule 'baz', column 'alpha'"))
    assert(err.getMessage.contains("no common type"))
  }

  test("Api.translateTable: JSON rule in, script + structured warnings out (`api.py:43-45`)") {
    // JSON body exactly as the reference's POST /api/translate would take
    val json = """{"name": "person",
      |"primary_key": {"name": "person_id",
      |  "sources": {"p_pk": {"table": "p", "columns": {"id": "bigint"}}}},
      |"columns": [
      |  {"name": "year_of_birth", "tables": ["p"], "expression": "p.y"}]}""".stripMargin
    val res = Api.translateTable(spark, json, configure = { e =>
      e.registerSource("cerner", "p", Seq((1L, 1980)).toDF("id", "y"))
    })
    assert(res.script.contains("-- person: spine_select"))
    assert(res.script.contains("-- person: column_update"))
    val w = res.warnings
    assert(w.nonEmpty)
    assert(w.forall(x => x.loc == Seq("body", "columns") && x.tpe == "value_error"))
    assert(w.exists(_.msg == "Column \"gender_concept_id\" is not defined"))
    assert(!w.exists(_.msg.contains("person_id"))) // pk exempt
    assert(!w.exists(_.msg.contains("year_of_birth"))) // defined
    // request isolation: the shared session must carry NO state from this
    // translation — a later document's dangling reference must fail, not
    // silently resolve against this one's views
    assert(!spark.catalog.tableExists("cerner_p"), "source view leaked")
    assert(!spark.catalog.tableExists("mapping_person"), "mapping view leaked")
  }

  test("required-column warnings (A20, `api.py:19-40`)") {
    val rule = RuleParser.parseTable("person", """
      |name: person
      |primary_key:
      |  name: person_id
      |  sources:
      |    s: {table: p, columns: {id: bigint}}
      |columns:
      |  - {name: year_of_birth, tables: [p], expression: p.y}
      |  - {name: gender_concept_id, enabled: false}
      |""".stripMargin)
    val w = RequiredColumns.warnings(rule)
    // person requires more CDM v6 columns than the rule defines; pk exempt,
    // disabled gender_concept_id does NOT count as defined
    assert(w.nonEmpty)
    assert(w.contains("Column \"gender_concept_id\" is not defined"))
    assert(!w.exists(_.contains("person_id")))
    assert(!w.exists(_.contains("year_of_birth")))
    // a table absent from the CDM metadata yields no warnings
    val other = RuleParser.parseTable("nope", """
      |name: not_a_cdm_table
      |primary_key:
      |  name: id
      |  sources:
      |    s: {table: p, columns: {id: bigint}}
      |columns:
      |  - {name: a, tables: [p], expression: p.a}
      |""".stripMargin)
    assert(RequiredColumns.warnings(other).isEmpty)
  }

  test("Etl.session pins the session time zone to UTC and leaves the shared session as it was") {
    val sc = spark.sparkContext
    val before = spark.conf.getAll
    val hostZone = java.util.TimeZone.getDefault
    // a fresh session on the shared context, whose own conf and the JVM
    // zone both lack UTC: the zone it reports comes from Etl.session alone
    val (fresh, zone) =
      try {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/Los_Angeles"))
        org.apache.spark.ContextConf.without(sc, "spark.sql.session.timeZone") {
          val s = Etl.session()
          (s, s.conf.get("spark.sql.session.timeZone"))
        }
      } finally {
        java.util.TimeZone.setDefault(hostZone)
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    assert(zone == "UTC")
    assert(fresh ne spark)
    assert(fresh.sparkContext eq sc)
    assert(spark.conf.getAll == before)
    assert(SparkSession.active eq spark)
  }

  test("Etl.session uses the driver session's codegen class cache, not Spark's 100 entries") {
    val sc = spark.sparkContext
    val key = "spark.sql.codegen.cache.maxEntries"
    // a fresh session on the shared context, whose own conf lacks the key:
    // the size it reports comes from Etl.session alone
    val entries =
      try {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        org.apache.spark.ContextConf.without(sc, key)(Etl.session().conf.get(key))
      } finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    assert(entries == graft.DriverSession.CodegenCacheEntries)
    assert(entries.toInt > 100)
    assert(SparkSession.active eq spark)
  }

  test("cliMain: a flag with no value or a malformed --source names the flag and prints usage") {
    val noValue = intercept[IllegalArgumentException](Etl.cliMain(Array("run", "--rules"), spark))
    assert(noValue.getMessage.contains("--rules needs a value"))
    assert(noValue.getMessage.contains("usage:"))
    Seq("foo", "person=/p").foreach { bad =>
      val err = intercept[IllegalArgumentException](Etl.cliMain(Array("run", "--source", bad), spark))
      assert(err.getMessage.contains(s"--source expects schema.table=path, got '$bad'"))
      assert(err.getMessage.contains("usage:"))
    }
  }

  test("executeDirectory writes every target it can, then throws the first failure in name order") {
    val dir = Files.createTempDirectory("graft-exec-fail")
    def table(name: String, column: String, expression: String) = s"""
      |name: $name
      |primary_key:
      |  name: id
      |  sources:
      |    foo_pk: {table: foo, columns: {id: integer}}
      |columns:
      |  - {name: $column, tables: [foo], expression: "$expression"}
      |""".stripMargin
    // parquet cannot store a calendar interval column
    Files.writeString(dir.resolve("1.yaml"), table("zgood", "alpha", "foo.alpha"))
    Files.writeString(dir.resolve("2.yaml"), table("mbad", "m_interval", "make_interval(1)"))
    Files.writeString(dir.resolve("3.yaml"), table("abad", "a_interval", "make_interval(1)"))
    val out = Files.createTempDirectory("graft-exec-fail-out")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Etl.executeDirectory(spark, dir.toString, out.toString, configure = { e =>
        e.registerSource("cerner", "foo", Seq((0, "a"), (1, "b")).toDF("id", "alpha"))
      })
    }
    assert(err.getMessage.contains("a_interval"), err.getMessage)
    assert(!err.getMessage.contains("m_interval"), err.getMessage)
    val good = spark.read.parquet(out.resolve("zgood.parquet").toString)
    assert(good.orderBy("id").select("alpha").as[String].collect().toSeq == Seq("a", "b"))
  }
}
