package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.JobCounter

import graft.TestSpark
import graft.rules.RuleParser
import graft.sources.Tables

/** Tier-5 realistic-corpus validation (`/root/reference/tests/test_rules.py`):
  * the four Cerner→OMOP rules (reference `validation` dir) run against the
  * hand-authored workbook corpus (converted to parquet by
  * tools/convert_corpus.py), asserting the same 13 (table, column) pairs as
  * `test_rules.py:131-171`.
  */
class CorpusSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark

  val corpus = "src/test/resources/corpus"

  /** The four rules ship as main resources (src/main/resources/validation)
    * so the `run` CLI and the repo benchmark (`omopbench/`) drive the
    * identical documents; texts ported from
    * /root/reference/validation/<name>.yaml (see git history for the inline
    * originals).
    */
  private def rule(name: String): graft.rules.Rule = {
    val in = getClass.getResourceAsStream(s"/validation/$name.yaml")
    val text = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    RuleParser.parse(name, text)
  }
  val personRule = rule("person")
  val locationRule = rule("location")
  val visitRule = rule("visit_occurrence")
  val conditionRule = rule("condition_occurrence")

  val rules = Seq(personRule, locationRule, visitRule, conditionRule)

  /** An engine with every corpus source registered. */
  def corpusEngine(): Engine = {
    val e = new Engine(spark)
    register(corpusSources())(e)
    e
  }

  /** Every corpus source as (schema, table, frame). */
  def corpusSources(): Seq[(String, String, DataFrame)] = {
    // The workbook populates a subset of each DDL table's columns; in the
    // reference the remainder exist as NULL (tables pre-created from
    // `schema/cerner.sql`). Supplement the rule-referenced ones.
    def withNullCol(df: DataFrame, name: String): DataFrame =
      if (df.columns.contains(name)) df else df.withColumn(name, lit(null).cast("double"))
    Seq("person", "encounter", "encntr_loc_hist", "diagnosis", "problem",
      "address", "nomenclature", "code_value").map { t =>
      val df = spark.read.parquet(s"$corpus/cerner_$t.parquet")
      val full = if (t == "encounter" || t == "encntr_loc_hist") withNullCol(df, "active_ind") else df
      ("cerner", t, full)
    } ++ Seq("concept", "concept_relationship").map { t =>
      ("omop", t, spark.read.parquet(s"$corpus/omop_$t.parquet"))
    } ++ Seq(
      // omop.vocabulary exists in the DDL but ships empty — the rule that cross
      // joins it matches nothing, exactly as in Postgres (`schema/omop.sql`)
      ("omop", "vocabulary", spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("vocabulary_id", StringType)))))
    ) ++ Seq("facility_postcode", "person_ethnicity_concept").map { t =>
      ("external", t, spark.read.parquet(s"$corpus/external_$t.parquet"))
    }
  }

  /** Registers `sources` on the engine it is given (an `Etl` `configure`). */
  def register(sources: Seq[(String, String, DataFrame)])(e: Engine): Unit =
    sources.foreach { case (schema, t, df) => e.registerSource(schema, t, df) }

  lazy val targets: Map[String, DataFrame] = corpusEngine().run(rules)

  /** Mirror of `test_rules.py:131-171`: order both sides by the target's pk,
    * compare one column with float coercion for numerics.
    */
  def check(table: String, column: String): Unit = {
    val expected = spark.read.parquet(s"$corpus/expected_$table.parquet")
    val pk = expected.columns.head
    // coercion driven by the EXPECTED column type, mirroring
    // `is_numeric_dtype(expected_df[column])` in test_rules.py
    val target = expected.schema(column).dataType match {
      case TimestampType | org.apache.spark.sql.types.TimestampNTZType => "string"
      case StringType => "string"
      case _ => "double"
    }
    def colVals(df: DataFrame): Seq[Any] =
      df.orderBy(col(pk)).select(col(column).cast(target))
        .collect().map(_.get(0)).toSeq
    assert(colVals(targets(table.toUpperCase)) == colVals(expected),
      s"$table.$column mismatch")
  }

  for ((t, c) <- Seq(
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
    "visit_occurrence" -> "visit_occurrence_id"))
    test(s"corpus: $t.$c matches the workbook golden (`test_rules.py`)") {
      check(t, c)
    }

  /** Spark jobs of one `Engine.run` of the four rules plus the parquet
    * write of every target, on this suite's session. Raise it only with
    * the reason in CHANGES.md: each job is a driver round-trip.
    */
  val JobBudget = 52

  test("one Engine.run of the corpus plus its writes stays within its Spark job budget") {
    val e = corpusEngine()
    val out = java.nio.file.Files.createTempDirectory("corpus-jobs")
    val (_, jobs) = JobCounter.count(spark.sparkContext) {
      e.run(rules).foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$out/$n.parquet") }
    }
    assert(jobs <= JobBudget, s"$jobs Spark jobs, budget $JobBudget")
  }

  test("Tables.parquet: every corpus file (and a part-file directory) reads with Spark's schema, no job") {
    val files = new java.io.File(corpus).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted
    assert(files.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("parts").resolve("person.parquet").toString
    spark.read.parquet(s"$corpus/cerner_person.parquet").repartition(3).write.parquet(dir)
    (files :+ dir).foreach { p =>
      val (df, jobs) = JobCounter.count(spark.sparkContext)(Tables.parquet(spark, p))
      assert(jobs == 0, s"$p: $jobs jobs")
      assert(df.schema == spark.read.parquet(p).schema, p)
    }
  }

  /** Spark jobs of one `Etl.executeDirectory` of the validation rules on
    * the corpus: the same work as the test above, with the tables'
    * spines built in one wave and the four writes at the same time, so
    * the same budget holds. The sources are read outside the count, as
    * above.
    */
  test("one Etl.executeDirectory of the corpus stays within the same Spark job budget") {
    val out = java.nio.file.Files.createTempDirectory("corpus-exec-jobs")
    val sources = corpusSources()
    val (targets, jobs) = JobCounter.count(spark.sparkContext) {
      Etl.executeDirectory(spark, "src/main/resources/validation", out.toString, configure = register(sources))
    }
    assert(targets.keySet == rules.map(_.name).toSet)
    targets.keys.foreach(n => assert(java.nio.file.Files.exists(out.resolve(s"$n.parquet")), n))
    assert(jobs <= JobBudget, s"$jobs Spark jobs, budget $JobBudget")
  }

  /** `validation_etl.sql` is the script `compileDirectory` wrote when the
    * engine initialized one table at a time; waves must not change it.
    */
  test("compileDirectory of the validation rules renders the table-at-a-time ledger") {
    val out = java.nio.file.Files.createTempDirectory("corpus-ledger")
    Etl.compileDirectory(spark, "src/main/resources/validation", out.toString,
      configure = register(corpusSources()))
    val in = getClass.getResourceAsStream("/validation_etl.sql")
    val expected = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    assert(java.nio.file.Files.readString(out.resolve("etl.sql")) == expected)
  }

  test("three Engine.runs of the corpus give identical ids and targets") {
    def rows(df: DataFrame): Seq[Seq[Any]] =
      df.orderBy(df.columns.map(col).toSeq: _*).collect().toSeq.map(_.toSeq)
    def once(): Map[String, Seq[Seq[Any]]] = {
      val e = corpusEngine()
      val out = e.run(rules)
      e.mappings.toMap.map { case (n, df) => s"mapping_$n" -> rows(df) } ++
        out.map { case (n, df) => n -> rows(df) }
    }
    val first = once()
    assert(first.size == 2 * rules.size)
    Seq.fill(2)(once()).foreach(again => assert(again == first))
  }
}
