package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.rules.RuleParser

/** End-to-end ports of the reference's 7 DML-feature fixtures with their
  * golden result-sets (`/root/reference/tests/test_integration.py`; schema
  * and seeds in FIXTURES.md §1 / `tests/data/schema.sql`).
  */
class EngineFixtureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  def freshEngine(udfs: Map[String, SparkSession => Unit] = Map.empty): Engine = {
    val e = new Engine(spark, udfs)
    e.registerSource("cerner", "foo",
      Seq((0, "a", 4, 2), (1, "c", 5, 5), (2, "d", 9, 7)).toDF("id", "alpha", "beta", "gamma"))
    e.registerSource("cerner", "bar",
      Seq((0, "x", 8, 3), (1, "a", 4, 4), (2, "c", 6, 5)).toDF("id", "alpha", "beta", "gamma"))
    e.registerSource("cerner", "foo2bar",
      Seq((0, 1), (1, 2)).toDF("foo_id", "bar_id"))
    e.registerSource("cerner", "patient",
      Seq((100, "alpha"), (456, "beta"), (749, "gamma")).toDF("id", "name"))
    e.registerSource("cerner", "staff",
      Seq((101, "one"), (456, "two"), (457, "three")).toDF("id", "name"))
    e.registerSource("cerner", "event",
      Seq((0, Some(456), Some(456)), (2, Some(457), Some(456)), (3, Some(101), Some(100)),
        (4, None, Some(999))).toDF("id", "staff_id", "patient_id"))
    e.registerSource("external", "vocabulary",
      Seq((0, "vocab1"), (1, "vocab2"), (2, "vocab3")).toDF("id", "name"))
    e
  }

  /** select with a deterministic order column `__r`, then project it away */
  def sortedRows(df: DataFrame, order: String, cols: String*): Seq[Seq[Any]] =
    df.selectExpr((s"$order as __r" +: cols): _*).orderBy("__r")
      .collect().toSeq.map(_.toSeq.tail)

  test("copy.yaml: single-source spine + 2-table-constraint column (`test_integration.py:156-175`)") {
    val rule = RuleParser.parse("copy", """
      |name: baz
      |primary_key:
      |  name: id
      |  sources:
      |    foo_pk: {table: foo, columns: {id: integer}}
      |columns:
      |  - {name: alpha, enabled: true, tables: [foo], expression: foo.alpha}
      |  - name: beta
      |    tables: [foo, bar]
      |    constraints: [foo.id = bar.id]
      |    primary_key: foo_pk
      |    expression: bar.beta
      |""".stripMargin)
    val out = freshEngine().run(Seq(rule))("baz")
    assert(sortedRows(out, "id", "id", "alpha", "beta") == Seq(
      Seq(1L, "a", 8), Seq(2L, "c", 4), Seq(3L, "d", 6)))
  }

  test("merge.yaml: two pk sources → disjoint surrogate-id ranges (`test_integration.py:963-971`)") {
    val rule = RuleParser.parse("merge", """
      |name: baz
      |primary_key:
      |  name: id
      |  sources:
      |    foo_pk: {table: foo, columns: {id: integer}}
      |    bar_pk: {table: bar, columns: {id: integer}}
      |columns:
      |  - {name: alpha, tables: [foo], primary_key: foo_pk, expression: foo.alpha}
      |  - {name: beta, tables: [foo], primary_key: foo_pk, expression: foo.beta}
      |  - {name: gamma, tables: [foo], primary_key: foo_pk, expression: foo.gamma}
      |  - {name: alpha, tables: [bar], primary_key: bar_pk, expression: bar.alpha}
      |  - {name: beta, tables: [bar], primary_key: bar_pk, expression: bar.beta}
      |  - {name: gamma, tables: [bar], primary_key: bar_pk, expression: bar.gamma}
      |""".stripMargin)
    val out = freshEngine().run(Seq(rule))("baz")
    assert(sortedRows(out, "id", "id", "alpha", "beta", "gamma") == Seq(
      Seq(1L, "a", 4, 2), Seq(2L, "c", 5, 5), Seq(3L, "d", 9, 7),
      Seq(4L, "x", 8, 3), Seq(5L, "a", 4, 4), Seq(6L, "c", 6, 5)))
  }

  test("join.yaml: composite bridge-key spine + CASE (`test_integration.py:594-598`)") {
    val rule = RuleParser.parse("join", """
      |name: baz
      |primary_key:
      |  name: id
      |  sources:
      |    foobar_pk:
      |      table: foo2bar
      |      columns: {foo_id: integer, bar_id: integer}
      |columns:
      |  - name: alpha
      |    tables: [foo, bar, foo2bar]
      |    constraints: [foo.id = foo2bar.foo_id, bar.id = foo2bar.bar_id]
      |    expression: foo.alpha
      |    primary_key: foobar_pk
      |  - name: beta
      |    tables: [foo, bar, foo2bar]
      |    constraints: [foo.id = foo2bar.foo_id, bar.id = foo2bar.bar_id]
      |    expression: CASE WHEN foo.beta > bar.beta THEN foo.beta ELSE bar.beta END
      |    primary_key: foobar_pk
      |  - name: gamma
      |    tables: [foo, bar, foo2bar]
      |    constraints: [foo.id = foo2bar.foo_id, bar.id = foo2bar.bar_id]
      |    expression: CASE WHEN foo.gamma > bar.gamma THEN foo.gamma ELSE bar.gamma END
      |    primary_key: foobar_pk
      |""".stripMargin)
    val out = freshEngine().run(Seq(rule))("baz")
    assert(sortedRows(out, "id", "alpha", "beta", "gamma") == Seq(
      Seq("a", 4, 4), Seq("c", 6, 5)))
  }

  test("event.yaml: FK remap, both forms, unmatched→NULL (`test_integration.py:729-753`)") {
    val rule = RuleParser.parse("event", """
      |name: events
      |primary_key:
      |  name: id
      |  sources:
      |    event_pk: {table: event, columns: {id: integer}}
      |columns:
      |  - name: staff_id
      |    tables: [event]
      |    primary_key: event_pk
      |    references: {table: person, column: staff_id}
      |    expression: event.staff_id
      |  - name: patient_id
      |    tables: [event]
      |    primary_key: event_pk
      |    references:
      |      person: {table: patient, column: id}
      |    expression: event.patient_id
      |""".stripMargin)
    val e = freshEngine()
    // pre-seeded referenced mapping, as in `test_integration.py:727-741`
    e.seedMapping("person", Seq(
      (0L, Some(101), None), (1L, Some(456), None), (2L, Some(457), None),
      (3L, None, Some(100)), (4L, None, Some(456)), (5L, None, Some(749)),
      (6L, None, Some(999))).toDF("id", "staff_id", "patient_id"))
    val out = e.run(Seq(rule))("events")
    assert(sortedRows(out, "id", "id", "staff_id", "patient_id") == Seq(
      Seq(1L, 1L, 4L), Seq(2L, 2L, 4L), Seq(3L, 0L, 3L), Seq(4L, null, 6L)))
  }

  test("constant.yaml: constants, string vs numeric (`test_integration.py:844-854`)") {
    val rule = RuleParser.parse("constant", """
      |name: baz
      |primary_key:
      |  name: id
      |  sources:
      |    foo: {table: foo, columns: {id: integer}}
      |columns:
      |  - column:
      |    name: alpha
      |    data_type: integer
      |    constant: alpha
      |  - column:
      |    name: beta
      |    data_type: integer
      |    constant: 1
      |  - column:
      |    name: gamma
      |    data_type: integer
      |    constant: 2
      |""".stripMargin)
    val out = freshEngine().run(Seq(rule))("baz")
    assert(sortedRows(out, "id", "alpha", "beta", "gamma") == Seq(
      Seq("alpha", 1, 2), Seq("alpha", 1, 2), Seq("alpha", 1, 2)))
  }

  test("mixed-type rules on one column fold to the wider type, later rule wins") {
    // LOCATION.zip's shape: a bigint rule, then a double rule on a subset
    val rule = RuleParser.parse("mixed", """
      |name: baz
      |primary_key:
      |  name: id
      |  sources:
      |    foo_pk: {table: foo, columns: {id: integer}}
      |columns:
      |  - {name: zip, tables: [foo], expression: CAST(foo.beta AS BIGINT)}
      |  - name: zip
      |    tables: [foo]
      |    constraints: [foo.id > 0]
      |    expression: CAST(foo.gamma AS DOUBLE) + 0.5
      |""".stripMargin)
    val out = freshEngine().run(Seq(rule))("baz")
    assert(out.schema("zip").dataType == org.apache.spark.sql.types.DoubleType)
    assert(sortedRows(out, "id", "id", "zip") == Seq(
      Seq(1L, 4.0), Seq(2L, 5.5), Seq(3L, 7.5)))
  }

  test("a subquery feeding the spine and two rules is evaluated once; the ledger keeps it inline") {
    val rule = RuleParser.parse("shared_query", """
      |name: baz
      |variables:
      |  - &q
      |    alias: q
      |    query: select distinct id, alpha, beta from cerner.foo where beta > 4
      |primary_key:
      |  name: id
      |  sources:
      |    q_pk: {table: *q, columns: {id: integer}}
      |columns:
      |  - {name: alpha, tables: [*q], expression: q.alpha, primary_key: q_pk}
      |  - {name: beta, tables: [*q], expression: q.beta * 10, primary_key: q_pk}
      |""".stripMargin)
    // the subquery's base table as a file scan, so the plan shows every read of it
    val base = java.nio.file.Files.createTempDirectory("shared-query").resolve("foo_base.parquet")
    Seq((0, "a", 4, 2), (1, "c", 5, 5), (2, "d", 9, 7)).toDF("id", "alpha", "beta", "gamma")
      .write.parquet(base.toString)
    val e = freshEngine()
    e.registerSource("cerner", "foo", spark.read.parquet(base.toString))
    val out = e.run(Seq(rule))("baz")
    assert(sortedRows(out, "id", "id", "alpha", "beta") == Seq(
      Seq(1L, "c", 50), Seq(2L, "d", 90)))
    assert(Engine.render(e.statementLog.toSeq) == SharedQueryLedger)
    assert(!out.queryExecution.executedPlan.toString.contains("foo_base"),
      out.queryExecution.executedPlan.toString)
    assert(spark.catalog.tableExists("__subquery_baz_0"))
    e.cleanup()
    assert(!spark.catalog.tableExists("__subquery_baz_0"))
  }

  test("external.yaml: cross-schema lookup join (`test_integration.py:414-425`)") {
    val rule = RuleParser.parse("external", """
      |name: baz
      |primary_key:
      |  name: id
      |  sources:
      |    foo_pk: {table: foo, columns: {id: integer}}
      |columns:
      |  - name: alpha
      |    tables: [foo, external.vocabulary]
      |    constraints: [foo.id = external.vocabulary.id]
      |    expression: external.vocabulary.name
      |  - {name: beta, tables: [foo], expression: foo.beta}
      |""".stripMargin)
    val out = freshEngine().run(Seq(rule))("baz")
    assert(sortedRows(out, "id", "alpha", "beta") == Seq(
      Seq("vocab1", 4), Seq("vocab2", 5), Seq("vocab3", 9)))
  }

  test("custom_query.yaml + dep.yaml: scripts/UDF, temp tables, QueryTable spine, VALUES, :: casts (`test_integration.py:321-332`)") {
    val dep = RuleParser.parse("dep", """
      |scripts:
      |  - TRUE;
      |pre_init:
      |  - alias: temp_table_4
      |    query: select * from (VALUES (0::int, 1::numeric), (1::int, 2::numeric)) as t (id, beta)
      |""".stripMargin)
    val rule = RuleParser.parse("custom_query", """
      |scripts:
      |  - |
      |    CREATE OR REPLACE FUNCTION total_rows ()
      |    RETURNS integer AS $total$
      |    BEGIN
      |      SELECT count(*) FROM foo;
      |    END;
      |    $total$ LANGUAGE plpgsql;
      |depends_on: [dep]
      |pre_init:
      |  - alias: temp_table_1
      |    query: select * from (VALUES (0::int, 1::numeric), (1::int, 2::numeric), (2::int, 3::numeric), (3::int, 4::numeric), (4::int, 5::numeric)) as t (id, beta)
      |post_init:
      |  - alias: temp_table_2
      |    query: select mapping.baz.id, temp_table_1.beta from mapping.baz, temp_table_1 where mapping.baz.id = temp_table_1.id
      |variables:
      |  foo_table: &foo_table
      |    alias: foo
      |    query: select x.id, alpha, beta, total_rows() as total from (values (0, 'a1'), (2, 'b1'), (4, 'c1')) x(id, alpha), temp_table_1 where x.id = temp_table_1.id
      |name: baz
      |primary_key:
      |  name: id
      |  constraints:
      |    - id in (select id from temp_table_1)
      |  sources:
      |    foo:
      |      name: foo
      |      table: *foo_table
      |      columns: {id: integer}
      |columns:
      |  - {name: alpha, tables: [*foo_table], expression: foo.alpha, primary_key: foo}
      |  - {name: beta, tables: [*foo_table], expression: foo.beta, primary_key: foo}
      |  - {name: disabled, enabled: false}
      |""".stripMargin)
    val e = freshEngine(udfs = Map(
      "total_rows" -> { s =>
        val n = s.table("cerner_foo").count()
        s.udf.register("total_rows", () => n)
      }))
    val out = e.run(Seq(dep, rule))("baz")
    assert(sortedRows(out, "id", "alpha", "CAST(beta AS INT)") == Seq(
      Seq("a1", 1), Seq("b1", 3), Seq("c1", 5)))
    // post_init temp table saw the freshly built mapping
    assert(spark.table("temp_table_2").count() == 3)
  }

  test("a spine that reads an earlier table's mapping gets that table's ids, run after run") {
    val baz = RuleParser.parse("wave_baz", """
      |name: wave_baz
      |primary_key:
      |  name: id
      |  sources:
      |    foo_pk: {table: foo, columns: {id: integer}}
      |columns:
      |  - {name: alpha, tables: [foo], expression: foo.alpha}
      |""".stripMargin)
    val qux = RuleParser.parse("wave_qux", """
      |name: wave_qux
      |variables:
      |  - &m
      |    alias: m
      |    query: select id as baz_id from mapping.wave_baz
      |primary_key:
      |  name: id
      |  sources:
      |    m_pk: {table: *m, columns: {baz_id: bigint}}
      |columns:
      |  - {name: baz_id, tables: [*m], expression: m.baz_id, primary_key: m_pk}
      |""".stripMargin)
    // each run has one more source row, so a spine built from the previous
    // run's mapping view would miss the newest id
    (1 to 5).foreach { run =>
      val e = freshEngine()
      e.registerSource("cerner", "foo", (0 until run + 1).map(i => (i, s"a$i")).toDF("id", "alpha"))
      val out = e.run(Seq(baz, qux))
      val ids = e.mappings("wave_baz").select("id").as[Long].collect().sorted.toSeq
      assert(ids == (1L to run + 1L))
      assert(out("wave_qux").select("baz_id").as[Long].collect().sorted.toSeq == ids, s"run $run")
    }
  }

  test("tables around one with a post-init temp table give the table-at-a-time targets and ledger") {
    val rules = Seq(
      """
      |name: wave_a
      |primary_key:
      |  name: id
      |  sources:
      |    foo_pk: {table: foo, columns: {id: integer}}
      |columns:
      |  - {name: alpha, tables: [foo], expression: foo.alpha}
      |""",
      """
      |name: wave_b
      |post_init:
      |  - alias: wave_b_ids
      |    query: select mapping.wave_b.id as b_id, mapping.wave_b.bar_id as bar_id from mapping.wave_b
      |primary_key:
      |  name: id
      |  sources:
      |    bar_pk: {table: bar, columns: {id: integer}}
      |columns:
      |  - {name: beta, tables: [bar], expression: bar.beta}
      |""",
      """
      |name: wave_c
      |primary_key:
      |  name: id
      |  sources:
      |    b_pk: {table: wave_b_ids, columns: {b_id: bigint}}
      |columns:
      |  - {name: bar_id, tables: [wave_b_ids], expression: wave_b_ids.bar_id}
      |""",
      """
      |name: wave_d
      |primary_key:
      |  name: id
      |  sources:
      |    bar_pk: {table: bar, columns: {alpha: text}}
      |columns:
      |  - {name: gamma, tables: [bar], expression: bar.gamma}
      |""").zipWithIndex.map { case (y, i) => RuleParser.parse(s"wave_$i", y.stripMargin) }
    def snapshot(e: Engine, targets: collection.Map[String, DataFrame]) =
      (targets.toMap.map { case (n, df) => n -> sortedRows(df, "id", df.columns.toSeq: _*) },
        Engine.render(e.statementLog.toSeq))
    val waved = freshEngine()
    val (targets, ledger) = snapshot(waved, waved.run(rules))
    val one = freshEngine()
    rules.collect { case t: graft.rules.TableRule => t }.foreach(one.initialize)
    rules.collect { case t: graft.rules.TableRule => t }.foreach(one.process)
    assert(snapshot(one, one.targets) == (targets, ledger))
    assert(targets("wave_c").size == 3)
  }

  test("two tables of one name initialize one after the other: the later one's spine wins") {
    def table(source: String, key: String) = RuleParser.parse(s"dup_$source", s"""
      |name: wave_dup
      |primary_key:
      |  name: id
      |  sources:
      |    pk: {table: $source, columns: {$key: integer}}
      |columns:
      |  - {name: unused, enabled: false}
      |""".stripMargin)
    (1 to 5).foreach { run =>
      val e = freshEngine()
      // foo has 3 rows, foo2bar 2
      assert(e.run(Seq(table("foo", "id"), table("foo2bar", "foo_id")))("wave_dup").count() == 2, s"run $run")
      assert(e.mappings("wave_dup").columns.toSeq == Seq("id", "foo2bar_foo_id"), s"run $run")
    }
  }

  /** The ledger of the shared-subquery fixture as the engine rendered it
    * when every statement still evaluated the subquery inline.
    */
  private val SharedQueryLedger =
    """|-- baz: spine_select
    |SELECT CAST(q.id AS INT) AS q_id FROM (select distinct id, alpha, beta from cerner_foo AS foo where beta > 4) AS q;
    |
    |-- baz: skeleton
    |INSERT INTO omop.baz (id) SELECT id FROM mapping.baz;
    |
    |-- baz: column_update
    |SELECT baz.id AS __id, (q.alpha) AS __val
    |FROM mapping_baz AS baz, (select distinct id, alpha, beta from cerner_foo AS foo where beta > 4) AS q
    |WHERE (q.id = baz.q_id);
    |
    |-- baz: column_update
    |SELECT baz.id AS __id, (q.beta * 10) AS __val
    |FROM mapping_baz AS baz, (select distinct id, alpha, beta from cerner_foo AS foo where beta > 4) AS q
    |WHERE (q.id = baz.q_id);
    |""".stripMargin
}
