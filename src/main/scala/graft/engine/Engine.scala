package graft.engine

import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException, Executors}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Checkpoints.DatasetCheckpointOps
import graft.dialect.Dialect
import graft.rules._

/** The ETL execution engine: runs parsed rules as DataFrame pipelines.
  *
  * The reference compiles rules to a PostgreSQL script
  * (`omop_etl/generation.py`); this engine expresses the same semantics
  * directly as Catalyst logical plans. Each ETL phase is one plan shape:
  *
  *  - mapping-table build (A14) → per-source natural-key SELECT →
  *    `unionByName(allowMissingColumns)` in declaration order → dense
  *    surrogate ids ([[DenseId]]: one sort, one `zipWithIndex`).
  *  - `UPDATE … FROM` per column (A15) → rule SELECT (spine ⋈ sources,
  *    conjunctive WHERE — Catalyst turns filtered cross joins into real
  *    joins); all of a table's rule SELECTs fold in ONE aggregate and join
  *    the target ONCE ([[Overlay]]): matched rows take the last rule's
  *    value (even when NULL, matching UPDATE semantics), unmatched rows
  *    keep the old.
  *  - FK remap (A16) → join the referenced spine on its natural-key column,
  *    non-null-gated; emit its surrogate id.
  *  - constants (A17) → the column's value before its keyed rules apply.
  *  - scripts/temp tables (A8/A12/A19) → `spark.sql` + temp views; plpgsql
  *    function scripts resolve against a caller-supplied UDF registry
  *    (SURVEY.md §7.6).
  *
  * Two-phase schedule (`__main__.py:81-88`): all dependencies, then every
  * table's initialization (spines materialized once — each spine is
  * reused by all of its table's column rules and by other tables'
  * `references`), then every table's column updates. The reference runs
  * its script one statement at a time; here initialization runs in waves
  * ([[waves]]): consecutive tables that cannot see each other's state
  * build their spines at the same time, and a wave starts only when the
  * one before it has finished. The statement ledger is the same as a
  * table-at-a-time run's: a wave appends its tables' statements in table
  * order.
  */
class Engine(
    spark: SparkSession,
    val udfs: Map[String, SparkSession => Unit] = Map.empty,
    val dropTables: Boolean = false) {

  // graft's native SQL functions (vec_dot, misra_gries) are always in scope
  // for rule expressions — the engine-level analogue of installing an
  // extension in the reference's Postgres target database
  graft.functions.GraftFunctions.install(spark)

  /** target table name → mapping spine (id + one column per source natural
    * key, named `<table>_<col>`)
    */
  val mappings: mutable.Map[String, DataFrame] = TrieMap.empty

  /** target table name → current overlay state */
  val targets: mutable.Map[String, DataFrame] = TrieMap.empty

  private val tempViews: mutable.Set[String] = mutable.Set.empty

  /** Generated-statement ledger, one entry per emitted SQL statement —
    * the rebuild's analogue of the reference's statement IR
    * (`generation.py`), pinned by the §2.C statement-count fingerprint
    * tests (`tests/test_translation.py:378-399`) and dumped by
    * [[Etl.compileDirectory]]. Kinds: `script`, `temp_table` (one per
    * CREATE TEMP TABLE), `spine_select` (one per pk source), `skeleton`
    * (one per table — the reference's
    * `INSERT INTO omop.t (pk) SELECT id FROM mapping.t`,
    * `schema.py:320-328`), `column_update` (one per enabled column rule),
    * `drop_table` (one per table when `dropTables` is set — the
    * `--drop-tables` ledger entry emitted by [[initialize]]). Appended on
    * the calling thread only.
    */
  val statementLog: mutable.Buffer[Engine.Statement] = mutable.Buffer.empty

  /** Every temp view THIS engine registered in the session — so a shared
    * session can be restored to its prior state ([[cleanup]]): the API
    * server translates many unrelated documents against one SparkSession,
    * and a leaked `mapping_*`/pre-init view would let a later rule that
    * references an undefined view silently resolve against another
    * document's state instead of failing like the stateless reference API.
    */
  private val createdViews: mutable.Set[String] = ConcurrentHashMap.newKeySet[String]().asScala

  private def registerView(name: String, df: DataFrame): Unit = {
    df.createOrReplaceTempView(name)
    createdViews += name
  }

  /** Drop every temp view this engine registered (request-scoped hosts call
    * this in a finally; a CLI run that exits with the JVM can skip it). */
  def cleanup(): Unit = {
    createdViews.foreach(spark.catalog.dropTempView(_))
    createdViews.clear()
    subqueryViews.clear()
  }

  /** Register a source table under its schema-qualified view name. */
  def registerSource(schema: String, name: String, df: DataFrame): Unit =
    registerView(s"${schema}_$name", df)

  /** Pre-seed a mapping spine (the event fixture does this:
    * `tests/test_integration.py:700-727` seeds mapping.person externally).
    */
  def seedMapping(table: String, df: DataFrame): Unit = {
    mappings(table) = df
    registerView(s"mapping_$table", df)
  }

  private def schemas(dep: DependencyParts): Set[String] =
    Dialect.KnownSchemas ++ dep.defaultSchema

  private def sql(text: String): DataFrame = spark.sql(text)

  private def translate(fragment: String, dep: DependencyParts): String =
    Dialect.translate(fragment, schemas(dep))

  /** Resolve a source reference to a FROM-clause item exposing the bare
    * alias, mirroring Postgres name resolution (explicit schema → temp
    * table → default schema; `schema.py:92-102`).
    *
    * `run = false` gives the item as the statement ledger shows it: a
    * subquery inline. `run = true` gives the item the engine executes: a
    * subquery `rule` names in two or more places reads the view it was
    * materialized into on first use ([[subqueryView]]), so the spine and
    * every rule share one evaluation instead of re-planning it from the
    * raw scans.
    */
  private def fromItem(ref: SourceRef, rule: TableRule, run: Boolean): String = ref match {
    case QueryRef(alias, query) =>
      val text = translate(query, rule.dep)
      if (run && repeatedQueries(rule).contains(text)) s"${subqueryView(rule.name, text)} AS $alias"
      else s"($text) AS $alias"
    case TableRef(alias, schemaOpt) =>
      val schema = schemaOpt.orElse(
        if (tempViews.contains(alias)) None else rule.dep.defaultSchema.orElse(Some("cerner")))
      schema match {
        case Some(s) => s"${s}_$alias AS $alias"
        case None => alias // session temp view
      }
  }

  /** The translated subqueries `rule` names in two or more places: its pk
    * sources plus the column rules [[process]] compiles.
    */
  private def repeatedQueries(rule: TableRule): Set[String] =
    (rule.primaryKey.sources.map(_._2.table) ++
      compiledColumns(rule).flatMap { case (_, _, rules) => rules.flatMap(_.tables) })
      .collect { case QueryRef(_, q) => translate(q, rule.dep) }
      .groupBy(identity).collect { case (text, uses) if uses.size > 1 => text }.toSet

  /** (rule, translated subquery) → the view holding its one evaluation;
    * [[initialize]] forgets a rule's entries, so a re-run reads its sources
    * afresh.
    */
  private val subqueryViews: mutable.Map[(String, String), String] = TrieMap.empty

  /** The view of a repeated subquery, materialized on first use — an eager
    * checkpoint, like a temp table (CREATE TEMP TABLE semantics: computed
    * once). Named per rule like its mapping view, so a re-run replaces it
    * rather than piling up views; dropped by [[cleanup]].
    */
  private def subqueryView(rule: String, text: String): String =
    subqueryViews.getOrElseUpdate((rule, text), {
      val view = s"__subquery_${rule}_${subqueryViews.keys.count(_._1 == rule)}"
      registerView(view, sql(text).graftCheckpoint())
      view
    })

  private def refAlias(ref: SourceRef): String = ref match {
    case QueryRef(alias, _) => alias
    case TableRef(alias, _) => alias
  }

  /** Run scripts + pre-init temp tables (`schema.py:349-359`). Scripts that
    * define functions dispatch to the UDF registry; other scripts run as
    * `spark.sql` and parse failures are tolerated (the reference hands
    * scripts verbatim to Postgres; `TRUE;` in `tests/rules/dep.yaml:2`).
    */
  private def runScripts(rule: Rule, log: mutable.Buffer[Engine.Statement]): Unit =
    rule.dep.scripts.foreach { script =>
      // the optional schema qualifier must not win the capture:
      // `CREATE FUNCTION public.fn_age` registers as 'fn_age', not 'public'
      val fn = "(?is)create\\s+(or\\s+replace\\s+)?function\\s+(?:\\w+\\.)?(\\w+)".r
        .findFirstMatchIn(script).map(_.group(2))
      log += Engine.Statement(rule.name, "script", script)
      fn match {
        case Some(name) =>
          udfs.get(name) match {
            case Some(install) => install(spark)
            case None => throw new IllegalArgumentException(
              s"rule '${rule.name}': script defines function '$name' with no " +
                "registered Scala implementation (plpgsql is not translatable; SURVEY.md §7.6)")
          }
        case None =>
          try sql(translate(script, rule.dep)).collect()
          catch {
            case e @ (_: org.apache.spark.sql.AnalysisException |
                      _: org.apache.spark.sql.catalyst.parser.ParseException) =>
              // tolerated (the reference hands scripts verbatim to Postgres —
              // `TRUE;` in `tests/rules/dep.yaml:2` must no-op) but NOT
              // silent: a typo'd real setup script would error in Postgres,
              // so a rules author needs the rule name and the reason.
              System.err.println(
                s"[graft] rule '${rule.name}': setup script ignored " +
                  s"(${e.getMessage.linesIterator.nextOption().getOrElse("")})")
          }
      }
    }

  private def runTempTables(
      rule: String, qs: Seq[QueryRef], dep: DependencyParts, log: mutable.Buffer[Engine.Statement]): Unit =
    qs.foreach { q =>
      // materialized like Postgres CREATE TEMP TABLE … AS
      // (`generation.py:106-112`) — an eager localCheckpoint, not persist:
      // computed exactly once at creation (CREATE TEMP TABLE semantics),
      // blocks auto-released when the engine is dropped, no session-lifetime
      // CacheManager entry
      log += Engine.Statement(rule, "temp_table", translate(q.query, dep))
      val df = sql(translate(q.query, dep)).graftCheckpoint()
      registerView(q.alias, df)
      tempViews += q.alias
    }

  /** Phase-1 for one table: pre-init, spine build + omop skeleton, post-init
    * (`schema.py:449-461`).
    */
  def initialize(rule: TableRule): Unit = initialize(rule, statementLog)

  private def initialize(rule: TableRule, log: mutable.Buffer[Engine.Statement]): Unit = {
    subqueryViews.filterInPlace { case ((r, _), _) => r != rule.name }
    runScripts(rule, log)
    runTempTables(rule.name, rule.dep.preInit, rule.dep, log)

    // `--drop-tables` (`__main__.py:41,70`; `schema.py:269-271`): the
    // reference prepends DROP TABLE IF EXISTS to each mapping build. This
    // engine always overwrites its in-session state (drop semantics are
    // implicit — A6 idempotency), so the flag affects the LEDGER only.
    if (dropTables)
      log += Engine.Statement(rule.name, "drop_table",
        s"DROP TABLE IF EXISTS mapping.${rule.name}")

    log ++= spineSelects(rule, run = false).map(Engine.Statement(rule.name, "spine_select", _))
    val perSource = spineSelects(rule, run = true).zipWithIndex.map { case (text, ordinal) =>
      sql(text).withColumn("__ord", lit(ordinal))
    }

    val unioned = perSource.reduce(_.unionByName(_, allowMissingColumns = true))
    val keyCols = unioned.columns.filter(_ != "__ord").toSeq
    val spine = DenseId
      .withDenseId(unioned, "id", col("__ord") +: keyCols.map(col))
      .drop("__ord")
      .select("id", keyCols: _*)

    mappings(rule.name) = spine
    registerView(s"mapping_${rule.name}", spine)

    // `insert into omop.t (pk) select mapping.t.id from mapping.t`
    // (`schema.py:320-328`): the target starts as the bare key skeleton.
    log += Engine.Statement(rule.name, "skeleton",
      s"INSERT INTO omop.${rule.name} (${rule.primaryKey.name}) " +
        s"SELECT id FROM mapping.${rule.name}")
    targets(rule.name) = spine.select(col("id").as(rule.primaryKey.name))

    runTempTables(rule.name, rule.dep.postInit, rule.dep, log)
  }

  /** One SELECT per pk source, in declaration order: the source's
    * natural-key columns cast to their declared types, under its
    * constraints (`run` as in [[fromItem]]).
    */
  private def spineSelects(rule: TableRule, run: Boolean): Seq[String] =
    rule.primaryKey.sources.map { case (_, src) =>
      val tableRef = refAlias(src.table)
      val selectCols = src.columns.map { case (c, dtype) =>
        s"CAST($tableRef.$c AS ${Dialect.sparkType(dtype)}) AS ${tableRef}_$c"
      }.mkString(", ")
      val where =
        if (src.constraints.isEmpty) ""
        else " WHERE " + src.constraints.map(c => s"(${translate(c, rule.dep)})").mkString(" AND ")
      s"SELECT $selectCols FROM ${fromItem(src.table, rule, run)}$where"
    }

  /** `tables` cut into waves: runs of consecutive tables, in order, that
    * initialize at the same time. A table starts a new wave, and runs in
    * it alone, when it has setup parts (scripts, pre- or post-init temp
    * tables, which may create what later tables read) or when its spine
    * reads a `mapping_` view (another table's spine); a table whose name
    * is already in the current wave starts the next one. When every wave
    * holds one table this is the table-at-a-time order.
    */
  private def waves(tables: Seq[TableRule]): Seq[Seq[TableRule]] = {
    def alone(t: TableRule) =
      t.dep.scripts.nonEmpty || t.dep.preInit.nonEmpty || t.dep.postInit.nonEmpty ||
        spineSelects(t, run = false).exists(Engine.MappingView.findFirstIn(_).isDefined)
    tables.foldLeft(Vector.empty[Vector[TableRule]]) {
      case (done :+ wave, t) if !alone(t) && !alone(wave.head) && !wave.exists(_.name == t.name) =>
        done :+ (wave :+ t)
      case (done, t) => done :+ Vector(t)
    }
  }

  /** Phase-2 for one table: apply its column rules in declaration order
    * (order is semantic — last write wins; SURVEY.md §7.5).
    *
    * A constant rule (A17) overwrites every row, so it hides every earlier
    * rule for its column and becomes the value unmatched rows take; only
    * the keyed rules after it are compiled. [[Overlay]] then applies every
    * column in one aggregate, with no join, however many rules the table
    * has.
    */
  def process(rule: TableRule): Unit = {
    val columns = compiledColumns(rule).map { case (name, default, rules) =>
      Overlay.Column(name, default, rules.map(columnRuleSelect(rule, _)))
    }
    targets(rule.name) =
      try Overlay(targets(rule.name), rule.primaryKey.name, columns)
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"rule '${rule.name}', ${e.getMessage}", e)
      }
  }

  /** Per target column, in first-declaration order: its name, the last
    * constant rule's value (if any) and the keyed rules declared after it.
    */
  private def compiledColumns(rule: TableRule): Seq[(String, Option[Any], Seq[TargetColumn])] = {
    val enabled = rule.columns.filterNot(_.isInstanceOf[DisabledColumn])
    enabled.map(_.name).distinct.map { name =>
      val rs = enabled.filter(_.name == name)
      val lastConst = rs.lastIndexWhere(_.isInstanceOf[ConstantColumn])
      (name, rs.lift(lastConst).collect { case c: ConstantColumn => c.constant },
        rs.drop(lastConst + 1).collect { case tc: TargetColumn => tc })
    }
  }

  /** Build `SELECT <spine id> AS __id, <expr> AS __val FROM mapping ⋈ rule
    * tables WHERE pk-link ∧ constraints [∧ fk-gate]` for one column rule —
    * the translation of `UpdateStatement` (`generation.py:159-189`,
    * `schema.py:207-245`).
    */
  private def columnRuleSelect(rule: TableRule, tc: TargetColumn): DataFrame = {
    val dep = rule.dep
    val mapView = s"mapping_${rule.name} AS ${rule.name}"
    val (_, pkSource) = rule.primaryKey.sources.find(_._1 == tc.primaryKey)
      .getOrElse(throw new IllegalStateException(
        s"rule '${rule.name}': column '${tc.name}' references unknown pk source '${tc.primaryKey}'"))

    val srcAlias = refAlias(pkSource.table)
    // pk-link: `<src>.<c> = mapping.<t>.<src>_<c>` per natural-key column
    // (`schema.py:277-310`); the `omop.t.pk = mapping.t.id` predicate becomes
    // the overlay join.
    val pkLink = pkSource.columns.map { case (c, _) =>
      s"$srcAlias.$c = ${rule.name}.${srcAlias}_$c"
    }

    // if the pk source is not among the rule tables, it still participates
    // via the pk-link (the reference's FROM always re-lists rule tables; the
    // mapping columns carry the keys, so the source itself is only needed
    // when referenced — rule tables always include it in shipped rules).
    val refItems = mutable.ListBuffer[String]()

    val preds = mutable.ListBuffer[String]()
    preds ++= pkLink
    preds ++= tc.constraints.map(c => translate(c, dep))

    var valueExpr = translate(tc.expression, dep)
    tc.references.foreach { case FkRef(refTable, refCol) =>
      // A16: join the referenced spine, non-null gate, emit its surrogate id
      // (`schema.py:226-239`; unmatched FK → row unmatched → value stays
      // NULL, golden `tests/test_integration.py:748-751`).
      refItems += s"mapping_$refTable AS $refTable"
      preds += s"$refTable.$refCol IS NOT NULL"
      preds += s"$refTable.$refCol = $valueExpr"
      valueExpr = s"$refTable.id"
    }

    def statement(run: Boolean) =
      s"""SELECT ${rule.name}.id AS __id, ($valueExpr) AS __val
         |FROM ${((mapView +: tc.tables.map(fromItem(_, rule, run))) ++ refItems).mkString(", ")}
         |WHERE ${preds.map(p => s"($p)").mkString(" AND ")}""".stripMargin
    val text = statement(run = false)
    statementLog += Engine.Statement(rule.name, "column_update", text)
    // attach rule/column context to analysis errors — the reference only
    // surfaces raw Postgres errors at script-run time (`__main__.py:137-142`);
    // a rules author needs to know WHICH rule produced the bad SQL
    try sql(statement(run = true))
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"rule '${rule.name}', column '${tc.name}': ${e.getMessage}\n  generated SQL: $text", e)
    }
  }

  /** A13 — the reference's required-column cleanup (generated but never
    * wired into an entry point, `schema.py:426-428`): drop rows whose
    * required columns are NULL. Exposed for callers that want the DELETE
    * semantics the reference intended.
    */
  def enforceRequired(df: DataFrame, requiredCols: Seq[String]): DataFrame =
    requiredCols.filter(df.columns.contains) match {
      case Nil => df
      case cols => df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    }

  /** Run a full rule set with the reference's global two-phase schedule. */
  def run(rules: Seq[Rule]): Map[String, DataFrame] = {
    val (deps, tables) = rules.partitionMap {
      case d: DependencyRule => Left(d)
      case t: TableRule => Right(t)
    }
    deps.foreach { d =>
      runScripts(d, statementLog)
      runTempTables(d.name, d.dep.preInit, d.dep, statementLog)
      runTempTables(d.name, d.dep.postInit, d.dep, statementLog)
    }
    // `depends_on` env inheritance (`__main__.py:67-80`): each dependency
    // file with a non-null `default_schema` overwrites the dependent table's
    // DefaultSchema, in depends_on order (last wins). The dep's TempTables
    // need no counterpart: temp views are engine-global here, a superset of
    // the reference's per-table TempTables union.
    val depSchema: Map[String, String] =
      deps.flatMap(d => d.dep.defaultSchema.map(d.name -> _)).toMap
    val effective = tables.map { t =>
      t.dep.dependsOn.flatMap(depSchema.get).lastOption match {
        case Some(s) => t.copy(dep = t.dep.copy(defaultSchema = Some(s)))
        case None => t
      }
    }
    waves(effective).foreach { wave =>
      val logs = wave.map(_ => mutable.Buffer.empty[Engine.Statement])
      try Engine.concurrently(spark, wave.zip(logs).map { case (t, log) => () => initialize(t, log) })
      finally logs.foreach(statementLog ++= _)
    }
    effective.foreach(process)
    targets.toMap
  }
}

object Engine {
  /** One generated SQL statement, attributed to the rule that emitted it. */
  case class Statement(rule: String, kind: String, sql: String)

  private val MappingView = "(?i)\\bmapping_".r

  /** Run `tasks` at the same time on a pool of min(tasks, cores) daemon
    * threads, made for this call and shut down before it returns. Every
    * task runs to its end, then the first failure in `tasks` order, if
    * any, is rethrown as the task threw it.
    */
  private[engine] def concurrently(spark: SparkSession, tasks: Seq[() => Unit]): Unit =
    if (tasks.nonEmpty) {
      val pool = Executors.newFixedThreadPool(
        math.min(tasks.size, spark.sparkContext.defaultParallelism),
        { (r: Runnable) => val t = new Thread(r, "graft-engine"); t.setDaemon(true); t })
      try {
        val futures = tasks.map(task => pool.submit(new Callable[Unit] { def call(): Unit = task() }))
        val failures = futures.flatMap { f =>
          try { f.get(); None }
          catch { case e: ExecutionException => Some(e.getCause) }
        }
        failures.headOption.foreach(throw _)
      } finally pool.shutdown()
    }

  /** A statement ledger as a readable script: each statement under a
    * `-- <rule>: <kind>` header, `;`-terminated, in execution order.
    */
  def render(statements: Seq[Statement]): String =
    statements.map(s => s"-- ${s.rule}: ${s.kind}\n${s.sql.trim.stripSuffix(";")};\n")
      .mkString("\n")
}

/** UPDATE…FROM as an overlay fold (SURVEY.md §7.5). */
object Overlay {

  /** One target column's updates. `rules` are keyed frames (`__id`,
    * `__val`) in statement order; `default`, when set, is the value every
    * row takes before them (a constant rule), otherwise rows start from
    * the target's current value (NULL for a new column).
    */
  case class Column(name: String, default: Option[Any], rules: Seq[DataFrame])

  /** Apply `columns` to `target` (keyed by `pkName`) in one aggregate, with
    * no join. Contract: `target` is unique and non-NULL on `pkName` (an
    * engine skeleton is its spine's ids).
    *
    * Every rule row becomes `(__id, __val_<col>, <rule index> AS __r_<col>)`
    * and every target row `(__id = pk, __t = true, <target columns>)`; all
    * are unioned and one `groupBy(__id)` keeps the target's columns
    * (`first` non-NULL: the one target row holds them) and takes per column
    * the value of the highest rule index (`max_by`). That is "later rule
    * wins"; rows of other columns carry a NULL index and are skipped; an id
    * matched several times by one rule keeps one of its values (Postgres
    * UPDATE…FROM picks an arbitrary row too). Only ids with a target row
    * (`max(__t)` non-NULL) are kept, so rule ids absent from the target drop
    * out and the row count is the target's. A row matched for a column
    * (`__r_<col>` non-NULL) takes the folded value even when it is NULL, as
    * UPDATE sets the column unconditionally on match; unmatched rows keep
    * theirs. The target's columns keep their order; new columns follow in
    * `columns` order.
    *
    * A column's rule values are unioned, so they widen to one common type
    * (bigint and double fold to double); types with none throw
    * IllegalArgumentException naming the column.
    */
  def apply(target: DataFrame, pkName: String, columns: Seq[Column]): DataFrame = {
    val keyed = columns.filter(_.rules.nonEmpty)
    val helpers = keyed.flatMap(c => Seq(s"__val_${c.name}", s"__r_${c.name}"))
    val perColumn = keyed.map { c =>
      val tagged = c.rules.zipWithIndex.map { case (r, i) =>
        r.select(col("__id"), col("__val").as(s"__val_${c.name}"), lit(i).as(s"__r_${c.name}"))
      }
      try tagged.reduce(_.unionByName(_))
      catch {
        case e: AnalysisException => throw new IllegalArgumentException(
          s"column '${c.name}': rule values have no common type: ${e.getMessage}", e)
      }
    }
    val folded = perColumn.reduceOption(_.unionByName(_, allowMissingColumns = true)) match {
      case None => target
      case Some(rules) =>
        val kept = target.columns.toSeq.filter(_ != pkName)
        val rows = target
          .select((col(pkName).as("__id") +: lit(true).as("__t") +: kept.map(col)): _*)
          .unionByName(rules, allowMissingColumns = true)
        val aggs = (max("__t").as("__t") +: kept.map(c => first(c, ignoreNulls = true).as(c))) ++
          keyed.flatMap { c =>
            Seq(max_by(col(s"__val_${c.name}"), col(s"__r_${c.name}")).as(s"__val_${c.name}"),
              max(s"__r_${c.name}").as(s"__r_${c.name}"))
          }
        val pk = col("__id").cast(target.schema(pkName).dataType).as(pkName)
        rows.groupBy("__id").agg(aggs.head, aggs.tail: _*)
          .where(col("__t").isNotNull)
          .select((target.columns.toSeq.map(c => if (c == pkName) pk else col(c)) ++ helpers.map(col)): _*)
    }
    columns.foldLeft(folded) { (t, c) =>
      val prior = c.default.map(lit)
        .getOrElse(if (t.columns.contains(c.name)) col(c.name) else lit(null))
      t.withColumn(c.name,
        if (c.rules.isEmpty) prior
        else when(col(s"__r_${c.name}").isNotNull, col(s"__val_${c.name}")).otherwise(prior))
    }.drop(helpers: _*)
  }
}
