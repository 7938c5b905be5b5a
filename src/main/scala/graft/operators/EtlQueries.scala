package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.{Engine, Overlay}
import graft.rules.RuleParser
import graft.sources.Tables

/** The ETL engine's composite operators (SURVEY.md §2.A A14-A17), exercised
  * on the driver's synthetic tables so they flow through the DuckDB-oracle
  * gate like every other operator.
  */
object EtlQueries {

  /** Run `f` against a scoped engine and CLEAN UP its temp views: leaking
    * the cerner/mapping views into the shared driver session is exactly
    * the hazard Engine documents (a later rule typo-referencing a leaked
    * mapping view silently resolves against stale state). The DataFrame
    * `f` returns is fully ANALYZED before cleanup — Spark resolves temp
    * views at analysis, so dropping them afterwards cannot invalidate the
    * returned plan.
    */
  private def withEngine(s: SparkSession, dir: String, names: String*)(
      f: Engine => DataFrame): DataFrame = {
    val e = new Engine(s)
    names.foreach(n => e.registerSource("cerner", n, Tables.load(s, dir, n)))
    try f(e) finally e.cleanup()
  }

  /** A14 — multi-source merge with dense, source-ordered surrogate ids: the
    * reference's mapping-table build, driven end-to-end through the YAML rule
    * path on customer+supplier.
    */
  def q12_spine_merge(s: SparkSession, dir: String): DataFrame = {
    val rule = RuleParser.parse("party", """
      |name: party
      |primary_key:
      |  name: id
      |  sources:
      |    customer: {table: customer, columns: {c_custkey: bigint}}
      |    supplier: {table: supplier, columns: {s_suppkey: bigint}}
      |columns:
      |  - {name: is_cust, constant: 1}
      |""".stripMargin)
    withEngine(s, dir, "customer", "supplier") { e =>
      e.run(Seq(rule))
      s.table("mapping_party").select(
        col("id"),
        col("customer_c_custkey").as("customer_key"),
        col("supplier_s_suppkey").as("supplier_key"))
        .orderBy("id")
    }
  }

  /** A16 — FK remapping: orders' customer FK rewritten to the customer
    * spine's surrogate id, via the rule-file `references` path.
    */
  def q13_fk_remap(s: SparkSession, dir: String): DataFrame = {
    val custRule = RuleParser.parse("cust", """
      |name: cust
      |primary_key:
      |  name: id
      |  sources:
      |    c: {table: customer, columns: {c_custkey: bigint}}
      |columns:
      |  - {name: src, constant: customer}
      |""".stripMargin)
    val ordRule = RuleParser.parse("ord", """
      |name: ord
      |primary_key:
      |  name: id
      |  sources:
      |    o: {table: orders, columns: {o_orderkey: bigint}}
      |columns:
      |  - name: cust_sid
      |    tables: [orders]
      |    primary_key: o
      |    references: {table: cust, column: customer_c_custkey}
      |    expression: orders.o_custkey
      |""".stripMargin)
    withEngine(s, dir, "customer", "orders") { e =>
      e.run(Seq(custRule, ordRule))("ord").orderBy("id")
    }
  }

  /** A15/A11 — UPDATE…FROM as left-join overlay: finalized-order totals
    * overwrite the account balance where present; unmatched customers keep
    * the prior value.
    */
  def q11_overlay(s: SparkSession, dir: String): DataFrame = {
    val target = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal").cast(DecimalType(12, 2)).as("bal"))
    val ruleDf = Tables.load(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DecimalType(38, 2)).as("__val"))
      .select(col("o_custkey").as("__id"), col("__val"))
    Overlay(target, "c_custkey", Seq(Overlay.Column("bal", None, Seq(ruleDf))))
      .withColumn("bal", col("bal").cast("double"))
      .orderBy("c_custkey")
  }
}
