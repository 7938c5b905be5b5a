package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale inputs for the ETL engine path: replicate a table of the
  * validation corpus (`src/test/resources/corpus`, converted by
  * tools/convert_corpus.py) N× Spark-side, each replica's join keys shifted
  * into a private id space so every join stays referential and
  * per-replica cardinalities equal the 1× corpus.
  *
  * Because replicas are self-contained, the four Cerner→OMOP rules run on
  * an N× corpus grow person, visit_occurrence and condition_occurrence
  * EXACTLY ×N, and location by N× its address part only (the
  * facility/nurse-unit location codes are shared dimensions and stay
  * constant). The repo benchmark (`omopbench/`) runs that ×N ETL and
  * checks the invariant.
  */
object EtlScaleBench {

  /** Join keys private to a replica (shifted by replica × 10^9). Location
    * codes, code_value, OMOP concepts, and the external postcode map stay
    * global — shared dimensions, as in production.
    */
  private val ShiftCols = Set("person_id", "encntr_id", "encntr_loc_hist_id",
    "diagnosis_id", "problem_instance_id", "address_id", "nomenclature_id")

  /** N self-contained copies: crossJoin a `range(factor)` and shift each
    * replica-private key — one narrow map over the scan, no N-way union plan.
    */
  def replicate(df: DataFrame, factor: Int): DataFrame = {
    if (factor <= 1) return df
    val spark = df.sparkSession
    val keyed = df.crossJoin(spark.range(factor).select(col("id").as("__replica")))
    df.columns.filter(ShiftCols)
      .foldLeft(keyed)((d, c) => d.withColumn(c, col(c) + col("__replica") * lit(1e9)))
      .drop("__replica")
  }
}
