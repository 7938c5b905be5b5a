package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

import graft.Checkpoints.DatasetCheckpointOps

/** Dense, 1-based, deterministically-ordered surrogate ids — the Spark
  * equivalent of Postgres `serial` in the reference's mapping tables
  * (`generation.py:103`; id-range golden `tests/test_integration.py:963-971`).
  *
  * A global sort range-partitions the rows on the ordering keys, so no
  * shuffle funnels through a single partition (SURVEY.md §7.4), and
  * `zipWithIndex` numbers the sorted rows: one job counts each partition,
  * and the ids are the partition's offset plus the row's position. Both
  * that count and the eager checkpoint read the same sort shuffle output,
  * so the ids are computed once, and the checkpoint keeps them: every
  * later consumer (all of the table's column rules, other tables' FK
  * remaps) reads the same blocks, and a lost block fails loudly instead of
  * renumbering through a resampled range partitioning. Rows that tie on
  * `order` may swap places between runs; when the order covers every
  * column (as the engine's spines do), tied rows are identical, so no id
  * changes.
  */
object DenseId {

  def withDenseId(df: DataFrame, idCol: String, order: Seq[Column]): DataFrame = {
    val sorted = df.sort(order: _*)
    val numbered = sorted.rdd.zipWithIndex().map { case (row, i) => Row.fromSeq(row.toSeq :+ (i + 1)) }
    df.sparkSession
      .createDataFrame(numbered, sorted.schema.add(idCol, LongType, nullable = false))
      .graftCheckpoint()
  }
}
