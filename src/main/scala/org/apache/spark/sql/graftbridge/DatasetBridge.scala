package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Bridge to `private[sql]` Dataset constructors.
  *
  * `pinned` exists for ITERATIVE dataframe loops: `Dataset.localCheckpoint`
  * truncates the RDD lineage but PRESERVES the origin plan's statistics in
  * its LogicalRDD — so a loop whose round-r plan joins round-(r−1)'s
  * checkpoint k times compounds `sizeInBytes` as S_r ≈ S_{r−1}^k.
  * Catalyst's size estimate is an exact BigInt: by round ~9 it carries
  * ~3^9 words and every stats visit burns seconds in BigInteger
  * multiplication (observed: 0.6 s → 135 s per round in BPE training).
  * Rebuilding the DataFrame from the checkpointed internal RDD drops the
  * inherited stats — each round restarts from the constant default — while
  * keeping the same rows, schema, and truncated lineage, zero-copy. */
object DatasetBridge {
  def fromInternal(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** A DataFrame over a hand-built logical plan (a library's own node). */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `schema` with every field, array element and map value nullable —
    * the schema a file source reports for what it infers
    * (`StructType.asNullable` is `private[spark]`). */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** localCheckpoint `df` (lazy by default — materialization folds into
    * the first consuming action instead of costing one job per call, the
    * GlobalRank discipline) and re-wrap it stats-free. */
  def pinned(df: DataFrame, eager: Boolean = false): DataFrame = {
    val ck = df.localCheckpoint(eager)
    fromInternal(df.sparkSession, ck.queryExecution.toRdd, ck.schema)
  }

  /** [[pinned]] that KEEPS the checkpointed plan's physical layout.
    * `internalCreateDataFrame` builds a LogicalRDD with unknown
    * partitioning/ordering, so an iterative loop whose every round
    * windows over the same key pays a fresh Exchange + Sort per round
    * even though the checkpointed RDD is already hash-partitioned and
    * sorted by that key (its producing plan ended in exactly that
    * window). Spark's own `localCheckpoint` preserves the layout in its
    * LogicalRDD but inherits the origin stats (the compounding-BigInt
    * bug `pinned` exists to stop); this keeps the layout AND resets the
    * stats — rebuild the LogicalRDD with the same output/rdd/layout and
    * `originStats = None` (the same constant-default stats `pinned`
    * yields). Rows, schema, lineage truncation: identical to [[pinned]].
    */
  def pinnedKeepLayout(df: DataFrame, eager: Boolean = false): DataFrame = {
    val ck = df.localCheckpoint(eager)
    val session =
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ck.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val fresh = new org.apache.spark.sql.execution.LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.getStream)(session, None, None)
        org.apache.spark.sql.classic.Dataset.ofRows(session, fresh)
      case _ => // not a checkpoint wrap (never expected) — stats-only pin
        fromInternal(df.sparkSession, ck.queryExecution.toRdd, ck.schema)
    }
  }
}
