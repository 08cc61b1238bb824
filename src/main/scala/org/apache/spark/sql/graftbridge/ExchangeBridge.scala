package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{ShuffledRowRDD, UnsafeRowSerializer}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric

/** Bridge to the `private[spark]` row serializer an exec needs to run its
  * own exchange — the shape `TakeOrderedAndProjectExec.doExecute` uses for
  * its final merge: partial results of every task move to ONE reducer. */
object ExchangeBridge {
  def toSinglePartition(rdd: RDD[InternalRow], output: Seq[Attribute],
      writeMetrics: Map[String, SQLMetric],
      readMetrics: Map[String, SQLMetric]): RDD[InternalRow] =
    new ShuffledRowRDD(
      ShuffleExchangeExec.prepareShuffleDependency(rdd, output, SinglePartition,
        new UnsafeRowSerializer(output.size), writeMetrics),
      readMetrics)
}
