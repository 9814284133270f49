package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType

/** InternalRow ⇄ DataFrame bridge for the packed checkpoint
  * (`graft.prims.Iterate.materialize`). Spark 4 keeps the InternalRow
  * entry points `private[sql]`; like [[ColumnShim]], this shim exposes the
  * two it needs from an `org.apache.spark.sql` subpackage. */
object RowShim {

  /** Run `body` over the physical rows of `df`'s executed plan as one SQL
    * execution of that plan — the way a Dataset action runs it, so query
    * execution listeners, SQL metrics and `observe` metrics see it. */
  def withExecution[T](df: DataFrame, name: String)(body: RDD[InternalRow] => T): T = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.executedPlan.resetMetrics()
      body(qe.executedPlan.execute())
    }
  }

  /** A DataFrame over rows already in Catalyst's internal format — no
    * external Row conversion. The leaf is a plain `LogicalRDD`, so its
    * statistics are the session default. */
  def fromInternalRows(spark: SparkSession, rows: RDD[InternalRow],
                       schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** The RDDs under the `LogicalRDD` leaves of `df`'s analyzed plan — for a
    * frame read from materialized frames, their stored rows — found without
    * planning or executing `df`. */
  def leafRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
}
