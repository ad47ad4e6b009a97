package org.apache.spark.sql.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution

/** Evaluation helper that lives in Spark's package only to reach
  * `SQLExecution.withNewExecutionId`. */
object Exec {

  /** Evaluate every row of `df` as one SQL execution of `df`'s own
    * QueryExecution, like the `noop` sink, without moving rows to the
    * driver. Afterwards `df.queryExecution.tracker` holds the analysis,
    * optimization and planning phases of exactly this evaluation. */
  def drain(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.foreach(_ => ())
    }
  }
}
