package org.apache.spark.ml.graft

import org.apache.spark.ml.util.HasTrainingSummary

/** MLlib's package-private training-summary setter. */
object SummaryShim {
  /** `m` with its training summary dropped, in place. The summary keeps
    * the fitting session, which the model's scoring UDFs would ship to
    * every task — "Task not serializable" once it has run `observe`. */
  def dropSummary[M](m: M): M = {
    m match { case s: HasTrainingSummary[_] => s.setSummary(None); case _ => }
    m
  }
}
