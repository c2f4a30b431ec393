package org.apache.spark.sql.graft

import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.SparkStrategy

/** Adds a native operator's planner strategy to a session's
  * `experimental.extraStrategies` when it is missing (the Pathling
  * `SqlStrategy.setup` pattern). The public surface of [[SessionizePlan]]
  * and [[AsOfJoinPlan]] calls it, so their nodes plan on any session,
  * with or without [[graft.GraftExtensions]]. Each strategy matches only
  * its own logical node, so no other query's plan changes.
  */
private[graft] object RegisterStrategy {
  def apply(session: SparkSession, strategy: SparkStrategy): Unit =
    synchronized { // two threads may register different strategies at once
      val current = session.experimental.extraStrategies
      if (!current.contains(strategy))
        session.experimental.extraStrategies = strategy +: current
    }
}
