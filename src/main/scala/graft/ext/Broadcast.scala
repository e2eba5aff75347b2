package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The one broadcast rule for every join hint in the library: a side is
  * hinted only when its size in bytes fits the session's
  * `spark.sql.autoBroadcastJoinThreshold` — the planner's own rule, so -1
  * turns every library broadcast off. The size is `knownRows` times Spark's
  * per-row estimate (`8 + schema.defaultSize`) when the caller knows the
  * row count, and Spark's optimized-plan estimate otherwise (which plans
  * the side but runs no job). A side that does not fit is returned as is. */
private[graft] object Broadcast {
  def small(side: DataFrame, knownRows: Option[Long] = None): DataFrame = {
    val size = knownRows.fold(side.queryExecution.optimizedPlan.stats.sizeInBytes)(
      n => BigInt(n) * (8 + side.schema.defaultSize))
    val threshold = side.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (size >= 0 && size <= threshold) broadcast(side) else side
  }
}
