package graft.ext

import org.apache.spark.sql.DataFrame

/** The one lineage-cut policy for every iterative or multi-consumer
  * operator in `ext`. Whether a cut survives executor loss is a deployment
  * decision, read from Spark's own checkpoint directory: when the session's
  * `SparkContext` has one (the standard `spark.checkpoint.dir` conf, or
  * `SparkContext.setCheckpointDir`) the cut is a reliable checkpoint written
  * under it; otherwise it is an executor-local checkpoint — fast and right
  * in local mode, but its blocks are lost when an executor dies. */
private[graft] object Checkpoint {
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}
