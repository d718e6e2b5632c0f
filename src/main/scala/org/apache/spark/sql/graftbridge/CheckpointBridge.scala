package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Releases the block-manager storage behind a `localCheckpoint()`ed
  * Dataset. `Dataset.unpersist` only uncaches CacheManager entries, so a
  * checkpointed RDD's blocks otherwise live until the ContextCleaner
  * happens to GC the reference — a slow leak for iterative algorithms
  * that checkpoint every round on a long-lived driver. Safe to call once
  * the data is no longer needed (any later action on the Dataset would
  * fail, since a local checkpoint's lineage is truncated). */
object CheckpointBridge {
  def release(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD =>
        // Not rdd.unpersist(): that logs a WARN for every locally
        // checkpointed RDD ("lineage has been truncated and cannot be
        // recomputed") — a real hazard for a live Dataset, but releasing
        // a DEAD checkpoint is exactly this bridge's contract, and the
        // per-round spam buries genuine warnings in iterative-operator
        // logs. Go straight to the block removal the warning guards.
        val rdd = l.rdd
        // RELIABLE checkpoints hold no blocks — their storage is the
        // checkpoint FILES, which the ContextCleaner deletes only with
        // cleanCheckpoints=true and only after driver GC. An iterative
        // loop releasing each superseded round would otherwise
        // accumulate one file generation per round on DFS for the
        // job's lifetime — the exact leak this bridge exists to stop,
        // in the other storage tier. Same contract: the data is dead.
        rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          try p.getFileSystem(rdd.sparkContext.hadoopConfiguration)
            .delete(p, true)
          catch { case _: Throwable => () }
        }
        rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
      case _ => ()
    }

  /** `ckpt`, the eager checkpoint of `source`, relabelled with the
    * layout and size estimate of its rows (`keepLayout`) or with neither.
    *
    * `Dataset.checkpoint` takes the layout from the executed plan's root.
    * Under adaptive execution that is the adaptive wrapper, which reports
    * no partitioning, so a consumer keyed like the checkpoint would
    * shuffle it again; the final adaptive plan is the one whose output
    * the checkpoint stored, so its hash partitioning and ordering are
    * re-attached. State rebuilt every round drops both: it is broadcast,
    * and a scan's canonical form keeps its partitioning's attribute ids,
    * so two reads of a partitioned checkpoint in one plan would not
    * share one broadcast; and a join's size estimate is the product of
    * its inputs', so carried from round to round it squares each round
    * until its BigInt arithmetic stalls planning. */
  def relabel(source: Dataset[_], ckpt: DataFrame, keepLayout: Boolean): DataFrame =
    ckpt.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val done = source.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        val (partitioning, ordering) = done.outputPartitioning match {
          case h: HashPartitioning if keepLayout &&
              h.references.subsetOf(l.outputSet) &&
              h.numPartitions == l.rdd.getNumPartitions =>
            (h, done.outputOrdering.takeWhile(_.references.subsetOf(l.outputSet)))
          case _ => (UnknownPartitioning(0), Nil)
        }
        val session = ckpt.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session, l.copy(outputPartitioning = partitioning,
          outputOrdering = ordering)(session, Option.when(keepLayout)(l.computeStats()),
          Some(l.constraints)))
      case _ => ckpt
    }
}
