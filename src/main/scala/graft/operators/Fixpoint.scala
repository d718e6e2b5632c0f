package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.CheckpointBridge

/** The loop discipline of the iterative operators (Clustering's
  * connected components and incremental merge, Graph's PageRank). On
  * small graphs a fixpoint costs scheduling, not data, so this keeps the
  * Spark jobs per round down:
  *
  *  - Counts ride materialisations: [[stableCounted]] observes an
  *    aggregate over the checkpointed rows, so the driver-solve [[gate]],
  *    the broadcast decision and each round's change count launch no job.
  *  - Counts only choose a path (driver or distributed, broadcast or
  *    not, continue or stop) and never enter a result. A retried task
  *    can add its rows to an observed count twice, which at worst picks
  *    the other, equal-output path or runs one more no-op round.
  *  - State keeps its layout ([[stable]]): state partitioned once on its
  *    join key is never shuffled again (the Pregelix layout).
  *  - [[iterate]] releases superseded rounds and fails after `maxIter`.
  *  - Every job launched inside [[inRound]] is described
  *    `<operator> round <i>` (round 0 is the set-up); the caller's own
  *    description is restored afterwards. */
private[graft] object Fixpoint {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Fixpoint")

  /** Run `body` with its jobs described as `<op> round <i>`. */
  def inRound[A](spark: SparkSession, op: String, i: Int)(body: => A): A = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"$op round $i")
    try body finally sc.setJobDescription(outer)
  }

  /** Round 0 of an operator with a driver-side solve: materialise
    * `input` once, counting its rows in the same pass. At most
    * `driverMaxRows` rows are collected for the solve (Left); a bigger
    * input's checkpoint feeds the distributed loop (Right). */
  def gate(spark: SparkSession, op: String, input: DataFrame,
      driverMaxRows: Long): Either[Array[Row], DataFrame] = inRound(spark, op, 0) {
    val (p, n) = stableCounted(input, count(lit(1)))
    if (n > driverMaxRows) Right(p)
    else try Left(p.collect()) finally Checkpoints.release(p)
  }

  /** Materialise `df` with [[Checkpoints.stable]], keeping the hash
    * partitioning, ordering and size estimate its plan produced unless
    * told otherwise ([[CheckpointBridge.relabel]]). */
  def stable(df: DataFrame, keepLayout: Boolean = true): DataFrame =
    CheckpointBridge.relabel(df, Checkpoints.stable(df), keepLayout)

  /** [[stable]] plus `metric`, an aggregate over `df`'s rows observed in
    * the same pass. */
  def stableCounted(df: DataFrame, metric: Column,
      keepLayout: Boolean = true): (DataFrame, Long) = {
    val obs = Observation()
    val out = stable(df.observe(obs, metric.as("n")), keepLayout)
    (out, obs.get("n").asInstanceOf[Number].longValue)
  }

  /** Apply `round` until a round changes nothing: `round(None)` is the
    * first round, `round(Some(state))` each later one; it returns the
    * next state and the column counting its changed rows. Round states
    * drop their layout and size estimate (see [[CheckpointBridge.relabel]]
    * for why). Returns the last round's checkpoint.
    * @throws IllegalStateException if `maxIter` rounds still changed
    *         something — a silent cutoff would return a wrong answer. */
  def iterate(spark: SparkSession, op: String, maxIter: Int)(
      round: Option[DataFrame] => (DataFrame, Column)): DataFrame = {
    @annotation.tailrec
    def go(i: Int, state: Option[DataFrame]): DataFrame = {
      if (i > maxIter) {
        state.foreach(Checkpoints.release)
        throw new IllegalStateException(s"$op did not converge in $maxIter rounds")
      }
      val (df, changes) = round(state)
      val (next, n) = inRound(spark, op, i)(stableCounted(df, changes, keepLayout = false))
      state.foreach(Checkpoints.release)
      log.info(s"$op round $i: $n changed")
      if (n == 0) next else go(i + 1, Some(next))
    }
    go(1, None)
  }
}
