package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.operators.{Checkpoints, Clustering, Graph}

object Workloads {
  /** Operator-bound curation pipelines (dedup, clustering, link ranking). */
  val curation: Seq[String] = Seq(
    "q22_minhash_lsh_pairs", "q40_simhash_neardup", "q104_cluster_keep_best",
    "q117_incremental_clusters", "q126_link_pagerank", "q147_cc_temp_fixpoint")

  def byName(name: String): Workload = name match {
    case "curation" => new Curation
    case "lambda" => new Lambda
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Build, plan and run `make` to its full result: a `noop` write, or a
    * parquet write to `out`. Both keep every column and the final sort,
    * unlike `count()`. */
  def full(c: Ctx, out: Option[String] = None)(make: => DataFrame): DataFrame = {
    val df = c.phase("build")(make)
    c.phase("plan")(df.queryExecution.executedPlan)
    c.phase("exec")(out match {
      case Some(dir) => df.write.mode("overwrite").parquet(dir)
      case None => df.write.format("noop").mode("overwrite").save()
    })
    df
  }
}

/** The curation queries, whose graphs stay under the driver-solve gate,
  * then the same clustering and ranking operators on the distributed
  * path. */
final class Curation extends Workload {
  private val queries = new Queries(Workloads.curation)
  private val fixpoint = new Fixpoint
  val warmPasses = 2
  def prepare(ctx: Ctx): Unit = queries.prepare(ctx)
  def ops(ctx: Ctx): Seq[Op] = queries.ops(ctx) ++ fixpoint.ops(ctx)
  def check(ctx: Ctx): (Int, Seq[String]) = {
    val (n1, bad1) = queries.check(ctx)
    val (n2, bad2) = fixpoint.check(ctx)
    (n1 + n2, bad1 ++ bad2)
  }
  override def layers(ctx: Ctx, untraced: Map[String, Double], out: Layers): Unit =
    fixpoint.layers(ctx, untraced, out)
}

/** Declared `SparkEntry` queries over the run's generated tables. The
  * first (cold) pass writes every result to parquet, as a daily batch job
  * would; `run.py` checks those files against the DuckDB oracles. Later
  * passes time the same full results through a `noop` write. */
final class Queries(names: Seq[String]) {
  private val fns = graft.SparkEntry.queries
  private var passes = 0

  def prepare(ctx: Ctx): Unit = {
    val missing = names.filterNot(fns.contains)
    require(missing.isEmpty, s"queries not declared: ${missing.mkString(", ")}")
  }

  private def dump(c: Ctx) = s"${c.args.work}/dump"

  def ops(ctx: Ctx): Seq[Op] = names.zipWithIndex.map { case (n, i) =>
    Op(n, () => if (i == 0) passes += 1, c =>
      Workloads.full(c, if (passes == 1) Some(s"${dump(c)}/$n") else None)(fns(n)(c.spark, c.args.data)))
  }

  /** Writes the oracle file `tools/check_correctness.py` reads beside the dump. */
  def check(ctx: Ctx): (Int, Seq[String]) = {
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(dump(ctx), "oracle_sql.json"),
      Json.obj(names.flatMap(n => oracles.get(n).map(sql => n -> Json.str(sql)))))
    (0, names.filterNot(oracles.contains).map(n => s"$n has no oracle"))
  }
}

/** The distributed iterative path: connected components and PageRank with
  * the driver-solve gate off, checked against the gated (driver-solve)
  * path on the same graph. */
final class Fixpoint {
  private val last = scala.collection.mutable.Map.empty[String, DataFrame]
  private def edges(c: Ctx) = c.spark.read.parquet(s"${c.args.data}/edges.parquet")
  private def cc(c: Ctx, gate: Long) =
    Clustering.connectedComponents(edges(c), "a", "b", driverSolveMaxEdges = gate)
  private def pr(c: Ctx, gate: Long) =
    Graph.pageRankUndirectedMicro(edges(c), "a", "b", iterations = 5, driverSolveMaxEdges = gate)
  /** Results are backed by local checkpoints; a long-lived driver releases
    * the previous result before computing the next one. */
  private def op(name: String, run: Ctx => DataFrame) =
    Op(name, () => last.remove(name).foreach(Checkpoints.release),
      c => last(name) = Workloads.full(c)(run(c)))

  def ops(ctx: Ctx): Seq[Op] = Seq(op("cc", cc(_, 0L)), op("pagerank", pr(_, 0L)))

  /** The last distributed results against the driver-solve path. */
  def check(ctx: Ctx): (Int, Seq[String]) = {
    def same(name: String, b: DataFrame): Option[String] = {
      val a = last(name)
      val (na, nb) = (a.count(), b.count())
      val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
      if (na == nb && na > 0 && diff == 0) None
      else Some(s"$name: distributed path gave $na rows, driver solve $nb, $diff differ")
    }
    val bad = Seq(
      same("cc", cc(ctx, Clustering.DefaultDriverSolveMaxEdges)),
      same("pagerank", pr(ctx, Graph.DefaultDriverSolveMaxEdges))).flatten
    (2, bad)
  }

  def layers(ctx: Ctx, untraced: Map[String, Double], out: Layers): Unit = {
    out("fixpoint.cc_s") = untraced("cc")
    out("fixpoint.pagerank_s") = untraced("pagerank")
  }
}
