package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Link-graph centrality: fixed-iteration PageRank in exact integer
  * micro-units.
  *
  * Why it's here: crawl frontiers and seed lists are prioritized by
  * link centrality (PageRank / harmonic centrality over the host
  * graph — the Common Crawl ranking move), which makes graph
  * importance a first-class corpus-curation signal alongside quality
  * and dedup. The engine's other graph op (connected components,
  * `Clustering`) answers "which docs are the same"; this one answers
  * "which nodes matter".
  *
  * Portability design: the classic float PageRank drifts across
  * engines (sum order, damping multiplies). Here every iteration is
  * pure 64-bit integer arithmetic — ranks live in micro-units (initial
  * rank 10⁶ per node), a node's per-neighbor contribution is
  * `rank div degree` (floor division of non-negatives, identical in
  * Spark's `div` and DuckDB's `//`), and damping 0.85 is
  * `150000 + (85 * Σcontribs) div 100`. Integer sums are associative
  * and order-independent, so a fixed iteration count yields BITWISE
  * equal ranks in any engine — the ExactAgg discipline applied to an
  * iterative algorithm.
  *
  * Scale shape (100 TB): a superstep is one edges⋈ranks equi-join on
  * src + one dst-keyed sum (partial-combined) — the Pregel superstep
  * expressed declaratively, no driver-side graph state. The closure edge
  * list is built once, partitioned and sorted on src, and kept as a
  * [[Fixpoint.stable]] checkpoint, which keeps that layout (the Pregelix
  * edge partitioning): a superstep's only shuffle is the contribution
  * re-key, and it costs one job. (A persisted cache keeps the layout
  * too, but adaptive execution re-reads a cache in a job of its own
  * every time a plan scans it.) The k supersteps are one static DAG
  * that Catalyst/AQE plans end-to-end. Small graphs take a driver-side
  * solve of the same recurrence (see [[DefaultDriverSolveMaxEdges]]) —
  * identical ranks, none of the per-superstep scheduling latency.
  */
object Graph {

  /** Edge-count ceiling for the driver-side solve — the
    * [[Clustering.DefaultDriverSolveMaxEdges]] pattern applied to
    * PageRank: on a graph this small the distributed loop's cost is
    * per-superstep job scheduling, not data (the round-10 q126
    * finding: ~160k edges at bench SF spent seconds on ~10 stage
    * launches), while 2M edges collect to ~32 MB and iterate locally
    * in well under a second. The arithmetic is pure int64 either way,
    * so both paths produce BITWISE equal ranks (spec-pinned). */
  val DefaultDriverSolveMaxEdges: Long = 2000000L

  /** PageRank over the undirected closure of `pairs` (each input pair
    * (a, b) becomes edges a→b and b→a; duplicates removed). Every node
    * of an undirected graph has degree ≥ 1 and receives at least one
    * contribution per superstep, so the inner joins are total — no
    * dangling-node mass correction is needed.
    *
    * Input columns: `a`, `b` (long-castable). Output: (node, deg,
    * rank_micro) — rank in micro-units after `iterations` damped
    * supersteps from a uniform 10⁶ start.
    *
    * Adaptive execution: the closure edge list is materialised once and
    * counted in the same pass ([[Fixpoint.gate]]); at or below
    * `driverSolveMaxEdges` closure edges the iterations run on the
    * driver over the collected list, above it the superstep loop runs
    * over the same checkpoint (pass 0 to force it).
    *
    * The returned frame is backed by a node-sized local checkpoint /
    * local rows, so the edge-sized state is released at return; a
    * long-lived driver should `Checkpoints.release` it once done. */
  def pageRankUndirectedMicro(pairs: DataFrame, aCol: String, bCol: String,
      iterations: Int,
      driverSolveMaxEdges: Long = DefaultDriverSolveMaxEdges): DataFrame = {
    require(iterations >= 1 && iterations <= 10,
      s"iterations must be in [1,10], got $iterations")
    val spark = pairs.sparkSession
    val op = "pageRankUndirectedMicro"
    // the Int cap keeps the driver solve's edge arrays addressable
    val edges = Fixpoint.gate(spark, op, closure(pairs, aCol, bCol),
      math.min(driverSolveMaxEdges, Int.MaxValue.toLong)) match {
      case Left(rows) => return driverSolve(spark, rows, iterations)
      case Right(edges) => edges
    }
    // the k supersteps run as one action; the node-sized result frees the edges
    val out = Fixpoint.inRound(spark, op, iterations)(
      Checkpoints.stable(supersteps(edges, iterations)))
    Checkpoints.release(edges)
    out
  }

  /** The driver-side fixed-iteration solve: the same integer recurrence
    * over the collected closure edges, primitive throughout (dense node
    * indexes, int edge arrays, long rank/degree/sum arrays). Integer sums
    * are order-free, so ranks stay BITWISE equal to the distributed loop
    * (spec-pinned). */
  private def driverSolve(spark: SparkSession, rows: Array[Row],
      iterations: Int): DataFrame = {
    val idToIdx = new java.util.HashMap[Long, Integer](rows.length)
    val idsBuf = new java.util.ArrayList[java.lang.Long]()
    def idx(n: Long): Int = {
      var i = idToIdx.get(n)
      if (i == null) { i = idToIdx.size(); idToIdx.put(n, i); idsBuf.add(n) }
      i
    }
    val src = rows.map(r => idx(r.getLong(0)))
    val dst = rows.map(r => idx(r.getLong(1)))
    val n = idToIdx.size()
    val deg = new Array[Long](n)
    src.foreach(s => deg(s) += 1)
    var rank = Array.fill(n)(1000000L)
    for (_ <- 1 to iterations) {
      val sums = new Array[Long](n)
      var i = 0
      while (i < src.length) {
        // non-negative: floor ≡ Spark's div
        sums(dst(i)) += rank(src(i)) / deg(src(i))
        i += 1
      }
      rank = sums.map(s => 150000L + 85L * s / 100L)
    }
    val out = new java.util.ArrayList[Row](n)
    (0 until n).foreach(i => out.add(Row(idsBuf.get(i).longValue(), deg(i), rank(i))))
    spark.createDataFrame(out, StructType(Seq(
      StructField("node", LongType), StructField("deg", LongType),
      StructField("rank_micro", LongType))))
  }

  /** The un-materialized superstep pipeline over the checkpointed
    * closure (plus the closure and the degree frame, for the caller to
    * release or inspect), split out so plan contracts can assert the
    * per-superstep shuffle count on the REAL iteration plan — the public
    * method checkpoints the result, which truncates the plan to an opaque
    * scan. */
  private[graft] def pageRankFrame(pairs: DataFrame, aCol: String,
      bCol: String, iterations: Int): (DataFrame, DataFrame, DataFrame) = {
    val edges = Fixpoint.stable(closure(pairs, aCol, bCol))
    (supersteps(edges, iterations), edges, degrees(edges))
  }

  /** The undirected closure of `pairs` as (src, dst), deduplicated, laid
    * out for every superstep (at 100 TB the edge list is the big side, so
    * every avoided edge-sized exchange/sort is the lever):
    *  - repartition on src FIRST: the dedup's (src, dst) clustering is
    *    then satisfied without an exchange of its own. The partition count
    *    is explicit so adaptive execution cannot coalesce it, and each
    *    superstep's dst-keyed sum lands on the same partitioning;
    *  - sortWithinPartitions(src): each superstep's sort-merge join
    *    streams the edge blocks instead of re-sorting k·|E| rows. */
  private def closure(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val ab = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
      // a null endpoint would inflate the partner's degree and leak its
      // rank share to a phantom node that vanishes at the next join —
      // silently wrong centrality (Clustering filters the same way)
      .filter(col("src").isNotNull && col("dst").isNotNull)
    ab.union(ab.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("src"))
      .distinct()
      .sortWithinPartitions("src")
  }

  /** (node, deg) over the closure; grouped on src, so no exchange. */
  private def degrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))

  /** `iterations` supersteps over the checkpointed closure `edges`. Ranks
    * carry (node, deg, rank_micro), so a superstep is ONE join: the
    * closure is symmetric, so a node's incoming-edge count in the
    * dst-keyed sum is its degree again. The sum's exchange is the only
    * per-superstep shuffle (partial-combined map-side) and leaves ranks
    * partitioned like the edges, so the next join shuffles neither side;
    * the merge hint keeps that plan when adaptive execution sees a small
    * side (a broadcast switch would add a job per superstep). */
  private def supersteps(edges: DataFrame, iterations: Int): DataFrame =
    (1 to iterations).foldLeft(
      degrees(edges).withColumn("rank_micro", lit(1000000L))) { (ranks, _) =>
      edges.hint("merge")
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("_n"), sum(expr("rank_micro div deg")).as("s"))
        .select(col("node"), col("_n").as("deg"),
          (lit(150000L) + expr("(85 * s) div 100")).as("rank_micro"))
    }
}
