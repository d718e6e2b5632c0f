package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** Connected components over a near-duplicate pair list — the step that
  * turns pairwise matches (q22/q24/q29/q30 output) into dedup GROUPS:
  * every document in a component shares its cluster id (the component's
  * minimum id), so "keep one per cluster" becomes a groupBy.
  *
  * Algorithm: min-label propagation with pointer jumping, the recursive
  * min-aggregate RaSQL evaluates on Spark. Set-up adds a self edge per
  * vertex and partitions the edge list on `src` once. A round is then
  * one plan: a grouped `min` over `edges ⋈ broadcast(labels)` (the self
  * edge brings the vertex's own label into the aggregate), then a jump
  * through the same broadcast to that minimum's own label. Labels stay
  * in-component and only decrease, so the fixed point is the component
  * minimum. Jumping collapses chains whose ids grow along them in
  * O(log length) rounds; the worst case (a long path with shuffled ids)
  * stays O(diameter), as without it. A round costs two jobs,
  * the broadcast and the checkpoint of the new labels: the change count
  * is observed on that checkpoint and the aggregate reuses the edge
  * partitioning ([[Fixpoint]]). Each round's checkpoint truncates
  * lineage ([[Checkpoints.stable]]). A DataFrame-only version keeps the
  * engine free of GraphX/GraphFrames and Catalyst-planned.
  */
object Clustering {

  /** Edge-count ceiling for the driver-side solve: 2M edges collect to
    * ~tens of MB and union-find them in well under a second, vs multiple
    * join+aggregate rounds whose per-round scheduling latency dominates
    * on small graphs. Above the ceiling (or for unsupported id types)
    * the distributed min-label loop runs — identical output. */
  val DefaultDriverSolveMaxEdges: Long = 2000000L

  /** @param pairs DataFrame with two id columns (`aCol`, `bCol`) — an
    *              undirected edge list (direction ignored; edges with a
    *              null endpoint are dropped — SQL equality cannot
    *              propagate labels through null ids).
    * @param driverSolveMaxEdges edge count at or below which the graph
    *              is solved with driver-side union-find (exact same
    *              labels); pass 0 to force the distributed loop.
    * @return (id, cluster_id) for every id APPEARING IN PAIRS; callers
    *         union isolated vertices back with cluster_id = own id.
    * @throws IllegalStateException if maxIter rounds don't converge —
    *         a silent cutoff would return WRONG components. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25,
      driverSolveMaxEdges: Long = DefaultDriverSolveMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    val op = "connectedComponents"
    // Adaptive execution: a small graph is cheaper to solve on the driver
    // (the loop's cost is per-round scheduling, not data). The id
    // ordering must match Spark's min() for identical cluster ids.
    val input = pairs.select(col(aCol).as("_a"), col(bCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull)
    val idType = input.schema("_a").dataType
    val ord = if (input.schema("_b").dataType == idType) minOrdering(idType) else None
    val p = Fixpoint.gate(spark, op, input, if (ord.isDefined) driverSolveMaxEdges else -1L) match {
      case Left(rows) => return driverSolve(spark, idType, rows, ord.get)
      case Right(p) => p
    }
    // both directions plus a self edge per endpoint, deduplicated; the
    // self-edge count is the vertex count the broadcast decision needs
    val (edges, nVertices) = Fixpoint.inRound(spark, op, 0)(Fixpoint.stableCounted(
      p.select(inline(array(
          struct(col("_a").as("src"), col("_b").as("dst")),
          struct(col("_b").as("src"), col("_a").as("dst")),
          struct(col("_a").as("src"), col("_a").as("dst")),
          struct(col("_b").as("src"), col("_b").as("dst")))))
        .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("src"))
        .distinct(),
      count_if(col("src") === col("dst"))))
    Checkpoints.release(p)
    // labels are vertex-sized: broadcasting them keeps the edges in place
    val hint: DataFrame => DataFrame =
      if (nVertices <= 10000000L) broadcast(_) else identity
    val labels = Fixpoint.iterate(spark, op, maxIter) {
      case None => // every label is still its own id: no lookup needed
        (edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("label")),
          count_if(col("label") < col("id")))
      case Some(prev) =>
        val l = hint(prev.select(col("id").as("_v"), col("label").as("_l")))
        val next = edges.join(l, col("dst") === col("_v"))
          .groupBy(col("src").as("id"))
          .agg(min(col("_l")).as("_m"),
            max(when(col("src") === col("dst"), col("_l"))).as("_old"))
          // pointer jump: the neighbourhood minimum's own label
          .join(l, col("_m") === col("_v"))
          .select(col("id"), col("_l").as("label"), col("_old"))
        (next, count_if(col("label") < col("_old")))
    }
    // the returned frame reads only the last round's checkpoint
    Checkpoints.release(edges)
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** The orderings under which min-label semantics is defined for the
    * driver solve; must agree with Spark's `min()` on the same type. */
  private def minOrdering(dt: DataType): Option[Ordering[Any]] = dt match {
    case LongType | IntegerType | ShortType | ByteType =>
      Some(Ordering.by((x: Any) => x.asInstanceOf[Number].longValue))
    case StringType =>
      // compare UTF-8 BYTES unsigned, matching Spark's UTF8_BINARY min():
      // Java String ordering compares UTF-16 units, which disagrees for
      // supplementary characters — the driver and distributed paths
      // would pick different cluster minima on such ids
      Some(Ordering.fromLessThan[Any] { (a, b) =>
        val x = a.asInstanceOf[String].getBytes("UTF-8")
        val y = b.asInstanceOf[String].getBytes("UTF-8")
        val n = math.min(x.length, y.length)
        var i = 0
        var r = 0
        while (i < n && r == 0) { r = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
        if (r != 0) r < 0 else x.length < y.length
      })
    case _ => None
  }

  /** Union-find with path compression, roots kept at the component MIN
    * (so the root IS the cluster id — no second pass). One driver
    * thread, O(E α(V)) amortized with compression. */
  private def driverSolve(spark: org.apache.spark.sql.SparkSession,
      idType: DataType, rows: Array[Row], ord: Ordering[Any]): DataFrame = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      var root = x0
      var pr = parent.get(root)
      while (pr != null && pr != root) { root = pr; pr = parent.get(root) }
      var x = x0
      while (x != root) {
        val nxt = parent.get(x)
        parent.put(x, root)
        x = if (nxt == null) root else nxt
      }
      root
    }
    val verts = new java.util.LinkedHashSet[Any]()
    rows.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      verts.add(a); verts.add(b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = new java.util.ArrayList[Row](verts.size())
    verts.forEach(v => out.add(Row(v, find(v))))
    spark.createDataFrame(out, StructType(Seq(
      StructField("id", idType), StructField("cluster_id", idType))))
  }

  /** Cluster assignment for a full corpus: every id gets a cluster_id —
    * its component's min id, or itself when it has no near-dup pair. */
  def assignClusters(ids: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    ids.select(col(idCol))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  /** The dedup ACTION at cluster granularity: one survivor per cluster,
    * the argmax of (`score` desc, id asc) — prefer the richest member,
    * tie-break to the smallest id so the choice is deterministic and
    * append-stable. Input is `members` with (`idCol`, `clusterCol`,
    * `scoreCol`); output is one row per cluster: (cluster_id, keep_id,
    * kept_<score>, n_members) — the survivor manifest a delete pass
    * consumes. One hash aggregate on the cluster key; the argmax rides
    * a single max(struct) (id negated so asc tie-break survives max),
    * so no window / no second pass over the members. */
  def keepBestPerCluster(members: DataFrame, idCol: String,
      clusterCol: String, scoreCol: String): DataFrame = {
    // the negated-id tie-break needs a numeric id (a long cast would
    // crash on string ids under ANSI mode, or silently null the whole
    // survivor manifest with ANSI off) — fail loudly instead
    require(members.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"keepBestPerCluster needs a numeric '$idCol' for its tie-break; " +
        "got " + members.schema(idCol).dataType.simpleString)
    members
      .groupBy(col(clusterCol).as("cluster_id"))
      .agg(
        max(struct(
          col(scoreCol).as("_s"),
          (-col(idCol).cast("long")).as("_negid"))).as("_best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"),
        (-col("_best._negid")).as("keep_id"),
        col("_best._s").as(s"kept_$scoreCol"),
        col("n_members"))
  }

  /** Incremental cluster maintenance under append-only ingest: fold a
    * batch's new near-dup pairs into a STORED (id, cluster_id)
    * assignment without recomputing components over the indexed corpus.
    *
    * The stored assignment is treated as a CONTRACTED graph: each new
    * pair's endpoints map to their stored cluster roots (themselves for
    * unseen/batch ids), components run over the contracted edge list —
    * which is DELTA-sized, never corpus-sized — and the resulting
    * root→root moves replay onto the stored assignment as one
    * broadcast map-side join. Equivalence with a full recompute rests
    * on the append-only id discipline (batch ids all exceed stored
    * ids, asserted here like every stored-index append): component
    * minima then never move backward, so contracted min-labels equal
    * full-graph min-labels.
    *
    * Scale shape: the corpus-sized `stored` frame is touched exactly
    * twice, both map-only — a broadcast semi-join picking the ≤2·|pairs|
    * rows whose roots the contraction needs, and the final broadcast
    * root-remap. Everything else is delta-sized. The at-scale pair
    * GENERATOR for the batch is the banded incremental screen
    * (q91/q97); this operator is the assignment-maintenance step after
    * it. */
  def mergeIncremental(stored: DataFrame, idCol: String, clusterCol: String,
      newPairs: DataFrame, aCol: String, bCol: String,
      batchIds: DataFrame, batchIdCol: String): DataFrame = {
    val p = newPairs.select(col(aCol).as("_a"), col(bCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull)
      .transform(Checkpoints.stable) // referenced three times below; generate once
    // append-only discipline: without it contracted min-labels can
    // disagree with a full recompute (a small new id could become a
    // component's minimum without ever meeting the old root directly)
    // compared with the id column's OWN Spark ordering (a long cast
    // crashes on string ids under ANSI mode and silently disables the
    // guard with ANSI off). ONE action: the two single-row aggregates
    // cross-join and the comparison rides the same plan — the previous
    // three driver round trips (two agg jobs + a range(1) comparison
    // job) were pure scheduling latency on every merge call.
    val mm = stored.agg(max(col(idCol)).as("_mx"))
      .crossJoin(batchIds.agg(min(col(batchIdCol)).as("_mn")))
      .select(col("_mx"), col("_mn"), (col("_mn") > col("_mx")).as("_ok"))
      .head
    val ordered = mm.isNullAt(0) || mm.isNullAt(1) || mm.getBoolean(2)
    require(ordered,
      s"append-only id discipline violated: batch min id ${mm.get(1)} <= " +
        s"max stored id ${mm.get(0)}; run a full recompute instead")
    val endpoints = p.select(explode(array(col("_a"), col("_b"))).as("_rid"))
      .distinct()
    val touched = stored
      .select(col(idCol).as("_rid"), col(clusterCol).as("_root"))
      .join(broadcast(endpoints), Seq("_rid")) // corpus streams, no shuffle
      .transform(Checkpoints.stable) // delta-sized; feeds two broadcast builds — without
      // this the corpus-sized semi-join behind it would run once per build
    val contracted = p
      .join(broadcast(touched.select(col("_rid").as("_a"), col("_root").as("_ra"))),
        Seq("_a"), "left")
      .join(broadcast(touched.select(col("_rid").as("_b"), col("_root").as("_rb"))),
        Seq("_b"), "left")
      .select(coalesce(col("_ra"), col("_a")).as("_ca"),
        coalesce(col("_rb"), col("_b")).as("_cb"))
      .filter(col("_ca") =!= col("_cb"))
    // connectedComponents checkpoints its own copy of the contracted
    // edges and returns a frame that needs no recomputation (a select
    // over its last round's checkpoint, or local rows), so p and touched
    // are dead as soon as it returns
    val cc = connectedComponents(contracted, "_ca", "_cb")
    Checkpoints.release(p)
    Checkpoints.release(touched)
    val rootMap = cc.select(col("id").as("_oldroot"), col("cluster_id").as("_newroot"))
    val storedUpd = stored
      .select(col(idCol), col(clusterCol))
      .join(broadcast(rootMap), col(clusterCol) === col("_oldroot"), "left")
      .select(col(idCol),
        coalesce(col("_newroot"), col(clusterCol)).as(clusterCol))
    val batchAsg = batchIds.select(col(batchIdCol).as(idCol))
      .join(broadcast(cc.withColumnRenamed("id", idCol)), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as(clusterCol))
    storedUpd.unionByName(batchAsg)
  }
}
