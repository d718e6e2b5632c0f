package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Reference implementation: same integer recurrence on the driver. */
  private def refPageRank(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = out.view.mapValues(_.size.toLong).toMap
    var r = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val sums = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      out.foreach { case (src, dsts) =>
        val c = r(src) / deg(src)
        dsts.foreach(d => sums(d) += c)
      }
      r = deg.keys.map(n => n -> (150000L + 85L * sums(n) / 100L)).toMap
    }
    r
  }

  test("pageRankUndirectedMicro matches the integer recurrence bit-for-bit") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(300)((rnd.nextInt(40).toLong, (40 + rnd.nextInt(12)).toLong))
    val got = Graph.pageRankUndirectedMicro(
        pairs.toDF("a", "b"), "a", "b", 3)
      .select("node", "rank_micro").as[(Long, Long)].collect().toMap
    got shouldBe refPageRank(pairs, 3)
  }

  test("duplicate input pairs do not inflate degrees or ranks") {
    val pairs = Seq((1L, 2L), (1L, 2L), (2L, 3L))
    val got = Graph.pageRankUndirectedMicro(pairs.toDF("a", "b"), "a", "b", 2)
      .select("node", "deg", "rank_micro").as[(Long, Long, Long)].collect()
    got.map(r => r._1 -> r._2).toMap shouldBe Map(1L -> 1L, 2L -> 2L, 3L -> 1L)
    got.map(r => r._1 -> r._3).toMap shouldBe
      refPageRank(Seq((1L, 2L), (2L, 3L)), 2)
  }

  test("driver solve equals the distributed superstep loop bit-for-bit") {
    // The adaptive short-circuit (round-10 q126 scheduling-overhead
    // fix) must be output-indistinguishable from the declarative loop:
    // same deg, same rank_micro, on a graph with dupes and self-loops.
    val rnd = new scala.util.Random(13)
    val pairs = (Seq.fill(250)((rnd.nextInt(30).toLong, rnd.nextInt(36).toLong))
      :+ (5L, 5L)).toDF("a", "b")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("node", "deg", "rank_micro")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val driver = Graph.pageRankUndirectedMicro(pairs, "a", "b", 3)
    val dist = Graph.pageRankUndirectedMicro(pairs, "a", "b", 3,
      driverSolveMaxEdges = 0L)
    rows(driver) shouldBe rows(dist)
  }

  test("distributed PageRank: one job per superstep, none re-reading its state") {
    import org.apache.spark.graftbridge.JobLog
    val path = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    def jobs(k: Int) = JobLog.descriptions(spark.sparkContext)(
      Graph.pageRankUndirectedMicro(path, "a", "b", k, driverSolveMaxEdges = 0L))._2
    val (four, five) = (jobs(4), jobs(5))
    val setup = five.count(_ == "pageRankUndirectedMicro round 0")
    // the five supersteps are one action: one shuffle job each plus the
    // final stage; a persisted state would add two cache jobs per superstep
    five.drop(setup) shouldBe Seq.fill(6)("pageRankUndirectedMicro round 5")
    five.size - four.size shouldBe 1
  }

  test("the PageRank driver-solve gate launches no job beyond the input's materialisation") {
    import org.apache.spark.graftbridge.JobLog
    val sc = spark.sparkContext
    val pairs = Seq((1L, 2L), (2L, 3L), (2L, 3L)).toDF("a", "b")
    val input = JobLog.descriptions(sc)(Checkpoints.stable(
      pairs.select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull).distinct()))._2
    val driver = JobLog.descriptions(sc)(
      Graph.pageRankUndirectedMicro(pairs, "a", "b", 3))._2
    driver.size shouldBe input.size + 1 // + the solve's collect
  }

  test("higher-degree hubs accumulate more rank on a star graph") {
    // star: node 0 linked to 1..8 — the hub must outrank every leaf
    val pairs = (1L to 8L).map(i => (0L, i))
    val r = Graph.pageRankUndirectedMicro(pairs.toDF("a", "b"), "a", "b", 3)
      .select("node", "rank_micro").as[(Long, Long)].collect().toMap
    (1L to 8L).foreach(leaf => r(0L) should be > r(leaf))
  }
}

class EntropySpec extends SparkSpec {
  import spark.implicits._

  test("entropyProfile matches the explode/groupBy reference") {
    val docs = Seq(
      (1L, "a b c d e f g h"),          // all distinct
      (2L, "x x x x x x"),              // zero entropy
      (3L, "a a b b c c"),              // uniform over 3 types
      (4L, "the the the cat sat"),
      (5L, "t")).toDF("id", "text")
    val got = TextAnalysis.entropyProfile(docs, "id", "text")
      .select("id", "n_tokens", "n_distinct", "entropy_nats")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    def lnq(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6 + 0.5).toLong
    docs.as[(Long, String)].collect().foreach { case (id, text) =>
      val toks = text.split(" ").toSeq
      val n = toks.size.toLong
      val counts = toks.groupBy(identity).values.map(_.size.toLong)
      val emic = counts.map(c => c * (lnq(n) - lnq(c))).sum
      val (gid, gn, gd, ge) = got(id)
      gid shouldBe id
      gn shouldBe n
      gd shouldBe counts.size.toLong
      ge shouldBe (emic.toDouble / (n * 1e6)) +- 1e-12
    }
  }

  test("zero entropy for constant docs; ln(k) for uniform docs; norm in [0,1]") {
    val docs = Seq((1L, "x x x x"), (2L, "a b c d")).toDF("id", "text")
    val r = TextAnalysis.entropyProfile(docs, "id", "text")
      .select("id", "entropy_nats", "norm_entropy")
      .as[(Long, Double, Double)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    r(1L)._1 shouldBe 0.0
    r(1L)._2 shouldBe 0.0
    r(2L)._1 shouldBe math.log(4.0) +- 1e-5
    r(2L)._2 shouldBe 1.0 +- 1e-9
  }

  test("entropy scoring is map-only: no exchange in the plan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = Seq((1L, "a b a")).toDF("id", "text")
    val plan = TextAnalysis.entropyProfile(df, "id", "text")
      .queryExecution.executedPlan
    plan.collect { case e: ShuffleExchangeExec => e } shouldBe empty
  }
}

class HistogramGateSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = {
    val rnd = new scala.util.Random(3)
    (1 to 400).map { i =>
      val src = s"s${i % 4}"
      val words = Seq.fill(5 + rnd.nextInt(60))(s"w${rnd.nextInt(40)}")
      (i.toLong, src, words.mkString(" "))
    }.toDF("doc_id", "source", "text")
  }

  test("per-source survivors are >= 25% and all sit at or above the threshold bin") {
    val kept = Sampling.histogramQualityFilter(corpus, "source", "doc_id", "text")
    val bySrc = kept.groupBy("source")
      .agg(count(lit(1)).as("k"), min("src_n").as("n"),
        min(col("bin") >= col("thresh_bin")).as("ok"))
      .as[(String, Long, Long, Boolean)].collect()
    bySrc should have size 4
    bySrc.foreach { case (_, k, n, ok) =>
      ok shouldBe true
      (4L * k) should be >= n
    }
  }

  test("histogram survivors are a superset of the exact-rank gate's (q125)") {
    // exact rule: rank_d >= ceil(3(n-1)/4)+1 ⇒ cum(bin_d) > 3n/4 ⇒ kept here
    val hist = Sampling.histogramQualityFilter(corpus, "source", "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val exact = Sampling.adaptiveQualityFilter(corpus, "source", "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    exact.subsetOf(hist) shouldBe true
  }

  test("the threshold joins back map-side (broadcast, no corpus shuffle)") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Sampling.histogramQualityFilter(corpus, "source", "doc_id", "text")
        .queryExecution.executedPlan
      plan.collect { case b: BroadcastHashJoinExec => b } should not be empty
      // the only shuffles feed the bounded histogram/threshold branch
      // (aggregate + its window); the scored corpus branch reaches the
      // broadcast join unshuffled — no exchange keyed by doc rows
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      shuffles.size should be <= 2
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}

class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  // separable corpus: reference docs speak tokens r*, crawl docs c*
  private def labeled = {
    val rnd = new scala.util.Random(5)
    (1 to 300).map { i =>
      val pos = i % 2 == 0
      val vocab = if (pos) (0 to 30).map(j => s"r$j") else (0 to 30).map(j => s"c$j")
      val words = Seq.fill(20)(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, if (pos) "ref" else "crawl", words.mkString(" "))
    }.toDF("doc_id", "source", "text")
  }

  test("NB log-odds separates held-out reference docs from crawl docs") {
    val train = labeled.filter(col("doc_id") % 3 === 0)
    val apply = labeled.filter(col("doc_id") % 3 =!= 0)
    val (w, bias) = Classifier.trainNbMicro(train, "text", col("source") === "ref", 64)
    val scored = Classifier.scoreWithWeights(apply, "doc_id", "text", w, bias)
      .join(labeled.select("doc_id", "source"), "doc_id")
      .select("source", "keep").as[(String, Boolean)].collect()
    scored.foreach { case (src, keep) => keep shouldBe (src == "ref") }
  }

  test("stored model scores identically to in-memory weights") {
    val train = labeled.filter(col("doc_id") % 3 === 0)
    val apply = labeled.filter(col("doc_id") % 3 =!= 0)
    val (w, bias) = Classifier.trainNbMicro(train, "text", col("source") === "ref", 64)
    val dir = tmpDir("clf")
    Classifier.writeModelArtifact(spark, dir, w, bias)
    val inline = Classifier.scoreWithWeights(apply, "doc_id", "text", w, bias)
      .select("doc_id", "clf_score").as[(Long, Double)].collect().toMap
    val stored = Classifier.scoreWithStoredModel(spark, dir, apply, "doc_id", "text")
      .select("doc_id", "clf_score").as[(Long, Double)].collect().toMap
    stored shouldBe inline
  }

  test("scoring is map-only: no exchange in the plan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val (w, bias) = (Array.fill(64)(3L), 5L)
    val plan = Classifier.scoreWithWeights(
        Seq((1L, "a b")).toDF("id", "text"), "id", "text", w, bias)
      .queryExecution.executedPlan
    plan.collect { case e: ShuffleExchangeExec => e } shouldBe empty
  }
}

class HardNegativesSpec extends SparkSpec {
  import spark.implicits._

  // two tight clusters on opposite axes; labels split WITHIN each
  // cluster so every anchor has same-bucket different-label neighbors
  private def emb = {
    val rnd = new scala.util.Random(9)
    (1 to 60).map { i =>
      val base = if (i % 2 == 0) Array(1f, 1f, 1f, 1f) else Array(-1f, -1f, -1f, -1f)
      val v = base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f)
      (i.toLong, v.toSeq, i % 4 / 2) // labels 0/1 interleaved in both clusters
    }.toDF("vec_id", "embedding", "label")
  }

  test("negatives carry a different label, never the anchor itself, ranked by cosine") {
    val got = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      col("vec_id") % 5 === 0, 3, 4)
    val rows = got.select("anchor_id", "label_a", "cand_id", "label_b", "cos_sim", "neg_rank")
      .as[(Long, Int, Long, Int, Double, Long)].collect()
    rows should not be empty
    rows.foreach { case (a, la, c, lb, _, _) =>
      la should not be lb
      a should not be c
    }
    rows.groupBy(_._1).values.foreach { negs =>
      negs.map(_._6).sorted shouldBe (1L to negs.size)
      negs.sortBy(_._6).map(_._5).toSeq.sliding(2).foreach { w =>
        if (w.size == 2) w.head should be >= w(1)
      }
    }
  }

  test("candidate generation is bucket-equi-join — no nested loop, no cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val plan = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      col("vec_id") % 5 === 0, 3, 4).queryExecution.executedPlan
    plan.collect { case j: BroadcastNestedLoopJoinExec => j } shouldBe empty
    plan.collect { case j: CartesianProductExec => j } shouldBe empty
  }
}

class SourceOverlapSpec extends SparkSpec {
  import spark.implicits._

  test("identical sources agree on every component; disjoint ones on (almost) none") {
    val docs = Seq(
      (1L, "sa", "alpha beta gamma delta"),
      (2L, "sb", "alpha beta gamma delta"),   // sb ≡ sa
      (3L, "sc", "zq1 zq2 zq3 zq4 zq5 zq6")) // disjoint vocabulary
      .toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlapMinhash(docs, "source", "text", 16)
      .select("source_a", "source_b", "agree", "jaccard_milli")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    got(("sa", "sb")) shouldBe ((16L, 1000L))
    got(("sa", "sc"))._1 should be < 16L
    got.keySet shouldBe Set(("sa", "sb"), ("sa", "sc"), ("sb", "sc"))
  }

  test("group signature equals the signature of the concatenated group text") {
    // min over the union of doc token sets == min over a single doc
    // holding all the group's tokens — idempotence of the min-agg
    val split = Seq((1L, "g", "a b c"), (2L, "g", "c d e"))
      .toDF("doc_id", "source", "text")
    val merged = Seq((1L, "g", "a b c c d e")).toDF("doc_id", "source", "text")
    def sig(df: org.apache.spark.sql.DataFrame) =
      Dedup.sourceOverlapMinhash(
        df.union(Seq((9L, "other", "x y z")).toDF("doc_id", "source", "text")),
        "source", "text", 8)
        .select("source_a", "source_b", "agree").as[(String, String, Long)]
        .collect().toSet
    sig(split) shouldBe sig(merged)
  }
}
