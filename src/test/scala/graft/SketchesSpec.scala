package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(17)
  private val df = (1 to 20000)
    .map(i => (s"g${i % 2}", s"u${rnd.nextInt(5000)}", rnd.nextDouble() * 100))
    .toDF("g", "user", "v")

  test("approxDistinct is within rsd of the exact distinct count per group") {
    val exact = df.groupBy("g").agg(countDistinct("user").as("d"))
      .as[(String, Long)].collect().toMap
    val approx = Sketches.approxDistinct(df, Seq("g"), "user", rsd = 0.02)
      .as[(String, Long)].collect().toMap
    approx.keySet shouldBe exact.keySet
    exact.foreach { case (g, d) =>
      approx(g).toDouble shouldBe d.toDouble +- d * 0.06 // 3×rsd head-room
    }
  }

  test("approxQuantiles brackets the true median") {
    val got = Sketches.approxQuantiles(df, Seq("g"), "v", Seq(0.1, 0.5, 0.9))
      .as[(String, Seq[Double])].collect().toMap
    got.values.foreach { qs =>
      qs should have length 3
      qs(0) should be < qs(1)
      qs(1) shouldBe 50.0 +- 5.0 // uniform [0,100) median
      qs(1) should be < qs(2)
    }
  }

  // --- KMV: the oracle-exact mergeable cardinality sketch ------------

  /** Synthetic corpus: 4 sources, ~25-token docs over per-source token
    * pools sized so the distinct 3-gram universe is well above k. */
  private val kmvDocs = {
    val r = new scala.util.Random(41)
    (1 to 800).map { i =>
      val src = s"s${i % 4}"
      val toks = (1 to 25).map(_ => s"w${i % 4}_${r.nextInt(40)}")
      (i.toLong, src, toks.mkString(" "))
    }.toDF("doc_id", "source", "text")
  }

  test("kmvDistinct tracks the exact distinct shingle count per group") {
    val k = 128
    val exact = kmvDocs
      .select(col("source"), explode(
        graft.operators.Dedup.distinctShingles(col("text"), 3)).as("g"))
      .distinct()
      .groupBy("source").agg(countDistinct("g").as("d"))
      .as[(String, Long)].collect().toMap
    exact.values.foreach(_ should be > k.toLong) // estimation is active
    val est = Sketches.kmvDistinct(kmvDocs, "source", "text", 3, k)
      .select("source", "est_distinct").as[(String, Double)].collect().toMap
    est.keySet shouldBe exact.keySet
    exact.foreach { case (g, d) => // 1/sqrt(128) ≈ 8.8% rsd; 3σ headroom
      est(g) shouldBe d.toDouble +- d * 0.27
    }
  }

  test("kmvDistinct falls back to the exact count when the universe fits in k") {
    val small = kmvDocs.filter(col("doc_id") <= 3)
    val exact = small
      .select(col("source"), explode(
        graft.operators.Dedup.distinctShingles(col("text"), 3)).as("g"))
      .distinct().groupBy("source").agg(countDistinct("g").as("d"))
      .as[(String, Long)].collect().toMap
    val got = Sketches.kmvDistinct(small, "source", "text", 3, 4096)
      .select("source", "k_used", "est_distinct")
      .as[(String, Long, Double)].collect()
    got.foreach { case (g, kUsed, est) =>
      kUsed shouldBe exact(g)
      est shouldBe exact(g).toDouble
    }
  }

  test("kmvSketch (one bounded aggregate) is bit-identical to the windowed twin") {
    // round-16 parity pin: the partial-combined KmvMinsAggregator path
    // must reproduce the retired 3-exchange windowed top-k exactly —
    // same ≤k ascending distinct minima per group, for k above and
    // below the per-group universe
    for (k <- Seq(8, 64, 4096)) {
      val fast = Sketches.kmvSketch(kmvDocs, "source", "text", 3, k)
        .as[(String, Seq[Long])].collect().toMap
      val windowed = Sketches.kmvSketchWindowed(kmvDocs, "source", "text", 3, k)
        .as[(String, Seq[Long])].collect().toMap
      withClue(s"k=$k: ") { fast shouldBe windowed }
    }
  }

  test("kmvMerge of per-segment sketches equals the sketch of the union") {
    val k = 64
    val segments = (0 to 2).map(m => Sketches.kmvSketch(
      kmvDocs.filter(col("doc_id") % 3 === m), "source", "text", 3, k))
    val merged = Sketches.kmvMerge(segments.reduce(_ unionByName _), "source", k)
      .as[(String, Seq[Long])].collect().toMap
    val global = Sketches.kmvSketch(kmvDocs, "source", "text", 3, k)
      .as[(String, Seq[Long])].collect().toMap
    merged shouldBe global
    // and the estimate off the merged sketch matches the direct one
    val estMerged = Sketches.kmvSketchEstimate(
      Sketches.kmvMerge(segments.reduce(_ unionByName _), "source", k), "source", k)
      .select("source", "est_distinct").as[(String, Double)].collect().toMap
    val estDirect = Sketches.kmvDistinct(kmvDocs, "source", "text", 3, k)
      .select("source", "est_distinct").as[(String, Double)].collect().toMap
    estMerged shouldBe estDirect
  }

  test("stored KMV snapshot: write + appends fold to the direct estimate") {
    val dir = tmpDir("kmv_snap")
    Sketches.writeKmvSnapshot(spark,
      kmvDocs.filter(col("doc_id") <= 300), "doc_id", "source", "text", 3, 64, dir)
    Sketches.appendToKmvSnapshot(spark, dir,
      kmvDocs.filter(col("doc_id") > 300 && col("doc_id") <= 600),
      "doc_id", "source", "text")
    Sketches.appendToKmvSnapshot(spark, dir,
      kmvDocs.filter(col("doc_id") > 600), "doc_id", "source", "text")
    val folded = Sketches.readKmvSnapshot(spark, dir, "source")
      .orderBy("source").collect()
    val direct = Sketches.kmvDistinct(kmvDocs, "source", "text", 3, 64)
      .orderBy("source").collect()
    folded shouldBe direct
    // re-appending already-sketched rows violates the id watermark
    an[IllegalArgumentException] should be thrownBy
      Sketches.appendToKmvSnapshot(spark, dir,
        kmvDocs.filter(col("doc_id") <= 300), "doc_id", "source", "text")
  }

  test("merged HLL partials estimate the global distinct without re-reading data") {
    // stage 1: one sketch per (g, bucket) — the "per-day partials"
    val partials = Sketches.hllPartials(
      df.withColumn("bucket", (rand(7) * 10).cast("int")), Seq("g", "bucket"), "user")
    partials.count() shouldBe 20 // 2 groups × 10 buckets
    // stage 2: merge per group; estimate must track the exact count
    val merged = Sketches.hllMerge(partials, Seq("g"))
      .as[(String, Long)].collect().toMap
    val exact = df.groupBy("g").agg(countDistinct("user").as("d"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (g, d) =>
      merged(g).toDouble shouldBe d.toDouble +- d * 0.1
    }
  }
}
