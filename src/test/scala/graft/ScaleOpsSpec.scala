package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, SkewJoin, StoredIndex}
import graft.sources.Bucketed

class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  test("salted join returns exactly the plain join's rows on skewed data") {
    // one hot key carrying 90% of rows
    val large = ((1 to 900).map(_ => ("hot", 1.0)) ++ (1 to 100).map(i => (s"k$i", 2.0)))
      .toDF("k", "v")
    val dim = (Seq("hot") ++ (1 to 100).map(i => s"k$i")).zipWithIndex
      .map { case (k, i) => (k, s"name$i") }.toDF("k", "name")
    val plain = large.join(dim, Seq("k")).groupBy("k").count()
      .as[(String, Long)].collect().toMap
    val salted = SkewJoin.saltedEqui(large, dim, Seq("k"), salt = 8)
      .groupBy("k").count().as[(String, Long)].collect().toMap
    salted shouldBe plain
    salted("hot") shouldBe 900L
  }
}

class BucketedSpec extends SparkSpec {

  test("join of two co-bucketed tables plans without a shuffle exchange") {
    import spark.implicits._
    val facts = (1 to 1000).map(i => (i % 50, s"f$i")).toDF("key", "payload")
    val dims = (0 until 50).map(i => (i, s"d$i")).toDF("key", "attr")
    Bucketed.write(facts, "graft_bucket_facts", Seq("key"), 4)
    Bucketed.write(dims, "graft_bucket_dims", Seq("key"), 4)
    try {
      // disable broadcast so the join would normally shuffle both sides
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketed.read(spark, "graft_bucket_facts")
        .join(Bucketed.read(spark, "graft_bucket_dims"), Seq("key"))
      joined.count() shouldBe 1000
      val plan = joined.queryExecution.executedPlan.toString
      plan should not include "Exchange hashpartitioning"
      plan should include("SortMergeJoin")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_facts")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_dims")
    }
  }
}

/** Test codec for the [[graft.operators.MediaDecoder]] seam: every
  * payload decodes to the all-ones vector, so activating it is
  * observable end-to-end (every pair bands-collides at l1=0) while the
  * distributed machinery stays byte-identical. Top-level and zero-arg
  * so `-Dgraft.media.decoder=<this>` resolves it reflectively — exactly
  * how a real JPEG/PCM codec class would land. */
class ConstantTestDecoder extends graft.operators.MediaDecoder {
  val id = "constant-test"
  def featuresMicro(payload: org.apache.spark.sql.Column, dim: Int) =
    transform(sequence(lit(1), lit(dim)), _ => lit(1L))
  def decode(bytes: Array[Byte], dim: Int): Array[Float] = Array.fill(dim)(1f)
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("fakeDecodeFeatures attaches a dim-float vector per payload via mapPartitions") {
    val df = Seq((1L, "hello world"), (2L, "")).toDF("doc_id", "text")
    val withBin = Multimodal.attachPayload(df, "text", "text")
    val decoded = Multimodal.fakeDecodeFeatures(withBin, "doc_id", "media", dim = 4)
    val rows = decoded.select("doc_id", "features")
      .as[(Long, Seq[Float])].collect().toMap
    rows(1L) should have length 4
    all(rows(1L)) should (be >= 0f and be <= 1f)
    rows(2L) shouldBe Seq(0f, 0f, 0f, 0f) // empty payload → zero vector
    // deterministic stub: same payload, same features
    Multimodal.stubDecode("hello world".getBytes("UTF-8"), 4).toSeq shouldBe rows(1L)
    // decode is one narrow typed mapPartitions stage: the full row rides
    // through — no join-back on id, no shuffle
    val plan = decoded.queryExecution.executedPlan.toString
    plan should include("MapPartitions")
    plan should not include "Join"
    plan should not include "Exchange"
  }

  test("mediaNearDupPairs: planted near-dup collides in a band, verify gates on L1") {
    // 16-char payloads, dim=4 → window 4: doc1 windows sum to
    // (388,392,396,400); doc2 edits ONE tail char (d→e: 400→401, l1=1);
    // doc3 is an exact copy; doc6 shares only the first two windows
    // (l1=180 — a band collision the L1 verify must reject); doc5 null.
    val df = Seq(
      (1L, "aaaabbbbccccdddd"),
      (2L, "aaaabbbbccccddde"),
      (3L, "aaaabbbbccccdddd"),
      (6L, "aaaabbbbzzzzzzzz"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val withBin = Multimodal.attachPayload(
      df.filter(col("text").isNotNull), "text", "text")
    // exact-integer features mirror the documented window-sum contract
    withBin.filter(col("doc_id") === 1L)
      .select(Multimodal.stubFeaturesMicro(col("media"), 4))
      .as[Seq[Long]].head() shouldBe Seq(388L, 392L, 396L, 400L)
    // the native CharWindowSums expression equals the composed
    // split+ascii+fold reference element-wise — including multi-byte
    // code points (é = 233, 𝄞 = 0x1D11E counts ONE position), empty
    // strings, and lengths below/above dim
    val probe = Seq("", "a", "aaaabbbbccccdddd", "héllo wörld",
      "abé𝄞cd", "x" * 37).toDF("s")
    val both = probe.select(
      Multimodal.stubFeaturesMicro(col("s"), 4).as("native"),
      Multimodal.stubFeaturesMicroComposed(col("s"), 4).as("composed"))
      .as[(Seq[Long], Seq[Long])].collect()
    both.foreach { case (n, c) => n shouldBe c }
    val pairs = Multimodal.mediaNearDupPairs(withBin, "doc_id", "media",
      dim = 4, bandSize = 2, maxL1 = 50L)
    val got = pairs.orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    got shouldBe Seq(
      (1L, 2L, 1L, false), // planted near-edit: band 0 collides, l1=1
      (1L, 3L, 0L, true),  // exact dup: l1=0, content hashes equal
      (2L, 3L, 1L, false))
    // candidates come from the band equi-join, never all-pairs; each
    // pair is emitted from its FIRST agreeing band with the verify
    // inline — no pair-keyed Exchange+HashAggregate (distinct) anywhere
    val plan = pairs.queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "HashAggregate"
  }

  test("probe registry enforces the exemplar contract: dims, id discipline, capacity") {
    // the registry is a bounded exemplar set under the StoredIndex
    // append discipline — every violation fails LOUDLY at
    // registration, so the route side can trust a model-sized,
    // geometry-consistent probe set forever
    def probes(rows: (Long, Seq[Long])*) = rows.toDF("doc_id", "_pv")
    val dir = tmpDir("t_registry_contract")
    // wrong-width vector refused at write
    intercept[IllegalArgumentException] {
      Multimodal.writeProbeRegistry(spark,
        probes(1L -> Seq(1L, 2L, 3L)), "doc_id", "_pv", 4, 2, dir)
    }.getMessage should include("dim")
    Multimodal.writeProbeRegistry(spark,
      probes(1L -> Seq(1L, 2L, 3L, 4L), 5L -> Seq(9L, 9L, 9L, 9L)),
      "doc_id", "_pv", 4, 2, dir)
    // append-only id discipline: a batch at-or-below the watermark is
    // refused (it would diverge from a rebuild over the union)
    intercept[IllegalArgumentException] {
      Multimodal.appendToProbeRegistry(spark, dir,
        probes(5L -> Seq(1L, 1L, 1L, 1L)), "doc_id", "_pv")
    }.getMessage should include("append-only")
    // wrong-width vector refused at append too (fail-fast prepare:
    // the meta must NOT be left pending by a validation failure)
    intercept[IllegalArgumentException] {
      Multimodal.appendToProbeRegistry(spark, dir,
        probes(7L -> Seq(1L, 2L)), "doc_id", "_pv")
    }
    Multimodal.appendToProbeRegistry(spark, dir,
      probes(7L -> Seq(2L, 2L, 3L, 4L)), "doc_id", "_pv")
    // registry contents = write ∪ appends, read back in id order
    spark.read.parquet(s"$dir/probes").select("probe_id")
      .as[Long].collect().sorted shouldBe Seq(1L, 5L, 7L)
    // cumulative 1024-probe capacity: an append that would blow the
    // bound is refused BEFORE anything lands
    val big = spark.range(100, 1130)
      .select(col("id").as("doc_id"),
        array(lit(1L), lit(1L), lit(1L), lit(1L)).as("_pv"))
    intercept[IllegalArgumentException] {
      Multimodal.appendToProbeRegistry(spark, dir, big, "doc_id", "_pv")
    }.getMessage should include("capacity")
    spark.read.parquet(s"$dir/probes").count() shouldBe 3L
  }

  test("registry compaction folds segments and deregisters without breaking the id discipline") {
    def probes(rows: (Long, Seq[Long])*) = rows.toDF("doc_id", "_pv")
    val dir = tmpDir("t_registry_compact")
    Multimodal.writeProbeRegistry(spark,
      probes(1L -> Seq(10L, 20L, 30L, 40L)), "doc_id", "_pv", 4, 2, dir)
    Multimodal.appendToProbeRegistry(spark, dir,
      probes(5L -> Seq(11L, 20L, 30L, 40L)), "doc_id", "_pv")
    Multimodal.appendToProbeRegistry(spark, dir,
      probes(9L -> Seq(90L, 91L, 92L, 93L)), "doc_id", "_pv")
    val arrivals = probes(
      20L -> Seq(10L, 20L, 30L, 40L), 21L -> Seq(90L, 91L, 92L, 99L))
    def route() = Multimodal.routeAgainstProbeRegistry(spark, dir,
        arrivals.select(col("doc_id"),
          // re-encode a payload whose features equal _pv: 4 chars, one
          // per window — chr(code) per feature
          concat((0 until 4).map(i =>
            expr(s"chr(_pv[$i])")): _*).cast("binary").as("media")),
        "doc_id", "media", maxL1 = 10L)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val before = route()
    before.map(_._1).distinct.sorted shouldBe Seq(1L, 5L, 9L)
    // PURE compaction: three segments fold to one, routing identical
    Multimodal.compactProbeRegistry(spark, dir)
    new java.io.File(s"$dir/probes").list().count(_.startsWith("seg=")) shouldBe 1
    route() shouldBe before
    // deregister probe 5: its routes vanish, everyone else's survive
    Multimodal.compactProbeRegistry(spark, dir, dropIds = Set(5L))
    route() shouldBe before.filterNot(_._1 == 5L)
    // the HISTORICAL watermark survives deregistration: appending a
    // fresh id works, re-registering a dropped or pre-watermark id
    // fails — a recycled id would diverge from rebuild equivalence
    Multimodal.appendToProbeRegistry(spark, dir,
      probes(10L -> Seq(1L, 2L, 3L, 4L)), "doc_id", "_pv")
    intercept[IllegalArgumentException] {
      Multimodal.appendToProbeRegistry(spark, dir,
        probes(5L -> Seq(1L, 1L, 1L, 1L)), "doc_id", "_pv")
    }.getMessage should include("append-only")
    // refusing to empty the registry
    intercept[IllegalArgumentException] {
      Multimodal.compactProbeRegistry(spark, dir,
        dropIds = Set(1L, 9L, 10L))
    }.getMessage should include("unroutable")
  }

  test("compaction refuses a pending-meta registry (crashed-append crash fence)") {
    // round-14 advice: a compaction folding dir/probes while a crashed
    // append's PARTIAL segment sits behind a pending meta would commit
    // the partial batch into seg=0 and rewrite meta pending=false —
    // silently clearing the fence guardedAppend exists for. The
    // compaction must fail loudly until the operator repairs the meta.
    def probes(rows: (Long, Seq[Long])*) = rows.toDF("doc_id", "_pv")
    val dir = tmpDir("t_registry_pending_fence")
    Multimodal.writeProbeRegistry(spark,
      probes(1L -> Seq(10L, 20L, 30L, 40L)), "doc_id", "_pv", 4, 2, dir)
    // simulate the crash window: meta marked pending at a new watermark
    // (exactly what guardedAppendPrepared writes before the data lands)
    StoredIndex.writeMaxIdMeta(spark, dir, 7L, pending = true)
    intercept[IllegalArgumentException] {
      Multimodal.compactProbeRegistry(spark, dir)
    }.getMessage should include("pending")
    // appends are fenced by the same flag (existing contract)
    intercept[IllegalArgumentException] {
      Multimodal.appendToProbeRegistry(spark, dir,
        probes(9L -> Seq(1L, 2L, 3L, 4L)), "doc_id", "_pv")
    }.getMessage should include("pending")
    // operator repair: verify the data, clear the marker at the
    // verified watermark — compaction then proceeds
    StoredIndex.writeMaxIdMeta(spark, dir, 1L)
    Multimodal.compactProbeRegistry(spark, dir)
    spark.read.parquet(s"$dir/probes").count() shouldBe 1L
  }

  test("registry WRITE validates probe ids like the append path (nulls, duplicates)") {
    // round-14 advice: without write-path id validation, a null or
    // duplicate probe_id persists a corrupt registry that only fails
    // later at route time with no hint the stored artifact is bad
    val dir = tmpDir("t_registry_write_ids")
    val dup = Seq((1L, Seq(1L, 2L, 3L, 4L)), (1L, Seq(5L, 6L, 7L, 8L)))
      .toDF("doc_id", "_pv")
    intercept[IllegalArgumentException] {
      Multimodal.writeProbeRegistry(spark, dup, "doc_id", "_pv", 4, 2, dir)
    }.getMessage should include("duplicate")
    val withNull = Seq((java.lang.Long.valueOf(2L), Seq(1L, 2L, 3L, 4L)),
        (null.asInstanceOf[java.lang.Long], Seq(5L, 6L, 7L, 8L)))
      .toDF("doc_id", "_pv")
    intercept[IllegalArgumentException] {
      Multimodal.writeProbeRegistry(spark, withNull, "doc_id", "_pv", 4, 2, dir)
    }.getMessage should include("null")
    // nothing landed: both violations failed BEFORE any write
    new java.io.File(dir, "probes").exists() shouldBe false
  }

  test("binary-bytes fixture: the codec seam survives genuine non-UTF-8 payloads end-to-end") {
    // A driver-style fixture table with TRUE binary payloads — lone
    // continuation bytes, an overlong-encoding prefix, NUL and 0xFF
    // runs — parquet-written and read back, so the whole
    // source→scan→decode→band→verify seam runs on bytes that are NOT a
    // valid character stream (attachPayload is the text-fixture shim;
    // real pipelines land binary straight from the source). A real
    // codec swap changes stubDecode's body only; everything pinned
    // here is the plumbing around it.
    def bin(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
    // ASCII head + invalid-UTF-8 tail: the head's byte positions map
    // 1:1 onto decoded char positions regardless of how many
    // replacement chars the invalid tail decodes to, so a HEAD edit
    // shifts exactly one window sum by exactly 1 (a TAIL edit can fall
    // in the ignored len-beyond-dim·window remainder — the window rule
    // stubFeaturesMicro documents)
    val p1 = bin(0x41, 0x41, 0x41, 0x41, 0x42, 0x42, 0x42, 0x42,
      0xC3, 0x28, 0x00, 0xFF, 0x80, 0x81, 0xF0, 0x90)
    val p2 = p1.clone(); p2(0) = 0x42.toByte // one ASCII head edit: A→B
    val p3 = p1.clone()                      // exact binary dup
    val p4 = Array.fill(16)(0x7A.toByte)     // unrelated ("zzzz...")
    val dir = tmpDir("t_binary_fixture")
    Seq((1L, p1), (2L, p2), (3L, p3), (4L, p4))
      .toDF("doc_id", "media").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    // 1. metadata is BYTE-true: size counts raw bytes (not decoded
    //    chars — the invalid sequences would collapse under a decode),
    //    and the content hash is the md5 of the raw bytes
    val meta = Multimodal.extractMeta(df, "media")
      .select("doc_id", "size_bytes", "content_hash")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    meta(1L)._1 shouldBe 16L
    val md = java.security.MessageDigest.getInstance("MD5")
    meta(1L)._2 shouldBe md.digest(p1).map("%02x".format(_)).mkString
    // identical bytes hash equal; the one-byte edit does not
    meta(3L)._2 shouldBe meta(1L)._2
    meta(2L)._2 should not be meta(1L)._2
    // 2. the decode stage consumes RAW bytes: the distributed
    //    mapPartitions codec equals the driver-side stub on the same
    //    byte array (this is the seam a JPEG/PCM decoder replaces)
    val feats = Multimodal.fakeDecodeFeatures(df, "doc_id", "media", dim = 4)
      .select("doc_id", "features").as[(Long, Seq[Float])].collect().toMap
    feats(1L) shouldBe Multimodal.stubDecode(p1, 4).toSeq
    feats(4L) shouldBe Multimodal.stubDecode(p4, 4).toSeq
    // 3. band → verify on the binary payloads: the exact dup verifies
    //    hash-equal at l1=0; the tail edit decodes to an equal-length
    //    char stream differing in ONE code point by 1 (the invalid
    //    prefix decodes identically on both sides), so it verifies at
    //    exactly l1=1 with hashes apart; the unrelated payload never
    //    pairs
    val pairs = Multimodal.mediaNearDupPairs(df, "doc_id", "media",
        dim = 4, bandSize = 2, maxL1 = 50L)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    pairs shouldBe Seq(
      (1L, 2L, 1L, false),
      (1L, 3L, 0L, true),
      (2L, 3L, 1L, false))
    // 4. the stored-index round trip (build over the binary corpus,
    //    bloom screen + banded probe) routes a binary arrival too
    val idxDir = tmpDir("t_binary_fixture_idx")
    Multimodal.writeMediaDupIndex(spark,
      df.filter(col("doc_id") =!= 2L), "doc_id", "media", 4, 2, idxDir)
    val cut = Multimodal.mediaScreenCut(spark, idxDir,
        df.filter(col("doc_id") === 2L), "doc_id", "media", maxL1 = 50L)
      .as[(Long, String, Option[Long], Option[Long])].collect().toSeq
    cut shouldBe Seq((2L, "cut", Some(1L), Some(1L)))
  }

  test("media decoder seam: a custom codec flows through the machinery; stored artifacts fence codec identity") {
    import graft.operators.MediaDecoders
    // default resolution: unset property means the window-sum stub
    sys.props.remove(MediaDecoders.Property)
    MediaDecoders.active.id shouldBe MediaDecoders.WindowSums.id
    val docs = Seq((1L, "aaaabbbb"), (2L, "ccccdddd"), (3L, "aaaabbbb"))
      .toDF("doc_id", "text")
    val media = Multimodal.attachPayload(docs, "text", "text")
    // under the default codec only the exact pair (1,3) bands-collide
    def pairs() = Multimodal.mediaNearDupPairs(media, "doc_id", "media",
        dim = 4, bandSize = 2, maxL1 = 0L)
      .orderBy("id_a", "id_b").as[(Long, Long, Long, Boolean)].collect().toSeq
    pairs() shouldBe Seq((1L, 3L, 0L, true))
    // a stored index + registry written under the default codec
    val idxDir = tmpDir("t_decoder_seam_idx")
    Multimodal.writeMediaDupIndex(spark, media, "doc_id", "media", 4, 2, idxDir)
    val regDir = tmpDir("t_decoder_seam_reg")
    Multimodal.writeProbeRegistry(spark,
      media.select(col("doc_id"),
        MediaDecoders.active.featuresMicro(col("media"), 4).as("_pv")),
      "doc_id", "_pv", 4, 2, regDir)
    try {
      // activate the constant test codec: EVERY payload decodes to the
      // same vector, so every pair bands-collides at l1=0 — the swap is
      // observable end-to-end through the unchanged machinery
      sys.props(MediaDecoders.Property) = classOf[ConstantTestDecoder].getName
      MediaDecoders.active.id shouldBe "constant-test"
      pairs() shouldBe Seq(
        (1L, 2L, 0L, false), (1L, 3L, 0L, true), (2L, 3L, 0L, false))
      // the float decode path picks the codec up too
      Multimodal.fakeDecodeFeatures(media, "doc_id", "media", 4)
        .select(col("features")).as[Seq[Float]].head() shouldBe Seq(1f, 1f, 1f, 1f)
      // CODEC FENCE: artifacts banded under window-sums refuse a probe
      // under the constant codec — the mismatch would otherwise be a
      // silent 100% false-negative rate, never an error
      intercept[IllegalArgumentException] {
        Multimodal.mediaNearDupAgainstStored(spark, idxDir, media,
          "doc_id", "media", maxL1 = 0L)
      }.getMessage should include("decoder")
      intercept[IllegalArgumentException] {
        Multimodal.routeAgainstProbeRegistry(spark, regDir, media,
          "doc_id", "media", maxL1 = 0L)
      }.getMessage should include("decoder")
      // the stream screen's meta read fences too — the raw bloom
      // predicate would otherwise pass EVERY payload silently under a
      // foreign codec (no band can ever hit)
      intercept[IllegalArgumentException] {
        Multimodal.readScreenMeta(spark, idxDir)
      }.getMessage should include("decoder")
      // an unknown class fails loudly at resolution
      sys.props(MediaDecoders.Property) = "graft.NoSuchDecoder"
      intercept[IllegalArgumentException] { MediaDecoders.active }
    } finally sys.props.remove(MediaDecoders.Property)
    // back on the default codec, the stored artifacts probe again
    Multimodal.mediaNearDupAgainstStored(spark, idxDir, media,
      "doc_id", "media", maxL1 = 0L).count() should be > 0L
  }

  test("stored media-dup index: probe matches the frozen corpus, ships no payloads") {
    // ref corpus: doc 1 (and its exact copy 3); probes: 10 = near-edit
    // of 1 (band 0 collides, l1=1), 11 = clean (no band match), 12 =
    // exact copy of 1 (l1=0, hash-equal), 13 = band collision the L1
    // gate rejects
    val ref = Seq(
      (1L, "aaaabbbbccccdddd"), (3L, "aaaabbbbccccdddd"),
      (5L, "mmmmnnnnoooopppp")).toDF("doc_id", "text")
    val probes = Seq(
      (10L, "aaaabbbbccccddde"), (11L, "zzzzyyyyxxxxwwww"),
      (12L, "aaaabbbbccccdddd"), (13L, "aaaabbbbzzzzzzzz"))
      .toDF("doc_id", "text")
    def media(df: org.apache.spark.sql.DataFrame) =
      Multimodal.attachPayload(df, "text", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_media_idx").toString
    Multimodal.writeMediaDupIndex(spark, media(ref), "doc_id", "media",
      dim = 4, bandSize = 2, dir)
    val probeDf = Multimodal.mediaNearDupAgainstStored(spark, dir,
      media(probes), "doc_id", "media", maxL1 = 50L)
    val got = probeDf.orderBy("id_a", "id_b")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    got shouldBe Seq(
      (10L, 1L, 1L, false), (10L, 3L, 1L, false),
      (12L, 1L, 0L, true), (12L, 3L, 0L, true))
    // probe verify is inline on the band join: one stored-bands scan,
    // no pair-keyed distinct, no re-join against dir/feats
    val probePlan = probeDf.queryExecution.executedPlan.toString
    probePlan should not include "HashAggregate"
    "feats".r.findAllIn(probePlan).size shouldBe 0
    // the artifact ships hashes/features/bands only — no payload bytes;
    // band rows carry the vector/hash so a probe's verify is row-local
    spark.read.parquet(s"$dir/feats").columns.toSet shouldBe
      Set("_id", "_h", "_f")
    spark.read.parquet(s"$dir/bands").columns.toSet shouldBe
      Set("_id", "_f", "_h", "_band", "_key")
    // the end-to-end screen→verify→cut decision: one row per arrival;
    // bloom false positives (13's band collision) die in the exact L1
    // verify, null payloads keep (nullity gating is upstream's job)
    val arrivals = Seq(
      (10L, "aaaabbbbccccddde"), (11L, "zzzzyyyyxxxxwwww"),
      (12L, "aaaabbbbccccdddd"), (13L, "aaaabbbbzzzzzzzz"),
      (14L, null.asInstanceOf[String])).toDF("doc_id", "text")
    Multimodal.mediaScreenCut(spark, dir, media(arrivals), "doc_id",
        "media", maxL1 = 50L)
      .orderBy("doc_id")
      .as[(Long, String, Option[Long], Option[Long])].collect().toSeq shouldBe Seq(
        (10L, "cut", Some(1L), Some(1L)),  // best match: lowest l1, ties → lowest id
        (11L, "keep", None, None),
        (12L, "cut", Some(1L), Some(0L)),
        (13L, "keep", None, None),         // band collision, L1-rejected
        (14L, "keep", None, None))         // null payload passes through
    // an empty reference fails fast instead of landing a null bloom
    an[IllegalArgumentException] should be thrownBy
      Multimodal.writeMediaDupIndex(spark,
        media(ref.filter(col("doc_id") < 0)), "doc_id", "media", 4, 2,
        java.nio.file.Files.createTempDirectory("graft_media_idx2").toString)
  }

  test("sampleChunks keeps every stride-th fixed-size chunk (frame sampling shape)") {
    val df = Seq((1L, "abcdefghij")).toDF("id", "text") // 10 bytes
    val withBin = df.withColumn("media", encode(col("text"), "UTF-8"))
    val chunks = Multimodal.sampleChunks(withBin, "id", "media", chunkBytes = 3, stride = 2)
      .select(col("chunk_id"), col("chunk").cast("string"))
      .as[(Int, String)].collect().sortBy(_._1)
    // chunks: 0:"abc" 1:"def" 2:"ghi" 3:"j" → stride 2 keeps 0 and 2
    chunks shouldBe Array((0, "abc"), (2, "ghi"))
  }
}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._
  import java.sql.Timestamp
  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("lastBefore picks the latest reference row at-or-before each probe row per key") {
    val left = Seq(
      (1L, "u1", ts("2024-01-01 10:00:00")),
      (2L, "u1", ts("2024-01-01 10:05:00")),
      (3L, "u1", ts("2024-01-01 10:10:00")),
      (4L, "u2", ts("2024-01-01 10:00:00"))).toDF("id", "k", "ts")
    val right = Seq(
      ("u1", ts("2024-01-01 10:05:00"), 50.0), // equal ts → matches row 2
      ("u1", ts("2024-01-01 10:07:00"), 70.0),
      ("u3", ts("2024-01-01 09:00:00"), 90.0)).toDF("k", "ts", "v")
    val got = graft.operators.AsOfJoin.lastBefore(left, right, Seq("k"), "ts", Seq("v"))
      .select("id", "asof_v").as[(Long, Option[Double])].collect().toMap
    got shouldBe Map(
      1L -> None,        // before any reference row
      2L -> Some(50.0),  // equality matches (ASOF >= semantics)
      3L -> Some(70.0),  // latest preceding wins
      4L -> None)        // no reference rows for this key
  }

  test("the latest match's null value stays null; null-ts reference rows never match") {
    val left = Seq((1L, "k", ts("2024-01-01 10:10:00"))).toDF("id", "k", "ts")
    val right = Seq(
      ("k", Some(ts("2024-01-01 10:00:00")), Some(5.0), Some("a")),
      // latest matching row: v is GENUINELY null — the old per-column
      // ignoreNulls carry fell back to the stale 5.0 (and mixed this
      // row's w with the older row's v)
      ("k", Some(ts("2024-01-01 10:05:00")), Option.empty[Double], Some("b")),
      // null-ts reference row: unmatchable, must not hijack the window
      ("k", Option.empty[Timestamp], Some(99.0), Some("x")))
      .toDF("k", "ts", "v", "w")
    val got = graft.operators.AsOfJoin
      .lastBefore(left, right, Seq("k"), "ts", Seq("v", "w"))
      .select("id", "asof_v", "asof_w")
      .as[(Long, Option[Double], Option[String])].collect()
    got shouldBe Array((1L, None, Some("b"))) // one row, no cross-row mixing
  }

  test("NULL join keys never match (join semantics, not window-partition semantics)") {
    val left = Seq((1L, Option.empty[String], ts("2024-01-01 10:00:00")))
      .toDF("id", "k", "ts")
    val right = Seq((Option.empty[String], ts("2024-01-01 09:00:00"), 7.0))
      .toDF("k", "ts", "v")
    val got = graft.operators.AsOfJoin.lastBefore(left, right, Seq("k"), "ts", Seq("v"))
      .select("id", "asof_v").as[(Long, Option[Double])].collect()
    got shouldBe Array((1L, None)) // null keys must not pair up
  }
}

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._
  import java.sql.Timestamp
  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("selfWithinTolerance finds each in-range same-key pair exactly once") {
    val df = Seq(
      (1L, "u1", ts("2024-01-01 10:00:00")),
      (2L, "u1", ts("2024-01-01 10:00:30")),  // 30s from 1 → pair
      (3L, "u1", ts("2024-01-01 10:01:00")),  // 60s from 1 (boundary) and 30s from 2
      (4L, "u1", ts("2024-01-01 10:05:00")),  // out of range of all
      (5L, "u2", ts("2024-01-01 10:00:10")))  // other key
      .toDF("event_id", "user_id", "ts")
    val got = graft.operators.RangeJoin
      .selfWithinTolerance(df, "user_id", "event_id", "ts", 60L)
      .select("id_a", "id_b").as[(Long, Long)].collect().sorted
    got shouldBe Array((1L, 2L), (1L, 3L), (2L, 3L))
  }

  test("tolerance 0 degenerates to exact-timestamp pairs; negative rejected") {
    val df = Seq(
      (1L, "u1", ts("2024-01-01 10:00:00")),
      (2L, "u1", ts("2024-01-01 10:00:00")), // exact match with 1
      (3L, "u1", ts("2024-01-01 10:00:01")), // 1s off → no pair at tol 0
      (4L, "u2", ts("2024-01-01 10:00:00"))) // other key
      .toDF("event_id", "user_id", "ts")
    val got = graft.operators.RangeJoin
      .selfWithinTolerance(df, "user_id", "event_id", "ts", 0L)
      .select("id_a", "id_b").as[(Long, Long)].collect().sorted
    got shouldBe Array((1L, 2L))
    an[IllegalArgumentException] should be thrownBy
      graft.operators.RangeJoin.selfWithinTolerance(df, "user_id", "event_id", "ts", -1L)
  }

  test("property: bucketed range join == brute-force filter on random data") {
    val rnd = new scala.util.Random(23)
    val rows = (1 to 300).map(i =>
      (i.toLong, s"k${rnd.nextInt(5)}", rnd.nextInt(100000).toLong))
    val df = rows.map { case (id, k, sec) => (id, k, new Timestamp(sec * 1000)) }
      .toDF("event_id", "user_id", "ts")
    val got = graft.operators.RangeJoin
      .selfWithinTolerance(df, "user_id", "event_id", "ts", 500L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (for {
      (ia, ka, ta) <- rows; (ib, kb, tb) <- rows
      if ka == kb && ia < ib && math.abs(ta - tb) <= 500L
    } yield (ia, ib)).toSet
    got shouldBe expected
  }
}

class SessionizeSpec extends SparkSpec {
  import spark.implicits._
  import java.sql.Timestamp
  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("assign numbers sessions by >gap inactivity per key") {
    val df = Seq(
      (1L, "u1", ts("2024-01-01 10:00:00")),
      (2L, "u1", ts("2024-01-01 10:20:00")), // 20 min gap → same session
      (3L, "u1", ts("2024-01-01 11:00:00")), // 40 min gap → new session
      (4L, "u1", ts("2024-01-01 11:30:00")), // exactly 30 min → SAME session (gap must exceed)
      (5L, "u2", ts("2024-01-01 10:00:00"))).toDF("event_id", "user_id", "ts")
    val got = graft.operators.Sessionize.assign(df, "user_id", "ts", "event_id", 1800L)
      .select("event_id", "session_id").as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 0L)
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Sampling

  private val df = (1 to 3000).map(i => (i.toLong, if (i % 3 == 0) "en" else "de"))
    .toDF("id", "lang")

  test("stratified sampling approximates per-stratum fractions") {
    val got = Sampling.stratified(df, "lang", Map("en" -> 0.1, "de" -> 0.5), seed = 9L)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    got("en").toDouble shouldBe 100.0 +- 40.0 // 1000 × 0.1
    got("de").toDouble shouldBe 1000.0 +- 120.0 // 2000 × 0.5
  }

  test("deterministic sample selects identical rows across repartitionings") {
    val a = Sampling.deterministic(df, "id", 0.25).select("id").as[Long].collect().toSet
    val b = Sampling.deterministic(df.repartition(13), "id", 0.25)
      .select("id").as[Long].collect().toSet
    a shouldBe b
    a.size.toDouble shouldBe 750.0 +- 100.0
  }
}

class ClusteringSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Clustering

  test("connectedComponents labels each component with its min id (both paths)") {
    // components: {1,2,3} (chain), {5,6}, isolated 9 not in pairs
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    // driver union-find path (default threshold covers 3 edges)
    Clustering.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap shouldBe expected
    // distributed min-label loop, forced
    Clustering.connectedComponents(pairs, "id_a", "id_b", driverSolveMaxEdges = 0)
      .as[(Long, Long)].collect().toMap shouldBe expected
  }

  test("connectedComponents works on string ids (driver path ordering)") {
    val pairs = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("id_a", "id_b")
    Clustering.connectedComponents(pairs, "id_a", "id_b")
      .as[(String, String)].collect().toMap shouldBe
      Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x")
  }

  test("driver and distributed paths agree on non-BMP string ids (UTF-8 order)") {
    // U+1F600 (UTF-8 F0 9F 98 80) vs U+FFFD (EF BF BD): Java's UTF-16
    // compareTo ranks the emoji LOWER (surrogate 0xD83D < 0xFFFD) while
    // Spark's UTF8_BINARY min ranks it HIGHER (F0 > EF) — the driver
    // union-find must use byte order or the two paths pick different
    // cluster minima for the same input
    val emoji = "😀"
    val repl = "�"
    val pairs = Seq((emoji, repl)).toDF("id_a", "id_b")
    val driver = Clustering.connectedComponents(pairs, "id_a", "id_b")
      .as[(String, String)].collect().toMap
    val dist = Clustering.connectedComponents(pairs, "id_a", "id_b",
        driverSolveMaxEdges = 0)
      .as[(String, String)].collect().toMap
    driver shouldBe dist
    driver(emoji) shouldBe repl // UTF-8 byte order: U+FFFD is the min
  }

  test("mergeIncremental equals a full recompute on random append-split graphs") {
    val rnd = new scala.util.Random(23)
    (1 to 5).foreach { _ =>
      val n = 40L
      val cut = 25L
      val allIds = (0L until n)
      val pairs = Seq.fill(45)((rnd.nextLong(n), rnd.nextLong(n)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val pairsDf = pairs.toDF("id_a", "id_b")
      val full = Clustering.assignClusters(
        allIds.toDF("id"), "id", pairsDf, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      val basePairs = pairsDf.filter($"id_a" <= cut && $"id_b" <= cut)
      val stored = Clustering.assignClusters(
        allIds.filter(_ <= cut).toDF("id"), "id", basePairs, "id_a", "id_b")
      val newPairs = pairsDf.filter($"id_a" > cut || $"id_b" > cut)
      val merged = Clustering.mergeIncremental(
        stored, "id", "cluster_id", newPairs, "id_a", "id_b",
        allIds.filter(_ > cut).toDF("id"), "id")
        .as[(Long, Long)].collect().toMap
      merged shouldBe full
    }
  }

  test("mergeIncremental bridges two stored clusters through a new id") {
    // stored: {1,2} root 1, {5,6} root 5; new doc 10 pairs with 2 and 6
    val stored = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)).toDF("id", "cluster_id")
    val merged = Clustering.mergeIncremental(
      stored, "id", "cluster_id",
      Seq((10L, 2L), (10L, 6L)).toDF("id_a", "id_b"), "id_a", "id_b",
      Seq(10L, 11L).toDF("id"), "id")
      .as[(Long, Long)].collect().toMap
    merged shouldBe Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L,
      10L -> 1L, 11L -> 11L)
  }

  test("mergeIncremental refuses non-append-only batches") {
    val stored = Seq((1L, 1L), (9L, 9L)).toDF("id", "cluster_id")
    an[IllegalArgumentException] should be thrownBy
      Clustering.mergeIncremental(
        stored, "id", "cluster_id",
        Seq((5L, 1L)).toDF("id_a", "id_b"), "id_a", "id_b",
        Seq(5L).toDF("id"), "id")
  }

  test("assignClusters gives isolated ids their own cluster") {
    val ids = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = Clustering.assignClusters(ids, "doc_id", pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 9L -> 9L)
  }

  test("keepBestPerCluster picks max score, ties to min id, singletons keep themselves") {
    val members = Seq(
      (1L, 1L, 10L), (2L, 1L, 50L), (3L, 1L, 50L), // tie at 50 → id 2 wins
      (9L, 9L, 7L)                                 // singleton
    ).toDF("doc_id", "cluster_id", "tokens")
    val got = Clustering.keepBestPerCluster(members, "doc_id", "cluster_id", "tokens")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (c, k, s, n) => c -> ((k, s, n)) }.toMap
    got shouldBe Map(1L -> ((2L, 50L, 3L)), 9L -> ((9L, 7L, 1L)))
  }

  test("superseded per-round checkpoints are released (no storage growth across calls)") {
    // force the distributed loop — the driver path keeps no checkpoints
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    Clustering.connectedComponents(pairs, "id_a", "id_b", driverSolveMaxEdges = 0).count()
    val after1 = spark.sparkContext.getPersistentRDDs.size
    (1 to 3).foreach(_ => Clustering
      .connectedComponents(pairs, "id_a", "id_b", driverSolveMaxEdges = 0).count())
    val after4 = spark.sparkContext.getPersistentRDDs.size
    // each call may leave only its FINAL labels checkpoint behind (the
    // returned frame still reads it); intermediate rounds must be freed
    (after4 - after1) should be <= 3
  }

  // a planted path whose ids rise along it, as in the benchmark's graph:
  // 7 rounds with pointer jumping
  private def risingPath = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")

  test("distributed CC takes at most 3 jobs per round, each described by its round") {
    import org.apache.spark.graftbridge.JobLog
    val (cc, jobs) = JobLog.descriptions(spark.sparkContext)(
      Clustering.connectedComponents(risingPath, "id_a", "id_b", driverSolveMaxEdges = 0))
    cc.as[(Long, Long)].collect().map(_._2).distinct shouldBe Array(1L)
    val round = "connectedComponents round (\\d+)".r
    val rounds = jobs.map { case round(i) => i.toInt }
    rounds.distinct shouldBe (0 to rounds.max)
    jobs.size should be <= 3 * rounds.max + 3
  }

  test("the driver-solve gate launches no job beyond the input's materialisation") {
    import org.apache.spark.graftbridge.JobLog
    val sc = spark.sparkContext
    val input = JobLog.descriptions(sc)(graft.operators.Checkpoints.stable(
      risingPath.select(col("id_a").as("_a"), col("id_b").as("_b"))
        .filter(col("_a").isNotNull && col("_b").isNotNull)))._2
    val driver = JobLog.descriptions(sc)(
      Clustering.connectedComponents(risingPath, "id_a", "id_b"))._2
    driver.size shouldBe input.size + 1 // + the solve's collect
  }

  test("fixpoint jobs restore the caller's job description") {
    import org.apache.spark.graftbridge.JobLog
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val (cc, jobs) = JobLog.descriptions(sc) {
        val cc = Clustering.connectedComponents(risingPath, "id_a", "id_b",
          driverSolveMaxEdges = 0)
        cc.count()
        cc
      }
      sc.getLocalProperty("spark.job.description") shouldBe "caller"
      val (inside, after) = jobs.span(_.startsWith("connectedComponents round "))
      inside should not be empty
      after.distinct shouldBe Seq("caller") // the count, after the operator returned
      graft.operators.Checkpoints.release(cc)
    } finally sc.setJobDescription(null)
  }

  test("self edges: loops, duplicates, reversed pairs and string ids agree across paths") {
    def both[T: org.apache.spark.sql.Encoder](pairs: org.apache.spark.sql.DataFrame) = {
      def run(gate: Long) = Clustering.connectedComponents(pairs, "id_a", "id_b",
        driverSolveMaxEdges = gate).as[T].collect().toSet
      val driver = run(Clustering.DefaultDriverSolveMaxEdges)
      run(0L) shouldBe driver
      driver
    }
    // 1–2 given as a loop, duplicates and both directions; 7 has only its
    // own loop; 8–9 reversed with a loop on the larger end
    both[(Long, Long)](Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (3L, 2L),
        (7L, 7L), (9L, 8L), (8L, 9L), (9L, 9L)).toDF("id_a", "id_b")) shouldBe
      Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 8L), (9L, 8L))
    both[(String, String)](Seq(("b", "b"), ("b", "a"), ("a", "b"), ("c", "b"),
        ("z", "z"), ("y", "x"), ("y", "x")).toDF("id_a", "id_b")) shouldBe
      Set(("a", "a"), ("b", "a"), ("c", "a"), ("z", "z"), ("x", "x"), ("y", "x"))
  }

  test("property: components match brute-force union-find on random graphs") {
    val rnd = new scala.util.Random(13)
    (1 to 3).foreach { _ =>
      val n = 30
      val edges = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // brute-force union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> find(id.toInt).toLong).toMap
      Seq(Clustering.DefaultDriverSolveMaxEdges, 0L).foreach { thresh =>
        val got = Clustering
          .connectedComponents(edges.toDF("id_a", "id_b"), "id_a", "id_b",
            driverSolveMaxEdges = thresh)
          .as[(Long, Long)].collect().toMap
        withClue(s"edges=$edges thresh=$thresh: ") { got shouldBe expected }
      }
    }
  }
}

class ShingleSpec extends SparkSpec {
  import spark.implicits._

  test("distinctShingles builds overlapping n-token windows; short docs yield none") {
    val df = Seq((1L, "a b c d"), (2L, "x y")).toDF("id", "text")
    val got = df.select(col("id"), Dedup.distinctShingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    got(1L) shouldBe Seq("a b c", "b c d")
    got(2L) shouldBe Seq.empty
  }

  test("shingled minhash distinguishes reordered text that token minhash cannot") {
    val df = Seq((1L, "the quick brown fox jumps"), (2L, "jumps fox brown quick the"))
      .toDF("doc_id", "text")
    val tok = Dedup.minhashSignature(df, "doc_id", "text", 8).collect()
    tok(0).toSeq.tail shouldBe tok(1).toSeq.tail // same bag → same signature
    val sh = Dedup.minhashSignatureShingled(df, "doc_id", "text", 8, 3)
      .orderBy("doc_id").collect()
    sh(0).toSeq.tail should not be sh(1).toSeq.tail // order-sensitive
  }
}
