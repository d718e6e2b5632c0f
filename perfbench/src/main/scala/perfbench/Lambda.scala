package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.regression.GBTRegressionModel
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.jobs.{BatchAggJob, StreamCombinedJob}
import graft.ml.MlPipeline
import graft.operators.OneHot
import graft.sinks.{ArchiveJob, KvRow, KvStore}
import graft.sources.SchemaReader
import graft.streaming.StreamParse

/** The benchmark's own KV store: keeps every row it is sent, with the
  * time it landed, and counts calls and rows. Executors run in the
  * driver JVM under `local[n]`, so one object serves every task. */
object BenchKv extends KvStore {
  val batch = TrieMap.empty[String, Map[String, Map[String, String]]]
  val stream = new ConcurrentLinkedQueue[(Long, KvRow)]()
  val rows = new AtomicLong(0)
  val calls = new AtomicLong(0)
  val nanos = new AtomicLong(0)

  override def mutate(rs: Seq[KvRow]): Unit = {
    val t0 = System.nanoTime()
    val landed = System.currentTimeMillis()
    rs.foreach { r =>
      if (r.families.contains(Lambda.StatsFamily)) batch.put(r.key, r.families)
      else stream.add(landed -> r)
    }
    rows.addAndGet(rs.size)
    calls.incrementAndGet()
    nanos.addAndGet(System.nanoTime() - t0)
  }

  def resetCounters(): Unit = { rows.set(0); calls.set(0); nanos.set(0) }
}

/** What one stream run measured. */
final case class StreamResult(latenciesMs: Seq[Double], lateMs: Double,
    progress: Seq[Progress], loadS: Double,
    weather: Seq[String], stock: Seq[String], rows: Seq[(Long, KvRow)])

/** The reference job family on a seeded feed: `BatchAggJob.run` into the
  * KV store, `ArchiveJob.run` rotation, then `StreamCombinedJob` fed
  * open-loop at a fixed rate. */
final class Lambda extends Workload {
  import Lambda._

  val warmPasses = 3
  private var model: String = _
  private var lastStream: StreamResult = _
  private var tracedStream: StreamResult = _
  private var bytesRatio = 0.0
  private var archived = 0L

  private def dir(c: Ctx, sub: String) = s"${c.args.work}/lambda/$sub"

  def prepare(ctx: Ctx): Unit = {
    model = s"${ctx.args.data}/model"
    if (!Files.exists(Paths.get(model))) trainModel(ctx.spark, ctx.args.seed, model)
  }

  def ops(ctx: Ctx): Seq[Op] = Seq(
    Op(BatchOp, () => {
      Files.createDirectories(Paths.get(dir(ctx, "")))
      delete(Paths.get(dir(ctx, "live"))); delete(Paths.get(dir(ctx, "historical")))
      copyTree(Paths.get(ctx.args.data, "live"), Paths.get(dir(ctx, "live")))
      BenchKv.batch.clear()
    }, c => c.phase("exec") {
      if (c.tracing) BenchKv.resetCounters()
      val paths = SchemaReader.glob(c.spark, s"${dir(c, "live")}/*.parquet")
      BatchAggJob.run(c.spark, paths, batchConfig, BenchKv, family = StatsFamily)
    }),
    Op(ArchiveOp, () => (), c => {
      val live = bytes(Paths.get(dir(c, "live")))
      archived = c.phase("exec") {
        ArchiveJob.run(c.spark, dir(c, "live"), dir(c, "historical"), "weather",
          LocalDate.of(2024, 3, 4))._2
      }
      bytesRatio = bytes(Paths.get(dir(c, "historical"))) / live
    }),
    Op(StreamOp, () => (), c => c.phase("exec") {
      lastStream = new StreamRun(c, model, LowRate, StreamSeconds, dir(c, "checkpoint")).run()
      if (c.tracing) tracedStream = lastStream
    }))

  /** Three checks, one failure message at most each. */
  def check(ctx: Ctx): (Int, Seq[String]) = {
    val spark = ctx.spark
    // batch: KV rows against a plain-DataFrame recomputation
    val expected = recompute(spark, s"${ctx.args.data}/live")
    val batch =
      if (expected.keySet != BenchKv.batch.keySet)
        Some(s"batch: KV has ${BenchKv.batch.size} hour rows, recomputation ${expected.size}")
      else {
        val wrong = expected.toSeq.flatMap { case (k, want) =>
          val got = BenchKv.batch(k)(StatsFamily)
          want.collect { case (c, v) if !sameCell(v, got.get(c).orNull) =>
            s"$k.$c is ${got.get(c).orNull}, recomputation gives $v"
          }
        }
        wrong.headOption.map(w => s"batch: ${wrong.size} cells differ, e.g. $w")
      }
    // archive: every live row archived, live/ left empty
    val liveRows = spark.read.parquet(s"${ctx.args.data}/live").count()
    val left = Files.list(Paths.get(dir(ctx, "live"))).iterator.asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    val archive =
      if (archived == liveRows && left == 0) None
      else Some(s"archive: archived $archived of $liveRows rows, $left parquet files left in live/")
    (3, Seq(batch, archive, checkStream(spark, lastStream)).flatten)
  }

  /** Averages and sums are rounded to 2 decimals by the engine. */
  private def sameCell(want: Any, got: String): Boolean = (want, got) match {
    case (null, null) => true
    case (x: java.lang.Number, y: String) => math.abs(x.doubleValue - y.toDouble) <= 0.0051
    case (x, y) => x != null && y != null && x.toString == y
  }

  /** The stream's KV rows must equal a batch interval join of the events
    * the generator sent, scored with the same model. */
  private def checkStream(spark: SparkSession, r: StreamResult): Option[String] = {
    import spark.implicits._
    val m = MlPipeline.load(model)
    val w = score(m, StreamParse.parse(r.weather.toDF("payload"), "payload", WeatherSchema))
    val s = StreamParse.parse(r.stock.toDF("payload"), "payload", StockSchema)
    val joined = w.as("w").join(s.as("s"),
      to_date($"w.ts") === to_date($"s.ts") &&
        $"w.ts" >= $"s.ts" - expr("interval 30 seconds") &&
        $"w.ts" <= $"s.ts" + expr("interval 30 seconds"), "full_outer")
      .filter(coalesce($"w_id", lit(0L)) < FlushBase && coalesce($"s_id", lit(0L)) < FlushBase)
      .select(JoinCols.map(c => col(c).cast("string")): _*)
    def key(row: Seq[String]) = row.map(String.valueOf).mkString("|")
    val want = joined.collect().map(rw => key(rw.toSeq.map(v => if (v == null) null else v.toString)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val got = r.rows.map(_._2).flatMap { kv =>
      val cells = JoinCols.map(c => kv.families.values.flatMap(_.get(c)).headOption.orNull)
      val ids = Seq(cells(0), cells(3)).filter(_ != null).map(_.toLong)
      if (ids.exists(_ >= FlushBase)) None else Some(key(cells))
    }.groupBy(identity).view.mapValues(_.length).toMap
    if (want.nonEmpty && want == got) None
    else Some(s"stream: KV holds ${got.values.sum} join rows, batch join ${want.values.sum}; " +
      s"${(want.keySet diff got.keySet).size} missing, ${(got.keySet diff want.keySet).size} unexpected")
  }

  override def layers(ctx: Ctx, untraced: Map[String, Double], out: Layers): Unit = {
    out("lambda.batch_job_s") = untraced(BatchOp)
    out("lambda.archive_s") = untraced(ArchiveOp)
    out("lambda.archive_bytes_ratio") = bytesRatio
    out("sinks.KvSink.rows") = BenchKv.rows.get.toDouble
    out("sinks.KvSink.mutate_calls") = BenchKv.calls.get.toDouble
    out("sinks.KvSink.mutate_s") = BenchKv.nanos.get / 1e9
    val hist = Paths.get(dir(ctx, "historical"))
    out("sinks.ArchiveJob.bytes_written_mb") = bytes(hist) / 1048576.0
    out("sinks.ArchiveJob.files_written") = Files.walk(hist).iterator.asScala
      .count(_.getFileName.toString.endsWith(".parquet")).toDouble
    val r = tracedStream
    val p = r.progress
    out("streaming.trigger_ms_p50") = Stats.median(p.map(_.triggerMs.toDouble))
    out("streaming.trigger_ms_tail") = Stats.pct(p.map(_.triggerMs.toDouble), 90)
    out("streaming.add_batch_ms_p50") = Stats.median(p.map(_.addBatchMs.toDouble))
    out("streaming.planning_ms_p50") = Stats.median(p.map(_.planningMs.toDouble))
    out("streaming.wal_commit_ms_p50") = Stats.median(p.map(_.walMs.toDouble))
    out("streaming.state_rows") = if (p.isEmpty) 0.0 else p.map(_.stateRows).max.toDouble
    out("streaming.state_mb") = if (p.isEmpty) 0.0 else p.map(_.stateBytes).max / 1048576.0
    out("streaming.rows_dropped_by_watermark") = p.map(_.dropped).sum.toDouble
    out("streaming.backlog_rows") = if (p.isEmpty) 0.0 else p.map(_.backlog).max.toDouble
    out("streaming.generator_late_ms") = r.lateMs
    out("streaming.latency_p50_ms") = Stats.median(r.latenciesMs)
    out("streaming.latency_tail_ms") = Stats.pct(r.latenciesMs, 90)
    out("ml.load_s") = r.loadS
  }

  /** Open-loop rate steps: the highest rate whose p90 latency stays
    * within [[LatencyLimitMs]] while the generator keeps its schedule. */
  override def tracedExtra(ctx: Ctx, out: Layers): Unit = {
    val ok = SweepRates.takeWhile { rate =>
      val r = new StreamRun(ctx, model, rate, SweepSeconds, dir(ctx, "checkpoint")).run()
      val p90 = Stats.pct(r.latenciesMs, 90)
      System.err.println(f"[perfbench] stream at $rate%.0f pairs/s: p90 latency $p90%.0f ms, " +
        f"generator late ${r.lateMs}%.0f ms")
      p90 <= LatencyLimitMs && r.lateMs <= 100
    }
    out("streaming.max_rate") = ok.lastOption.getOrElse(0.0)
  }
}

object Lambda {
  val BatchOp = "batch_job"
  val ArchiveOp = "archive"
  val StreamOp = "stream"
  val StatsFamily = "stats"
  /** Pairs (one weather and one stock event) per second of the measured stream. */
  val LowRate = 20.0
  val StreamSeconds = 1.5
  val SweepRates = Seq(20.0, 160.0, 640.0)
  val SweepSeconds = 1.0
  val LatencyLimitMs = 3000.0
  /** Ids at or above this mark the end-of-feed events that advance the watermark. */
  val FlushBase: Long = 1L << 40

  val Classes = Seq("Clear", "Clouds", "Rain", "Snow")
  val Features: Seq[String] = "wind" +: Classes.map(c => s"weather_main_${c.toLowerCase}")
  val JoinCols = Seq("w_id", "wind", "prediction_weather", "s_id", "close")

  val LiveSchema = StructType(Seq(
    StructField("timestamp", TimestampType), StructField("temp", DoubleType),
    StructField("humidity", IntegerType), StructField("pressure", IntegerType),
    StructField("wind_speed", DoubleType), StructField("weather_main", StringType)))
  val Measures = Seq("temp", "humidity", "pressure", "wind_speed")
  val batchConfig = BatchAggJob.Config(LiveSchema, "timestamp", Measures, modeCol = Some("weather_main"))

  val WeatherSchema = StructType(Seq(
    StructField("ts", TimestampType), StructField("wind", DoubleType),
    StructField("weather_main", StringType), StructField("w_id", LongType),
    StructField("w_created", LongType)))
  val StockSchema = StructType(Seq(
    StructField("ts", TimestampType), StructField("close", DoubleType),
    StructField("s_id", LongType), StructField("s_created", LongType)))

  def score(m: GBTRegressionModel, parsed: DataFrame): DataFrame =
    MlPipeline.score(m, OneHot.encode(parsed, "weather_main", Classes, "weather_main"), Features)
      .withColumnRenamed("prediction", "prediction_weather").drop("features")

  /** A small GBT on seeded synthetic readings, trained once per seed. */
  def trainModel(spark: SparkSession, seed: Long, path: String): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = (0 until 2000).map { _ =>
      val wind = rnd.nextDouble() * 20
      val c = Classes(rnd.nextInt(Classes.size))
      (wind, c, 50 + 2 * wind + Classes.indexOf(c) * 7 + rnd.nextGaussian())
    }
    val df = OneHot.encode(rows.toDF("wind", "weather_main", "y"), "weather_main", Classes, "weather_main")
    MlPipeline.save(MlPipeline.trainRegressor(df, Features, "y", maxIter = 5, seed = seed).model, path)
  }

  /** The plain-DataFrame hourly stats and mode, keyed like the KV rows. */
  def recompute(spark: SparkSession, live: String): Map[String, Map[String, Any]] = {
    val raw = spark.read.parquet(live)
      .withColumn("date", to_date(col("timestamp"))).withColumn("hour", hour(col("timestamp")))
    val stats = raw.groupBy("date", "hour").agg(count(lit(1)).as("n"),
      Measures.flatMap(m => Seq(avg(m).as(s"avg_$m"), sum(m).as(s"sum_$m"),
        min(m).as(s"min_$m"), max(m).as(s"max_$m"))): _*)
    val byCount = Window.partitionBy("date", "hour").orderBy(desc("cnt"), desc("weather_main"))
    val mode = raw.groupBy("date", "hour", "weather_main").agg(count(lit(1)).as("cnt"))
      .withColumn("r", row_number().over(byCount)).filter(col("r") === 1)
      .select(col("date"), col("hour"), col("weather_main").as("mode_weather_main"))
    stats.join(mode, Seq("date", "hour")).collect().map { r =>
      val m = r.getValuesMap[Any](r.schema.fieldNames.toSeq)
      s"${r.getAs[java.sql.Date]("date")}_${r.getAs[Int]("hour")}" -> (m - "date" - "hour")
    }.toMap
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { f =>
      val dst = to.resolve(from.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    }

  def bytes(p: Path): Double =
    Files.walk(p).iterator.asScala.filter(f => Files.isRegularFile(f) &&
      !f.getFileName.toString.startsWith(".")).map(f => Files.size(f)).sum.toDouble
}

/** One open-loop stream run: a generator thread sends weather/stock event
  * pairs on a fixed schedule (it never waits for the engine), stamping
  * each event's creation time; event times step 40 s per pair with seeded
  * jitter, so the ±30 s join matches about one event per side. */
final class StreamRun(c: Ctx, model: String, rate: Double, seconds: Double, checkpoint: String) {
  import Lambda._

  def run(): StreamResult = {
    Lambda.delete(Paths.get(checkpoint))
    BenchKv.stream.clear()
    val spark = c.spark
    implicit val sqlc: SQLContext = spark.sqlContext
    import spark.implicits._
    val t0 = System.nanoTime()
    val m = MlPipeline.load(model)
    val loadS = (System.nanoTime() - t0) / 1e9
    val w = MemoryStream[String]
    val s = MemoryStream[String]
    val generated = new AtomicLong(0)
    val progress = new ProgressListener(() => generated.get)
    if (c.tracing) spark.streams.addListener(progress)
    val joined = StreamCombinedJob.joined(
      StreamCombinedJob.Side(w.toDF().withColumnRenamed("value", "payload"), WeatherSchema, "ts",
        "weather", oneHotCol = Some("weather_main"), oneHotClasses = Classes, model = Some(m),
        featureCols = Features),
      StreamCombinedJob.Side(s.toDF().withColumnRenamed("value", "payload"), StockSchema, "ts", "stock"))
    val q = StreamCombinedJob.writer(
      joined.select(Seq("timestamp_weather", "timestamp_stock", "w_created", "s_created") ++ JoinCols map col: _*),
      Seq("timestamp_weather", "timestamp_stock"),
      Map("weather" -> Seq("w_id", "w_created", "wind", "prediction_weather"),
        "stock" -> Seq("s_id", "s_created", "close")),
      BenchKv, checkpoint).start()

    val rnd = new scala.util.Random(c.args.seed * 31 + rate.toLong)
    val n = math.max(1, (rate * seconds).toInt)
    val base = java.sql.Timestamp.valueOf("2024-03-05 00:00:00").getTime
    def ts(ms: Long) = new java.sql.Timestamp(ms).toString.take(19)
    // (send offset ns, weather?, event body without its creation time)
    val schedule = (0 until n).flatMap { i =>
      val slot = (i / rate * 1e9).toLong
      val wind = f"${rnd.nextDouble() * 20}%.2f"
      val cls = (Classes :+ "Mist")(rnd.nextInt(Classes.size + 1))
      val close = f"${100 + rnd.nextGaussian() * 5}%.2f"
      val jitterS = rnd.nextInt(31) - 15
      Seq(
        (slot + (rnd.nextDouble() * 0.5e9 / rate).toLong, true,
          s""""ts":"${ts(base + i * 40000L)}","wind":"$wind","weather_main":"$cls","w_id":"$i""""),
        (slot + (rnd.nextDouble() * 0.5e9 / rate).toLong, false,
          s""""ts":"${ts(base + i * 40000L + jitterS * 1000L)}","close":"$close","s_id":"$i""""))
    }.sortBy(_._1)
    val sentW = new ConcurrentLinkedQueue[String]()
    val sentS = new ConcurrentLinkedQueue[String]()
    var lateMs = 0.0
    def send(weather: Boolean, body: String, dueMs: Long): Unit = {
      val json = s"""{$body,"${if (weather) "w" else "s"}_created":"$dueMs"}"""
      if (weather) { sentW.add(json); w.addData(json) } else { sentS.add(json); s.addData(json) }
      generated.incrementAndGet()
    }
    // each event carries the wall time it was due, so a late generator's
    // delay counts in the latency of the events it held back
    val gen = new Thread(() => {
      val start = System.nanoTime()
      val startMs = System.currentTimeMillis()
      schedule.foreach { case (off, weather, body) =>
        val wait = start + off - System.nanoTime()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        lateMs = math.max(lateMs, (System.nanoTime() - start - off) / 1e6)
        send(weather, body, startMs + off / 1000000L)
      }
    }, "perfbench-feed")
    gen.start()
    gen.join()
    // two end-of-feed pairs a day later advance the watermark past every
    // real event, so the unmatched rows of the outer join are emitted
    Seq(1L, 2L).foreach { k =>
      val t = ts(base + 2 * 86400000L + k * 600000L)
      val now = System.currentTimeMillis()
      send(weather = true, s""""ts":"$t","wind":"1.0","weather_main":"Clear","w_id":"${FlushBase + k}"""", now)
      send(weather = false, s""""ts":"$t","close":"1.0","s_id":"${FlushBase + k}"""", now)
      q.processAllAvailable()
    }
    q.stop()
    if (c.tracing) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.streams.removeListener(progress)
    }
    val rows = BenchKv.stream.asScala.toSeq
    val latencies = rows.flatMap { case (landed, r) =>
      val created = Seq("w_created", "s_created").map(k => r.families.values.flatMap(_.get(k)).headOption.orNull)
      val ids = Seq("w_id", "s_id").map(k => r.families.values.flatMap(_.get(k)).headOption.orNull)
      if (created.contains(null) || ids.exists(i => i == null || i.toLong >= FlushBase)) None
      else Some((landed - created.map(_.toLong).max).toDouble)
    }
    StreamResult(latencies, lateMs, progress.progress.asScala.toSeq, loadS,
      sentW.asScala.toSeq, sentS.asScala.toSeq, rows)
  }
}
