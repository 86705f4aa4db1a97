package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.plans.TopKPerGroup
import graft.streaming.{Generator, Ingest, OutlierTable, Pipeline}

/** `live_ref4`: the live loop, open loop over the reference's four plant
  * types with a dashboard reader beside it. Pre-generated Kafka-shaped
  * JSON goes through a MemoryStream into `Pipeline.detect`, started with
  * `Pipeline.startControlled`. */
object Streams {

  /** Offered rate of the live loop, rows per second. */
  val LiveRate = 3000
  /** The live feeder adds one chunk of due records every ChunkMs. */
  val ChunkMs = 20
  /** Closed-loop batches of LiveRate rows the measured live query runs
    * before its open loop starts, to warm the JIT and code generation and
    * to start the open loop from an idle query. */
  val LiveWarmBatches = 3
  /** Seconds of open loop before the live measurement window opens. */
  val WarmS = 2
  /** Dashboard think time between reads, ms. */
  val ThinkMs = 200

  /** Generator values per synthetic day (8 records a second). */
  val ValuesPerDay = 8L * 86400L

  /** First generator `value` for a seed: whole synthetic days apart, so
    * every seed starts at the same point of the generator's daily cycle
    * and the seeds differ in jitter, anomaly slots and drift, not in
    * load shape. */
  def startValue(seed: Long): Long = Math.floorMod(seed, 1000L) * ValuesPerDay

  final case class Backlog(json: Array[String], recs: Array[Rec], genS: Double)

  /** Generate `n` records from generator `value` `start` on: their JSON
    * wire form and the fields the reference detector replays. */
  def backlog(s: SparkSession, start: Long, n: Int): Backlog = {
    import s.implicits._
    val t0 = System.nanoTime()
    val tel = Generator.telemetry(s.range(start, start + n).toDF("value"))
    val json = Pipeline.toKafkaValue(tel).as[String].collect()
    val recs = tel.select(col("seq"), unix_millis(col("ts")), col("plant_type"),
      col("power_output"), col("demand"),
      coalesce(col("fuel_consumption"), col("wind_speed"), col("solar_radiation"), col("water_flow_rate")),
      coalesce(col("emissions"), col("turbine_efficiency"), col("panel_temperature"),
        col("turbine_rotation_speed")))
      .collect().map(r => Rec(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getDouble(4), if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        if (r.isNullAt(6)) None else Some(r.getDouble(6))))
    require(json.length == n && recs.length == n, "backlog size")
    Backlog(json, recs, (System.nanoTime() - t0) / 1e9)
  }

  /** Collects every progress event of the benchmark's queries. */
  final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def batches: Seq[StreamingQueryProgress] =
      events.asScala.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
  }

  /** Commit time of a batch, epoch ms: trigger start plus its duration. */
  def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution")

  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  /** (first, last] MemoryStream offsets of a batch: the chunks it read. */
  def offsets(p: StreamingQueryProgress): (Long, Long) = {
    val src = p.sources.head
    (Option(src.startOffset).map(_.trim.toLong).getOrElse(-1L), src.endOffset.trim.toLong)
  }

  final case class Running(spark: SparkSession, in: MemoryStream[String],
      q: StreamingQuery, progress: Progress, ledger: Ledger, sink: String)

  def start(spark: SparkSession, sink: String): Running = {
    implicit val s: SparkSession = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val progress = new Progress
    spark.streams.addListener(progress)
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val in = MemoryStream[String]
    val q = Pipeline.startControlled(Pipeline.detect(in.toDF()), sink)
    Running(spark, in, q, progress, ledger, sink)
  }

  /** The dashboard read graft.Live performs: the capped per-entity table
    * of the most recent flags, read back from the sink. */
  def dashboard(spark: SparkSession, sink: String): DataFrame =
    TopKPerGroup.perKey(spark.table(sink), Seq(col("plant_type")), Seq(col("ts").desc),
      OutlierTable.DefaultCap)

  def sinkFlags(spark: SparkSession, sink: String): Seq[Flag] =
    spark.table(sink).collect().toSeq.map(r => Flag(r.getTimestamp(0).getTime,
      r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))

  /** Output checks: every fed row committed exactly once, one state row
    * per plant type, and the sink equal to the reference detector
    * replayed over the same micro-batches. */
  def checkOutputs(res: Main.Result, r: Running,
      chunks: IndexedSeq[Array[Rec]]): Unit = {
    val bs = r.progress.batches
    val fed = chunks.map(_.length.toLong).sum
    val inRows = bs.map(_.numInputRows).sum
    res.check("rows_committed", inRows == fed, s"sum(numInputRows)=$inRows fed=$fed")
    val ranges = bs.map(offsets)
    val contiguous = ranges.zip(-1L +: ranges.map(_._2)).forall { case ((a, _), prevEnd) => a == prevEnd }
    val covered = ranges.lastOption.exists(_._2 == chunks.size - 1)
    res.check("commit_once", contiguous && covered,
      s"batches=${bs.size} last=${ranges.lastOption.map(_._2)} chunks=${chunks.size}")
    val got = sinkFlags(r.spark, r.sink)
    val dup = got.size - got.map(f => (f.tsMs, f.key)).distinct.size
    res.check("no_duplicate_flags", dup == 0, s"duplicates=$dup")
    val replay = ranges.map { case (a, b) => ((a + 1) to b).flatMap(i => chunks(i.toInt).toSeq) }
    val (want, keys) = Reference.replay(replay)
    val digest = (fs: Seq[Flag]) => fs.foldLeft(0L)(_ + _.mix)
    res.check("flags_equal_reference", got.size == want.size && digest(got) == digest(want),
      s"sink=${got.size}/${digest(got)} reference=${want.size}/${digest(want)}")
    val stateRows = bs.lastOption.flatMap(_.stateOperators.headOption).map(_.numRowsTotal).getOrElse(-1L)
    res.check("state_rows", stateRows == 4 && keys == 4,
      s"state rows=$stateRows reference keys=$keys expected=4")
  }

  /** Per-layer metrics of the measured batches, from their progress. */
  def progressLayers(res: Main.Result, bs: Seq[StreamingQueryProgress], ledger: Ledger): Unit = {
    def p50(k: String) = Stats.median(bs.map(dur(_, k).toDouble))
    res.metrics("live.batches") = bs.size
    res.metrics("live.rows_per_batch") = if (bs.isEmpty) 0.0 else bs.map(_.numInputRows).sum.toDouble / bs.size
    res.metrics("live.trigger_p50_ms") = p50("triggerExecution")
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
      .foreach(k => res.metrics(s"live.${k}_p50_ms") = p50(k))
    val ops = bs.flatMap(_.stateOperators.headOption)
    res.metrics("live.state_rows") = ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    res.metrics("live.state_mem_mb") = ops.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0)
    res.metrics("live.state_commit_p50_ms") = Stats.median(ops.map(_.commitTimeMs.toDouble))
    res.metrics("live.state_update_p50_ms") = Stats.median(ops.map(_.allUpdatesTimeMs.toDouble))
    val t = ledger.sum(_ == Ledger.StreamTag)
    val n = math.max(1, bs.size).toDouble
    res.metrics("live.shuffle_write_mb") = t.shuffleBytes / 1048576.0 / n
    res.metrics("live.exec_run_s") = t.runMs / 1e3 / n
    res.metrics("live.exec_gc_s") = t.gcMs / 1e3 / n
    Layers.exec(res, ledger.sum(_ => true), 1.0)
  }

  /** Components timed alone by calling the public function (traced runs). */
  def components(ctx: Main.Ctx, res: Main.Result, spark: SparkSession, b: Backlog, sink: String): Unit = {
    import spark.implicits._
    import ctx.tracer
    val frame = spark.createDataset(b.json.toSeq).toDF("value")
    val parse = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      tracer.span("component.parse")(Ingest.parseTelemetry(frame).queryExecution.toRdd.count())
      (System.nanoTime() - t0).toDouble
    }
    res.metrics("ingest.parse_ns_per_row") = Stats.median(parse) / b.json.length
    val window = b.recs.iterator.filter(r => r.s1.isDefined && r.s2.isDefined).take(500)
      .map(r => Array(r.power, r.demand, r.s1.get, r.s2.get)).toArray
    val fits = (0 until 20).map { i =>
      val t0 = System.nanoTime()
      tracer.span("component.if_fit")(
        graft.ml.GraftIsolationForest.fit(window, numTrees = 50, sampleSize = 128, seed = 42L + i))
      (System.nanoTime() - t0) / 1e6
    }
    res.metrics("ml.if_fit_ms") = Stats.median(fits)
    val forest = graft.ml.GraftIsolationForest.fit(window, numTrees = 50, sampleSize = 128, seed = 42L)
    val scores = (0 until 20).map { _ =>
      val t0 = System.nanoTime()
      var acc = 0.0
      tracer.span("component.if_score")(window.foreach(v => acc += forest.score(v)))
      require(acc > 0)
      (System.nanoTime() - t0).toDouble / window.length
    }
    res.metrics("ml.if_score_ns") = Stats.median(scores)
    val topk = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      tracer.span("component.topk")(dashboard(spark, sink).queryExecution.toRdd.count())
      (System.nanoTime() - t0) / 1e6
    }
    res.metrics("dash.topk_exec_ms") = Stats.median(topk)
    res.metrics("gen.rows_per_s") = b.json.length / b.genS
  }

  /** Trace spans for each measured batch and its progress phases, laid
    * out in the order a trigger runs them. */
  def traceBatches(ctx: Main.Ctx, bs: Seq[StreamingQueryProgress]): Unit = if (ctx.tracer.on) {
    val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
    bs.foreach { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + wallToNano
      val id = ctx.tracer.record("batch", 0, s, s + dur(p, "triggerExecution") * 1000000L)
      var t = s
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = dur(p, k) * 1000000L
          ctx.tracer.record(s"batch.$k", id, t, t + d)
          t += d
        }
    }
  }

  def live(ctx: Main.Ctx, res: Main.Result): Unit = {
    val chunkRows = LiveRate * ChunkMs / 1000
    val nChunks = (WarmS + ctx.seconds) * 1000 / ChunkMs
    val warmRows = LiveWarmBatches * LiveRate
    val (spark, b, setupS) = Main.setUp(ctx, "", 3)(s =>
      backlog(s, startValue(ctx.seed), warmRows + nChunks * chunkRows))
    res.metrics("setup_s") = setupS
    // MemoryStream offset i is the i-th addData: the closed-loop warm-up
    // batches first, then the open loop's chunks
    val recChunks = b.recs.take(warmRows).grouped(LiveRate).toIndexedSeq ++
      b.recs.drop(warmRows).grouped(chunkRows)
    val jsonChunks = b.json.take(warmRows).grouped(LiveRate).toIndexedSeq ++
      b.json.drop(warmRows).grouped(chunkRows)
    val r = start(spark, "flags_live")
    Main.phase(ctx, "warmup") {
      (0 until LiveWarmBatches).foreach { i =>
        r.in.addData(jsonChunks(i).toIndexedSeq)
        r.q.processAllAvailable()
      }
      dashboard(spark, r.sink).collect()
      org.apache.spark.BusShim.drain(spark.sparkContext)
      r.ledger.reset()
    }

    val dueMs = new Array[Double](recChunks.size)
    val lateMs = mutable.ArrayBuffer.empty[Double]
    @volatile var measuring = false
    @volatile var done = false
    val wall0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    val warmEndMs = wall0 + WarmS * 1000L
    val feeder = new Thread("feeder") {
      override def run(): Unit = for (c <- 0 until nChunks) {
        val due = nano0 + (c + 1).toLong * ChunkMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateMs += (System.nanoTime() - due) / 1e6
        dueMs(LiveWarmBatches + c) = wall0 + (c + 1).toDouble * ChunkMs
        r.in.addData(jsonChunks(LiveWarmBatches + c).toIndexedSeq)
        if (!measuring && c * ChunkMs >= WarmS * 1000) measuring = true
      }
    }
    val reads = mutable.ArrayBuffer.empty[Double]
    var readAttempts = 0L
    var readFailures = 0L
    val reader = new Thread("dashboard") {
      override def run(): Unit = {
        spark.sparkContext.setLocalProperty(Ledger.TagKey, "dash")
        while (!done) {
          val counted = measuring
          val t0 = System.nanoTime()
          try {
            ctx.tracer.span("dash.read")(dashboard(spark, r.sink).collect())
            if (counted) { readAttempts += 1; reads += (System.nanoTime() - t0) / 1e6 }
          } catch {
            case e: Throwable =>
              if (counted) { readAttempts += 1; readFailures += 1 }
              System.err.println(s"dashboard read failed: $e")
          }
          Thread.sleep(ThinkMs)
        }
      }
    }
    val measureT0 = System.nanoTime()
    Main.phase(ctx, "measure") {
      feeder.start(); reader.start()
      feeder.join()
      done = true
      reader.join()
      r.q.processAllAvailable()
    }
    res.metrics("trace.overhead_ratio") = ctx.tracer.overheadRatio(measureT0, System.nanoTime())
    res.metrics("heap_retained_mb") = Main.retainedHeapMb()
    r.q.stop()
    org.apache.spark.BusShim.drain(spark.sparkContext)

    val bs = r.progress.batches
    val winEndMs = warmEndMs + ctx.seconds * 1000L
    // chunk -> commit time of the batch that read it
    val commitOf = new Array[Long](recChunks.size)
    bs.foreach { p =>
      val (a, z) = offsets(p)
      ((a + 1) to z).foreach(c => commitOf(c.toInt) = commitMs(p))
    }
    val measured = (LiveWarmBatches until recChunks.size).filter(c => dueMs(c) > warmEndMs)
    val lat = measured.map(c => commitOf(c) - dueMs(c))
    val winBatches = bs.filter(p => commitMs(p) > warmEndMs && commitMs(p) <= winEndMs)
    res.attempted += bs.size + readAttempts
    res.failed += readFailures
    // whole batches only: rows committed after the window's first commit,
    // over the time from that commit to the window's last
    res.metrics("throughput_per_s") =
      if (winBatches.size < 2) 0.0
      else winBatches.tail.map(_.numInputRows).sum.toDouble * 1000.0 /
        (commitMs(winBatches.last) - commitMs(winBatches.head))
    // A chunk's records share one due time and one commit time, so the
    // samples are chunks: 50 a second. The tail is p90, which leaves one
    // chunk in ten beyond it (75 in a 15 s window).
    res.metrics("latency_p50_ms") = Stats.median(lat)
    res.metrics("latency_tail_ms") = Stats.pct(lat, 0.90)
    res.metrics("latency_samples") = lat.size.toDouble
    res.metrics("dash.read_p50_ms") = Stats.median(reads.toSeq)
    res.metrics("dash.read_p90_ms") = Stats.pct(reads.toSeq, 0.90)
    res.metrics("dash.reads") = reads.size.toDouble
    res.metrics("live.feeder_late_p99_ms") = Stats.pct(lateMs.toSeq.drop(WarmS * 1000 / ChunkMs), 0.99)
    progressLayers(res, winBatches, r.ledger)
    traceBatches(ctx, winBatches)
    Main.phase(ctx, "check")(checkOutputs(res, r, recChunks))
    if (ctx.tracer.on) Main.phase(ctx, "components")(components(ctx, res, spark, b, r.sink))
  }
}
