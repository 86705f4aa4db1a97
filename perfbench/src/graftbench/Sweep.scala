package graftbench

import scala.collection.mutable

import graft.SparkEntry

/** `sweep_sf0.01`: passes over a fixed cross-section of the batch query
  * surface, each query built, planned and run to completion. */
object Sweep {

  /** Query-id prefix → the module that owns those queries. */
  val Modules: Seq[(String, String)] = Seq(
    "q" -> "Analytics", "e" -> "EventOps", "a" -> "AnomalyML", "d" -> "Dedup",
    "s" -> "Similarity", "t" -> "TextOps", "i" -> "Sampling", "m" -> "Multimodal")

  /** 22 of the 104 queries, chosen from a measured cold-memo pass of all
    * 104 on these tables (perfbench/README.md, "Query selection"). Each
    * module gets a share of an 18 s pass equal to its share of the full
    * pass; within it, queries are taken heaviest first, alternating
    * between the heaviest builder and the heaviest executor, so that the
    * subset covers about a third of each module's build and exec time. */
  val Queries: Seq[String] = Seq(
    "q16_colocated_join", "q13_window_suite", "q11_approx_distinct",
    "e23_detector_scorecard", "e12_range_join", "e16_correlation",
    "e18_window_drift", "e4_sessionize", "e20_rate_burst",
    "a3_kmeans_outlier", "a8_hist_drift",
    "d12_keeper_select", "d5_embed_neardup", "d8_dedup_clusters", "d17_dedup_report",
    "s3_ivf",
    "t12_lm_quality", "t9_tfidf_topk", "t10_repetition",
    "i9_curriculum", "i8_token_budget",
    "m5_percep_clusters")

  /** Measured passes, each over its own copy of the tables. */
  val Passes = 2

  final case class Timing(query: String, buildNs: Long, planNs: Long, execNs: Long) {
    def totalMs: Double = (buildNs + planNs + execNs) / 1e6
  }

  def run(ctx: Main.Ctx, res: Main.Result): Unit = {
    import ctx.tracer
    val base = s"${ctx.dataRoot}/sf0.01"
    // set-up: a session, then every input table read once
    val (spark, _, setupS) = Main.setUp(ctx, s"$base/warm", 3) { s =>
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
        .foreach(t => graft.Tables.table(s, s"$base/warm", t).count())
    }
    res.metrics("setup_s") = setupS
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val queries = SparkEntry.queries
    val rng = new scala.util.Random(ctx.seed)
    val counts = mutable.LinkedHashMap.empty[String, Long]

    def one(q: String, dir: String, tag: String): Option[Timing] = tracer.span("query") {
      val sc = spark.sparkContext
      try {
        sc.setLocalProperty(Ledger.TagKey, s"$tag|$q|build")
        val t0 = System.nanoTime()
        val df = tracer.span("build")(queries(q)(spark, dir))
        val t1 = System.nanoTime()
        sc.setLocalProperty(Ledger.TagKey, s"$tag|$q|plan")
        tracer.span("plan")(df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        sc.setLocalProperty(Ledger.TagKey, s"$tag|$q|exec")
        val n = tracer.span("exec")(df.queryExecution.toRdd.count())
        val t3 = System.nanoTime()
        counts.get(q) match {
          case Some(prev) if prev != n =>
            res.check(s"count:$q", false, s"pass counts differ: $prev vs $n")
          case _ => counts(q) = n
        }
        System.err.println(f"query $tag $q rows=$n build=${(t1 - t0) / 1e6}%.0f " +
          f"plan=${(t2 - t1) / 1e6}%.0f exec=${(t3 - t2) / 1e6}%.0f ms")
        Some(Timing(q, t1 - t0, t2 - t1, t3 - t2))
      } catch {
        case e: Throwable =>
          System.err.println(s"query $q failed: $e")
          None
      } finally sc.setLocalProperty(Ledger.TagKey, null)
    }

    // JIT / codegen warm-up over its own copy of the data; the measured
    // passes each read a fresh copy, so per-directory model memos stay
    // cold, as on a dataset the engine has not seen before.
    val warmT0 = System.nanoTime()
    val warmFailed = Main.phase(ctx, "warmup")(Queries.count(q => one(q, s"$base/warm", "warm").isEmpty))
    res.metrics("sweep.warmup_s") = (System.nanoTime() - warmT0) / 1e9
    org.apache.spark.BusShim.drain(spark.sparkContext)
    ledger.reset()

    val timings = mutable.ArrayBuffer.empty[Timing]
    val passS = mutable.ArrayBuffer.empty[Double]
    val winStart = System.currentTimeMillis()
    val winStartNs = System.nanoTime()
    for (p <- 0 until Passes) {
      val order = rng.shuffle(Queries)
      val t0 = System.nanoTime()
      tracer.span("pass") {
        order.foreach { q =>
          res.attempted += 1
          one(q, s"$base/p$p", "run") match {
            case Some(t) => timings += t
            case None => res.failed += 1
          }
        }
      }
      passS += (System.nanoTime() - t0) / 1e9
    }
    val winEnd = System.currentTimeMillis()
    res.metrics("trace.overhead_ratio") = tracer.overheadRatio(winStartNs, System.nanoTime())
    // a query that throws contributes no timing, and its count check would
    // still pass on the count of another pass: the run is not correct
    res.check("no_failed_queries", warmFailed == 0 && res.failed == 0,
      s"failed: warm-up=$warmFailed measured=${res.failed} of ${res.attempted}")
    res.metrics("heap_retained_mb") = Main.retainedHeapMb()
    org.apache.spark.BusShim.drain(spark.sparkContext)

    val ms = timings.map(_.totalMs).toSeq
    res.metrics("throughput_per_s") = timings.size / passS.sum
    res.metrics("latency_p50_ms") = Stats.median(ms)
    res.metrics("latency_tail_ms") = Stats.pct(ms, 0.75)
    res.metrics("latency_samples") = ms.size
    res.metrics("sweep.total_s") = Stats.median(passS.toSeq)
    res.metrics("sweep.geomean_ms") = Stats.geomean(
      timings.groupBy(_.query).values.map(ts => Stats.median(ts.map(_.totalMs).toSeq)).toSeq)

    val passes = Passes.toDouble
    for ((prefix, m) <- Modules) {
      val ts = timings.filter(_.query.startsWith(prefix))
      res.metrics(s"sweep.$m.build_s") = ts.map(_.buildNs).sum / 1e9 / passes
      res.metrics(s"sweep.$m.exec_s") = ts.map(_.execNs).sum / 1e9 / passes
      res.metrics(s"sweep.$m.jobs") =
        ledger.sum(t => t.startsWith("run|") && t.split('|')(1).startsWith(prefix)).jobs / passes
    }
    res.metrics("sweep.plan_s") = timings.map(_.planNs).sum / 1e9 / passes
    val activeMs = ledger.jobActiveMs(winStart, winEnd)
    res.metrics("sweep.job_active_s") = activeMs / 1e3 / passes
    res.metrics("sweep.driver_idle_s") = ((winEnd - winStart) - activeMs) / 1e3 / passes
    val all = ledger.sum(_.startsWith("run|"))
    res.metrics("sweep.jobs") = all.jobs / passes
    res.metrics("sweep.stages") = all.stages / passes
    res.metrics("sweep.tasks") = all.tasks / passes
    res.metrics("sweep.tasks_per_stage") = if (all.stages > 0) all.tasks.toDouble / all.stages else 0.0
    Layers.exec(res, all, passes)
    counts.foreach { case (q, n) => res.counts(q) = n }
  }
}

/** Shared layer-metric helpers. */
object Layers {
  /** Executor-side totals per pass (or per run when `per` = 1). */
  def exec(res: Main.Result, t: Ledger.Totals, per: Double): Unit = {
    res.metrics("exec.run_s") = t.runMs / 1e3 / per
    res.metrics("exec.cpu_s") = t.cpuNs / 1e9 / per
    res.metrics("exec.gc_s") = t.gcMs / 1e3 / per
    res.metrics("exec.peak_mem_mb") = t.peakMem / 1048576.0
    res.metrics("shuffle.write_mb") = t.shuffleBytes / 1048576.0 / per
    res.metrics("shuffle.records") = t.shuffleRecords / per
    res.metrics("spill.mb") = t.spillBytes / 1048576.0 / per
  }
}
