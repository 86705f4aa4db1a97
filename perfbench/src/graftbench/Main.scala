package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness for graft. One JVM runs one workload and prints one
  * `RESULT {...}` line: the workload's metrics, its operation counts, the
  * sweep's per-query row counts and its output checks. `perfbench/run.py`
  * turns that into the benchmark's result line.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <dataRoot> <outDir>
  */
object Main {

  /** Everything a workload reports. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    var attempted = 0L
    var failed = 0L
    val counts = mutable.LinkedHashMap.empty[String, Long]
    def check(name: String, ok: Boolean, detail: String): Unit = checks += ((name, ok, detail))
  }

  /** Context shared by every workload of one run. */
  final case class Ctx(seed: Long, seconds: Int,
      tracer: Tracer, dataRoot: String, outDir: String) {
    val cores: Int = Runtime.getRuntime.availableProcessors
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataRoot, outDir) = args
    val ctx = Ctx(seed.toLong, seconds.toInt,
      new Tracer(trace == "1", s"$workload-$seed"), dataRoot, outDir)
    val res = new Result
    workload match {
      case "sweep_sf0.01" => Sweep.run(ctx, res)
      case "live_ref4" => Streams.live(ctx, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (ctx.tracer.on) {
      ctx.tracer.writeJsonLines(s"${ctx.outDir}/trace-$workload.jsonl")
      ctx.tracer.selfSeconds.toSeq.sortBy(-_._2).foreach { case (n, s) =>
        res.metrics(s"self.$n") = s
      }
    }
    println("RESULT " + toJson(res))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def toJson(r: Result): String = {
    val m = r.metrics.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",")
    val c = r.counts.map { case (k, v) => s"${str(k)}:$v" }.mkString(",")
    val ch = r.checks.map { case (n, ok, d) =>
      s"""{"name":${str(n)},"ok":$ok,"detail":${str(d)}}""" }.mkString(",")
    s"""{"attempted":${r.attempted},"failed":${r.failed},"metrics":{$m},"counts":{$c},"checks":[$ch]}"""
  }

  /** Heap in use, MB, right after a full collection. Called at the end of
    * a measured window: what the engine still holds once the work is done
    * (state, sinks, caches, memos), plus the run's own inputs. */
  def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Runs one phase of a workload as a span, logging its wall time to stderr. */
  def phase[T](ctx: Ctx, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try ctx.tracer.span(name)(f)
    finally System.err.println(f"phase $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Build the engine's own local session (all cores, the engine's
    * defaults) `rounds` times, running `prep` on each; every session but
    * the last is stopped. Returns the last session, `prep`'s last
    * result and the median seconds of one round. */
  def setUp[T](ctx: Ctx, dataDir: String, rounds: Int)(prep: SparkSession => T)
      : (SparkSession, T, Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: (SparkSession, T) = null
    for (i <- 0 until rounds) {
      val t0 = System.nanoTime()
      val s = ctx.tracer.span("setup") {
        val s = graft.GraftSession.local(cores = ctx.cores, appName = "graftbench",
          dataDir = dataDir)
        (s, prep(s))
      }
      times += (System.nanoTime() - t0) / 1e9
      if (i < rounds - 1) s._1.stop() else last = s
    }
    System.err.println(s"phase setup rounds ${times.map(t => f"$t%.2f").mkString(" ")} s")
    (last._1, last._2, Stats.median(times.toSeq))
  }
}
