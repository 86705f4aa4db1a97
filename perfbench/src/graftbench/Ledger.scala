package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Per-tag job/stage/task ledger read from Spark's own listener events.
  * The benchmark tags the driver thread with a local property before
  * each call into a layer; Structured Streaming's own jobs carry the
  * query id instead and are filed under [[Ledger.StreamTag]]. */
final class Ledger extends SparkListener {
  import Ledger._

  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val totals = new ConcurrentHashMap[String, Totals]()

  private def tot(tag: String): Totals = totals.computeIfAbsent(tag, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(TagKey)))
      .orElse(props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .map(_ => StreamTag))
      .getOrElse(Untagged)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageTag.put(_, tag))
    tot(tag).synchronized { tot(tag).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => intervals.add((s, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val t = tot(stageTag.getOrDefault(e.stageInfo.stageId, Untagged))
    t.synchronized { t.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val t = tot(stageTag.getOrDefault(e.stageId, Untagged))
    t.synchronized {
      t.tasks += 1
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        t.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
  }

  /** Totals over every tag `keep` accepts. */
  def sum(keep: String => Boolean): Totals = {
    val out = new Totals
    totals.asScala.foreach { case (k, t) => if (keep(k)) t.synchronized(out.add(t)) }
    out
  }

  /** Milliseconds inside [fromMs, toMs] during which at least one job
    * ran: the union of job intervals clipped to the window. */
  def jobActiveMs(fromMs: Long, toMs: Long): Long = {
    val iv = intervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def reset(): Unit = { totals.clear(); intervals.clear() }
}

object Ledger {
  val TagKey = "graftbench.tag"
  val StreamTag = "stream"
  val Untagged = "untagged"

  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var peakMem = 0L
    var shuffleBytes = 0L; var shuffleRecords = 0L; var spillBytes = 0L
    def add(o: Totals): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      peakMem = math.max(peakMem, o.peakMem)
      shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords
      spillBytes += o.spillBytes
    }
  }
}
