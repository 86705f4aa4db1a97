package graftbench

import scala.collection.mutable

import graft.ml.GraftIsolationForest

/** One generated telemetry record as the benchmark made it, before it
  * was serialized to JSON: the inputs the reference detector replays. */
final case class Rec(seq: Long, tsMs: Long, key: String, power: Double,
    demand: Double, s1: Option[Double], s2: Option[Double])

/** One flagged outlier, as the sink holds it or the reference derives it. */
final case class Flag(tsMs: Long, key: String, power: Double, z: Double, ifs: Double) {
  /** Order-insensitive digest term: a 64-bit mix of every field. */
  def mix: Long = {
    var h = 0x9E3779B97F4A7C15L
    def step(x: Long): Unit = {
      h ^= x; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 31
    }
    step(tsMs); step(key.hashCode.toLong)
    step(java.lang.Double.doubleToLongBits(power))
    step(java.lang.Double.doubleToLongBits(z))
    step(java.lang.Double.doubleToLongBits(ifs))
    h
  }
}

/** Reference computation of the live loop's detector, written from its
  * documented contract (per-key ring of the last 500 feature vectors;
  * one Isolation Forest re-fit per key per micro-batch from the window
  * as it stood at batch start, 50 trees of 128 samples seeded
  * 42 + key.hashCode; the IF cut is the window's own 95th-percentile
  * score; rows are scored in (ts, power) order against a z-score of
  * power over the window, flagged when |z| > 3 or the IF score passes
  * the cut; nothing is scored until the window holds 30 rows). It
  * replays the exact micro-batch boundaries the streaming query used,
  * so its flags must equal the sink's bit for bit. */
final class Reference {
  private val Cap = 500
  private val MinTrain = 30

  private final class Ring { var buf = Array.emptyDoubleArray; var pos = 0; var count = 0L; var dim = 0 }
  private val rings = mutable.HashMap.empty[String, Ring]

  private def features(r: Rec): Array[Double] = {
    val own = Set("thermal", "wind", "solar", "hydro")
    (r.s1, r.s2) match {
      case (Some(a), Some(b)) if own(r.key) => Array(r.power, r.demand, a, b)
      case _ => Array(r.power, r.demand)
    }
  }

  /** Feed one key's rows of one micro-batch; returns its flags. */
  def batch(key: String, rows: Seq[Rec]): Seq[Flag] = {
    val st = rings.getOrElseUpdate(key, new Ring)
    val filled = math.min(st.count, Cap.toLong).toInt
    val window = Array.tabulate(if (st.dim > 0) filled else 0)(i =>
      java.util.Arrays.copyOfRange(st.buf, i * st.dim, (i + 1) * st.dim))
    val forest =
      if (filled >= MinTrain)
        GraftIsolationForest.fit(window, numTrees = 50, sampleSize = 128,
          seed = 42L + key.hashCode)
      else null
    val cut =
      if (forest == null) Double.MaxValue
      else {
        val s = window.map(forest.score).sorted
        s(math.min(s.length - 1, math.floor(0.95 * s.length).toInt))
      }
    val out = Seq.newBuilder[Flag]
    var n = filled
    rows.sortBy(r => (r.tsMs, r.power)).foreach { r =>
      val v = features(r)
      if (st.dim == 0) { st.dim = v.length; st.buf = new Array[Double](Cap * st.dim) }
      if (v.length == st.dim) {
        if (n >= MinTrain) {
          var sum = 0.0; var i = 0
          while (i < n) { sum += st.buf(i * st.dim); i += 1 }
          val mean = sum / n
          var ss = 0.0; i = 0
          while (i < n) { val d = st.buf(i * st.dim) - mean; ss += d * d; i += 1 }
          val sd = math.sqrt(ss / n)
          val z = if (sd > 0) (r.power - mean) / sd else 0.0
          val ifs = if (forest != null) forest.score(v) else 0.5
          if (math.abs(z) > 3.0 || ifs > cut)
            out += Flag(r.tsMs, key, r.power, math.rint(z * 1e6) / 1e6,
              math.rint(ifs * 1e6) / 1e6)
        }
        System.arraycopy(v, 0, st.buf, st.pos * st.dim, st.dim)
        st.pos = (st.pos + 1) % Cap
        st.count += 1
        if (n < Cap) n += 1
      }
    }
    out.result()
  }

  def stateRows: Int = rings.size
}

object Reference {
  /** Replay `batches` (each a list of records, in commit order) through
    * the reference detector; returns its flags and how many keys it saw. */
  def replay(batches: Seq[Seq[Rec]]): (Seq[Flag], Int) = {
    val ref = new Reference
    val flags = batches.flatMap(_.groupBy(_.key).toSeq.flatMap { case (k, rs) => ref.batch(k, rs) })
    (flags, ref.stateRows)
  }
}
