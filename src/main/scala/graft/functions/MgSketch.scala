package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Misra–Gries k-counter frequency sketch — the mergeable HEAVY-HITTER
  * summary completing the sketch triad (cardinality = [[KmvSketch]],
  * quantiles = DecimalSketch, frequency = this). The summary holds at
  * most k (item, count) counters; inserting a held item increments it,
  * inserting a new item into a full summary decrements ALL counters
  * (dropping zeros) — the classic Misra–Gries 1982 algorithm. Two
  * summaries merge by adding counts and, if more than k counters
  * remain, subtracting the (k+1)-th largest count from every counter
  * and dropping the non-positive ones (Agarwal et al., "Mergeable
  * Summaries", PODS 2012 — the merge preserves the error bound).
  *
  * Guarantees (N = TOTAL items folded in, any merge topology):
  *
  *   true(t) − N/(k+1)  ≤  est(t)  ≤  true(t)
  *
  * and every item with true(t) > N/(k+1) is HELD (its estimate is
  * positive). The held SET and the estimates depend on merge order —
  * only the bounds are topology-invariant — so a deterministic query
  * cannot expose raw estimates. The deterministic protocol (used by
  * `sketch_mg_topk`): treat the ≤k held items as CANDIDATES, join
  * back for exact counts (a broadcast semi-join of ≤k terms — bounded
  * work), and gate on exact ≥ N/k. Every ≥N/k-heavy item is held in
  * EVERY valid sketch (N/k − N/(k+1) > 0), and the exact-count gate
  * rejects any merge-order-dependent stragglers, so the output is the
  * exact heavy set however the data was partitioned.
  *
  * Scale shape: a partial per partition is ≤ k counters; the shuffle
  * moves one such partial per (group × partition) — SUM-like volume
  * at any row count; the held-item increment is the steady-state O(1)
  * path (hash-map hit), and the decrement sweep is O(k) amortized
  * once per k misses. */
object MgSketch {

  /** Fold one item into a ≤k-counter summary. */
  def insert(m: Map[String, Long], item: String, k: Int): Map[String, Long] =
    m.get(item) match {
      case Some(c) => m.updated(item, c + 1)
      case None if m.size < k => m.updated(item, 1L)
      case None =>
        // decrement-all: the new item and one unit of every counter
        // cancel; zeros drop out
        m.flatMap { case (t, c) => if (c > 1) Some(t -> (c - 1)) else None }
    }

  /** Merge two summaries (Agarwal et al. 2012): add counts; if over
    * k counters, subtract the (k+1)-th largest count from all and
    * drop non-positives (at most k counts exceed it, so the result
    * is ≤ k counters with the combined N/(k+1) bound intact). */
  def merge(x: Map[String, Long], y: Map[String, Long],
            k: Int): Map[String, Long] = {
    val sum = y.foldLeft(x) { case (m, (t, c)) =>
      m.updated(t, m.getOrElse(t, 0L) + c)
    }
    if (sum.size <= k) sum
    else {
      val kth = sum.valuesIterator.toArray.sorted(Ordering[Long].reverse)(k)
      sum.flatMap { case (t, c) =>
        if (c > kth) Some(t -> (c - kth)) else None
      }
    }
  }
}

/** Mutable Misra–Gries aggregation buffer: the Aggregators below
  * mutate ONE java.util.HashMap in place per row/merge —
  * kryo-serialized only at shuffle boundaries — where an immutable-Map
  * fold would rebuild a map per insertion (measurable CPU at real
  * scale). The algorithms mirror
  * [[MgSketch.insert]]/[[MgSketch.merge]] exactly (the pure spellings
  * stay as the fuzz-tested specification; MgSketchSpec pins the
  * buffer ≡ pure-fold equivalence), and every sweep treats all
  * counters uniformly, so hash-iteration order never shows in the
  * result. */
final class MgBuf extends Serializable {
  val m = new java.util.HashMap[String, java.lang.Long]()

  /** [[MgSketch.insert]], in place: hit = O(1) increment; miss below
    * budget = O(1) put; miss at budget = O(k) decrement-all sweep
    * (amortized once per k misses). */
  def insert(item: String, k: Int): Unit = {
    val c = m.get(item)
    if (c != null) m.put(item, c + 1L)
    else if (m.size < k) m.put(item, 1L)
    else {
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val nc = e.getValue - 1L
        if (nc <= 0L) it.remove() else e.setValue(nc)
      }
    }
  }

  /** [[MgSketch.merge]], folding `other` into this buffer: add
    * counts; if over k counters, subtract the (k+1)-th largest count
    * from all and drop non-positives (Agarwal et al. 2012). */
  def mergeFrom(other: java.util.Map[String, java.lang.Long],
                k: Int): Unit = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = m.get(e.getKey)
      m.put(e.getKey,
        if (c == null) e.getValue else java.lang.Long.valueOf(c + e.getValue))
    }
    shrinkTo(k)
  }

  /** [[mergeFrom]] over a SCALA map — the rollup path's per-row input
    * ([[MgSketchMergeAgg.reduce]] receives decoded Map[String, Long]
    * sketch columns). Iterating the scala map directly avoids the
    * per-row O(k) java-HashMap copy (the allocation MgBuf exists to
    * eliminate). */
  def mergeFrom(other: scala.collection.Map[String, Long], k: Int): Unit = {
    other.foreachEntry { (t, c) =>
      val cur = m.get(t)
      m.put(t, if (cur == null) c else cur + c)
    }
    shrinkTo(k)
  }

  /** The Agarwal-merge shrink: if over k counters, subtract the
    * (k+1)-th largest count from all and drop non-positives. */
  private def shrinkTo(k: Int): Unit = {
    if (m.size > k) {
      val vals = new Array[Long](m.size)
      var i = 0
      val vi = m.values().iterator()
      while (vi.hasNext) { vals(i) = vi.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val kth = vals(vals.length - 1 - k) // the (k+1)-th largest
      val ei = m.entrySet().iterator()
      while (ei.hasNext) {
        val e = ei.next()
        val nc = e.getValue - kth
        if (nc <= 0L) ei.remove() else e.setValue(nc)
      }
    }
  }

  def result: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    val it = m.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }
}

/** Typed Aggregator over the item column; SQL-reachable as
  * `mg_sketch_64` (GraftSql registration). Buffer is the mutable
  * [[MgBuf]] (kryo at shuffle boundaries only); the output stays the
  * encoder-friendly Map[String, Long].
  *
  * STATE-FORMAT NOTE: bufferEncoder is Encoders.kryo[MgBuf], so the
  * streaming aggregation STATE schema is binary, not
  * map<string,bigint>; a checkpoint persisted by an mg_sketch build
  * with an ExpressionEncoder[Map] buffer
  * streaming aggregation (e.g. stream_mg_topk) cannot resume against
  * this one — Spark state schema validation rejects the mismatch
  * loudly at restart, it does not corrupt. All catalog checkpoints
  * are ephemeral scratch dirs, so nothing in this repo is affected; a
  * deployment that persists such checkpoints must drain the old query
  * (EMIT FINAL its state) and start the new build from fresh state,
  * the standard stateful-upgrade path. */
class MgSketchAgg(k: Int)
    extends Aggregator[String, MgBuf, Map[String, Long]] {
  require(k >= 1, s"Misra-Gries needs k >= 1, got $k")

  override def zero: MgBuf = new MgBuf

  override def reduce(b: MgBuf, item: String): MgBuf = {
    if (item != null) b.insert(item, k)
    b
  }

  override def merge(x: MgBuf, y: MgBuf): MgBuf = {
    x.mergeFrom(y.m, k)
    x
  }

  override def finish(r: MgBuf): Map[String, Long] = r.result

  override def bufferEncoder: Encoder[MgBuf] = Encoders.kryo[MgBuf]
  override def outputEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
}

/** Merge STORED MG sketches (the KmvSketchMergeAgg pattern): a
  * second-level aggregation combines previously-built sketch columns
  * without re-reading rows — e.g. rolling per-(source, day) artifacts
  * up to per-source candidates. */
class MgSketchMergeAgg(k: Int)
    extends Aggregator[Map[String, Long], MgBuf, Map[String, Long]] {
  require(k >= 1, s"Misra-Gries needs k >= 1, got $k")

  override def zero: MgBuf = new MgBuf

  override def reduce(b: MgBuf, sk: Map[String, Long]): MgBuf = {
    if (sk != null) b.mergeFrom(sk, k) // scala-map overload: no copy
    b
  }

  override def merge(x: MgBuf, y: MgBuf): MgBuf = {
    x.mergeFrom(y.m, k)
    x
  }

  override def finish(r: MgBuf): Map[String, Long] = r.result

  override def bufferEncoder: Encoder[MgBuf] = Encoders.kryo[MgBuf]
  override def outputEncoder: Encoder[Map[String, Long]] =
    ExpressionEncoder[Map[String, Long]]()
}
