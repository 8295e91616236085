package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded per-group top-k as a typed Aggregator.
  *
  * The naive per-key top-k (`row_number() OVER (PARTITION BY …) <= k`)
  * shuffles and sorts EVERY row. This aggregator keeps a k-bounded
  * sorted buffer with a commutative merge, so map-side partial
  * aggregation reduces each map partition to ≤k rows per key before
  * the shuffle — at 100 TB the shuffle carries k·keys rows instead of
  * the whole table. The window form remains the oracle spelling.
  *
  * Ordering: score descending, id ascending on ties (deterministic).
  */
case class ScoredId(score: Double, id: Long)
case class TopKBuf(scores: Seq[Double], ids: Seq[Long])

class TopKByScore(k: Int) extends Aggregator[ScoredId, TopKBuf, TopKBuf] {
  require(k > 0, s"top-k requires k > 0, got $k")

  private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  private def insert(b: TopKBuf, s: Double, i: Long): TopKBuf = {
    if (b.scores.length >= k &&
        !better(s, i, b.scores.last, b.ids.last)) return b
    val pos = b.scores.indices.find(j => better(s, i, b.scores(j), b.ids(j)))
      .getOrElse(b.scores.length)
    TopKBuf(
      (b.scores.take(pos) :+ s) ++ b.scores.drop(pos).take(k - pos - 1),
      (b.ids.take(pos) :+ i) ++ b.ids.drop(pos).take(k - pos - 1))
  }

  override def zero: TopKBuf = TopKBuf(Vector.empty, Vector.empty)

  override def reduce(b: TopKBuf, a: ScoredId): TopKBuf =
    insert(b, a.score, a.id)

  override def merge(x: TopKBuf, y: TopKBuf): TopKBuf =
    y.scores.indices.foldLeft(x)((acc, j) => insert(acc, y.scores(j), y.ids(j)))

  override def finish(r: TopKBuf): TopKBuf = r
  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
}

/** LONG-scored variant of [[TopKByScore]]: the retrieval
  * queries score on exact BIGINT grids (idf_ppm · tfn products reach
  * ~1.5e15 at sf1 and keep growing with corpus size), and routing
  * those through a Double payload silently loses exactness past 2^53 —
  * near-tie rankings would diverge from the exact-BIGINT oracle at
  * ~10× sf1. This aggregator keeps the score a Long end-to-end, so
  * the k-bounded head is exact at ANY corpus size. Same ordering
  * contract: score descending, id ascending on ties.
  */
case class ScoredIdL(score: Long, id: Long)
case class TopKBufL(scores: Seq[Long], ids: Seq[Long])

class TopKByScoreLong(k: Int) extends Aggregator[ScoredIdL, TopKBufL, TopKBufL] {
  require(k > 0, s"top-k requires k > 0, got $k")

  private def better(s1: Long, i1: Long, s2: Long, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  private def insert(b: TopKBufL, s: Long, i: Long): TopKBufL = {
    if (b.scores.length >= k &&
        !better(s, i, b.scores.last, b.ids.last)) return b
    val pos = b.scores.indices.find(j => better(s, i, b.scores(j), b.ids(j)))
      .getOrElse(b.scores.length)
    TopKBufL(
      (b.scores.take(pos) :+ s) ++ b.scores.drop(pos).take(k - pos - 1),
      (b.ids.take(pos) :+ i) ++ b.ids.drop(pos).take(k - pos - 1))
  }

  override def zero: TopKBufL = TopKBufL(Vector.empty, Vector.empty)

  override def reduce(b: TopKBufL, a: ScoredIdL): TopKBufL =
    insert(b, a.score, a.id)

  override def merge(x: TopKBufL, y: TopKBufL): TopKBufL =
    y.scores.indices.foldLeft(x)((acc, j) => insert(acc, y.scores(j), y.ids(j)))

  override def finish(r: TopKBufL): TopKBufL = r
  override def bufferEncoder: Encoder[TopKBufL] = Encoders.product[TopKBufL]
  override def outputEncoder: Encoder[TopKBufL] = Encoders.product[TopKBufL]
}
