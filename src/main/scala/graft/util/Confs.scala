package graft.util

import org.apache.spark.sql.SparkSession

/** Scoped session-conf pinning. Streaming queries capture confs at
  * start, so pin-around-start is the supported pattern; the single
  * helper gives one place to reason about the (session-global)
  * mutation — callers must not build unrelated queries concurrently
  * inside the pinned scope. A key that had no value before is unset
  * again afterwards. */
object Confs {
  def withConf[T](s: SparkSession, key: String, value: String)(body: => T): T = {
    val old = s.conf.getOption(key)
    s.conf.set(key, value)
    try body finally old match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    withConf(s, "spark.sql.shuffle.partitions", n.toString)(body)
}
