package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.util.Sessions

/** Every suite's Spark session. The forked test JVM runs one context,
  * built once by [[Sessions.local]]; each suite gets its own
  * `newSession()` of it — its own SQL confs, temp views, functions and
  * streaming query manager — and sets its runtime confs on it through
  * [[sessionConf]]. No suite stops the shared context: [[afterAll]]
  * sweeps the suite's session and fails the suite if it left a
  * streaming query running. */
trait SharedSpark extends BeforeAndAfterAll { this: Suite =>

  /** Runtime SQL confs this suite sets on its session, over the
    * factory defaults (4 shuffle partitions, AQE on). */
  protected def sessionConf: Map[String, String] = Map.empty

  lazy val spark: SparkSession = {
    val s = SharedSpark.root.newSession()
    sessionConf.foreach { case (k, v) => s.conf.set(k, v) }
    SparkSession.setActiveSession(s)
    s
  }

  override def afterAll(): Unit =
    try {
      val left = spark.streams.active.toSeq
      left.foreach(_.stop())
      Sessions.sweep(spark)
      if (left.nonEmpty)
        fail(s"$suiteName left streaming queries active: " +
          left.map(q => Option(q.name).getOrElse(q.id.toString)).mkString(", "))
    } finally super.afterAll()
}

object SharedSpark {
  /** `local[4]`, the core count the suites' expectations were written at. */
  lazy val root: SparkSession = Sessions.local(4)
}
