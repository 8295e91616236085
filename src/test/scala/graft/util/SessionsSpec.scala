package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** [[Sessions.conf]], the factory's pure conf-building step: its
  * defaults yield to `-Dspark.k=v`. Starts no context. */
class SessionsSpec extends AnyFunSuite {

  test("a spark.* system property overrides a factory default") {
    val key = "spark.sql.shuffle.partitions"
    val old = Option(System.getProperty(key))
    System.setProperty(key, "7")
    val conf =
      try Sessions.conf(3)
      finally old.fold(System.clearProperty(key))(System.setProperty(key, _))
    assert(conf.get(key) == "7")
    // the defaults nothing overrides still apply
    assert(conf.get("spark.master") == "local[3]")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
    assert(conf.get("spark.sql.extensions") == classOf[graft.GraftExtensions].getName)
    // and without the property the default is the core count
    assert(Sessions.conf(3).get(key) == "3")
  }
}
