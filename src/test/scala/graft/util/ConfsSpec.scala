package graft.util

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** [[Confs.withConf]] pins a key for its body only and leaves the
  * session as it found it: a key with a value gets it back, a key
  * without one is unset again. */
class ConfsSpec extends AnyFunSuite with SharedSpark {

  test("a key with no value and no default is pinned, then unset again") {
    // no value and no default: `conf.get` throws for this key
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    assert(spark.conf.getOption(key).isEmpty)
    val seen = Confs.withConf(spark, key, "x.Y")(spark.conf.getOption(key))
    assert(seen.contains("x.Y"))
    assert(spark.conf.getOption(key).isEmpty)
  }

  test("a key with a value gets it back, also when the body throws") {
    val key = "spark.sql.shuffle.partitions"
    spark.conf.set(key, "3")
    intercept[IllegalStateException] {
      Confs.withConf(spark, key, "7") {
        assert(spark.conf.get(key) == "7")
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.get(key) == "3")
  }
}
