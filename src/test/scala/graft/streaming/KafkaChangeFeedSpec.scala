package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The Kafka façade must degrade predictably where the connector jar
  * is absent (this sandbox): availability is detectable up front, and
  * the failure is Spark's standard missing-source error — not a
  * compile-time dependency. When the jar IS present, the same call
  * yields the ChangeFeed column contract unchanged. */
class KafkaChangeFeedSpec extends AnyFunSuite with SharedSpark {

  test("connector absence is detectable and df() fails fast with the standard error") {
    if (KafkaChangeFeed.isAvailable) {
      // environment with the jar: the contract columns must line up
      val df = KafkaChangeFeed.df(spark, "localhost:9092", "t")
      assert(df.columns.toSeq == Seq("key", "value", "partition", "offset", "ts"))
    } else {
      val e = intercept[Exception] {
        KafkaChangeFeed.df(spark, "localhost:9092", "t")
      }
      val msg = s"${e.getMessage} ${Option(e.getCause).map(_.getMessage).getOrElse("")}"
      assert(msg.toLowerCase.contains("kafka"))
    }
  }
}
