package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.streaming.FiniteStream

/** Regression guard for the stream_lang_drift state key: the result
  * is keyed by the (source, lang) pair, so distinct pairs must keep
  * separate state rows, also the pairs ("s1","ab") and ("s1a","b")
  * whose concatenations are equal; a merged key would silently
  * overwrite one pair's count with the other's. */
class LangDriftKeySpec extends AnyFunSuite with SharedSpark {

  test("concatenation-colliding (source, lang) pairs keep separate state rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("lang-drift-key").toString
    try {
      // ("s1","ab") and ("s1a","b") concatenate to the same string
      // "s1ab"; with a shared store key one pair's count would
      // overwrite the other's on upsert.
      val rows = Seq.fill(3)(("s1", "ab")) ++ Seq.fill(5)(("s1a", "b"))
      rows.toDF("source", "lang")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = StreamingQueries.streamLangDrift(spark, dir)
        .select("source", "n_docs").as[(String, Long)].collect().toMap
      assert(out == Map("s1" -> 3L, "s1a" -> 5L),
        s"expected both colliding pairs to survive, got $out")
    } finally FiniteStream.deleteRecursively(dir)
  }
}
