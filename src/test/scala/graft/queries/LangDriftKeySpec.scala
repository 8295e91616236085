package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.streaming.FiniteStream

/** Regression guard for the stream_lang_drift composite store key
  * (ADVICE r12): the SnapshotStore is keyed by concat(source, SEP,
  * lang), and with a collidable separator the distinct pairs
  * ("s1","ab") and ("s1a","b") would map to ONE key, silently merging
  * their counts. The key now uses a NUL separator (spelled with the backslash-u0000 escape,
  * no raw control byte in source), which cannot occur inside a parquet
  * string value of this corpus, so the composite key is injective —
  * this spec pins exactly the collision pair from the advice. */
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
