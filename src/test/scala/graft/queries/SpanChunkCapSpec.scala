package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Invariants of the round-6 curation additions: the substring-span
  * dedup diagnostic, the overlapping context-window chunker, and the
  * token-budget source cap. Each invariant is the property a data
  * loader / mixture spec actually relies on — not a re-run of the
  * DuckDB oracle (the driver does that), but the structural guarantees
  * the oracle's row hash can't express. */
class SpanChunkCapSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("shingle_hash_seq: positioned hashes, distinct-set equal to hashed_shingles") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),          // 6 tokens, width 4 -> 3 windows
      (2L, "a b a b a b a b"),      // repeated text -> repeated hashes kept
      (3L, "xy")                    // shorter than width -> 1 whole-text window
    ).toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.TextShingles.tokens(col("text")).as("toks"))
    val rows = docs.select(col("doc_id"),
      graft.functions.ShingleHashSeq(col("toks"), 4).as("seq"),
      graft.functions.HashedShingles(col("toks"), 4).as("set"),
      size(col("toks")).as("n")).collect()
    rows.foreach { r =>
      val seq = r.getSeq[String](1)
      val set = r.getSeq[String](2)
      val n = r.getInt(3)
      assert(seq.length == math.max(n - 3, 1), r.toString) // one per position
      assert(seq.distinct == set, r.toString) // same distinct, same order
    }
    // the repeated doc really does keep duplicate positions
    val rep = rows.find(_.getLong(0) == 2L).get.getSeq[String](1)
    assert(rep.length == 5 && rep.distinct.length == 2)
  }

  test("repeated spans: a planted verbatim span is caught, unique docs are clean") {
    import spark.implicits._
    val span = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $span gamma"),
      (2L, s"$span delta epsilon zeta"),
      (3L, "all tokens here are unique one two three four five six seven " +
        "eight nine ten eleven twelve thirteen fourteen fifteen sixteen")
    ).toDF("doc_id", "text")
    // the SHIPPED operator over the fixture relation — not a
    // transcription that could drift from it
    val out = DedupQueries.repeatedSpansOver(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // docs 1 and 2 share the 20-token span: each contains 16-token
    // windows fully inside it (20 - 16 + 1 = 5 aligned positions), and
    // those window strings match verbatim across the two docs
    assert(out(1L)._2 >= 5, out.toString)
    assert(out(2L)._2 >= 5, out.toString)
    assert(out(3L)._2 == 0, out.toString) // the unique doc is untouched
    out.values.foreach { case (n, d) => assert(d <= n) }
  }

  test("chunking covers every token exactly, with the declared overlap") {
    val chunks = CurationQueries.chunkDocs(spark, sf)
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.functions.TextShingles.tokens(col("text")))
          .cast("long").as("n_tokens"))
    val window = CurationQueries.ChunkTokens
    val stride = CurationQueries.ChunkStride
    val rows = chunks.join(docs, "doc_id")
      .orderBy("doc_id", "chunk_idx").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (id, rs) =>
      val n = rs.head.getAs[Long]("n_tokens")
      // chunk starts advance by exactly the stride from zero
      rs.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Long]("chunk_idx") == i.toLong, s"doc $id")
        assert(r.getAs[Long]("tok_start") == i * stride, s"doc $id")
        val len = r.getAs[Long]("chunk_len")
        assert(len > 0 && len <= window, s"doc $id chunk $i len $len")
      }
      // the final chunk ends exactly at the document's last token
      val last = rs.last
      assert(last.getAs[Long]("tok_start") + last.getAs[Long]("chunk_len") == n,
        s"doc $id")
      // and no earlier chunk already reached the end (minimal cover)
      rs.init.foreach { r =>
        assert(r.getAs[Long]("tok_start") + window < n ||
          rs.length == 1, s"doc $id has a redundant trailing chunk")
      }
    }
  }

  test("corpus delta: appends exactly after the snapshot, contiguous, batch-only") {
    val delta = CurationQueries.corpusDelta(spark, sf)
      .orderBy("doc_id").collect()
    assert(delta.nonEmpty)
    val snapTokens = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 < 8)
      .agg(sum(size(graft.functions.TextShingles.tokens(col("text")))
        .cast("long"))).head.getLong(0)
    // version N's shards are never rewritten: the first delta doc
    // starts at EXACTLY the snapshot's total token count
    assert(delta.head.getAs[Long]("start_offset") == snapTokens,
      s"first=${delta.head} snapshot=$snapTokens")
    delta.foreach(r => assert(r.getAs[Long]("doc_id") % 10 >= 8, r.toString))
    // and the delta itself is contiguous (offsets exactly cumulative)
    delta.zip(delta.tail).foreach { case (a, b) =>
      assert(b.getAs[Long]("start_offset") ==
        a.getAs[Long]("start_offset") + a.getAs[Long]("n_tokens"), s"$a -> $b")
    }
    // near-dups of the snapshot were dropped: the kept set is a strict
    // subset of the batch (the sf0.001 fixture plants cross-slice dups)
    val batchN = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 >= 8).count()
    assert(delta.length < batchN, s"kept=${delta.length} batch=$batchN")
  }

  test("source cap binds, is deterministic, and respects the keep rate") {
    val kept = CurationQueries.capSources(spark, sf)
    // the test-scale cap is sized to bind for EVERY synthetic source —
    // otherwise the md5 draw would be dead code at test scale. The rate
    // is a fraction of 2^32 and must never truncate to the 0 that would
    // silently drop a whole source
    val rates = kept.select("source", "keep_u32").distinct().collect()
    assert(rates.nonEmpty)
    rates.foreach(r => assert(r.getLong(1) > 0L && r.getLong(1) < 4294967296L,
      r.toString))
    // pure function of the row: a second run keeps the identical set
    val again = CurationQueries.capSources(spark, sf)
    assert(kept.exceptAll(again).isEmpty && again.exceptAll(kept).isEmpty)
    // kept tokens per source land near the cap in expectation:
    // sum(kept) <= total and > 0 (the draw kept something everywhere)
    val bySrc = kept.groupBy("source").agg(sum("n_tokens").as("t")).collect()
    assert(bySrc.nonEmpty)
    bySrc.foreach(r => assert(r.getLong(1) > 0L, r.toString))
  }
}
