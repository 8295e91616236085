package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Regression pins for the BM25 retrieval family (ADVICE r13): the
  * streaming index head must order postings by the SATURATED score,
  * not raw tf — sat(tf) = tf·2000 DIV (tf+1) is monotone but NOT
  * injective (62 and 63 both saturate to 1968), and the oracle breaks
  * score ties by doc_id asc, so a raw-tf head would keep the wrong
  * doc at the k-boundary. The fixture engineers exactly that
  * collision at rank 5. */
class RetrievalSpec extends AnyFunSuite with SharedSpark {

  /** Fixture corpus: 20 stopword-ish terms (df=10, ranks 1–20), ten
    * query terms q01–q10 (df=6, ranks 21–30). q01's six postings have
    * tf 100/90/80/70/63/62 — sat ties 63 vs 62 at 1968, and the
    * HIGHER tf sits on the HIGHER doc_id (900) while the sat-tied
    * lower tf sits on doc_id 10, so raw-tf ordering and the oracle's
    * (score desc, doc_id asc) disagree on who makes top-5. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-retrieval-spec-").toString
    import spark.implicits._
    val stop = (1 to 20).map(i => f"s$i%02d").mkString(" ")
    val stopDocs = (101 to 110).map(id => (id.toLong, stop))
    val q01 = Seq((1L, 100), (2L, 90), (3L, 80), (4L, 70),
      (900L, 63), (10L, 62)).map { case (id, tf) =>
      (id, Seq.fill(tf)("q01").mkString(" "))
    }
    // q02: six docs with IDENTICAL tf=10 but growing lengths (unique
    // filler terms, df=1 each, far below the rank-21..30 selection) —
    // full BM25 must rank the shorter doc higher; b=0 sees them tied
    val q02 = (1 to 6).map { j =>
      val id = 200L + j
      val pad = (1 to (j - 1) * 30).map(p => s"z${id}x$p")
      (id, (Seq.fill(10)("q02") ++ pad).mkString(" "))
    }
    val rest = (3 to 10).flatMap { q =>
      (1 to 6).map { j =>
        (1000L + q * 10 + j, Seq.fill(j)(f"q$q%02d").mkString(" "))
      }
    }
    (stopDocs ++ q01 ++ q02 ++ rest).toDF("doc_id", "text")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def top5(name: String): Seq[(Long, Long)] =
    Catalog.queries(name)(spark, dir)
      .filter("term = 'q01'")
      .collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id")))
      .sortBy(_._1).toSeq

  test("MAP@5 and recall@5 match an independent recomputation (r17 #7)") {
    // hand-compute the widened metrics in plain Scala longs from the
    // systems' own ranked lists + the fusion-consensus qrels — an
    // independent third spelling next to the Spark query and the
    // DuckDB oracle, floored in the same fixed order
    val sf = "/root/testdata/sf0.001"
    val nTerms = 10L // RankLo..RankHi query terms
    val qrels = Catalog.queries("text_rrf_fusion3")(spark, sf)
      .select("term", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val nrel = qrels.groupBy(_._1).map { case (t, s) => t -> s.size.toLong }
    def handEval(listName: String): (Long, Long) = {
      val byTerm = Catalog.queries(listName)(spark, sf)
        .select("term", "rank", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      var apSum = 0L
      var recSum = 0L
      byTerm.foreach { case (t, rows) =>
        var ch = 0L
        var sp = 0L
        rows.sortBy(_._2).foreach { case (_, rank, doc) =>
          if (qrels.contains((t, doc))) {
            ch += 1
            sp += ch * 1000000L / rank
          }
        }
        apSum += sp / math.min(nrel(t), 5L)
        recSum += ch * 1000000L / nrel(t)
      }
      (apSum / nTerms, recSum / nTerms)
    }
    val got = Catalog.queries("text_retrieval_metrics")(spark, sf)
      .select("system", "map_ppm", "recall_ppm").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val systems = Map("bm25_b0" -> "text_bm25_topk",
      "bm25_full" -> "text_bm25_full", "ql_dirichlet" -> "text_ql_dirichlet")
    systems.foreach { case (sys, q) =>
      assert(got(sys) == handEval(q), s"$sys metrics diverged")
    }
    // the consensus members must retrieve a real share of the qrels
    got.values.foreach { case (map5, rec5) =>
      assert(map5 > 0L && map5 <= 1000000L)
      assert(rec5 > 0L && rec5 <= 1000000L)
    }
  }

  test("batch top-5 breaks the sat(62)=sat(63) tie by doc_id asc") {
    assert(top5("text_bm25_topk") ==
      Seq(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 10L))
  }

  test("streaming head stores sat-ordered postings — same tie-break") {
    assert(top5("stream_bm25_topk") ==
      Seq(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 10L))
  }

  test("batch and stream agree on every term of the fixture") {
    val b = Catalog.queries("text_bm25_topk")(spark, dir)
      .collect().map(_.toSeq).toSet
    val s = Catalog.queries("stream_bm25_topk")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(b == s)
  }

  // ---- length-normalized BM25 (k1 = 1.2, b = 0.75) ----

  private def q02Rows(name: String): Seq[(Long, Long, Long)] =
    Catalog.queries(name)(spark, dir)
      .filter("term = 'q02'")
      .collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("score")))
      .sortBy(_._1).toSeq

  test("full BM25 ranks equal-tf docs by length: shortest first, strictly") {
    val rows = q02Rows("text_bm25_full")
    assert(rows.map(_._2) == Seq(201L, 202L, 203L, 204L, 205L),
      s"expected ascending-length order, got $rows")
    val scores = rows.map(_._3)
    assert(scores == scores.sorted.reverse && scores.distinct == scores,
      s"scores must strictly decrease with doc length: $scores")
  }

  test("b = 0 (text_bm25_topk) sees the same equal-tf docs as exact ties") {
    val rows = q02Rows("text_bm25_topk")
    // no length signal: identical scores, ties broken by doc_id asc
    assert(rows.map(_._2) == Seq(201L, 202L, 203L, 204L, 205L))
    assert(rows.map(_._3).distinct.size == 1, s"expected tied scores: $rows")
  }

  test("full-BM25 batch and stream agree on every term of the fixture") {
    val b = Catalog.queries("text_bm25_full")(spark, dir)
      .collect().map(_.toSeq).toSet
    val s = Catalog.queries("stream_bm25_full")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(b == s)
  }

  test("b = 0 rank order reduces to tf order under cross-multiplication") {
    // with cDl = 0 the tfn comparison 22·tfA·D/(cTf·tfA·D + c·D) vs
    // same-for-B cross-multiplies to tfA·(10·tfB+12) vs tfB·(10·tfA+12)
    // = 12·tfA vs 12·tfB — exactly the tf order. Fuzz the EXACT
    // rational comparator (no floor) against plain tf comparison.
    val rnd = new scala.util.Random(140214)
    def cmp(tfA: Long, tfB: Long): Int = {
      // exact rational: numA/denA vs numB/denB with cDl = 0, D cancels
      val (numA, denA) = (22 * tfA, 10 * tfA + 12)
      val (numB, denB) = (22 * tfB, 10 * tfB + 12)
      java.lang.Long.compare(numA * denB, numB * denA)
    }
    for (_ <- 1 to 2000) {
      val a = 1L + rnd.nextInt(100000)
      val b = 1L + rnd.nextInt(100000)
      assert(cmp(a, b).sign == java.lang.Long.compare(a, b).sign,
        s"b=0 BM25 order must equal tf order: tfA=$a tfB=$b")
    }
  }
}
