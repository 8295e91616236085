package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextShingles
import graft.queries.Catalog.Entry
import graft.sources.Tables

/** End-to-end corpus cleaning — the composed LLM-data pipeline:
  * quality-gate documents, find near-duplicate pairs (shared-shingle
  * candidates + exact Jaccard), drop every duplicate except the
  * lowest doc_id survivor, emit the kept corpus. Each stage is an
  * operator verified on its own elsewhere; this query verifies the
  * composition. */
object CleaningQueries {

  def cleanCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // quality gate: token-count band + stopword presence
    val toks = TextShingles.tokens(col("text"))
    val gated = docs
      .select(col("doc_id"), col("text"), size(toks).cast(LongType).as("n_tokens"))
      .filter(col("n_tokens") >= 20 && col("n_tokens") <= 450)
    // near-dup pairs among gated docs (shared-shingle candidates,
    // exact Jaccard >= 0.8 — the shared DedupQueries pipeline);
    // loser = higher doc_id
    val losers = DedupQueries.jaccardPairs(gated, candidates = None,
        threshold = 0.8)
      .select(col("doc_b").as("loser"))
      .distinct()
    gated.join(losers, gated("doc_id") === losers("loser"), "left_anti")
      .select(col("doc_id"), col("n_tokens"))
  }

  val cleanCorpusSql: String =
    s"""WITH gated AS (
      |  SELECT doc_id, text,
      |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) n_tokens
      |  FROM documents
      |  WHERE len(string_split_regex(trim(text), '\\s+')) BETWEEN 20 AND 450),
      |${graft.functions.TextShingles.shingleCte5Sql("gated")},
      |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id da, b.doc_id db, COUNT(*) i
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |losers AS (
      |  SELECT DISTINCT db AS loser FROM inter
      |  JOIN sizes sa ON sa.doc_id = da
      |  JOIN sizes sb ON sb.doc_id = db
      |  WHERE i*1.0/(sa.n + sb.n - i) >= 0.8)
      |SELECT doc_id, n_tokens FROM gated
      |WHERE doc_id NOT IN (SELECT loser FROM losers)""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("pipeline_clean_corpus", cleanCorpus, cleanCorpusSql))
}
