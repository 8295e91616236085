package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared text tokenization / shingling column builders used by the
  * dedup and text-analysis operators. All pure `functions._` column
  * expressions — codegen'd, no UDFs, identical semantics to the DuckDB
  * oracle spellings (string_split_regex / list slicing).
  */
object TextShingles {

  /** Whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Word n-gram shingles as an array of space-joined strings.
    * For texts shorter than n tokens, the whole text is one shingle.
    *
    * IMPORTANT: pass a *materialized column reference* (project the
    * token array first), not `tokens(col(...))` inline — an expression
    * inside the transform lambda is re-evaluated per shingle position,
    * turning one regex split per row into one per shingle (measured
    * >10× slower on the documents corpus). */
  def shingles(toks: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n))))

  /** Exploded DISTINCT (doc_id, shingle) pairs for a documents frame.
    * Tokenizes once per row into a projected column, then shingles.
    * Per-row array_distinct is the only dedup needed — (doc_id, sh)
    * rows are already unique per document, so no global distinct
    * shuffle. */
  def shingleSet(docs: DataFrame, idCol: String, textCol: String,
                 n: Int): DataFrame =
    graft.util.Widen(docs)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(array_distinct(shingles(col("__toks"), n))).as("sh"))

  /** Like shingleSet but with shingles replaced by a 64-bit md5 prefix
    * — same set cardinalities (collisions negligible at this width),
    * half the shuffle bytes for set-similarity self-joins. Uses the
    * native one-pass HashedShingles expression (the interpreted HOF
    * chain was the measured cost of candidate mining); shuffle-free
    * until the self-join. */
  def shingleHashSet(docs: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame =
    graft.util.Widen(docs)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(HashedShingles(col("__toks"), n)).as("sh"))

  /** DuckDB spelling of [[tokens]] as a WITH clause yielding
    * `tok(doc_id, words)` over any relation with (doc_id, text). */
  def tokCteSql(from: String): String =
    s"""tok AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') words FROM $from)""".stripMargin

  /** DuckDB 5-gram shingling (16-hex md5 prefix) from an existing
    * `tok(doc_id, words)` relation, yielding `sh(doc_id, sh)`. */
  val shingleFromTokSql: String =
    """idx AS (
      |  SELECT doc_id, words,
      |         unnest(generate_series(1, greatest(len(words)-4, 1))) i FROM tok),
      |sh AS (SELECT DISTINCT doc_id,
      |         substr(md5(array_to_string(words[i:i+4], ' ')), 1, 16) sh FROM idx)""".stripMargin

  /** DuckDB spelling of [[shingleHashSet]] (5-gram, 16-hex md5 prefix)
    * as WITH clauses yielding relation `sh(doc_id, sh)` — every
    * shingle-mining oracle embeds THESE strings so the two spellings
    * cannot drift. */
  def shingleCte5Sql(from: String = "documents"): String =
    s"${tokCteSql(from)},\n$shingleFromTokSql"
}
