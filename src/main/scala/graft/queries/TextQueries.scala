package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextShingles
import graft.queries.Catalog.Entry
import graft.sources.Tables
import graft.streaming.FiniteStream
import graft.streaming.FiniteStream.{Keyed, Leg}

/** Text-analysis operators over `documents`: token counting, quality
  * scoring, n-gram-heuristic language ID, fingerprinting. All pure
  * column expressions (codegen'd, partition-parallel, no UDFs) — the
  * shapes a 100 TB pretraining-data pipeline runs per document with no
  * shuffle at all (narrow transforms only).
  */
object TextQueries {

  private def toks: Column = TextShingles.tokens(col("text"))

  private def hitCount(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isin(words.map(w => w: Any): _*)))
      .cast(LongType)

  /** Whitespace + BPE-ish token counting. `n_tokens_bpe` approximates a
    * subword count: ceil(chars-without-spaces / 4) — the standard
    * ~4-chars-per-token heuristic, exact integer arithmetic. */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(toks).cast(LongType).as("n_tokens"),
      ceil(length(regexp_replace(col("text"), "\\s", "")) / lit(4.0))
        .cast(LongType).as("n_tokens_bpe"))

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |  CAST(ceil(length(regexp_replace(text, '\s', '', 'g')) / 4.0) AS BIGINT) AS n_tokens_bpe
      |FROM documents""".stripMargin

  /** GPT-2-style pretokenizer pattern, lookahead-free so Java regex
    * (Spark) and RE2 (DuckDB) agree — both are leftmost-first on
    * alternation: contraction suffixes, space-prefixed letter runs,
    * digit runs, punctuation runs, residual whitespace. */
  private[graft] val PretokenPattern =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  /** Real subword-boundary pretokenization (the step BEFORE BPE merges
    * — what [[tokenCount]]'s chars/4 only estimates): the GPT-2 regex
    * applied per document, counting total and distinct pretokens plus
    * milli-chars-per-pretoken as exact integer division. One narrow
    * codegen'd scan; the regex engine differences (Java vs RE2) are
    * neutralized by keeping the pattern inside both engines' common
    * leftmost-first subset (no lookarounds, no backrefs). */
  def pretokenize(s: SparkSession, d: String): DataFrame = {
    val pts = regexp_extract_all(col("text"), lit(PretokenPattern), lit(0))
    Tables.documents(s, d).select(
      col("doc_id"),
      size(pts).cast(LongType).as("n_pretokens"),
      size(array_distinct(pts)).cast(LongType).as("n_distinct"),
      // positive-integer floor division: the double quotient is far
      // from any integer boundary (spacing ≥ 1/n ≫ ulp), so the cast
      // truncation equals DuckDB's integer //
      ((length(col("text")) * 1000) / size(pts))
        .cast(LongType).as("milli_chars_per_pt"))
  }

  val pretokenizeSql: String = {
    val pat = PretokenPattern.replace("'", "''")
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT)
       |    AS n_pretokens,
       |  CAST(len(list_distinct(regexp_extract_all(text, '$pat')))
       |    AS BIGINT) AS n_distinct,
       |  CAST((length(text) * 1000)
       |    // len(regexp_extract_all(text, '$pat')) AS BIGINT)
       |    AS milli_chars_per_pt
       |FROM documents""".stripMargin
  }

  private val enStop = Seq("the", "and", "of", "to", "a", "in", "is")

  /** Quality scoring: token/char stats, stopword ratio, and a banded
    * quality score. Ratios are integer-derived doubles (deterministic
    * cross-engine); the score uses only threshold comparisons. */
  /** The banded score expression (grid {0.25, 0.5, 0.75, 1.0}) —
    * shared by [[quality]] and [[qualityHistogram]] so the two can't
    * drift. */
  private[graft] def qualityScoreCol: Column = {
    val n = size(toks).cast(LongType)
    val stopRatio = hitCount(toks, enStop) * 1.0 / n
    when(n.between(50, 500), 0.5).otherwise(0.25) +
      when(stopRatio > 0.02, 0.5).otherwise(0.0)
  }

  def quality(s: SparkSession, d: String): DataFrame = {
    val n = size(toks).cast(LongType)
    val chars = length(col("text")).cast(LongType)
    val noSpace = length(regexp_replace(col("text"), "\\s", "")).cast(LongType)
    val stopN = hitCount(toks, enStop)
    val stopRatio = stopN * 1.0 / n
    Tables.documents(s, d).select(
      col("doc_id"),
      n.as("n_tokens"),
      chars.as("n_chars"),
      (noSpace * 1.0 / n).as("avg_token_len"),
      stopRatio.as("stop_ratio"),
      qualityScoreCol.as("quality_score"))
  }

  val qualitySql: String =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) n,
      |    CAST(length(text) AS BIGINT) chars,
      |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) nospace,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |      x -> list_contains(['the','and','of','to','a','in','is'], x))) AS BIGINT) stopn
      |  FROM documents)
      |SELECT doc_id, n AS n_tokens, chars AS n_chars,
      |  nospace*1.0/n AS avg_token_len,
      |  stopn*1.0/n AS stop_ratio,
      |  CAST(CASE WHEN n BETWEEN 50 AND 500 THEN 0.5 ELSE 0.25 END AS DOUBLE) +
      |   CAST(CASE WHEN stopn*1.0/n > 0.02 THEN 0.5 ELSE 0.0 END AS DOUBLE) AS quality_score
      |FROM t""".stripMargin

  private val esStop = Seq("el", "la", "de", "que", "y", "en", "los")
  private val frStop = Seq("le", "la", "de", "et", "les", "des", "un")
  private val deStop = Seq("der", "die", "und", "das", "ist", "ein")

  /** Language ID via stopword-hit heuristic with a fixed tie-break
    * order (en ≥ es ≥ fr ≥ de). Also reports agreement with the
    * labeled lang column. */
  def langId(s: SparkSession, d: String): DataFrame = {
    val en = hitCount(toks, enStop)
    val es = hitCount(toks, esStop)
    val fr = hitCount(toks, frStop)
    val de = hitCount(toks, deStop)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        en.as("en_hits"), es.as("es_hits"), fr.as("fr_hits"), de.as("de_hits"))
      .withColumn("pred_lang",
        when(col("en_hits") >= col("es_hits") &&
             col("en_hits") >= col("fr_hits") &&
             col("en_hits") >= col("de_hits"), "en")
          .when(col("es_hits") >= col("fr_hits") &&
                col("es_hits") >= col("de_hits"), "es")
          .when(col("fr_hits") >= col("de_hits"), "fr")
          .otherwise("de"))
      .withColumn("is_match", (col("pred_lang") === col("lang")).cast(LongType))
  }

  val langIdSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') w
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(w, x -> list_contains(['the','and','of','to','a','in','is'], x))) AS BIGINT) en_hits,
      |    CAST(len(list_filter(w, x -> list_contains(['el','la','de','que','y','en','los'], x))) AS BIGINT) es_hits,
      |    CAST(len(list_filter(w, x -> list_contains(['le','la','de','et','les','des','un'], x))) AS BIGINT) fr_hits,
      |    CAST(len(list_filter(w, x -> list_contains(['der','die','und','das','ist','ein'], x))) AS BIGINT) de_hits
      |  FROM t)
      |SELECT doc_id, lang, en_hits, es_hits, fr_hits, de_hits,
      |  CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
      |       WHEN es_hits >= fr_hits AND es_hits >= de_hits THEN 'es'
      |       WHEN fr_hits >= de_hits THEN 'fr'
      |       ELSE 'de' END AS pred_lang,
      |  CAST(CASE WHEN (CASE WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
      |       WHEN es_hits >= fr_hits AND es_hits >= de_hits THEN 'es'
      |       WHEN fr_hits >= de_hits THEN 'fr'
      |       ELSE 'de' END) = lang THEN 1 ELSE 0 END AS BIGINT) AS is_match
      |FROM h""".stripMargin

  /** Document fingerprinting: whole-document content hash over
    * whitespace-normalized text, plus a min-shingle fingerprint (the
    * k=1 winnowing hash — robust to local edits). */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    Tables.documents(s, d)
      .select(col("doc_id"), md5(norm).as("content_fp"),
        TextShingles.tokens(col("text")).as("__toks")) // tokenize once per row
      .select(col("doc_id"), col("content_fp"),
        array_min(transform(TextShingles.shingles(col("__toks"), 5), sh => md5(sh)))
          .as("min_shingle_fp"))
  }

  val fingerprintSql: String =
    """WITH t AS (
      |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') words
      |  FROM documents),
      |idx AS (
      |  SELECT doc_id, text, words,
      |         unnest(generate_series(1, greatest(len(words)-4, 1))) i FROM t),
      |sh AS (
      |  SELECT doc_id, min(md5(array_to_string(words[i:i+4], ' '))) msf
      |  FROM idx GROUP BY doc_id)
      |SELECT t.doc_id,
      |  md5(trim(regexp_replace(lower(t.text), '\s+', ' ', 'g'))) AS content_fp,
      |  sh.msf AS min_shingle_fp
      |FROM t JOIN sh ON t.doc_id = sh.doc_id""".stripMargin

  /** Corpus-level term frequency: explode + grouped count + top-k
    * (the vocabulary/stopword-mining primitive; two-phase agg, top-k
    * merge — no global sort). */
  def topTerms(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(toks).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(20)

  val topTermsSql: String =
    """SELECT t AS term, COUNT(*) AS n
      |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) t FROM documents)
      |GROUP BY t ORDER BY n DESC, term LIMIT 20""".stripMargin

  /** Per-document keyterms by TF-IDF — the tagging/labeling primitive
    * (what distinguishes THIS document from the corpus): per-doc term
    * frequency times the family's integer idf
    * (((N − df)·2 + 1)·10^6 DIV (df·2 + 1) — the RetrievalQueries
    * spelling), top-3 terms per document by (score desc, term asc).
    * Scale shape: tf is a per-doc grouped count (map-side partials),
    * df one vocabulary-keyed agg; the tf–df join is term-keyed (both
    * sides already hashed on term — TF-IDF's inherent shuffle); the
    * per-doc top-3 is a doc-keyed window over each document's OWN
    * vocabulary (bounded per key). Output: 3 rows per document. */
  def docKeyterms(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // single-mined (guide §2.3): the df aggregation and the scoring
    // join otherwise each execute their own tokenize→explode→agg
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", expr(
        "tf * (((n_docs - df) * 2 + 1) * 1000000 DIV (df * 2 + 1))"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast(LongType).as("rank"),
        col("term"), col("score"))
  }

  val docKeytermsSql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |sc AS (
      |  SELECT t.doc_id, t.term,
      |         t.tf * (((n.n_docs - d.df) * 2 + 1) * 1000000
      |                 // (d.df * 2 + 1)) AS score
      |  FROM tf t JOIN df d USING (term) CROSS JOIN n)
      |SELECT doc_id, CAST(rn AS BIGINT) AS rank, term,
      |       CAST(score AS BIGINT) AS score
      |FROM (SELECT doc_id, term, score,
      |             row_number() OVER (PARTITION BY doc_id
      |               ORDER BY score DESC, term) AS rn
      |      FROM sc)
      |WHERE rn <= 3""".stripMargin

  /** Streaming twin of [[docKeyterms]] — incremental df maintenance:
    * one update-mode aggregation keyed on term counts each term's
    * document frequency as documents arrive (every doc arrives once,
    * so row count IS df — the streamBm25TopK discipline; O(1) state
    * per distinct term). At finalize the per-doc tf relation over the
    * at-rest corpus joins the DRAINED df (term-keyed — TF-IDF's
    * inherent shuffle) with the 1-row doc-count stat (the
    * streamBm25Full parameter discipline) and the scoring/window run
    * exactly as the batch twin. Same oracle. */
  def streamDocKeyterms(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = Tables.stream(s, d, "documents")
      .select(col("doc_id"), explode(array_distinct(toks)).as("term"))
    val agg = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val Seq(df) = FiniteStream.drain(Leg(agg, "update", sink = Keyed("term")))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", expr(
        "tf * (((n_docs - df) * 2 + 1) * 1000000 DIV (df * 2 + 1))"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast(LongType).as("rank"),
        col("term"), col("score"))
  }

  /** Heavy hitters through a COUNT-MIN SKETCH, with the sketch's
    * error contract verified in-query. The scale design is the point:
    * at 100 TB the sketch is the only O(1)-state way to ask "how
    * often does X occur" without keying a shuffle on an unbounded
    * term domain — each partition folds its tokens into a fixed
    * w×d counter grid, partials merge by cell-wise addition (order-
    * independent, so the result is deterministic under the fixed
    * seed regardless of partitioning), and the driver receives one
    * ~KB-sized object however big the corpus is. The exact top-20
    * pass exists to VERIFY the sketch: for every heavy term the
    * estimate must sit in [n, n + eps·N] (the classic CM guarantee;
    * eps=1e-4, depth from confidence=0.999, N = total token count).
    * The driver-side probe loop touches exactly 20 rows — the top-k
    * report, small by construction. */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d).select(explode(toks).as("term"))
    // one corpus scan builds the vocab-sized counts relation; N and
    // the top-20 both derive from it (persisted so the two actions
    // don't re-scan the corpus). The sketch pass is the second and
    // last corpus scan — the one that would remain alone at 100 TB.
    val counts = words.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .persist()
    try {
      val total = counts.agg(sum(col("n"))).collect().head.getLong(0)
      val top = counts.orderBy(col("n").desc, col("term")).limit(20)
      val cms = words.stat.countMinSketch("term",
        eps = 0.0001, confidence = 0.999, seed = 42)
      val slack = math.ceil(0.0001 * total).toLong
      val rows = top.collect().toSeq.map { r =>
        val (t, n) = (r.getString(0), r.getLong(1))
        val est = cms.estimateCount(t)
        (t, n, if (est >= n) 1L else 0L, if (est <= n + slack) 1L else 0L)
      }
      import s.implicits._
      rows.toDF("term", "n", "ok_lower", "ok_upper")
    } finally { counts.unpersist(); () }
  }

  val heavyHittersSql: String =
    """SELECT t AS term, COUNT(*) AS n,
      |  CAST(1 AS BIGINT) AS ok_lower, CAST(1 AS BIGINT) AS ok_upper
      |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) t FROM documents)
      |GROUP BY t ORDER BY n DESC, term LIMIT 20""".stripMargin

  /** One counting iteration of distributed BPE vocabulary training:
    * corpus-wide adjacent character-pair frequencies, weighted by word
    * frequency. The scale move is the word-frequency pre-aggregation:
    * the corpus collapses to its VOCABULARY (one row per distinct
    * word) before any pair work, so the pair explosion and every
    * subsequent trainer iteration run over |vocab| rows, not corpus
    * rows — the standard trick that makes iterated BPE training
    * feasible at 100 TB (the corpus is scanned exactly once; the loop
    * re-segments the vocab relation against a broadcast merge table
    * and recounts). Both stages are map-side-combined hash aggs; the
    * pair space is bounded by the symbol-bigram alphabet, so partials
    * stay tiny. The argmax pair = the iteration's merge winner. */
  def bpePairs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(toks).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .selectExpr(
        "explode(transform(sequence(1, length(word) - 1), " +
          "i -> substr(word, i, 2))) AS pair",
        "freq")
      .groupBy(col("pair"))
      .agg(sum(col("freq")).cast(LongType).as("n"))

  val bpePairsSql: String =
    """WITH w AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
      |  FROM documents),
      |wf AS (SELECT word, COUNT(*) AS freq FROM w
      |       WHERE len(word) >= 2 GROUP BY word),
      |p AS (
      |  SELECT unnest(list_transform(generate_series(1, len(word) - 1),
      |                i -> substr(word, i, 2))) AS pair, freq
      |  FROM wf)
      |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
      |FROM p GROUP BY pair""".stripMargin

  /** The FULL iterated BPE vocabulary trainer ([[bpePairs]] is its
    * single counting step): K=8 merge rounds over the pre-aggregated
    * vocabulary, returning the learned merge table (merge_rank, pair,
    * n) — the artifact a tokenizer trainer ships.
    *
    * Scale shape: the corpus collapses to |vocab| rows ONCE (the only
    * corpus-wide scan + shuffle); every training round then runs over
    * the cached vocab relation — a narrow re-segmentation + a
    * map-side-combined pair count whose key space is the symbol-bigram
    * alphabet. The per-round driver sync is ONE row (the argmax
    * winner) — the trainer's inherent sequential dependency, same as
    * any BPE implementation; everything else stays distributed.
    *
    * Merge application is EXACT greedy left-to-right BPE, spelled as
    * one builtin `replace` per round: symbols are double-space-joined
    * with double-space padding, and the pattern `' x  y '` consumes
    * only ONE outer space on each side, so adjacent matches keep their
    * boundary and leftmost non-overlapping replacement equals the
    * greedy list-scan (verified in BpeSpec against a reference
    * implementation). DuckDB's `replace` has identical semantics, so
    * the oracle unrolls the same 8 rounds as chained CTEs. */
  def bpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val K = 8
    val vocab = Tables.documents(s, d)
      .select(explode(toks).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).cast(LongType).as("freq"))
      .withColumn("rep",
        concat(lit("  "), array_join(split(col("word"), ""), "  "),
          lit("  ")))
      .select("freq", "rep")
      .persist()
    try {
      var cur = vocab
      val merges = Seq.newBuilder[(Long, String, Long)]
      (1 to K).foreach { k =>
        val top = cur
          .select(col("freq"), split(trim(col("rep")), "  ").as("syms"))
          .filter(size(col("syms")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(1, size(syms) - 1), i -> " +
              "concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"))
            .as("pair"))
          .groupBy("pair").agg(sum("freq").as("n"))
          .orderBy(col("n").desc, col("pair").asc)
          .limit(1).collect()
        val (pair, n) = (top.head.getString(0), top.head.getLong(1))
        merges += ((k.toLong, pair, n))
        val Array(x, y) = pair.split(' ') // symbols never contain spaces
        cur = cur.withColumn("rep",
          call_function("replace", col("rep"),
            lit(s" $x  $y "), lit(s" $x$y ")))
      }
      merges.result().toDF("merge_rank", "pair", "n")
    } finally { vocab.unpersist(); () }
  }

  val bpeTrainSql: String = {
    val stages = (1 to 8).map { k =>
      s"""p$k AS (
         |  SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(syms)),
         |      i -> syms[i] || ' ' || syms[i+1])) AS pair
         |    FROM (SELECT freq, string_split(trim(rep), '  ') AS syms
         |          FROM v${k - 1})
         |    WHERE len(syms) >= 2)
         |  GROUP BY pair),
         |w$k AS (SELECT pair, n FROM p$k ORDER BY n DESC, pair LIMIT 1),
         |v$k AS (
         |  SELECT freq, replace(rep,
         |    ' ' || string_split(w$k.pair, ' ')[1] || '  ' ||
         |      string_split(w$k.pair, ' ')[2] || ' ',
         |    ' ' || replace(w$k.pair, ' ', '') || ' ') AS rep
         |  FROM v${k - 1}, w$k)""".stripMargin
    }.mkString(",\n")
    val out = (1 to 8)
      .map(k => s"SELECT CAST($k AS BIGINT) AS merge_rank, pair, n FROM w$k")
      .mkString("\nUNION ALL\n")
    s"""WITH wf AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |        FROM documents)
       |  WHERE len(word) >= 2 GROUP BY word),
       |v0 AS (SELECT freq,
       |  '  ' || array_to_string(string_split(word, ''), '  ') || '  '
       |    AS rep FROM wf),
       |$stages
       |$out""".stripMargin
  }

  /** BPE merge list applied per word (hierarchical: later merges
    * consume earlier merges' symbols) — shared by the encoder query
    * and its oracle. Fixed model parameters, scale-factor-independent
    * by design: an encoder is parameterized by a TRAINED merge table,
    * not by the corpus it happens to run over. */
  private[queries] val EncoderMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
    "an" -> "d", "e" -> "r", "o" -> "n", "r" -> "e")

  /** BPE ENCODING with a fixed trained merge table: every word maps to
    * its greedy segmentation under [[EncoderMerges]], applied in rank
    * order — one chained builtin `replace` per merge over the
    * double-space symbol representation (see [[bpeTrain]] for why
    * that spelling is exactly greedy BPE). Pure narrow codegen'd
    * expressions, zero shuffle, zero state: the per-document token
    * counts a packing/budgeting pipeline needs at 100 TB. */
  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val repW = "concat('  ', array_join(split(w, ''), '  '), '  ')"
    val chained = EncoderMerges.foldLeft(repW) { case (acc, (x, y)) =>
      s"replace($acc, ' $x  $y ', ' $x$y ')"
    }
    val encW = s"split(trim($chained), '  ')"
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .selectExpr("doc_id",
        s"CAST(aggregate(transform(toks, w -> size($encW)), 0, " +
          "(acc, x) -> acc + x) AS BIGINT) AS n_tokens",
        "CAST(size(toks) AS BIGINT) AS n_words",
        s"array_join(transform(slice(toks, 1, 3), " +
          s"w -> array_join($encW, '|')), ' ') AS enc_first3")
  }

  val bpeEncodeSql: String = {
    val repW = "'  ' || array_to_string(string_split(w, ''), '  ') || '  '"
    val chained = EncoderMerges.foldLeft(repW) { case (acc, (x, y)) =>
      s"replace($acc, ' $x  $y ', ' $x$y ')"
    }
    val encW = s"string_split(trim($chained), '  ')"
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(list_sum(list_transform(toks, w -> len($encW)))
       |    AS BIGINT) AS n_tokens,
       |  CAST(len(toks) AS BIGINT) AS n_words,
       |  array_to_string(list_transform(toks[1:3],
       |    w -> array_to_string($encW, '|')), ' ') AS enc_first3
       |FROM t""".stripMargin
  }

  /** VOCABULARY COVERAGE — per source, what fraction of token
    * occurrences a top-K frequency vocabulary covers (the
    * out-of-vocabulary rate, exact parts-per-million): the diagnostic
    * that sizes a tokenizer's vocab and flags domain drift between
    * sources. Scale shape: the corpus-wide term count is one
    * map-side-combined agg; the top-K cut is a count-ordered LIMIT
    * (runs as a top-K merge, no global sort); the membership join
    * BROADCASTS the K-row vocab so the per-source pass never
    * shuffles token rows — at 100 TB the token stream is huge and the
    * vocab is kilobytes, the only sane orientation. Tie-break at the
    * count boundary is lexicographic, so both engines cut the
    * identical vocabulary. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val VocabK = 1000
    // NB: single-mining the exploded token stream via
    // localCheckpoint measured 0.69× (materializing corpus-token rows
    // costs more than the second tokenize pass it saves) — left as
    // two passes deliberately.
    val tok = Tables.documents(s, d)
      .select(col("source"), explode(toks).as("term"))
    val vocab = tok.groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(VocabK)
      .select(col("term"), lit(1).as("__in_vocab"))
    tok.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast(LongType).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L))
          .cast(LongType).as("n_oov"))
      .selectExpr("source", "n_tokens", "n_oov",
        "CAST(n_oov * 1000000 DIV n_tokens AS BIGINT) AS oov_ppm")
  }

  val vocabCoverageSql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |vocab AS (
      |  SELECT term FROM (
      |    SELECT term, COUNT(*) AS n FROM tok GROUP BY term)
      |  ORDER BY n DESC, term ASC LIMIT 1000)
      |SELECT tok.source,
      |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN vocab.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_oov,
      |  CAST(CAST(SUM(CASE WHEN vocab.term IS NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000000 // CAST(COUNT(*) AS BIGINT) AS BIGINT)
      |    AS oov_ppm
      |FROM tok LEFT JOIN vocab ON tok.term = vocab.term
      |GROUP BY tok.source""".stripMargin

  /** Character-level ENTROPY per document — the information-density
    * quality signal (gibberish and boilerplate sit at the extremes;
    * compression-ratio filters are this in disguise). Total entropy in
    * MICRO-NATS as an exact integer: Σ over characters of
    * c·⌊ln(n/c)·1e6⌋ — the [[bigramLogprob]] grid trick, so
    * per-document sums are order-independent and engine-portable (a
    * flip needs the two engines' ln to differ across a 1e-6 boundary
    * on the same integer ratio). Kept as the (n_chars, micro-nat sum)
    * pair; H = sum/n/1e6 downstream. Shuffle profile: two
    * map-side-combined aggs + one equi-join, all keyed on doc_id. */
  def charEntropy(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"))
    counts.join(totals, "doc_id")
      .groupBy(col("doc_id"))
      .agg(max(col("n")).cast(LongType).as("n_chars"),
        sum(expr("c * CAST(floor(ln(n / c) * 1000000) AS BIGINT)"))
          .cast(LongType).as("entropy_micro_nats"))
  }

  val charEntropySql: String =
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
      |c AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch),
      |t AS (SELECT doc_id, SUM(c) AS n FROM c GROUP BY doc_id)
      |SELECT c.doc_id,
      |  CAST(MAX(t.n) AS BIGINT) AS n_chars,
      |  CAST(SUM(c.c * CAST(floor(ln(t.n / c.c) * 1000000) AS BIGINT))
      |    AS BIGINT) AS entropy_micro_nats
      |FROM c JOIN t ON c.doc_id = t.doc_id
      |GROUP BY c.doc_id""".stripMargin

  /** [[charEntropy]]'s NATIVE form — the same integers from ONE
    * narrow pass ([[graft.functions.CharEntropy]]): the composed
    * dataflow pays two corpus shuffles (char counts, per-doc totals)
    * for what is a per-row fold; this pays none. Shares
    * [[charEntropySql]] verbatim — the oracle can't tell them apart,
    * which is the point (EntropyParitySpec pins row-level equality
    * between the two spellings too). */
  def charEntropyNative(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.CharEntropy(col("text")).as("__e"))
      .select(col("doc_id"), col("__e.n_chars").as("n_chars"),
        col("__e.entropy_micro_nats").as("entropy_micro_nats"))

  /** Corpus COMPOSITION REPORT — the go/no-go table a data lead reads
    * before a training run: classifier verdict × language cross-tab
    * with document and token mass. Reuses [[classifierProjection]]
    * joined back to the language column; two shuffles total (the
    * classifier is narrow, the cross-tab keys on ≤ |langs|·2 rows). */
  def compositionReport(s: SparkSession, d: String): DataFrame = {
    val scored = classifierProjection(
        graft.util.Widen(Tables.documents(s, d)))
      .select(col("doc_id"), col("n_tokens"), col("keep_doc"))
    Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(scored, "doc_id")
      .groupBy(col("lang"), col("keep_doc"))
      .agg(count(lit(1)).cast(LongType).as("docs"),
        sum(col("n_tokens")).cast(LongType).as("tokens"))
  }

  // lazy: references classifierScoreSql, declared later in this object
  lazy val compositionReportSql: String =
    s"""WITH s AS ($classifierScoreSql)
       |SELECT d.lang, s.keep_doc,
       |  CAST(COUNT(*) AS BIGINT) AS docs,
       |  CAST(SUM(s.n_tokens) AS BIGINT) AS tokens
       |FROM documents d JOIN s ON d.doc_id = s.doc_id
       |GROUP BY d.lang, s.keep_doc""".stripMargin

  /** Tokenizer FERTILITY by language — the standard tokenizer-eval
    * metric (subword tokens per word; higher = the vocabulary serves
    * that language worse): [[bpeEncode]]'s fixed-merge encoder summed
    * per language on an exact integer grid (milli-tokens-per-word =
    * Σtokens·1000 DIV Σwords). One narrow scan + one map-side-combined
    * agg over ≤ |languages| keys — at 100 TB the reduce side is a
    * handful of rows. */
  def bpeFertility(s: SparkSession, d: String): DataFrame = {
    val repW = "concat('  ', array_join(split(w, ''), '  '), '  ')"
    val chained = EncoderMerges.foldLeft(repW) { case (acc, (x, y)) =>
      s"replace($acc, ' $x  $y ', ' $x$y ')"
    }
    val encW = s"split(trim($chained), '  ')"
    graft.util.Widen(Tables.documents(s, d))
      .select(col("lang"), toks.as("toks"))
      .selectExpr("lang",
        s"aggregate(transform(toks, w -> size($encW)), 0, " +
          "(acc, x) -> acc + x) AS __t",
        "size(toks) AS __w")
      .groupBy(col("lang"))
      .agg(sum(col("__t")).cast(LongType).as("n_tokens"),
        sum(col("__w")).cast(LongType).as("n_words"))
      .selectExpr("lang", "n_tokens", "n_words",
        "CAST(n_tokens * 1000 DIV n_words AS BIGINT) AS fertility_milli")
  }

  val bpeFertilitySql: String = {
    val repW = "'  ' || array_to_string(string_split(w, ''), '  ') || '  '"
    val chained = EncoderMerges.foldLeft(repW) { case (acc, (x, y)) =>
      s"replace($acc, ' $x  $y ', ' $x$y ')"
    }
    val encW = s"string_split(trim($chained), '  ')"
    s"""WITH t AS (
       |  SELECT lang, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |p AS (SELECT lang,
       |        list_sum(list_transform(toks, w -> len($encW))) AS t,
       |        len(toks) AS w
       |      FROM t)
       |SELECT lang,
       |  CAST(SUM(t) AS BIGINT) AS n_tokens,
       |  CAST(SUM(w) AS BIGINT) AS n_words,
       |  CAST(CAST(SUM(t) AS BIGINT) * 1000 // CAST(SUM(w) AS BIGINT)
       |    AS BIGINT) AS fertility_milli
       |FROM p GROUP BY lang""".stripMargin
  }

  /** Fertility-bucket width (milli-tokens-per-word per bucket) for
    * [[fertilityDrift]] — quarter-token granularity: fine enough that
    * a tokenizer-mix shift moves mass across buckets, coarse enough
    * that the bucket relation stays tiny. */
  private[queries] val FertilityBucketMilli = 250L

  /** Per-document (source, fertility bucket) relation shared by the
    * batch and streaming drift gates — a pure narrow pass (the
    * [[bpeEncode]] fixed-merge encoder inside one row expression), so
    * it plans on batch AND unbounded sources. */
  private[queries] def fertilityBuckets(docs: DataFrame): DataFrame = {
    val repW = "concat('  ', array_join(split(w, ''), '  '), '  ')"
    val chained = EncoderMerges.foldLeft(repW) { case (acc, (x, y)) =>
      s"replace($acc, ' $x  $y ', ' $x$y ')"
    }
    val encW = s"split(trim($chained), '  ')"
    graft.util.Widen(docs)
      .select(col("source"), toks.as("toks"))
      .selectExpr("source",
        s"CAST(aggregate(transform(toks, w -> size($encW)), 0, " +
          "(acc, x) -> acc + x) AS BIGINT) AS __t",
        "CAST(size(toks) AS BIGINT) AS __w")
      .select(col("source"),
        expr(s"(__t * 1000 DIV __w) DIV $FertilityBucketMilli").as("bkt"))
  }

  /** TVD finalize over ANY (source, bucket, ct) count relation — shared
    * by the batch gate and the streaming twins' stored counts; the
    * exact-arithmetic spelling of [[CurationQueries.langDrift]]
    * (Σ|ct·Ng − cg·Nt| in BIGINT, one IEEE division to normalize). */
  private[queries] def fertilityTvd(t: DataFrame,
                                    bucket: String): DataFrame = {
    val nt = t.groupBy(col("source")).agg(sum(col("ct")).as("nt"))
    val g = t.groupBy(col(bucket)).agg(sum(col("ct")).as("cg"))
      .crossJoin(t.agg(sum(col("ct")).as("ng")))
    nt.crossJoin(broadcast(g))
      .join(t, Seq("source", bucket), "left")
      .na.fill(0L, Seq("ct"))
      .groupBy(col("source"), col("nt"), col("ng"))
      .agg(sum(abs(col("ct") * col("ng") - col("cg") * col("nt")))
        .as("tvd_scaled"))
      .select(col("source"), col("tvd_scaled"),
        (col("tvd_scaled") / (lit(2.0) * col("nt") * col("ng"))).as("tvd"),
        col("nt").as("n_docs"))
  }

  /** Per-source tokenizer-FERTILITY drift gate — the tokenizer-health monitor a
    * production corpus runs continuously: each document's subword fertility
    * (milli-tokens-per-word under the frozen [[bpeEncode]] merges) buckets on a
    * [[FertilityBucketMilli]] grid, and each source's bucket distribution is
    * scored by total-variation distance against the global mix — the
    * categorical drift machinery of `curate_lang_drift` composed with the BPE
    * fertility relation. A source whose new crawl suddenly tokenizes worse
    * (code, another language, mojibake) moves mass to high buckets and trips
    * the gate long before eval loss would. Everything after the narrow per-doc
    * encode is |sources|×|buckets| rows. */
  def fertilityDrift(s: SparkSession, d: String): DataFrame =
    fertilityTvd(fertilityBuckets(Tables.documents(s, d))
      .groupBy(col("source"), col("bkt")).agg(count(lit(1)).as("ct")), "bkt")

  val fertilityDriftSql: String = {
    val repW = "'  ' || array_to_string(string_split(w, ''), '  ') || '  '"
    val chained = EncoderMerges.foldLeft(repW) { case (acc, (x, y)) =>
      s"replace($acc, ' $x  $y ', ' $x$y ')"
    }
    val encW = s"string_split(trim($chained), '  ')"
    s"""WITH t0 AS (
       |  SELECT source, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |p AS (SELECT source,
       |        CAST(list_sum(list_transform(toks, w -> len($encW)))
       |          AS BIGINT) AS t,
       |        CAST(len(toks) AS BIGINT) AS w
       |      FROM t0),
       |b AS (SELECT source,
       |        ((t * 1000) // w) // $FertilityBucketMilli AS bkt
       |      FROM p),
       |t AS (SELECT source, bkt, COUNT(*) AS ct FROM b GROUP BY source, bkt),
       |nt AS (SELECT source, SUM(ct) AS nt FROM t GROUP BY source),
       |g AS (SELECT bkt, SUM(ct) AS cg FROM t GROUP BY bkt),
       |ng AS (SELECT SUM(ct) AS ng FROM t),
       |j AS (
       |  SELECT n.source, n.nt, gg.ng,
       |         abs(COALESCE(t.ct, 0) * gg.ng - g.cg * n.nt) AS term
       |  FROM nt n CROSS JOIN g CROSS JOIN ng gg
       |  LEFT JOIN t ON t.source = n.source AND t.bkt = g.bkt)
       |SELECT source, CAST(SUM(term) AS BIGINT) AS tvd_scaled,
       |       CAST(SUM(term) AS BIGINT) / (2.0::DOUBLE * nt * ng) AS tvd,
       |       CAST(nt AS BIGINT) AS n_docs
       |FROM j GROUP BY source, nt, ng""".stripMargin
  }

  /** Hashed-feature LINEAR CLASSIFIER inference — the fasttext-style
    * quality/domain filter every pretraining pipeline runs per
    * document, as one narrow codegen'd expression (zero shuffle, zero
    * UDFs): each token hashes into a 4096-bucket feature space
    * ([[graft.functions.Md5Key]] — the engine-portable hash, so the
    * oracle computes bit-equal buckets), each bucket carries a
    * deterministic weight ((b·2654435761) mod 1001 − 500, a fixed
    * Knuth-multiplicative surrogate for trained parameters — inference
    * cost and plan shape are identical to a real weight table), and
    * the document score is the bag-of-words weight sum. Integer
    * throughout: raw score, per-token milli-score, and the sign
    * verdict — no float summation order to diverge on. At 100 TB a
    * REAL model's weights arrive the same way: a few-MB broadcast
    * array indexed by the same hash expression. */
  def classifierScore(s: SparkSession, d: String): DataFrame =
    classifierProjection(Tables.documents(s, d))

  /** The classifier as a projection over ANY (doc_id, text) relation —
    * batch and streaming twins share it verbatim (stateless narrow
    * expressions, so the streaming form needs no state at all). */
  private[queries] def classifierProjection(docs: DataFrame): DataFrame = {
    val w = "CAST(CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT) " +
      "% 4096 * 2654435761 % 1001 - 500 AS BIGINT)"
    docs
      .select(col("doc_id"), toks.as("toks"))
      .selectExpr("doc_id",
        s"aggregate(transform(toks, t -> $w), CAST(0 AS BIGINT), " +
          "(acc, x) -> acc + x) AS score",
        "CAST(size(toks) AS BIGINT) AS n_tokens")
      .selectExpr("doc_id", "score", "n_tokens",
        "CAST(score * 1000 DIV n_tokens AS BIGINT) AS score_milli_per_tok",
        "CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep_doc")
  }

  val classifierScoreSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(list_sum(list_transform(toks, t ->
      |    ('0x' || substr(md5(t), 1, 8))::BIGINT % 4096
      |      * 2654435761 % 1001 - 500)) AS BIGINT) AS score,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(CAST(list_sum(list_transform(toks, t ->
      |    ('0x' || substr(md5(t), 1, 8))::BIGINT % 4096
      |      * 2654435761 % 1001 - 500)) AS BIGINT) * 1000
      |    // CAST(len(toks) AS BIGINT) AS BIGINT) AS score_milli_per_tok,
      |  CAST(CASE WHEN list_sum(list_transform(toks, t ->
      |    ('0x' || substr(md5(t), 1, 8))::BIGINT % 4096
      |      * 2654435761 % 1001 - 500)) > 0
      |    THEN 1 ELSE 0 END AS BIGINT) AS keep_doc
      |FROM t""".stripMargin

  /** PII scrubbing: emails, IPv4 literals, and 7+ digit runs masked
    * with typed placeholders — the pretraining-corpus hygiene pass.
    * Deliberately NO `\b` boundaries: Java's `\b` is Unicode-aware
    * while RE2's (the oracle's) is ASCII-only, so boundary patterns
    * diverge on non-ASCII-adjacent matches; boundary-free patterns
    * behave identically in both engines (and mask letter-adjacent
    * digit runs too). Separator-delimited numbers (555-123-4567) are
    * out of scope for this pass. `scrub_delta` is the signed length
    * change (placeholders can be longer than short matches). */
  /** The one scrub spelling (email → IP → long-number), shared by the
    * per-doc scrub and the per-source report so the redaction rules
    * cannot drift between them. */
  private def scrubbedCol: Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(col("text"),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}", "<IP>"),
      "\\d{7,}", "<NUM>")

  /** Same, as the DuckDB CTE body (columns doc_id, source, text,
    * scrubbed). */
  private val scrubCteSql: String =
    """s AS (
      |  SELECT doc_id, source, text,
      |    regexp_replace(regexp_replace(regexp_replace(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
      |      '\d{7,}', '<NUM>', 'g') scrubbed
      |  FROM documents)""".stripMargin

  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val scrubbed = scrubbedCol
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(scrubbed).as("scrubbed_hash"),
      (length(col("text")) - length(scrubbed)).cast(LongType).as("scrub_delta"))
  }

  val piiScrubSql: String =
    s"""WITH $scrubCteSql
      |SELECT doc_id, md5(scrubbed) AS scrubbed_hash,
      |       CAST(length(text) - length(scrubbed) AS BIGINT) AS scrub_delta
      |FROM s""".stripMargin

  /** Per-source PII hit-rate — the release-gate companion to
    * [[piiScrub]]: which sources carry redactable content and how
    * much. A "hit" is an exact content change (scrubbed ≠ original by
    * md5 — not the length delta, which a same-length substitution can
    * zero out). One narrow scan + one agg over the handful of
    * sources; the ppm is an exact BIGINT division. */
  def piiBySource(s: SparkSession, d: String): DataFrame = {
    val scrubbed = scrubbedCol
    Tables.documents(s, d)
      .select(col("source"),
        (md5(scrubbed) =!= md5(col("text"))).as("hit"),
        (length(col("text")) - length(scrubbed)).cast(LongType).as("delta"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast(LongType).as("docs"),
        sum(when(col("hit"), 1L).otherwise(0L)).cast(LongType).as("pii_docs"),
        expr("CAST((sum(CASE WHEN hit THEN 1 ELSE 0 END) * 1000000) DIV count(1) AS BIGINT)")
          .as("pii_ppm"),
        sum(col("delta")).cast(LongType).as("scrub_delta_chars"))
  }

  val piiBySourceSql: String =
    s"""WITH $scrubCteSql
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
      |  CAST(SUM(CASE WHEN md5(scrubbed) <> md5(text) THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
      |  CAST((CAST(SUM(CASE WHEN md5(scrubbed) <> md5(text) THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
      |       // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS pii_ppm,
      |  CAST(SUM(length(text) - length(scrubbed)) AS BIGINT) AS scrub_delta_chars
      |FROM s GROUP BY source""".stripMargin

  /** Intra-document repetition scoring: repeated-token and
    * repeated-bigram ratios — the standard "degenerate text" filter
    * (boilerplate, keyword stuffing, decoding loops) run per document
    * before training. Ratios are integer-derived doubles (counts
    * divided once), so both engines perform the identical IEEE ops.
    * Scale shape: a narrow per-row pass — tokenize once into a
    * projected column, per-row array_distinct; zero shuffle. */
  def repetition(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), toks.as("__toks"))
      .select(col("doc_id"), col("__toks"),
        TextShingles.shingles(col("__toks"), 2).as("__bg"))
    val n = size(col("__toks")).cast(LongType)
    val nDup = n - size(array_distinct(col("__toks"))).cast(LongType)
    val nBg = size(col("__bg")).cast(LongType)
    val nDupBg = nBg - size(array_distinct(col("__bg"))).cast(LongType)
    t.select(col("doc_id"),
      n.as("n_tokens"),
      nDup.as("n_dup_tokens"),
      (nDup * 1.0 / n).as("dup_token_ratio"),
      (nDupBg * 1.0 / nBg).as("dup_bigram_ratio"))
  }

  val repetitionSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
      |b AS (
      |  SELECT doc_id, w,
      |    list_transform(generate_series(1, greatest(len(w)-1, 1)),
      |                   i -> array_to_string(w[i:i+1], ' ')) bg
      |  FROM tok)
      |SELECT doc_id,
      |  CAST(len(w) AS BIGINT) AS n_tokens,
      |  CAST(len(w) - len(list_distinct(w)) AS BIGINT) AS n_dup_tokens,
      |  (len(w) - len(list_distinct(w))) * 1.0 / len(w) AS dup_token_ratio,
      |  (len(bg) - len(list_distinct(bg))) * 1.0 / len(bg) AS dup_bigram_ratio
      |FROM b""".stripMargin

  /** A shingle is "boilerplate" when this many distinct docs share it. */
  private val BoilerDocs = 3

  /** Sub-document boilerplate scoring — the shingle-level complement
    * of whole-document dedup: the fraction (ppm) of a document's
    * distinct 5-gram shingles that also occur in ≥ [[BoilerDocs]]
    * distinct documents. High-ratio docs are templated/boilerplate
    * even when no whole-document near-duplicate exists (the signal
    * line-level dedup pipelines act on). Scale shape: the shingle
    * relation is the same narrow per-row pass the dedup family uses;
    * document frequencies are one hash-shuffled agg on the shingle
    * key (map-side partials); the flag join is an equi-join on that
    * same key; never doc×doc. */
  /** The score plan over a given shingle relation — factored so the
    * plan spec can inspect the REAL join shape: the executed form
    * below ends in localCheckpoint, which truncates the visible plan
    * to a Scan ExistingRDD (and runs eagerly on explain). */
  private def boilerplateFrom(sh: DataFrame): DataFrame = {
    // (doc_id, sh) is distinct by construction → count(*) is the
    // document frequency, no countDistinct shuffle needed
    val freq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    sh.join(freq, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_shingles"),
        sum(when(col("df") >= BoilerDocs, 1L).otherwise(0L))
          .cast(LongType).as("n_boiler"))
      .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
        floor(col("n_boiler") * lit(1000000.0) / col("n_shingles"))
          .cast(LongType).as("boiler_ppm"))
  }

  /** Un-checkpointed plan, for plan inspection only. */
  private[graft] def boilerplateRows(s: SparkSession, d: String): DataFrame =
    boilerplateFrom(TextShingles.shingleHashSet(Tables.documents(s, d),
      "doc_id", "text", 5))

  def boilerplate(s: SparkSession, d: String): DataFrame = {
    // persist feeds both sides of the self-referential join (the DF agg
    // AND the probe), so the tokenize+shingle pass — the dominant cost —
    // runs once; the doc-level result is checkpointed off the cache
    // before release (the house pattern, see SimilarityQueries.cosNearDup)
    val sh = TextShingles.shingleHashSet(Tables.documents(s, d),
      "doc_id", "text", 5).persist()
    try boilerplateFrom(sh).localCheckpoint()
    finally { sh.unpersist(blocking = false); () }
  }

  val boilerplateSql: String =
    s"""WITH ${TextShingles.shingleCte5Sql()},
       |freq AS (SELECT sh, COUNT(*) df FROM sh GROUP BY sh)
       |SELECT s.doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |  CAST(SUM(CASE WHEN f.df >= $BoilerDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       |  CAST(floor(SUM(CASE WHEN f.df >= $BoilerDocs THEN 1 ELSE 0 END) * 1000000.0
       |             / COUNT(*)) AS BIGINT) AS boiler_ppm
       |FROM sh s JOIN freq f ON f.sh = s.sh
       |GROUP BY s.doc_id""".stripMargin

  /** Term-rarity scoring: each document's mean corpus document
    * frequency over its distinct terms (ppm-scaled integer) — low
    * mean-DF docs are vocabulary-rare (jargon, other languages,
    * gibberish), high mean-DF docs are made of corpus-common words.
    * The unigram-LM quality-filter signal, in exact integer arithmetic
    * (a log-prob spelling would hang cross-engine parity on libm).
    * Two-pass shape like [[boilerplate]]: DF agg on the term key, then
    * an equi-join + per-doc agg — shuffles only on term and doc_id. */
  private def termRarityFrom(terms: DataFrame): DataFrame = {
    val freq = terms.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    terms.join(freq, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_terms"),
        sum(col("df")).cast(LongType).as("df_sum"))
      .select(col("doc_id"), col("n_terms"), col("df_sum"),
        floor(col("df_sum") * lit(1000000.0) / col("n_terms"))
          .cast(LongType).as("mean_df_ppm"))
  }

  private def termsOf(s: SparkSession, d: String): DataFrame =
    graft.util.Widen(Tables.documents(s, d)).select(col("doc_id"),
      explode(array_distinct(toks)).as("tok"))

  /** Un-checkpointed plan, for plan inspection only. */
  private[graft] def termRarityRows(s: SparkSession, d: String): DataFrame =
    termRarityFrom(termsOf(s, d))

  def termRarity(s: SparkSession, d: String): DataFrame = {
    // persist: one tokenize+explode pass feeds both the DF agg and the
    // probe side (same shape as boilerplate)
    val terms = termsOf(s, d).persist()
    try termRarityFrom(terms).localCheckpoint()
    finally { terms.unpersist(blocking = false); () }
  }

  val termRaritySql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS tok
      |  FROM documents),
      |freq AS (SELECT tok, COUNT(*) df FROM t GROUP BY tok)
      |SELECT t.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_terms,
      |  CAST(SUM(f.df) AS BIGINT) AS df_sum,
      |  CAST(floor(SUM(f.df) * 1000000.0 / COUNT(*)) AS BIGINT) AS mean_df_ppm
      |FROM t JOIN freq f ON f.tok = t.tok
      |GROUP BY t.doc_id""".stripMargin

  /** Per-language corpus statistics — the dataset card every corpus
    * build publishes: document counts, token totals, and token-length
    * percentiles by language. Exact `percentile` matches DuckDB's
    * `quantile_cont` bit-for-bit (linear interpolation over integer
    * token counts); it buffers per-group values, which is fine when
    * groups are languages — for percentile over high-cardinality
    * groups at 100 TB, swap in `approx_percentile` and a tolerance
    * gate like the sketch query's. */
  def corpusStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), size(toks).cast(LongType).as("n"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(col("n")).cast(LongType).as("total_tokens"),
        percentile(col("n"), lit(0.5)).as("p50_tokens"),
        percentile(col("n"), lit(0.9)).as("p90_tokens"))

  val corpusStatsSql: String =
    """SELECT lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n) AS BIGINT) AS total_tokens,
      |  quantile_cont(n, 0.5) AS p50_tokens,
      |  quantile_cont(n, 0.9) AS p90_tokens
      |FROM (SELECT lang,
      |        len(string_split_regex(trim(text), '\s+')) AS n
      |      FROM documents)
      |GROUP BY lang""".stripMargin

  /** Quality-score distribution by language — the dataset-card
    * histogram (the score is a discrete {0.25, 0.5, 0.75, 1.0} grid of
    * exactly-representable doubles, so the group keys are exact). ONE
    * documents scan computing the shared score expression in place,
    * then one grouped agg with map-side partials — no join back to the
    * corpus just to recover `lang`. */
  def qualityHistogram(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), qualityScoreCol.as("quality_score"))
      .groupBy(col("lang"), col("quality_score"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"))

  val qualityHistogramSql: String =
    s"""WITH q AS (SELECT * FROM ($qualitySql) x)
       |SELECT d.lang, q.quality_score, CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM q JOIN documents d ON d.doc_id = q.doc_id
       |GROUP BY d.lang, q.quality_score""".stripMargin

  /** Quality-classifier CALIBRATION against duplication — the release
    * check a data team runs before trusting a quality score as a
    * filter: per score band, how many docs, what share are exact
    * duplicates of something (ppm), and the mean document length. A
    * score band whose dup rate spikes is measuring boilerplate, not
    * quality. Composed from the shared spellings ([[qualityScoreCol]]
    * via [[quality]]; the md5 content-hash grouping of dedup_exact),
    * so the calibration cannot drift from what the filters actually
    * compute. Scale shape: one corpus scan for the score, one for the
    * hash, one shuffle on text_hash for the copy counts (the dedup
    * pass it shares), then a grouped agg over the handful of score
    * bands; means and ppm are exact BIGINT divisions. */
  def qualityDupCalibration(s: SparkSession, d: String): DataFrame = {
    // ONE corpus scan computes hash + tokens + score together (the
    // score expression is the shared qualityScoreCol, so it cannot
    // drift from text_quality); the only shuffle is the text_hash
    // copy-count — the same dedup pass the exact dedup pays — plus
    // the join back on that already-partitioned key
    val base = Tables.documents(s, d).select(
      md5(col("text")).as("text_hash"),
      size(toks).cast(LongType).as("n_tokens"),
      qualityScoreCol.as("quality_score"))
      // single-mined: the copy-count build and the probe side
      // otherwise each pay the md5+tokenize+score row pass
      .localCheckpoint()
    val copies = base.groupBy(col("text_hash"))
      .agg(count(lit(1)).as("n_copies"))
    base.join(copies, "text_hash")
      .groupBy(col("quality_score"))
      .agg(count(lit(1)).cast(LongType).as("docs"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).cast(LongType)
          .as("dup_docs"),
        expr("CAST((sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) * 1000000) DIV count(1) AS BIGINT)")
          .as("dup_ppm"),
        expr("CAST(sum(n_tokens) DIV count(1) AS BIGINT)")
          .as("mean_tokens"))
  }

  val qualityDupCalibrationSql: String =
    s"""WITH q AS (SELECT * FROM ($qualitySql) x),
       |h AS (SELECT doc_id, md5(text) AS text_hash FROM documents),
       |c AS (SELECT text_hash, COUNT(*) AS n_copies FROM h GROUP BY text_hash),
       |j AS (SELECT q.quality_score, q.n_tokens, c.n_copies
       |      FROM q JOIN h ON h.doc_id = q.doc_id
       |      JOIN c ON c.text_hash = h.text_hash)
       |SELECT quality_score, CAST(COUNT(*) AS BIGINT) AS docs,
       |  CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
       |  CAST((CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
       |       // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS dup_ppm,
       |  CAST(CAST(SUM(n_tokens) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS mean_tokens
       |FROM j GROUP BY quality_score""".stripMargin

  /** Bigram language-model scoring — the KenLM-proxy quality signal a
    * pretraining pipeline computes per document: train add-one-smoothed
    * bigram counts over the whole corpus (two map-side-combined
    * aggregations — at 100 TB the count tables ARE the model, built in
    * one shuffle each), then score every document's bigrams against
    * them. All floating work happens on a fixed 1e-6 micro-nat grid
    * AFTER an exact integer-ratio ln — floor(ln((c12+1)/(c1+V))·1e6) —
    * so per-document sums are order-independent and engine-portable
    * (a grid flip would need the two engines' ln to differ across a
    * 1e-6 boundary: ~1e-9 per value). Output keeps the raw (n_bigrams,
    * sum_micro_nats) pair rather than dividing, so no rounding-mode
    * divergence can enter; the per-doc average is sum/n downstream. */
  def bigramLogprob(s: SparkSession, d: String): DataFrame = {
    // single-mined (guide §2.3): the tokenized relation feeds the
    // unigram counts AND both bigram consumers (model build + probe),
    // and the unigram counts feed the vocab stat AND the probe join —
    // without the cuts the tokenize subplan executes four times in
    // one action
    val t = Tables(s, d, "documents")
      .select(col("doc_id"), toks.as("w"))
      .localCheckpoint()
    val uniC = t.select(explode(col("w")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      .localCheckpoint()
    val vocab = uniC.agg(count(lit(1)).cast("double").as("V"))
    val pairs = t.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), " +
          "i -> struct(w[i] AS w1, w[i + 1] AS w2))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val biC = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    pairs.join(biC, Seq("w1", "w2"))
      .join(uniC, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        floor(log((col("c12").cast("double") + 1.0) /
          (col("c1").cast("double") + col("V"))) * 1000000.0)
          .cast(LongType).as("mu"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_bigrams"),
        sum(col("mu")).cast(LongType).as("sum_micro_nats"))
  }

  val bigramLogprobSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') w
      |  FROM documents),
      |toks AS (SELECT unnest(w) w1 FROM t),
      |uni AS (SELECT w1, count(*) c1 FROM toks GROUP BY w1),
      |v AS (SELECT CAST(count(*) AS DOUBLE) V FROM uni),
      |pairs AS (
      |  SELECT doc_id, p['w1'] w1, p['w2'] w2 FROM (
      |    SELECT doc_id, unnest(list_transform(
      |      generate_series(1, len(w) - 1),
      |      i -> {'w1': w[i], 'w2': w[i + 1]})) p
      |    FROM t WHERE len(w) >= 2)),
      |bi AS (SELECT w1, w2, count(*) c12 FROM pairs GROUP BY w1, w2)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(CAST(floor(ln((CAST(c12 AS DOUBLE) + 1.0) /
      |    (CAST(c1 AS DOUBLE) + V)) * 1000000.0) AS BIGINT)) AS BIGINT)
      |    AS sum_micro_nats
      |FROM pairs JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
      |GROUP BY doc_id""".stripMargin

  /** Curriculum difficulty bucketing: documents ranked by the bigram
    * LM signal ([[bigramLogprob]] — lower mean log-prob = harder) into
    * 8 equi-depth buckets with per-bucket stats, the
    * easy-to-hard ordering a curriculum-learning schedule consumes.
    * The rank order is exact-integer (micro-nat sums, doc_id
    * tie-break), so bucket membership is engine- and
    * partitioning-stable. Scale note: EXACT equi-depth needs a global
    * rank (the ntile here — fine at per-source/per-shard granularity);
    * a 100 TB curriculum replaces it with approx_percentile boundary
    * cuts broadcast as a width-8 lookup, trading exactness at the
    * bucket edges for a boundary-free narrow scan — the same
    * trade [[curate_train_order]]'s md5 shuffle makes against a true
    * global sort. */
  def difficultyBuckets(s: SparkSession, d: String): DataFrame =
    bigramLogprob(s, d)
      // difficulty = NEGATED mean log-prob per bigram, in milli-micro-
      // nats: negating first keeps the integer division on POSITIVE
      // operands, where Spark's `div` and DuckDB's `//` agree exactly
      // (for negatives one truncates, the other floors)
      .withColumn("difficulty",
        expr("((-sum_micro_nats) * 1000) div n_bigrams").cast(LongType))
      .withColumn("bucket", ntile(8).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("difficulty"), col("doc_id"))).cast(LongType))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        min(col("difficulty")).cast(LongType).as("easiest"),
        max(col("difficulty")).cast(LongType).as("hardest"),
        sum(col("n_bigrams")).cast(LongType).as("tokens"))

  val difficultyBucketsSql: String =
    s"""WITH lp AS (SELECT * FROM ($bigramLogprobSql) x),
       |m AS (SELECT doc_id, n_bigrams,
       |        CAST(((-sum_micro_nats) * 1000) // n_bigrams AS BIGINT)
       |          AS difficulty
       |      FROM lp),
       |b AS (SELECT *, ntile(8) OVER (ORDER BY difficulty, doc_id)
       |        AS bucket FROM m)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(min(difficulty) AS BIGINT) AS easiest,
       |  CAST(max(difficulty) AS BIGINT) AS hardest,
       |  CAST(sum(n_bigrams) AS BIGINT) AS tokens
       |FROM b GROUP BY bucket""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("curate_difficulty_buckets", difficultyBuckets, difficultyBucketsSql),
    Entry("text_bigram_logprob", bigramLogprob, bigramLogprobSql),
    Entry("text_quality_calibration", qualityDupCalibration,
      qualityDupCalibrationSql),
    Entry("text_pii_by_source", piiBySource, piiBySourceSql),
    Entry("text_quality_histogram", qualityHistogram, qualityHistogramSql),
    Entry("text_boilerplate", boilerplate, boilerplateSql),
    Entry("text_term_rarity", termRarity, termRaritySql),
    Entry("text_corpus_stats", corpusStats, corpusStatsSql),
    Entry("text_repetition", repetition, repetitionSql),
    Entry("text_pii_scrub", piiScrub, piiScrubSql),
    Entry("text_top_terms", topTerms, topTermsSql),
    Entry("text_doc_keyterms", docKeyterms, docKeytermsSql),
    Entry("stream_doc_keyterms", streamDocKeyterms, docKeytermsSql),
    Entry("text_heavy_hitters", heavyHitters, heavyHittersSql),
    Entry("text_bpe_pairs", bpePairs, bpePairsSql),
    Entry("text_bpe_train", bpeTrain, bpeTrainSql),
    Entry("text_bpe_encode", bpeEncode, bpeEncodeSql),
    Entry("text_classifier_score", classifierScore, classifierScoreSql),
    Entry("text_bpe_fertility", bpeFertility, bpeFertilitySql),
    Entry("text_fertility_drift", fertilityDrift, fertilityDriftSql),
    Entry("text_char_entropy", charEntropy, charEntropySql),
    Entry("text_char_entropy_native", charEntropyNative, charEntropySql),
    Entry("text_vocab_coverage", vocabCoverage, vocabCoverageSql),
    Entry("text_composition_report", compositionReport, compositionReportSql),
    Entry("text_token_count", tokenCount, tokenCountSql),
    Entry("text_pretokenize", pretokenize, pretokenizeSql),
    Entry("text_quality", quality, qualitySql),
    Entry("text_langid", langId, langIdSql),
    Entry("text_fingerprint", fingerprint, fingerprintSql))
}
