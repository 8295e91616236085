package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TextShingles
import graft.operators.Relational
import graft.queries.Catalog.Entry
import graft.sources.Tables
import graft.streaming.FiniteStream
import graft.streaming.FiniteStream.{Batches, Keyed, Leg}

/** HYBRID dense+sparse retrieval — the
  * production hybrid-search shape: the SAME queries run through the
  * engine's lexical retriever (integer BM25 over the inverted index,
  * [[RetrievalQueries]]) AND its dense retriever (IVF probe over the
  * published vector index, [[SimilarityQueries]]/
  * [[graft.sources.IvfIndex]]), and the two 20-bounded candidate lists
  * merge by reciprocal-rank fusion (Cormack et al., SIGIR 2009 — the
  * [[RetrievalQueries.rrfFusion]] combinator, integer 10^6 grid).
  * This ties the engine's two retrieval families together: lexical
  * recall for exact vocabulary matches, dense recall for semantic
  * neighbors, RRF as the score-scale-free merge.
  *
  * Queries are the deterministic df-rank terms (global ranks 21–30 —
  * the [[RetrievalQueries]] convention), each paired with its
  * md5-derived query VECTOR: qm[i] = md5_u32(term ":" i) mod 2000001 −
  * 10^6 — 64 integer MICROS components, a pure function of the term,
  * identical in both engines (the [[graft.functions.Md5Key]]
  * discipline lifted to vectors). The dense score is the exact BIGINT
  * dot ⟨qm, floor-micros(embedding)⟩ — maximum-inner-product
  * retrieval on an integer grid, zero IEEE ambiguity anywhere in the
  * dense leg. Corpus alignment: vec_id ≡ doc_id (the embeddings table
  * is the documents table's embedding column, row for row), so the
  * fuse key is (term, doc_id).
  *
  * Scale shape (100 TB): the lexical leg is the pinned BM25 skeleton —
  * bounded TakeOrdered term selection broadcast back over the posting
  * lists, k-bounded LONG top-k aggregation. The dense leg probes the
  * PUBLISHED index artifact: routing scores the O(ncells) centroid
  * table against the ≤10 query vectors (a bounded collect — the
  * standard ANN query-router step), and the vector scan prunes to the
  * ≤ terms×nprobe probed cell DIRECTORIES at planning time
  * (PartitionFilters — plan-pinned); candidates never leave their
  * cells, the corpus never cross-joins anything. The fuse is a FULL
  * OUTER merge of two ≤ terms×20-row bounded lists (the documented
  * bounded-by-construction SMJ of `text_rrf_fusion`). */
object HybridQueries {

  private val Dim = SimilarityQueries.EmbeddingDim
  private val NProbe = 2

  /** The md5-grid query vector, a pure function of the `term` column:
    * 64 integer micros in [−10^6, 10^6]. Spark spelling of
    * [[graft.functions.Md5Key]] lifted over dims; the oracle uses the
    * matching DuckDB spelling. */
  private def qvecExpr: Column = expr(
    s"transform(sequence(0, ${Dim - 1}), i -> " +
      "CAST(conv(substring(md5(concat(term, ':', CAST(i AS STRING))), 1, 8), " +
      "16, 10) AS BIGINT) % 2000001 - 1000000)")

  /** Exact BIGINT dot product over two array<long> columns. */
  private def dotL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** The ≤10-row query-term relation: global df ranks 21–30. */
  private def qsel(s: SparkSession, d: String): DataFrame =
    qselOver(RetrievalQueries.tfRel(s, d))

  /** [[qsel]] over ANY (doc_id, term, tf) relation — the seam
    * [[hybridRrf]] uses to mine the inverted index ONCE for both the
    * df ranking and the lexical BM25 leg (guide §2.3: Spark does not
    * dedupe common subplans, so two `tfRel(s, d)` consumers in one
    * action each execute their own tokenize→explode→aggregate). */
  private def qselOver(tf: DataFrame): DataFrame = {
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    RetrievalQueries.querySet(df).select(col("term"), col("df"))
  }

  /** Lexical 20-bounded candidate list: (term, doc_id, rank_a) under
    * integer BM25 (b = 0), rank order (score desc, doc asc), over an
    * already-mined (doc_id, term, tf) relation. */
  private def lexicalList(s: SparkSession, d: String, tf: DataFrame,
                          q: DataFrame): DataFrame = {
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    Relational.topK(
        tf.join(broadcast(q), Seq("term"))
          .crossJoin(broadcast(nDocs))
          .withColumn("score", RetrievalQueries.ScoreExpr),
        Seq("term"), "score", "doc_id", RetrievalQueries.ListK,
        longScores = true)
      .select(col("term"), col("doc_id"), col("rank").as("rank_a"))
  }

  /** Route every query vector to its NProbe best cells against a
    * (label, cemb) centroid table: returns the collected (term, cell)
    * pairs — ≤ terms×NProbe rows, the bounded ANN router step. The
    * comparison is the exact BIGINT dot of the query micros with the
    * FLOOR-MICROS centroid (per-dim floor(centroid·10^6) — the same
    * doubles in both engines, so the floors agree bit-for-bit). */
  private def routeCells(s: SparkSession, centroids: DataFrame,
                         q: DataFrame): Seq[(String, Int)] = {
    val cm = centroids.select(col("label"),
      transform(col("cemb"), x => floor(x * 1000000).cast(LongType)).as("cm"))
    q.select(col("term"), qvecExpr.as("qm"))
      .crossJoin(broadcast(cm))
      .withColumn("rdot", dotL(col("qm"), col("cm")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("rdot").desc, col("label"))))
      .filter(col("rn") <= NProbe)
      .select(col("term"), col("label").cast("int"))
      .collect().toSeq.map(r => (r.getString(0), r.getInt(1)))
  }

  /** Dense 20-bounded candidate list from a cell-partitioned vector
    * layout: the scan prunes to the probed cells (static IN-filter on
    * the partition column → PartitionFilters), each term scores ONLY
    * its own probed cells through the broadcast routing table, and the
    * per-term top-20 is the k-bounded LONG aggregator. */
  private def denseList(s: SparkSession, vectorsPath: String,
                        routed: Seq[(String, Int)]): DataFrame = {
    import s.implicits._
    val cells = routed.map(_._2).distinct
    val routeDf = routed.toDF("term", "cell")
    Relational.topK(
        s.read.parquet(vectorsPath)
          .filter(col("cell").isin(cells: _*))
          .join(broadcast(routeDf), Seq("cell"))
          .withColumn("qm", qvecExpr)
          .withColumn("em",
            transform(col("emb"), x => floor(x * 1000000).cast(LongType)))
          .withColumn("sc", dotL(col("qm"), col("em"))),
        Seq("term"), "sc", "vec_id", RetrievalQueries.ListK,
        longScores = true)
      .select(col("term"), col("vec_id").as("doc_id"), col("rank").as("rank_b"))
  }

  /** RRF merge of the two bounded lists — identical integer grid and
    * ordering to [[RetrievalQueries.rrfFusion]]. */
  private def fuse(a: DataFrame, b: DataFrame): DataFrame =
    Relational.topK(
        a.join(b, Seq("term", "doc_id"), "full")
          .withColumn("rrf_score",
            coalesce(expr(s"1000000 DIV (${RetrievalQueries.RrfK} + rank_a)"),
              lit(0L)) +
              coalesce(expr(s"1000000 DIV (${RetrievalQueries.RrfK} + rank_b)"),
                lit(0L))),
        Seq("term"), "rrf_score", "doc_id", RetrievalQueries.K,
        longScores = true)

  /** Top-5 hybrid results per query term: lexical BM25 list + IVF
    * dense list over the published index artifact, RRF-fused. */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    // mine the inverted index ONCE: the df ranking (qsel) and the
    // lexical BM25 leg otherwise each execute their own full
    // tokenize→explode→aggregate subplan (the retrievalMetrics
    // single-mining discipline, guide §2.3). Bounded intermediate:
    // the (doc_id, term, tf) relation, the same size the bm25 queries
    // shuffle anyway.
    val tf = RetrievalQueries.tfRel(s, d).localCheckpoint()
    val q = qselOver(tf)
    val layout = SimilarityQueries.sharedIvfLayout(s, d)
    val routed = routeCells(s, s.read.parquet(layout.centroids), q)
    fuse(lexicalList(s, d, tf, q), denseList(s, layout.vectors, routed))
  }

  val hybridRrfSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |q AS (
       |  SELECT term, df,
       |         row_number() OVER (ORDER BY df DESC, term) AS r
       |  FROM df),
       |qsel AS (SELECT term, df FROM q
       |         WHERE r BETWEEN ${RetrievalQueries.RankLo}
       |           AND ${RetrievalQueries.RankHi}),
       |scored AS (
       |  SELECT t.term, t.doc_id,
       |         (((n.n_docs - s.df) * 2 + 1) * 1000000 // (s.df * 2 + 1))
       |           * ((t.tf * 2000) // (t.tf + 1)) AS score_a
       |  FROM tf t JOIN qsel s USING (term) CROSS JOIN n),
       |la AS (
       |  SELECT term, doc_id, rn AS rank_a
       |  FROM (SELECT term, doc_id, row_number() OVER (PARTITION BY term
       |          ORDER BY score_a DESC, doc_id) AS rn FROM scored)
       |  WHERE rn <= ${RetrievalQueries.ListK}),
       |qv AS (
       |  SELECT term,
       |         list_transform(generate_series(0, ${Dim - 1}),
       |           i -> ('0x' || substr(md5(term || ':' || CAST(i AS VARCHAR)),
       |                 1, 8))::BIGINT % 2000001 - 1000000) AS qm
       |  FROM qsel),
       |cent AS (${SimilarityQueries.labelCentroidsSql}),
       |cmarr AS (
       |  SELECT label,
       |         list(CAST(floor(centroid * 1000000) AS BIGINT)
       |              ORDER BY dim) AS cm
       |  FROM cent GROUP BY label),
       |route AS (
       |  SELECT term, label FROM (
       |    SELECT term, label,
       |           row_number() OVER (PARTITION BY term
       |             ORDER BY rdot DESC, label) AS rn
       |    FROM (SELECT v.term, c.label,
       |            list_sum(list_transform(generate_series(1, $Dim),
       |              i -> v.qm[i] * c.cm[i])) AS rdot
       |          FROM qv v CROSS JOIN cmarr c))
       |  WHERE rn <= $NProbe),
       |e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding::DOUBLE[],
       |           x -> CAST(floor(x * 1000000) AS BIGINT)) AS em
       |  FROM embeddings),
       |dense AS (
       |  SELECT r.term, e.vec_id AS doc_id,
       |         list_sum(list_transform(generate_series(1, $Dim),
       |           i -> v.qm[i] * e.em[i])) AS sc
       |  FROM route r JOIN qv v USING (term) JOIN e ON e.label = r.label),
       |lb AS (
       |  SELECT term, doc_id, rn AS rank_b
       |  FROM (SELECT term, doc_id, row_number() OVER (PARTITION BY term
       |          ORDER BY sc DESC, doc_id) AS rn FROM dense)
       |  WHERE rn <= ${RetrievalQueries.ListK}),
       |fused AS (
       |  SELECT COALESCE(la.term, lb.term) AS term,
       |         COALESCE(la.doc_id, lb.doc_id) AS doc_id,
       |         COALESCE(1000000 // (${RetrievalQueries.RrfK} + rank_a), 0)
       |           + COALESCE(1000000 // (${RetrievalQueries.RrfK} + rank_b), 0)
       |           AS rrf
       |  FROM la FULL JOIN lb
       |    ON la.term = lb.term AND la.doc_id = lb.doc_id)
       |SELECT term, CAST(rn AS BIGINT) AS rank, doc_id,
       |       CAST(rrf AS BIGINT) AS rrf_score
       |FROM (SELECT term, doc_id, rrf,
       |             row_number() OVER (PARTITION BY term
       |               ORDER BY rrf DESC, doc_id) AS rn
       |      FROM fused)
       |WHERE rn <= ${RetrievalQueries.K}""".stripMargin

  /** Streaming twin: BOTH retrieval families are built by streaming
    * ingest, then fused at query time — the end-to-end shape of a live
    * hybrid search stack. The lexical leg is the
    * [[RetrievalQueries.streamBm25TopK]] design with a 20-bounded head
    * (ONE update-mode aggregation per term: df + the LONG sat-pack
    * posting head — O(k) state per term forever). The dense leg is the
    * [[SimilarityQueries.streamIvfIngest]] pattern: embeddings arrive
    * as a stream, each micro-batch homes its vectors under the FIXED
    * published routing table (cell = label — per-row work) and appends
    * replay-idempotently into the cell-partitioned layout
    * ([[graft.sources.IvfIndex.appendBatch]]). When both streams
    * drain, the finalize runs OUTSIDE the streams: lexical ranks come
    * straight off the stored heads (idf is constant per term, so the
    * sat-pack order IS the score order, ties included), the dense
    * probe routes/prunes/scores the streamed-in layout exactly as the
    * batch leg, and the RRF fuse is unchanged. Finite input ⇒ both
    * legs equal their batch twins, so the SAME oracle verifies the
    * whole streaming composition. */
  def streamHybridRrf(s: SparkSession, d: String): DataFrame = {
    // lexical leg: per-term (df, 20-bounded sat-pack head) state
    val topk20 = Relational.topKAggregator(RetrievalQueries.ListK,
      longScores = true)
    val postings = graft.util.Widen.stream(Tables.stream(s, d, "documents"))
      .select(col("doc_id"), TextShingles.tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(array_distinct(col("w"))).as("term"),
        col("w"))
      .withColumn("tf", size(filter(col("w"), t => t === col("term")))
        .cast(LongType))
      .withColumn("sat", expr("tf * 2000 DIV (tf + 1)"))
      .select(col("term"), col("doc_id"),
        (col("sat") * lit(4294967296L) - col("doc_id")).as("ord"))
    val agg = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), topk20(col("ord"), col("doc_id")).as("top"))

    // dense leg: streaming ingest into a scratch layout under the
    // fixed routing table (the retrain-artifact convention)
    val root = java.nio.file.Paths.get(
      FiniteStream.scratchDir("graft-hyb-ivf-"))
    val layout = graft.sources.IvfIndex.Layout(
      centroids = root.resolve("centroids").toString,
      vectors = root.resolve("vectors").toString)
    try {
      SimilarityQueries.centroidArrays(s, d)
        .write.mode("overwrite").parquet(layout.centroids)
      val estream = SimilarityQueries.embStream(s, d)
      // the two ingest legs are fully independent until the finalize
      // (separate sources, separate sinks): two legs of one drain
      val Seq(idx) = FiniteStream.drain(
        Leg(agg, "update", sink = Keyed("term")),
        Leg(estream, "append", statePartitions = 4, sink = Batches { (b, id) =>
          graft.sources.IvfIndex.appendBatch(layout,
            b.withColumn("cell", col("label")), id)
        }))

      // finalize outside the streams; materialize before the scratch
      // layout is deleted
      val qsel10 = RetrievalQueries.querySet(idx)
        .select(col("term"), col("top"))
      val la = Relational.topKRanked(qsel10, "top", "doc_id", "ord")
        .select(col("term"), col("doc_id"), col("rank").as("rank_a"))
      val routed = routeCells(s, s.read.parquet(layout.centroids),
        qsel10.select(col("term")))
      fuse(la, denseList(s, layout.vectors, routed)).localCheckpoint()
    } finally FiniteStream.deleteRecursively(root.toString)
  }

  /** Cross-encoder RERANK stage over the hybrid results — the second
    * half of the production retrieval stack (recall via cheap hybrid
    * candidates, precision via an expensive scorer run on k candidates
    * ONLY). The scorer here is a deterministic integer stand-in for a
    * cross-encoder — position-weighted term evidence over the FULL
    * document text, ce(term, doc) = Σ_{p : w[p] = term} 10^6 DIV
    * (10 + p), early mentions scoring higher — but the PLUMBING is the
    * real shape: the ≤ terms×5 candidate set broadcasts INTO the
    * corpus scan (only candidate documents pay the expensive pass,
    * however large the corpus), the per-pair score is a narrow per-row
    * fold over the raw text, and the final rerank is a per-term window
    * over ≤5 rows. A real cross-encoder swaps the fold for a
    * partition-batched model call ([[MultimodalQueries.embedStub]]'s
    * mapPartitions shape); nothing else changes. */
  def hybridRerank(s: SparkSession, d: String): DataFrame =
    rerankOver(s, d, hybridRrf(s, d)
      .select(col("term"), col("doc_id"), col("rrf_score")))

  /** The rerank stage over ANY (term, doc_id, rrf_score) candidate
    * relation — shared by the batch query and the streaming twin's
    * finalize, so the candidate-broadcast-into-corpus-scan shape and
    * the scorer have one spelling. */
  private def rerankOver(s: SparkSession, d: String,
                         cand: DataFrame): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextShingles.tokens(col("text")).as("w"))
      .join(broadcast(cand), Seq("doc_id"))
      .withColumn("ce_score", expr(
        "aggregate(sequence(0, size(w) - 1), 0L, (acc, p) -> " +
          "acc + IF(w[p] = term, 1000000 DIV (10 + p), 0L))"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("ce_score").desc, col("doc_id"))).cast(LongType))
      .select(col("term"), col("rank"), col("doc_id"), col("ce_score"),
        col("rrf_score"))

  val hybridRerankSql: String =
    s"""WITH hyb AS (SELECT * FROM ($hybridRrfSql) x),
       |w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS a
       |  FROM documents),
       |ce AS (
       |  SELECT h.term, h.doc_id, h.rrf_score,
       |         CAST(COALESCE(list_sum(list_transform(
       |             generate_series(1, len(a)),
       |             p -> CASE WHEN a[p] = h.term
       |                  THEN 1000000 // (10 + p - 1) ELSE 0 END)), 0)
       |           AS BIGINT) AS ce_score
       |  FROM hyb h JOIN w ON w.doc_id = h.doc_id)
       |SELECT term,
       |       CAST(row_number() OVER (PARTITION BY term
       |         ORDER BY ce_score DESC, doc_id) AS BIGINT) AS rank,
       |       doc_id, ce_score, rrf_score
       |FROM ce""".stripMargin

  /** Snippet generation over the hybrid results — the user-facing
    * search-result stage: a ±3-token window around the query term's
    * FIRST occurrence in each candidate document. Same candidate-
    * broadcast shape as [[hybridRerank]] (only the ≤ terms×5 candidate
    * docs pay the text pass); dense-side candidates that never mention
    * the term (a semantic hit with no lexical overlap — exactly what
    * dense retrieval contributes) surface with first_pos 0 and an
    * empty snippet, which is itself the signal a search UI uses to
    * fall back to a document-head preview. */
  def hybridSnippets(s: SparkSession, d: String): DataFrame = {
    val cand = hybridRrf(s, d)
      .select(col("term"), col("rank"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), TextShingles.tokens(col("text")).as("w"))
      .join(broadcast(cand), Seq("doc_id"))
      .withColumn("first_pos", array_position(col("w"), col("term")))
      .withColumn("snippet", when(col("first_pos") === 0, lit(""))
        .otherwise(expr(
          "concat_ws(' ', slice(w, CAST(GREATEST(first_pos - 3, 1) AS INT), " +
            "CAST(LEAST(first_pos + 3, size(w)) " +
            "- GREATEST(first_pos - 3, 1) + 1 AS INT)))")))
      .select(col("term"), col("rank"), col("doc_id"),
        col("first_pos").cast(LongType).as("first_pos"), col("snippet"))
  }

  val hybridSnippetsSql: String =
    s"""WITH hyb AS (SELECT * FROM ($hybridRrfSql) x),
       |w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS a
       |  FROM documents),
       |j AS (
       |  SELECT h.term, h.rank, h.doc_id, a,
       |         COALESCE(list_position(a, h.term), 0) AS p0
       |  FROM hyb h JOIN w ON w.doc_id = h.doc_id)
       |SELECT term, rank, doc_id, CAST(p0 AS BIGINT) AS first_pos,
       |       CASE WHEN p0 = 0 THEN ''
       |            ELSE array_to_string(
       |              a[GREATEST(p0 - 3, 1) : LEAST(p0 + 3, len(a))], ' ')
       |       END AS snippet
       |FROM j""".stripMargin

  // ---------------------------------------------------------------
  // Multi-vector LATE-INTERACTION retrieval —
  // the ColBERT tier (Khattab & Zaharia, SIGIR 2020) between the
  // bi-encoder (one vector per doc — the IVF dense leg) and the
  // cross-encoder rerank (joint scoring of the raw pair): query and
  // document are each a BAG of token vectors, and the score is
  //   MaxSim(q, d) = Σ_{qt ∈ q.tokens} max_{dt ∈ d.tokens} ⟨E(qt), E(dt)⟩
  // — every query token finds its best-matching document token. The
  // token embedder E here is ONE deterministic md5-grid function
  // applied to BOTH sides (the qvecExpr discipline): identical token
  // strings get identical vectors, so an exact lexical hit dominates
  // its query token's max — precisely the late-interaction behavior
  // (token-level exact+soft matching) the tier exists for. Query
  // tokens are the term itself (token 0) plus three deterministic
  // expansion tokens term#1..term#3; document tokens are the doc's
  // first 8 words. All dots are exact BIGINT (|dot| ≤ 64·10^12, far
  // inside the grid bound), so both engines agree bit-for-bit.
  // ---------------------------------------------------------------

  /** Query-token count (token 0 = the term, 1..3 = expansions). */
  private val QTokens = 4
  /** Document tokens scored per candidate (the doc's first words —
    * a real deployment stores one vector per token up to a cap). */
  private val DTokens = 8

  /** The token embedder E(x)[i], as a SQL fragment over the string
    * expression `x` and dim variable `i` — the md5 grid of
    * [[qvecExpr]] keyed on '@' so token vectors and the dense leg's
    * query vectors never collide. */
  private def tokVecSql(x: String): String =
    s"transform(sequence(0, ${Dim - 1}), vi -> " +
      s"CAST(conv(substring(md5(concat($x, '@', CAST(vi AS STRING))), 1, 8), " +
      "16, 10) AS BIGINT) % 2000001 - 1000000)"

  /** The query-token MATRIX E(term tokens) as a per-row expression
    * over the `term` column — 4×64 md5 per evaluation. Evaluated on
    * the small candidate-side relation BEFORE it broadcasts into the
    * corpus scan (guide §3.3/§4: don't re-evaluate an expensive
    * expression on the hot side of a join), so the per-pair scorer
    * sees the matrix as a plain column instead of re-deriving
    * QTokens×Dim md5 per candidate row. */
  private def qmExpr: Column = expr(
    s"transform(sequence(0, ${QTokens - 1}), k -> ${tokVecSql(
      "IF(k = 0, term, concat(term, '#', CAST(k AS STRING)))")})")

  /** The per-row MaxSim score over columns (qm, w): the document
    * token matrix is bound EXACTLY ONCE via the single-element-array
    * lambda trick (the [[MultimodalQueries.audioFpBands]]
    * CollapseProject discipline); the query matrix arrives
    * precomputed in the `qm` column ([[qmExpr]]). The integer math is
    * Σ_{q ∈ qm} max_{dvec} ⟨q, dvec⟩ in a fixed fold order. */
  private def maxsimExpr: Column = expr(
    "element_at(transform(array(" +
      s"transform(slice(w, 1, $DTokens), t -> ${tokVecSql("t")})), dv -> " +
    "aggregate(qm, 0L, (acc, q) -> acc + array_max(transform(dv, dvec -> " +
      "aggregate(zip_with(q, dvec, (xa, xb) -> xa * xb), 0L, " +
      "(sacc, sx) -> sacc + sx))))), 1)")

  /** The MaxSim scoring + per-term rank over ANY (term, doc_id, w,
    * qm) candidate relation — one spelling for the batch query and
    * the streaming twin's in-flight scorer. `qm` is dropped from the
    * output. */
  private def maxsimRank(cand: DataFrame): DataFrame =
    cand
      .withColumn("maxsim", maxsimExpr)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("maxsim").desc, col("doc_id"))).cast(LongType))
      .select(col("term"), col("rank"), col("doc_id"), col("maxsim"))

  /** Late-interaction scoring of the hybrid candidates: the ≤ terms×5
    * candidate set broadcasts INTO the corpus scan (only candidates
    * pay the token-matrix pass, however large the corpus — the
    * [[hybridRerank]] shape), the per-pair MaxSim is a narrow per-row
    * fold (never corpus × tokens: the token relation is materialized
    * per candidate row, not joined), and the final rank is a per-term
    * window over ≤5 rows. */
  def maxsim(s: SparkSession, d: String): DataFrame = {
    val cand = hybridRrf(s, d).select(col("term"), col("doc_id"))
      .withColumn("qm", qmExpr)
    maxsimRank(Tables.documents(s, d)
      .select(col("doc_id"), TextShingles.tokens(col("text")).as("w"))
      .join(broadcast(cand), Seq("doc_id")))
  }

  /** E(x)[i] in the oracle's dialect. */
  private def tokVecDuck(x: String): String =
    s"('0x' || substr(md5($x || '@' || CAST(vi AS VARCHAR)), 1, 8))::BIGINT " +
      "% 2000001 - 1000000"

  val maxsimSql: String =
    s"""WITH hyb AS (SELECT * FROM ($hybridRrfSql) x),
       |w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS a
       |  FROM documents),
       |cand AS (
       |  SELECT h.term, h.doc_id, a[1:$DTokens] AS dtoks
       |  FROM hyb h JOIN w ON w.doc_id = h.doc_id),
       |scored AS (
       |  SELECT term, doc_id,
       |    list_sum(list_transform(
       |      list_transform(generate_series(0, ${QTokens - 1}),
       |        k -> CASE WHEN k = 0 THEN term
       |             ELSE term || '#' || CAST(k AS VARCHAR) END),
       |      q -> list_max(list_transform(dtoks, t ->
       |        list_sum(list_transform(generate_series(0, ${Dim - 1}), vi ->
       |          (${tokVecDuck("q")}) * (${tokVecDuck("t")}))))))) AS maxsim
       |  FROM cand)
       |SELECT term,
       |       CAST(row_number() OVER (PARTITION BY term
       |         ORDER BY maxsim DESC, doc_id) AS BIGINT) AS rank,
       |       doc_id, CAST(maxsim AS BIGINT) AS maxsim
       |FROM scored""".stripMargin

  /** Streaming twin — late-interaction scoring AT INGEST: the
    * candidate list is the published serving artifact (fixed across
    * the run, the [[streamHybridRrf]] routing-table convention — in
    * production, the retrieval tier's current candidate snapshot),
    * broadcast stream-static under every micro-batch; each arriving
    * candidate document is MaxSim-scored IN FLIGHT (the token
    * matrices and the Σmax fold are a narrow per-row pass — no
    * state, no shuffle, append mode), and the per-term rank runs at
    * finalize over the drained ≤ terms×5 score rows. Finite input ⇒
    * the scored relation equals the batch join's, so the SAME oracle
    * verifies the streaming composition. */
  def streamMaxsim(s: SparkSession, d: String): DataFrame = {
    val cand = hybridRrf(s, d).select(col("term"), col("doc_id"))
      .localCheckpoint()
      .withColumn("qm", qmExpr)
    val docs = graft.util.Widen.stream(Tables.stream(s, d, "documents"))
    val scored = docs
      .select(col("doc_id"), TextShingles.tokens(col("text")).as("w"))
      .join(broadcast(cand), Seq("doc_id"))
      .withColumn("maxsim", maxsimExpr)
      .select(col("term"), col("doc_id"), col("maxsim"))
    StreamingQueries.runToTable(scored, "append")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("maxsim").desc, col("doc_id"))).cast(LongType))
      .select(col("term"), col("rank"), col("doc_id"), col("maxsim"))
  }

  // ---------------------------------------------------------------
  // CORPUS-SCALE late interaction (the PLAID idea, Santhanam et al.
  // 2022): [[maxsim]] scores only the hybrid candidates; this variant
  // retrieves by MaxSim over the WHOLE corpus without ever scoring
  // the whole corpus — the two-stage shape every production late-
  // interaction store uses: (1) a CHEAP token-bucket collision
  // shortlist (query-token and document-token vectors bucketed by the
  // 8-bit sign pattern of their first 8 dims — the annSignLsh rule;
  // identical token strings share a bucket BY CONSTRUCTION, so a doc
  // containing the query term lexically is always a candidate), and
  // (2) the exact MaxSim re-rank on the ≤100-per-term shortlist only.
  // The bucket rule is deterministic, so the DuckDB oracle replicates
  // the approximation EXACTLY — a verified approximate retriever, the
  // dedup_semantic_lsh precedent.
  // ---------------------------------------------------------------

  /** Shortlist size per term for the exact re-rank stage. */
  private val ShortK = 100

  /** 8-bit sign bucket of a token string's embedding, as a SQL
    * fragment over string expression `x` — only the first 8 dims of
    * E(x) are ever computed (8 md5 per token, not 64). */
  private def tokBucketSql(x: String): String =
    s"array_join(transform(sequence(0, 7), vi -> " +
      s"IF(CAST(conv(substring(md5(concat($x, '@', CAST(vi AS STRING))), " +
      "1, 8), 16, 10) AS BIGINT) % 2000001 - 1000000 >= 0, '1', '0')), '')"

  /** The 40-row (term, bucket) query-token relation — broadcast
    * everywhere it joins. */
  private def qtokBuckets(q: DataFrame): DataFrame =
    q.select(col("term"), explode(sequence(lit(0), lit(QTokens - 1)))
        .as("k"))
      .withColumn("qs",
        expr("IF(k = 0, term, concat(term, '#', CAST(k AS STRING)))"))
      .select(col("term"), expr(tokBucketSql("qs")).as("bucket"))

  /** The per-position document token relation with its sign bucket —
    * a narrow per-row pass (one spelling for batch and stream). */
  private def docTokBuckets(docs: DataFrame): DataFrame =
    graft.util.Widen(docs)
      .select(col("doc_id"), TextShingles.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        posexplode(expr(s"slice(w, 1, $DTokens)")).as(Seq("p", "tok")))
      .select(col("doc_id"), expr(tokBucketSql("tok")).as("bucket"))

  /** Shortlist + exact re-rank over ANY (term, doc_id) hit relation:
    * per-(term, doc) collision counts, the k-bounded LONG top-100
    * (tie-break packed as hits·2^33 − doc_id — exact for doc_id <
    * 2^33, the corpus-id grid bound, documented like the BM25 pack),
    * then the exact MaxSim on shortlisted docs only (broadcast into
    * the corpus scan) and the top-5 gate. */
  private def shortlistAndRank(s: SparkSession, d: String,
                               hits: DataFrame): DataFrame = {
    val topk = Relational.topKAggregator(ShortK, longScores = true)
    val heads = hits
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("h"))
      // grid-bound guard (the neymanAlloc raise_error
      // discipline): the pack is exact only for 0 <= doc_id < 2^33 —
      // out-of-grid ids must fail LOUDLY, not silently reorder the
      // shortlist. One comparison per aggregated (term, doc) row.
      .withColumn("ord", expr(
        "IF(doc_id < 0 OR doc_id >= 8589934592L, " +
          "CAST(raise_error('shortlist pack: doc_id outside [0, 2^33) - " +
          "remap ids before late-interaction retrieval') AS BIGINT), " +
          "h * 8589934592L - doc_id)"))
      .groupBy(col("term"))
      .agg(topk(col("ord"), col("doc_id")).as("top"))
      // qm computed here — once per TERM, before the explode fans the
      // shortlist out to ≤ShortK rows and before the broadcast ships
      // it into the corpus scan (≤ terms×ShortK×QTokens×Dim longs)
      .select(col("term"), qmExpr.as("qm"), col("top"))
    val short = Relational.topKRanked(heads, "top", "doc_id", "ord")
      .select(col("term"), col("qm"), col("doc_id"))
    maxsimRank(graft.util.Widen(Tables.documents(s, d))
        .select(col("doc_id"), TextShingles.tokens(col("text")).as("w"))
        .join(broadcast(short), Seq("doc_id")))
      .filter(col("rank") <= RetrievalQueries.K)
  }

  /** Corpus-scale MaxSim retrieval: bucket-collision shortlist over
    * every document token, exact late-interaction re-rank on the
    * shortlist, top-5 per term. Never corpus × query-tokens beyond
    * the bucket equi-join; never exact-scores more than ShortK docs
    * per term, at any corpus size. */
  def maxsimCorpus(s: SparkSession, d: String): DataFrame = {
    val qt = qtokBuckets(qsel(s, d))
    val hits = docTokBuckets(Tables.documents(s, d))
      .join(broadcast(qt), Seq("bucket"))
      .select(col("term"), col("doc_id"))
    shortlistAndRank(s, d, hits)
  }

  /** Streaming twin — candidate generation AT INGEST: the query
    * workload's token buckets are the published serving artifact
    * (fixed across the run), broadcast stream-static; each arriving
    * document's token buckets probe them in flight (narrow pass + a
    * broadcast-hash join per micro-batch — no state, append mode),
    * and the drained hit rows feed the same shortlist + exact-re-rank
    * finalize as the batch twin. Finite input ⇒ identical hit
    * relation ⇒ the SAME oracle verifies the composition. */
  def streamMaxsimCorpus(s: SparkSession, d: String): DataFrame = {
    val qt = qtokBuckets(qsel(s, d)).localCheckpoint()
    val docs = graft.util.Widen.stream(Tables.stream(s, d, "documents"))
    val hits = docTokBuckets(docs)
      .join(broadcast(qt), Seq("bucket"))
      .select(col("term"), col("doc_id"))
    shortlistAndRank(s, d, StreamingQueries.runToTable(hits, "append"))
  }

  private def tokBucketDuck(x: String): String =
    s"array_to_string(list_transform(generate_series(0, 7), vi -> " +
      s"CASE WHEN ('0x' || substr(md5($x || '@' || CAST(vi AS VARCHAR)), " +
      "1, 8))::BIGINT % 2000001 - 1000000 >= 0 THEN '1' ELSE '0' END), '')"

  val maxsimCorpusSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS a
       |  FROM documents),
       |tw AS (SELECT doc_id, unnest(a) AS term FROM w),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tw GROUP BY 1, 2),
       |dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |q0 AS (
       |  SELECT term, row_number() OVER (ORDER BY df DESC, term) AS r
       |  FROM dfr),
       |qsel AS (SELECT term FROM q0
       |         WHERE r BETWEEN ${RetrievalQueries.RankLo}
       |           AND ${RetrievalQueries.RankHi}),
       |qtb AS (
       |  SELECT term,
       |         ${tokBucketDuck(
              "(CASE WHEN k = 0 THEN term ELSE term || '#' || CAST(k AS VARCHAR) END)")}
       |           AS bucket
       |  FROM qsel, (SELECT unnest(generate_series(0, ${QTokens - 1})) AS k) kk),
       |dt AS (
       |  SELECT doc_id, a[t.p] AS tok
       |  FROM w, (SELECT unnest(generate_series(1, $DTokens)) AS p) t
       |  WHERE len(a) >= t.p),
       |dtb AS (SELECT doc_id, ${tokBucketDuck("tok")} AS bucket FROM dt),
       |hits AS (
       |  SELECT q.term, d.doc_id, COUNT(*) AS h
       |  FROM dtb d JOIN qtb q USING (bucket) GROUP BY 1, 2),
       |short AS (
       |  SELECT term, doc_id FROM (
       |    SELECT term, doc_id,
       |           row_number() OVER (PARTITION BY term
       |             ORDER BY h DESC, doc_id) AS rn
       |    FROM hits) WHERE rn <= $ShortK),
       |cand AS (
       |  SELECT s.term, s.doc_id, a[1:$DTokens] AS dtoks
       |  FROM short s JOIN w ON w.doc_id = s.doc_id),
       |scored AS (
       |  SELECT term, doc_id,
       |    list_sum(list_transform(
       |      list_transform(generate_series(0, ${QTokens - 1}),
       |        k -> CASE WHEN k = 0 THEN term
       |             ELSE term || '#' || CAST(k AS VARCHAR) END),
       |      q -> list_max(list_transform(dtoks, t ->
       |        list_sum(list_transform(generate_series(0, ${Dim - 1}), vi ->
       |          (${tokVecDuck("q")}) * (${tokVecDuck("t")}))))))) AS maxsim
       |  FROM cand)
       |SELECT term, rank, doc_id, maxsim FROM (
       |  SELECT term,
       |         CAST(row_number() OVER (PARTITION BY term
       |           ORDER BY maxsim DESC, doc_id) AS BIGINT) AS rank,
       |         doc_id, CAST(maxsim AS BIGINT) AS maxsim
       |  FROM scored)
       |WHERE rank <= ${RetrievalQueries.K}""".stripMargin

  /** Streaming hybrid RERANK — the full
    * streaming retrieval stack closed end-to-end: BOTH retrievers are
    * built by streaming ingest ([[streamHybridRrf]] — per-term
    * LONG-pack posting heads + replay-idempotent IVF cell appends,
    * with the checkpoint-recovery proofs of CheckpointRecoverySpec
    * behind the head state), and the cross-encoder rerank runs at
    * FINALIZE over the recovered candidate heads: the fused ≤ terms×5
    * candidate list broadcasts into the corpus scan exactly as the
    * batch [[hybridRerank]] (only candidates pay the expensive
    * per-pair pass). Finite input ⇒ the candidate set equals the
    * batch twin's, so the SAME rerank oracle verifies the whole
    * streaming composition. */
  def streamHybridRerank(s: SparkSession, d: String): DataFrame =
    rerankOver(s, d,
      streamHybridRrf(s, d).select(col("term"), col("doc_id"),
        col("rrf_score")))

  def entries: Seq[Entry] = Seq(
    Entry("text_hybrid_rrf", hybridRrf, hybridRrfSql),
    Entry("stream_hybrid_rrf", streamHybridRrf, hybridRrfSql),
    Entry("text_hybrid_rerank", hybridRerank, hybridRerankSql),
    Entry("stream_hybrid_rerank", streamHybridRerank, hybridRerankSql),
    Entry("text_hybrid_snippets", hybridSnippets, hybridSnippetsSql),
    Entry("text_maxsim", maxsim, maxsimSql),
    Entry("stream_maxsim", streamMaxsim, maxsimSql),
    Entry("text_maxsim_corpus", maxsimCorpus, maxsimCorpusSql),
    Entry("stream_maxsim_corpus", streamMaxsimCorpus, maxsimCorpusSql))
}
