package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextShingles
import graft.queries.Catalog.Entry
import graft.sources.Tables

/** Deduplication operators over the `documents` table — the LLM-data
  * pipeline core. All candidate generation is bucket-local (hash
  * groupBy / LSH band join / shared-shingle join), never an O(n²)
  * cross join, so each scales to 100 TB: the shuffle key is the hash /
  * band signature / shingle, and AQE handles band-bucket skew.
  *
  * Hashing uses md5 (identical lowercase-hex semantics in Spark and
  * DuckDB) so every query is oracle-verifiable.
  */
object DedupQueries {

  private val N = 5 // word-shingle width

  /** Shared Jaccard-verified pair mining (one definition for
    * ngramJaccard, components, and the cleaning pipeline — keeping the
    * threshold/hashing in a single place alongside the oracle
    * spellings).
    *
    * @param docs       (doc_id, text, ...) relation to mine
    * @param candidates optional (doc_a, doc_b) pre-filter (e.g. LSH
    *                   bands); None = all pairs sharing a shingle
    * @return (doc_a, doc_b, jaccard) with jaccard >= threshold
    */
  def jaccardPairs(docs0: DataFrame, candidates: Option[DataFrame],
                   threshold: Double): DataFrame = {
    // widen once here so the shingle AND size passes share the same
    // widened relation (one exchange, reused) instead of each paying
    // their own inside the helpers
    val docs = graft.util.Widen(docs0)
    // persist: sh feeds both sides of the candidate join. The cache is
    // released before returning — the (tiny) pair result is eagerly
    // localCheckpoint'ed off it, so no InMemoryRelation outlives the
    // query (cache hygiene across a multi-query Verify/Bench session).
    val sh = TextShingles.shingleHashSet(docs, "doc_id", "text", N).persist()
    try {
      val sizes = docs
        .select(col("doc_id"), TextShingles.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          size(graft.functions.HashedShingles(col("__toks"), N)).as("n"))
      val inter = candidates match {
        case None =>
          sh.as("a").join(sh.as("b"),
              col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
            .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
            .agg(count(lit(1)).as("i"))
        case Some(cand) =>
          cand.join(sh.as("a"), col("doc_a") === col("a.doc_id"))
            .join(sh.as("b"),
              col("doc_b") === col("b.doc_id") && col("b.sh") === col("a.sh"))
            .groupBy(col("doc_a"), col("doc_b"))
            .agg(count(lit(1)).as("i"))
      }
      inter
        .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          (col("i") * 1.0 / (col("sa.n") + col("sb.n") - col("i"))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .localCheckpoint()
    } finally { sh.unpersist(blocking = false); () }
  }

  // ---------------------------------------------------------------
  // LSH banding auto-tune — the dedup-side twin of sim_ann_autoprobe:
  // the (bands × rows) split of a fixed minhash budget is the knob a
  // production dedup pipeline sets by folklore; this derives it FROM
  // THE DATA. For each (b, r) with b·r = 16, the classic S-curve
  // P(collide | s) = 1 − (1 − s^r)^b is evaluated on every MEASURED
  // pair similarity (the shared-shingle candidate relation with its
  // exact Jaccard on a ppm grid — never all-pairs), giving the
  // config's expected recall over true duplicates (j ≥ 0.8, the
  // family's dup threshold) and expected false-candidate rate over
  // non-duplicates. All integer: exponents are powers of two, so
  // s^r / (1−s^r)^b are repeated-squaring ladders with a ppm
  // re-grid per step — identical arithmetic both engines.
  // ---------------------------------------------------------------

  /** Target expected recall (ppm) for [[lshAutotune]] — 95%. */
  private[queries] val LshRecallTargetPpm = 950000L

  /** Expected recall / false-candidate sweep over the 5 banding
    * splits of a 16-hash minhash budget, with the MINIMAL band count
    * meeting [[LshRecallTargetPpm]] flagged (bands are the per-doc
    * state/IO cost; recall rises with b, so min-b-meeting-target is
    * the cheapest safe config). Pair similarities are measured, not
    * assumed: the shared-shingle candidate relation (the
    * dedup_ngram_jaccard blocking — bounded by shingle collisions at
    * any corpus size; in production this runs over a corpus sample)
    * with exact integer Jaccard j_ppm = i·10^6 DIV (|A|+|B|−i). */
  def lshAutotune(s: SparkSession, d: String): DataFrame = {
    val docs = graft.util.Widen(Tables.documents(s, d))
    val sh = TextShingles.shingleHashSet(docs, "doc_id", "text", N).persist()
    try {
      val sizes = docs
        .select(col("doc_id"), TextShingles.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          size(graft.functions.HashedShingles(col("__toks"), N)).as("n"))
      val pj = sh.as("a").join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
        .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          expr("i * 1000000 DIV (sa.n + sb.n - i)").as("j"))
      val cfg = s.createDataFrame(Seq(
          (16L, 1L), (8L, 2L), (4L, 4L), (2L, 8L), (1L, 16L)))
        .toDF("bands", "rows_per_band")
      val agg = pj.crossJoin(broadcast(cfg))
        .withColumn("j2", expr("j * j DIV 1000000"))
        .withColumn("j4", expr("j2 * j2 DIV 1000000"))
        .withColumn("j8", expr("j4 * j4 DIV 1000000"))
        .withColumn("j16", expr("j8 * j8 DIV 1000000"))
        .withColumn("q", expr("1000000 - (CASE rows_per_band " +
          "WHEN 1 THEN j WHEN 2 THEN j2 WHEN 4 THEN j4 " +
          "WHEN 8 THEN j8 ELSE j16 END)"))
        .withColumn("q2", expr("q * q DIV 1000000"))
        .withColumn("q4", expr("q2 * q2 DIV 1000000"))
        .withColumn("q8", expr("q4 * q4 DIV 1000000"))
        .withColumn("q16", expr("q8 * q8 DIV 1000000"))
        .withColumn("p", expr("1000000 - (CASE bands " +
          "WHEN 1 THEN q WHEN 2 THEN q2 WHEN 4 THEN q4 " +
          "WHEN 8 THEN q8 ELSE q16 END)"))
        .groupBy(col("bands"), col("rows_per_band"))
        .agg(
          expr("SUM(IF(j >= 800000, p, 0L)) DIV " +
            "GREATEST(SUM(IF(j >= 800000, 1L, 0L)), 1L)")
            .as("exp_recall_ppm"),
          expr("SUM(IF(j < 800000, p, 0L)) DIV " +
            "GREATEST(SUM(IF(j < 800000, 1L, 0L)), 1L)")
            .as("exp_fp_ppm"))
      val chosen = agg.filter(col("exp_recall_ppm") >= LshRecallTargetPpm)
        .agg(min(col("bands")).as("mb"))
      agg.crossJoin(broadcast(chosen))
        .select(col("bands"), col("rows_per_band"),
          col("exp_recall_ppm"), col("exp_fp_ppm"),
          (col("exp_recall_ppm") >= LshRecallTargetPpm).cast("long")
            .as("meets_target"),
          coalesce((col("bands") === col("mb")).cast("long"), lit(0L))
            .as("chosen"))
        .localCheckpoint()
    } finally { sh.unpersist(blocking = false); () }
  }

  val lshAutotuneSql: String =
    s"""WITH ${graft.functions.TextShingles.shingleCte5Sql()},
       |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) i
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |pj AS (
       |  SELECT doc_a, doc_b, (i * 1000000) // (sa.n + sb.n - i) AS j
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b),
       |cfg AS (SELECT * FROM (VALUES (16, 1), (8, 2), (4, 4), (2, 8),
       |                              (1, 16)) AS t(bands, rows_per_band)),
       |l1 AS (SELECT pj.*, cfg.bands, cfg.rows_per_band,
       |              (j * j) // 1000000 AS j2
       |       FROM pj CROSS JOIN cfg),
       |l2 AS (SELECT *, (j2 * j2) // 1000000 AS j4 FROM l1),
       |l3 AS (SELECT *, (j4 * j4) // 1000000 AS j8 FROM l2),
       |l4 AS (SELECT *, (j8 * j8) // 1000000 AS j16 FROM l3),
       |qq AS (SELECT *, 1000000 - (CASE rows_per_band
       |         WHEN 1 THEN j WHEN 2 THEN j2 WHEN 4 THEN j4
       |         WHEN 8 THEN j8 ELSE j16 END) AS q FROM l4),
       |m1 AS (SELECT *, (q * q) // 1000000 AS q2 FROM qq),
       |m2 AS (SELECT *, (q2 * q2) // 1000000 AS q4 FROM m1),
       |m3 AS (SELECT *, (q4 * q4) // 1000000 AS q8 FROM m2),
       |m4 AS (SELECT *, (q8 * q8) // 1000000 AS q16 FROM m3),
       |pp AS (SELECT doc_a, doc_b, j, bands, rows_per_band,
       |         1000000 - (CASE bands
       |           WHEN 1 THEN q WHEN 2 THEN q2 WHEN 4 THEN q4
       |           WHEN 8 THEN q8 ELSE q16 END) AS p FROM m4),
       |agg AS (
       |  SELECT bands, rows_per_band,
       |    CAST(SUM(CASE WHEN j >= 800000 THEN p ELSE 0 END)
       |         // GREATEST(SUM(CASE WHEN j >= 800000 THEN 1 ELSE 0 END), 1)
       |         AS BIGINT) AS exp_recall_ppm,
       |    CAST(SUM(CASE WHEN j < 800000 THEN p ELSE 0 END)
       |         // GREATEST(SUM(CASE WHEN j < 800000 THEN 1 ELSE 0 END), 1)
       |         AS BIGINT) AS exp_fp_ppm
       |  FROM pp GROUP BY bands, rows_per_band),
       |ch AS (SELECT MIN(bands) mb FROM agg
       |       WHERE exp_recall_ppm >= $LshRecallTargetPpm)
       |SELECT CAST(bands AS BIGINT) AS bands,
       |       CAST(rows_per_band AS BIGINT) AS rows_per_band,
       |       exp_recall_ppm, exp_fp_ppm,
       |       CAST(CASE WHEN exp_recall_ppm >= $LshRecallTargetPpm
       |            THEN 1 ELSE 0 END AS BIGINT) AS meets_target,
       |       CAST(CASE WHEN bands = (SELECT mb FROM ch) THEN 1 ELSE 0 END
       |            AS BIGINT) AS chosen
       |FROM agg""".stripMargin

  /** Cross-source contamination matrix — WHICH source copies WHICH:
    * every verified near-dup pair ([[ngramJaccard]], j ≥ 0.8) keyed
    * by (canonical side's source, duplicate side's source) with the
    * lower doc_id as canonical (the family's survivor rule). This is
    * the drill-down a data team reads after [[rateBySource]] says
    * "source X is 30% duplicated" — whether X copies itself (internal
    * boilerplate) or mirrors source Y (a licensing/provenance
    * problem). Cost: the already-verified pair relation plus two
    * doc_id-keyed source pickups; output ≤ |sources|² rows. */
  def crossSourceMatrix(s: SparkSession, d: String): DataFrame = {
    val srcs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    ngramJaccard(s, d)
      .join(srcs.select(col("doc_id").as("doc_a"),
        col("source").as("src_canonical")), Seq("doc_a"))
      .join(srcs.select(col("doc_id").as("doc_b"),
        col("source").as("src_dup")), Seq("doc_b"))
      .groupBy(col("src_canonical"), col("src_dup"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  lazy val crossSourceMatrixSql: String = // lazy: ngramJaccardSql declared below
    s"""SELECT da.source AS src_canonical, db.source AS src_dup,
       |       CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM ($ngramJaccardSql) p
       |JOIN documents da ON da.doc_id = p.doc_a
       |JOIN documents db ON db.doc_id = p.doc_b
       |GROUP BY da.source, db.source""".stripMargin

  /** The BANDED cross-source matrix oracle — [[crossSourceMatrixSql]]
    * with candidates restricted to MinHash band collisions (the
    * deterministic banding the streaming bounded-state twin's registry
    * keys on, spelled relationally: the `dedup_semantic_lsh`
    * approximate-but-verifiable precedent). Composes [[bandsCteSql]]
    * (which defines `tok`) with the shared shingle spelling, exactly
    * the [[incrementalSql]] assembly. */
  lazy val crossSourceBandedSql: String =
    s"""WITH $bandsCteSql,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |${graft.functions.TextShingles.shingleFromTokSql},
       |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) i
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
       |  GROUP BY c.doc_a, c.doc_b),
       |vp AS (
       |  SELECT doc_a, doc_b
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE i*1.0/(sa.n + sb.n - i) >= 0.8)
       |SELECT da.source AS src_canonical, db.source AS src_dup,
       |       CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM vp
       |JOIN documents da ON da.doc_id = vp.doc_a
       |JOIN documents db ON db.doc_id = vp.doc_b
       |GROUP BY da.source, db.source""".stripMargin

  /** Containment threshold (ppm) — the smaller document must share
    * ≥90% of its shingles to count as contained. */
  private[queries] val ContainPpm = 900000L

  /** Asymmetric near-dup by SET CONTAINMENT (Broder): Jaccard misses
    * the small-document-inside-big-document case entirely (a 100-line
    * doc fully embedded in a 10k-line doc has Jaccard ≈ 0.01), but
    * for training data the contained doc is pure duplication and
    * should drop. For every shared-shingle candidate pair this emits
    * the pairs whose SMALLER side is ≥[[ContainPpm]] contained in the
    * larger — doc_inner (the contained one, the drop candidate),
    * doc_outer, both measures on the exact ppm grid, and the
    * `asymmetric` flag marking pairs BELOW the family's 0.8 Jaccard
    * gate, i.e. the duplication only this operator catches. Blocking
    * is the same shared-shingle candidate join as the Jaccard tier —
    * never all-pairs. */
  def containment(s: SparkSession, d: String): DataFrame = {
    val docs = graft.util.Widen(Tables.documents(s, d))
    val sh = TextShingles.shingleHashSet(docs, "doc_id", "text", N).persist()
    try {
      val sizes = docs
        .select(col("doc_id"), TextShingles.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          size(graft.functions.HashedShingles(col("__toks"), N)).as("n"))
      sh.as("a").join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
        .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
        .withColumn("containment_ppm",
          expr("i * 1000000 DIV LEAST(sa.n, sb.n)"))
        .withColumn("jaccard_ppm", expr("i * 1000000 DIV (sa.n + sb.n - i)"))
        .filter(col("containment_ppm") >= ContainPpm)
        .select(
          expr("IF(sa.n <= sb.n, doc_a, doc_b)").as("doc_inner"),
          expr("IF(sa.n <= sb.n, doc_b, doc_a)").as("doc_outer"),
          col("containment_ppm"), col("jaccard_ppm"),
          (col("jaccard_ppm") < 800000L).cast("long").as("asymmetric"))
        .localCheckpoint()
    } finally { sh.unpersist(blocking = false); () }
  }

  val containmentSql: String =
    s"""WITH ${graft.functions.TextShingles.shingleCte5Sql()},
       |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) i
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |pj AS (
       |  SELECT doc_a, doc_b, sa.n na, sb.n nb,
       |         (i * 1000000) // LEAST(sa.n, sb.n) AS containment_ppm,
       |         (i * 1000000) // (sa.n + sb.n - i) AS jaccard_ppm
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b)
       |SELECT CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS doc_inner,
       |       CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS doc_outer,
       |       CAST(containment_ppm AS BIGINT) AS containment_ppm,
       |       CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm,
       |       CAST(CASE WHEN jaccard_ppm < 800000 THEN 1 ELSE 0 END AS BIGINT)
       |         AS asymmetric
       |FROM pj WHERE containment_ppm >= $ContainPpm""".stripMargin

  /** Exact dedup: group by content hash, keep the lowest doc_id.
    * Equivalent of dropDuplicates(text) but emits the dedup decision
    * (hash → survivor + multiplicity) so it is sink-agnostic. */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  val exactSql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
      |       COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** N-gram Jaccard set-similarity self-join: candidate pairs share at
    * least one 5-gram shingle (the scalable candidate filter — join on
    * the shingle, not all-pairs), then exact Jaccard >= 0.8. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    jaccardPairs(Tables.documents(s, d), candidates = None, threshold = 0.8)

  val ngramJaccardSql: String =
    s"""WITH ${graft.functions.TextShingles.shingleCte5Sql()},
      |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) i
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, i*1.0/(sa.n + sb.n - i) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE i*1.0/(sa.n + sb.n - i) >= 0.8""".stripMargin

  /** MinHash + LSH candidate pairs: 8 seeded min-hashes over the shingle
    * set, banded 4×2; pairs sharing any band bucket. The band join is
    * the scale path — state per bucket, no all-pairs comparison. */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLshOver(Tables.documents(s, d))

  /** [[minhashLsh]] over ANY (doc_id, text) relation — the streaming
    * corpus build feeds it the accumulated staged documents. */
  private[graft] def minhashLshOver(docs: DataFrame): DataFrame = {
    val seeds = 0 until 8
    // min over shingles is multiset-invariant, so each signature is a
    // narrow per-row array_min over the shingle array: NO explode, NO
    // distinct, NO shuffle to build signatures — the corpus scan stays
    // embarrassingly parallel and only the (tiny) signature relation
    // shuffles for the band join. Hashing is shared: two md5s per
    // shingle sliced into eight 32-bit hashes (vs one md5 per seed).
    // persist: it feeds 4 band projections × 2 join sides.
    val mh = graft.util.Widen(docs)
      .select(col("doc_id"), TextShingles.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        graft.functions.MinHashSlices(col("__toks")).as("__mh"))
      .select(col("doc_id") +: seeds.map(i =>
        element_at(col("__mh"), i + 1).as(s"h$i")): _*)
      .persist()
    try {
      val bands = (0 until 4).map { b =>
        mh.select(col("doc_id"), lit(b).as("band"),
          concat_ws(",", col(s"h${2 * b}"), col(s"h${2 * b + 1}")).as("sig"))
      }.reduce(_ unionAll _)
      bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .localCheckpoint() // eager: pairs materialize, then the cache drops
    } finally { mh.unpersist(blocking = false); () }
  }

  /** The (doc_id, band, sig) band relation over ANY (doc_id, text)
    * relation — batch or STREAMING (narrow single-pass spelling:
    * signatures via the array_min slices, bands via one explode — no
    * persist, no multi-projection, so it plans on an unbounded
    * source). The batch LSH join above keeps its persisted
    * multi-projection variant (4 projections of one cached signature
    * relation beat re-exploding for a two-sided join); this feeds the
    * streaming first-wins registry and spec cross-checks. */
  private[graft] def bandRows(docs: DataFrame): DataFrame = {
    val seeds = 0 until 8
    graft.util.Widen(docs)
      .select(col("doc_id"), TextShingles.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        graft.functions.MinHashSlices(col("__toks")).as("__mh"))
      .select(col("doc_id") +: seeds.map(i =>
        element_at(col("__mh"), i + 1).as(s"h$i")): _*)
      .select(col("doc_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            concat_ws(",", col(s"h${2 * b}"), col(s"h${2 * b + 1}"))
              .as("sig"))): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** The MinHash band relation (doc_id, band, sig) as a DuckDB CTE
    * chain — the shared spelling between [[minhashLshSql]] and the
    * streaming near-dup oracle
    * ([[StreamingQueries.streamNeardupSql]]). */
  private[queries] val bandsCteSql: String =
    """tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') words FROM documents),
      |sharr AS (
      |  SELECT doc_id, list_transform(generate_series(1, greatest(len(words)-4, 1)),
      |           i -> array_to_string(words[i:i+4], ' ')) shl FROM tok),
      |h AS (SELECT doc_id,
      |        list_transform(shl, sh -> md5('0|' || sh) || md5('1|' || sh)) h64
      |      FROM sharr),
      |mh AS (SELECT doc_id,
      |  list_min(list_transform(h64, x -> substr(x, 1, 8))) h0,
      |  list_min(list_transform(h64, x -> substr(x, 9, 8))) h1,
      |  list_min(list_transform(h64, x -> substr(x, 17, 8))) h2,
      |  list_min(list_transform(h64, x -> substr(x, 25, 8))) h3,
      |  list_min(list_transform(h64, x -> substr(x, 33, 8))) h4,
      |  list_min(list_transform(h64, x -> substr(x, 41, 8))) h5,
      |  list_min(list_transform(h64, x -> substr(x, 49, 8))) h6,
      |  list_min(list_transform(h64, x -> substr(x, 57, 8))) h7
      |  FROM h),
      |bands AS (
      |  SELECT doc_id, 0 band, h0 || ',' || h1 sig FROM mh
      |  UNION ALL SELECT doc_id, 1, h2 || ',' || h3 FROM mh
      |  UNION ALL SELECT doc_id, 2, h4 || ',' || h5 FROM mh
      |  UNION ALL SELECT doc_id, 3, h6 || ',' || h7 FROM mh)""".stripMargin

  /** INCREMENTAL near-dup — the production ingest shape a published
    * corpus actually runs: a newly-arrived DELTA (here the
    * `doc_id % 10 = 9` slice, standing in for today's crawl) is
    * checked against the AT-REST corpus without ever re-mining
    * rest-vs-rest pairs. Candidates come from the MinHash band join
    * of delta bands against at-rest bands ONLY — at 100 TB the
    * at-rest band relation is the STORED signature index (built once,
    * the IvfIndex discipline applied to dedup), so the per-ingest
    * cost is O(delta + collisions), not O(corpus²) and not even
    * O(corpus): the at-rest side is an equi-join pickup on the band
    * key. Verification is the shared exact-Jaccard machinery over the
    * candidate pairs. Emits every verified (delta doc, at-rest
    * duplicate, jaccard) — the reject/route decision an ingest gate
    * applies before a delta document ever enters the corpus. */
  def incremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    incrementalOver(docs.filter(col("doc_id") % 10 === 9),
      docs.filter(col("doc_id") % 10 =!= 9))
  }

  /** The STORED at-rest signature index: the three relations the
    * incremental gate looks up — MinHash band rows (the candidate
    * key), shingle rows (the verify key) and shingle-set sizes (the
    * Jaccard denominator). Derived once from the at-rest corpus; the
    * streaming twin persists them to a scratch layout (the IvfIndex
    * stored-index discipline) so no micro-batch ever re-derives a
    * corpus-side relation. */
  private[graft] final case class RestIndex(bands: DataFrame,
                                            shingles: DataFrame,
                                            sizes: DataFrame)

  /** Derive the at-rest index relations from the corpus — ONE narrow
    * signature pass + one shingle pass; pay once per index build. */
  private[graft] def restIndexOf(rest0: DataFrame): RestIndex = {
    val rest = graft.util.Widen(rest0)
    RestIndex(
      bands = bandRows(rest)
        .select(col("doc_id").as("doc_a"), col("band"), col("sig")),
      shingles = TextShingles.shingleHashSet(rest, "doc_id", "text", N),
      sizes = rest
        .select(col("doc_id"), TextShingles.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          size(graft.functions.HashedShingles(col("__toks"), N)).as("n")))
  }

  /** The delta-vs-at-rest gate against a PRE-BUILT [[RestIndex]]: only
    * delta-side derivations run here — delta bands for the candidate
    * equi-join, delta shingles/sizes for the verify leg; every
    * at-rest touch is an equi-join pickup on the stored relations, so
    * per-ingest cost is O(delta + collisions) with the corpus-side
    * work genuinely paid once at index build. */
  private[graft] def incrementalAgainst(delta0: DataFrame,
                                        idx: RestIndex): DataFrame = {
    val delta = graft.util.Widen(delta0)
    val db = bandRows(delta)
      .select(col("doc_id").as("doc_b"), col("band"), col("sig"))
    val cand = idx.bands.join(db, Seq("band", "sig"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val dSh = TextShingles.shingleHashSet(delta, "doc_id", "text", N)
      .select(col("doc_id").as("__db"), col("sh").as("__bsh"))
    val dSizes = delta
      .select(col("doc_id"), TextShingles.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        size(graft.functions.HashedShingles(col("__toks"), N)).as("n"))
    cand
      .join(idx.shingles.select(col("doc_id").as("doc_a"),
        col("sh").as("__ash")), Seq("doc_a"))
      .join(dSh, col("doc_b") === col("__db") && col("__ash") === col("__bsh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("i"))
      .join(idx.sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(dSizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("i") * 1.0 / (col("na") + col("nb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("dup_of"),
        col("jaccard"))
  }

  /** The delta-vs-at-rest gate over ANY delta/rest (doc_id, text)
    * relations — builds the index relations inline (the batch shape;
    * the streaming twin builds the index ONCE and calls
    * [[incrementalAgainst]] per micro-batch). */
  private[graft] def incrementalOver(delta: DataFrame,
                                     rest: DataFrame): DataFrame =
    incrementalAgainst(delta, restIndexOf(rest))

  /** INCREMENTAL containment — the ingest gate for the duplication
    * only [[containment]] catches (small-doc-inside-big-doc, where
    * Jaccard and MinHash banding both collapse): each arriving delta
    * document joins the STORED at-rest shingle relation directly
    * (shared-shingle candidates — bounded by collisions, the
    * containment tier's own blocking; banding is NOT usable here
    * because an asymmetric pair's MinHash signatures disagree almost
    * everywhere, which is exactly why the streaming containment twin
    * stays a compaction-time path), verifies Broder containment on
    * the exact ppm grid against the stored sizes, and emits the
    * routing decision: `delta_inner` = 1 means the arriving doc is
    * the contained one (reject/dedup), 0 means it SUPERSEDES an
    * at-rest doc (route to replace). Per-ingest cost: O(delta tokens
    * + collisions); the at-rest side is two equi-join pickups on the
    * stored index — no registry, no cross-batch state. */
  def incrementalContainment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    incrementalContainmentAgainst(docs.filter(col("doc_id") % 10 === 9),
      restIndexOf(docs.filter(col("doc_id") % 10 =!= 9)))
  }

  /** The containment gate against a pre-built [[RestIndex]] — the
    * streaming twin runs THIS per micro-batch against the stored
    * layout. */
  private[graft] def incrementalContainmentAgainst(
      delta0: DataFrame, idx: RestIndex): DataFrame = {
    val delta = graft.util.Widen(delta0)
    val dSh = TextShingles.shingleHashSet(delta, "doc_id", "text", N)
      .select(col("doc_id").as("doc_b"), col("sh"))
    val dSizes = delta
      .select(col("doc_id"), TextShingles.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        size(graft.functions.HashedShingles(col("__toks"), N)).as("n"))
    idx.shingles.select(col("doc_id").as("doc_a"), col("sh"))
      .join(dSh, Seq("sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("i"))
      .join(idx.sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(dSizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .withColumn("containment_ppm",
        expr("i * 1000000 DIV LEAST(na, nb)"))
      .withColumn("jaccard_ppm", expr("i * 1000000 DIV (na + nb - i)"))
      .filter(col("containment_ppm") >= ContainPpm)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("dup_of"),
        col("containment_ppm"), col("jaccard_ppm"),
        (col("nb") <= col("na")).cast(LongType).as("delta_inner"))
  }

  /** Shared-shingle delta×rest candidates + the containment grid. */
  val incrementalContainmentSql: String =
    s"""WITH ${graft.functions.TextShingles.shingleCte5Sql()},
       |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) i
       |  FROM sh a JOIN sh b ON a.sh = b.sh
       |  WHERE a.doc_id % 10 <> 9 AND b.doc_id % 10 = 9
       |  GROUP BY a.doc_id, b.doc_id),
       |pj AS (
       |  SELECT doc_a, doc_b, sa.n na, sb.n nb,
       |         (i * 1000000) // LEAST(sa.n, sb.n) AS containment_ppm,
       |         (i * 1000000) // (sa.n + sb.n - i) AS jaccard_ppm
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b)
       |SELECT doc_b AS doc_id, doc_a AS dup_of,
       |       CAST(containment_ppm AS BIGINT) AS containment_ppm,
       |       CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm,
       |       CAST(CASE WHEN nb <= na THEN 1 ELSE 0 END AS BIGINT)
       |         AS delta_inner
       |FROM pj WHERE containment_ppm >= $ContainPpm""".stripMargin

  /** The delta-vs-at-rest gate oracle parameterized on the candidate
    * predicate — [[incrementalSql]] instantiates the plain ingest
    * gate, [[indexDeleteSql]] the same gate with the tombstoned
    * takedown slice excluded from the at-rest side. */
  private def incrementalGateSql(candWhere: String): String =
    s"""WITH $bandsCteSql,
       |cand AS (
       |  SELECT DISTINCT o.doc_id AS da, n.doc_id AS db
       |  FROM bands o JOIN bands n
       |    ON o.band = n.band AND o.sig = n.sig
       |  WHERE $candWhere),
       |${graft.functions.TextShingles.shingleFromTokSql},
       |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.da, c.db, COUNT(*) i
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.da
       |  JOIN sh b ON b.doc_id = c.db AND b.sh = a.sh
       |  GROUP BY c.da, c.db)
       |SELECT db AS doc_id, da AS dup_of, i*1.0/(sa.n + sb.n - i) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = da
       |JOIN sizes sb ON sb.doc_id = db
       |WHERE i*1.0/(sa.n + sb.n - i) >= 0.8""".stripMargin

  /** Composes [[bandsCteSql]] with the shared shingle spelling — the
    * componentsSql assembly, restricted to delta×at-rest candidates. */
  val incrementalSql: String =
    incrementalGateSql("o.doc_id % 10 <> 9 AND n.doc_id % 10 = 9")

  /** The takedown slice: at-rest documents removed from the published
    * corpus (right-to-be-forgotten / license revocation). `%10 = 7`
    * stands in for an arbitrary takedown LIST — the implementation
    * only ever sees it as a (doc_id) relation, never as a predicate. */
  private[graft] def tombstonesOf(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 === 7).select(col("doc_id"))

  /** Serve-time tombstone view of a stored [[RestIndex]]: the band
    * relation anti-joined against the takedown list. Only the band leg
    * needs masking — the shingle/size legs are only ever picked up via
    * a candidate's `doc_a`, and no candidate can name a tombstoned doc
    * once its bands are masked. The anti-join broadcasts the (small)
    * tombstone relation, so serving cost is unchanged: the index is
    * NOT rebuilt on takedown. */
  private[graft] def tombstoneServe(idx: RestIndex,
                                    tombstones: DataFrame): RestIndex =
    idx.copy(bands = idx.bands.join(
      broadcast(tombstones.select(col("doc_id").as("doc_a"))),
      Seq("doc_a"), "left_anti"))

  /** INDEX TAKEDOWN lifecycle — the `sim_ivf_delete` discipline
    * applied to the at-rest dedup signature index: a slice of the
    * published corpus is taken down (GDPR erasure, license
    * revocation), and the ingest gate must stop suppressing new
    * documents on the strength of documents that no longer exist.
    * Between takedown and the next index compaction the gate serves
    * through [[tombstoneServe]] — a broadcast anti-join of the
    * tombstone list against the stored band relation; compaction then
    * rebuilds the index from the surviving corpus, and the spec pins
    * that the tombstone-masked serve equals the rebuilt index's
    * verdicts exactly (`DedupHygieneSpec`). Emits the gate relation
    * under takedown: every (delta doc, surviving at-rest duplicate,
    * jaccard) — pairs whose only witness was tombstoned are GONE,
    * which is precisely the unblocking a takedown must produce. */
  def indexDelete(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val rest = docs.filter(col("doc_id") % 10 =!= 9)
    incrementalAgainst(docs.filter(col("doc_id") % 10 === 9),
      tombstoneServe(restIndexOf(rest), tombstonesOf(rest)))
  }

  /** [[incrementalSql]] with the takedown slice excluded from the
    * at-rest candidate side — the oracle for the tombstone-masked
    * serve (and, by the spec's equality, for the compacted rebuild). */
  val indexDeleteSql: String = incrementalGateSql(
    "o.doc_id % 10 <> 9 AND o.doc_id % 10 <> 7 AND n.doc_id % 10 = 9")

  val minhashLshSql: String =
    s"""WITH $bandsCteSql
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM bands a
      |JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""".stripMargin

  /** SimHash signatures: 16-bit sign-of-weighted-bits over the distinct
    * token set (bit source: first 4 hex chars of md5(token)). Near-dup
    * detection then joins on signature prefix + hamming distance — see
    * simhashPairs. */
  def simhash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextShingles.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        graft.functions.SimHash16(col("__toks")).as("simhash"))

  val simhashSql: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(string_split_regex(trim(text), '\s+')) t FROM documents),
      |tv AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 4))::INT v FROM tok),
      |bits AS (
      |  SELECT doc_id, b,
      |    CASE WHEN SUM(CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END bt
      |  FROM tv, (SELECT unnest(generate_series(0, 15)) b) bs
      |  GROUP BY doc_id, b)
      |SELECT doc_id, CAST(SUM(bt << b) AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id""".stripMargin

  /** SimHash near-dup candidate pairs: equi-join within each of four
    * 4-bit signature bands — the scale move that avoids all-pairs —
    * then exact hamming ≤ 3 via bit_count(xor).
    *
    * Recall is COMPLETE by pigeonhole: 3 differing bits cannot touch
    * all 4 disjoint bands, so every hamming-≤3 pair shares at least one
    * band exactly (the k+1-bands-for-distance-k rule). The oracle is
    * therefore the brute-force all-pairs hamming filter — the banded
    * plan must reproduce it verbatim. The production 64-bit form is
    * simhash64Pairs below (4×16-bit bands, same recall rule). */
  def simhashPairs(s: SparkSession, d: String): DataFrame =
    // no persist/checkpoint here: the 16-bit signature pass is a cheap
    // narrow scan, so recomputing it on each join side costs far less
    // than materializing the multi-million-row pair result that an
    // eager localCheckpoint would store (near-dup density is high at
    // this signature width). Nothing is cached, so nothing can leak.
    simhashBandPairs(simhash(s, d))

  /** Banded hamming-≤3 pair mining over a (doc_id, simhash) relation —
    * factored out so the band-recall guarantee is unit-testable on
    * synthetic signatures. One explode into (band, slice) rows + one
    * equi-join on the band key (the minhash-LSH plan shape) instead of
    * four self-joins union'd: a single shuffle, and the hamming filter
    * runs before the distinct so the dedup shuffle only carries
    * near-dup pairs.
    *
    * `bandBits` sets the slice width: 4 for the 16-bit demo signature,
    * 16 for the production 64-bit one. Either way there are four
    * disjoint bands, so the pigeonhole recall rule (3 differing bits
    * can't touch all 4 bands) is width-independent. */
  def simhashBandPairs(sig: DataFrame, bandBits: Int = 4): DataFrame = {
    val mask = (1L << bandBits) - 1
    // simhash bits are biased by common tokens, so nibble buckets are
    // heavily skewed (one bucket can hold >half the corpus): the
    // broadcast self-join's cost is the probe side's candidate
    // explosion, so spread the probe rows across the full shuffle
    // width — otherwise the 10M+ pair evaluations land on however few
    // partitions the signature scan produced
    val bands = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        expr(s"shiftright(simhash, ${bandBits * b}) & $mask").as("sig"))): _*)).as("bs"))
      .select(col("doc_id"), col("simhash"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
      .repartition(col("doc_id"))
    // first-matching-band dedup: a pair sharing k bands would surface
    // k times, so keep it only where no EARLIER band also matches —
    // pure bitwise arithmetic on the xor, evaluated inside the join's
    // codegen stage. Each pair is then unique by construction and the
    // multi-million-row distinct shuffle disappears.
    val xorCol = col("a.simhash").bitwiseXOR(col("b.simhash"))
    def bandDiffers(b: Int) =
      shiftright(xorCol, bandBits * b).bitwiseAND(lit(mask)) =!= 0L
    val noEarlierBandMatches = (0 until 4).map { b =>
      (0 until b).map(bandDiffers)
        .foldLeft(col("a.band") === b)(_ && _)
    }.reduce(_ || _)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(xorCol).cast(LongType).as("hamming"),
        noEarlierBandMatches.as("__first"))
      .filter(col("hamming") <= 3 && col("__first"))
      .drop("__first")
  }

  val simhashPairsSql: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(string_split_regex(trim(text), '\s+')) t FROM documents),
      |tv AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 4))::INT v FROM tok),
      |bits AS (
      |  SELECT doc_id, b,
      |    CASE WHEN SUM(CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END bt
      |  FROM tv, (SELECT unnest(generate_series(0, 15)) b) bs
      |  GROUP BY doc_id, b),
      |sig AS (SELECT doc_id, CAST(SUM(bt << b) AS BIGINT) simhash
      |        FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |FROM sig a
      |JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  /** Production-width SimHash near-dup pairs: 64-bit signatures
    * ([[graft.functions.SimHash64]]), banded 4×16 bits — the same
    * single-shuffle band-join plan and the same pigeonhole-complete
    * hamming-≤3 recall as the 16-bit demo, at the width where corpus-
    * scale signatures stop colliding. Oracle: brute-force all-pairs
    * hamming over hi/lo 32-bit halves (DuckDB hex→BIGINT is 32-bit
    * safe; the banded plan must reproduce the exhaustive answer
    * verbatim). */
  def simhash64Pairs(s: SparkSession, d: String): DataFrame =
    simhashBandPairs(
      Tables.documents(s, d)
        .select(col("doc_id"), TextShingles.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          graft.functions.SimHash64(col("__toks")).as("simhash")),
      bandBits = 16)

  val simhash64PairsSql: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(string_split_regex(trim(text), '\s+')) t FROM documents),
      |tv AS (SELECT doc_id,
      |         ('0x' || substr(md5(t), 1, 8))::BIGINT hi,
      |         ('0x' || substr(md5(t), 9, 8))::BIGINT lo FROM tok),
      |bits AS (
      |  SELECT doc_id, b,
      |    CASE WHEN SUM(CASE WHEN
      |           (CASE WHEN b < 32 THEN (lo >> b) ELSE (hi >> (b - 32)) END) & 1 = 1
      |         THEN 1 ELSE -1 END) > 0
      |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END bt
      |  FROM tv, (SELECT unnest(generate_series(0, 63)) b) bs
      |  GROUP BY doc_id, b),
      |sig AS (SELECT doc_id,
      |  CAST(SUM(CASE WHEN b < 16 THEN bt << b ELSE 0 END) AS BIGINT) s0,
      |  CAST(SUM(CASE WHEN b BETWEEN 16 AND 31 THEN bt << (b - 16) ELSE 0 END) AS BIGINT) s1,
      |  CAST(SUM(CASE WHEN b BETWEEN 32 AND 47 THEN bt << (b - 32) ELSE 0 END) AS BIGINT) s2,
      |  CAST(SUM(CASE WHEN b >= 48 THEN bt << (b - 48) ELSE 0 END) AS BIGINT) s3
      |  FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1))
      |          + bit_count(xor(a.s2, b.s2)) + bit_count(xor(a.s3, b.s3))
      |            AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1))
      |    + bit_count(xor(a.s2, b.s2)) + bit_count(xor(a.s3, b.s3)) <= 3""".stripMargin

  /** Duplicate-cluster connected components over the verified Jaccard
    * pairs via iterative min-label propagation — the standard
    * distributed CC (each iteration: one join + one grouped min;
    * converges in graph-diameter rounds; at 100 TB this is exactly how
    * dedup clusters are built, no driver-side graph). Oracle: a
    * recursive-CTE transitive closure. */
  def components(s: SparkSession, d: String): DataFrame =
    componentsOver(Tables.documents(s, d))

  /** [[components]] over ANY (doc_id, text) relation — the streaming
    * corpus build clusters the accumulated staged documents. */
  private[graft] def componentsOver(docs: DataFrame): DataFrame =
    // Production dedup-cluster pipeline: LSH band candidates first
    // (narrow signature pass + tiny join), exact Jaccard verification
    // only on the candidates, then cluster. Avoids mining all
    // shared-shingle pairs.
    // jaccardPairs returns an eagerly localCheckpoint'ed relation, so
    // the pair mining already ran at full parallelism and carries no
    // lineage back to the corpus scan.
    componentsOfPairs(jaccardPairs(docs,
        candidates = Some(minhashLshOver(docs)), threshold = 0.8)
      .select(col("doc_a"), col("doc_b")))

  /** The min-label clustering half of [[componentsOver]], over an
    * ALREADY-MINED verified pair relation — callers that need the
    * pair relation for their own joins (the split-leakage audit) mine
    * it once and feed it here instead of paying a second mining
    * pass. */
  private[graft] def componentsOfPairs(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    // the propagation loop runs over the (tiny) node/edge relations:
    // wide shuffles per iteration are pure overhead, so pin them small
    // (at larger cluster scale: size to the edge relation, not the
    // corpus)
    graft.util.Confs.withShufflePartitions(s, 4) {
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .persist()
      var labels = edges.select(col("src").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("component")).persist()
      // handle on the EXACT persisted plan: unpersist matches cache
      // entries by sameResult, so calling it on a derived projection
      // (labels = step.drop(...)) would silently leak one
      // InMemoryRelation per round
      var labelsCache: DataFrame = labels
      var converged = false
      var iter = 0
      // min-label propagation strictly decreases labels until fixpoint,
      // so it always converges (≤ graph-diameter rounds); the bound is
      // only a runaway backstop far above any real diameter
      while (!converged && iter < 10000) {
        val nbrMin = edges.join(labels, edges("src") === labels("doc_id"))
          .groupBy(col("dst")).agg(min(col("component")).as("nbr"))
        // carry the old label through the propagation join so change
        // detection reuses the same materialization (one job/round)
        val step = labels.join(nbrMin, labels("doc_id") === nbrMin("dst"), "left")
          .select(labels("doc_id"), col("component").as("old"),
            least(col("component"), coalesce(col("nbr"), col("component")))
              .as("component"))
          .persist()
        val changed = step.filter(col("component") =!= col("old")).count()
        labelsCache.unpersist(blocking = false)
        labelsCache = step
        labels = step.drop("old") // projection over the cached step
        converged = changed == 0
        iter += 1
      }
      // detach the (small) final labeling from every cached
      // intermediate, then release them — no InMemoryRelation outlives
      // the query
      val out = labels.localCheckpoint()
      labelsCache.unpersist(blocking = false)
      edges.unpersist(blocking = false)
      out
    }
  }

  /** Opt-in two-rule connected components (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014): alternate
    *
    *   large-star(u): emit (v, m) for every neighbor v > u,
    *   small-star(u): emit (v, m) for every neighbor v ≤ u plus (u, m),
    *
    * with m = min(Γ(u) ∪ {u}), until the edge set is stable — each
    * component collapses to a star rooted at its minimum in O(log n)
    * rounds WHATEVER the graph diameter, where min-label propagation
    * ([[componentsOver]]) needs O(diameter) rounds and carries a
    * runaway backstop. Dedup clusters are shallow, so the default
    * stays min-label; this variant is the long-chain-safe spelling
    * (fuzzed against a union-find model in TwoStarComponentsSpec).
    * Each round is two join+groupBy passes over the EDGE relation —
    * never the corpus. */
  private[graft] def twoStarComponents(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    graft.util.Confs.withShufflePartitions(s, 4) {
      def canon(e: DataFrame): DataFrame = e
        .filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("lo"),
          greatest(col("u"), col("v")).as("hi"))
        .distinct()
      def both(e: DataFrame): DataFrame =
        e.select(col("lo").as("u"), col("hi").as("v"))
          .unionAll(e.select(col("hi").as("u"), col("lo").as("v")))
      def withMin(e: DataFrame): DataFrame = {
        // NB (guide §2.4 audit): an explicit repartition(col("u")) here
        // to share one exchange between the agg and the join measured
        // a WASH at sf0.1 (the checkpointed edge relation is tiny and
        // rounds are stage-latency-bound) — left out deliberately
        val b = both(e)
        b.join(
          b.groupBy(col("u")).agg(min(col("v")).as("mn"))
            .select(col("u"), least(col("mn"), col("u")).as("m")),
          Seq("u"))
      }
      def largeStar(e: DataFrame): DataFrame =
        canon(withMin(e).filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v")))
      def smallStar(e: DataFrame): DataFrame = {
        val wm = withMin(e)
        // no inner distinct on the second leg: canon() dedups the
        // union anyway — the extra exchange bought nothing (§2.4)
        canon(wm.filter(col("v") <= col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .unionAll(wm.select(col("u"), col("m").as("v"))))
      }
      // localCheckpoint per round: each star references its input
      // several times, so un-truncated lineage would GROW
      // GEOMETRICALLY across rounds (an O(log n)-round algorithm with
      // an O(c^rounds)-sized plan is no bargain) — the eager
      // checkpoint materializes the (tiny) edge relation and cuts the
      // plan back to a scan every round
      var edges = canon(pairs.select(col("doc_a").as("u"),
        col("doc_b").as("v"))).localCheckpoint()
      var converged = edges.isEmpty
      while (!converged) {
        val next = smallStar(largeStar(edges)).localCheckpoint()
        // set equality in ONE job: both
        // relations are canonical (distinct) edge sets, so they are
        // equal iff the symmetric difference is empty — one action
        // per round instead of the former count + exceptAll pair,
        // halving per-round driver latency
        converged = next.exceptAll(edges)
          .unionAll(edges.exceptAll(next)).isEmpty
        edges = next
      }
      // at the fixpoint every component is a star rooted at its min
      edges.select(col("hi").as("doc_id"), col("lo").as("component"))
        .unionAll(edges.select(col("lo"), col("lo")).distinct())
        .distinct()
        .localCheckpoint()
    }
  }

  /** Catalog entry for the two-rule variant — same LSH-candidates →
    * Jaccard-verified pair pipeline and the SAME transitive-closure
    * oracle as [[components]]; only the cluster-collapse algorithm
    * differs. */
  def componentsTwoStar(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    twoStarComponents(jaccardPairs(docs,
        candidates = Some(minhashLshOver(docs)), threshold = 0.8)
      .select(col("doc_a"), col("doc_b")))
  }

  val componentsSql: String =
    s"""WITH RECURSIVE tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\\s+') words FROM documents),
      |sharr AS (
      |  SELECT doc_id, list_transform(generate_series(1, greatest(len(words)-4, 1)),
      |           i -> array_to_string(words[i:i+4], ' ')) shl FROM tok),
      |h AS (SELECT doc_id,
      |        list_transform(shl, sh -> md5('0|' || sh) || md5('1|' || sh)) h64
      |      FROM sharr),
      |mh AS (SELECT doc_id,
      |  list_min(list_transform(h64, x -> substr(x, 1, 8))) h0,
      |  list_min(list_transform(h64, x -> substr(x, 9, 8))) h1,
      |  list_min(list_transform(h64, x -> substr(x, 17, 8))) h2,
      |  list_min(list_transform(h64, x -> substr(x, 25, 8))) h3,
      |  list_min(list_transform(h64, x -> substr(x, 33, 8))) h4,
      |  list_min(list_transform(h64, x -> substr(x, 41, 8))) h5,
      |  list_min(list_transform(h64, x -> substr(x, 49, 8))) h6,
      |  list_min(list_transform(h64, x -> substr(x, 57, 8))) h7
      |  FROM h),
      |bands AS (
      |  SELECT doc_id, 0 band, h0 || ',' || h1 sig FROM mh
      |  UNION ALL SELECT doc_id, 1, h2 || ',' || h3 FROM mh
      |  UNION ALL SELECT doc_id, 2, h4 || ',' || h5 FROM mh
      |  UNION ALL SELECT doc_id, 3, h6 || ',' || h7 FROM mh),
      |cand AS (
      |  SELECT DISTINCT a.doc_id da, b.doc_id db
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      |${graft.functions.TextShingles.shingleFromTokSql},
      |sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT c.da, c.db, COUNT(*) i
      |  FROM cand c
      |  JOIN sh a ON a.doc_id = c.da
      |  JOIN sh b ON b.doc_id = c.db AND b.sh = a.sh
      |  GROUP BY c.da, c.db),
      |pairs AS (
      |  SELECT da, db FROM inter
      |  JOIN sizes sa ON sa.doc_id = da
      |  JOIN sizes sb ON sb.doc_id = db
      |  WHERE i*1.0/(sa.n + sb.n - i) >= 0.8),
      |edges AS (SELECT da a, db b FROM pairs UNION SELECT db, da FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
      |         FROM reach GROUP BY a)
      |SELECT doc_id, CAST(component AS BIGINT) AS component FROM comp""".stripMargin

  /** Near-duplicate rate by source — the dedup diagnostic every corpus
    * build reports (which sources are scraping each other / templated).
    * A "dup" is a document that LOSES a verified near-dup comparison:
    * the `doc_b` side of a ≥0.8-Jaccard pair mined over ALL documents
    * (note `pipeline_clean_corpus` mines among its quality-gated
    * survivors only, so its removal set differs — this is the raw
    * corpus-wide rate). Composition: the existing bucketed pair miner
    * (never doc×doc) → distinct losers (tiny) → left join against a
    * 2-column projection → per-source agg. */
  def dedupRateBySource(s: SparkSession, d: String): DataFrame = {
    val losers = ngramJaccard(s, d)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("is_dup", lit(1L))
    graft.sources.Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(losers, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast(org.apache.spark.sql.types.LongType).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L)))
          .cast(org.apache.spark.sql.types.LongType).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        floor(col("n_dups") * lit(1000000.0) / col("n_docs"))
          .cast(org.apache.spark.sql.types.LongType).as("dup_ppm"))
  }

  /** Embeds [[ngramJaccardSql]] so the pair spelling cannot drift. */
  val dedupRateBySourceSql: String =
    s"""WITH pr AS (SELECT * FROM ($ngramJaccardSql) x),
       |l AS (SELECT DISTINCT doc_b AS doc_id FROM pr)
       |SELECT d.source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dups,
       |  CAST(floor(SUM(CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END) * 1000000.0
       |             / COUNT(*)) AS BIGINT) AS dup_ppm
       |FROM documents d LEFT JOIN l ON l.doc_id = d.doc_id
       |GROUP BY d.source""".stripMargin

  /** Sliding-window width for [[repeatedSpans]] — the exact
    * substring-dedup granularity (real deployments use ~50-token
    * windows; these synthetic docs average ~56 tokens, so 16 keeps the
    * operator meaningful at test scale). */
  private[graft] val SpanTokens = 16

  /** Exact substring-span dedup diagnostic (the "dedup at the
    * sequence level, not the document level" pass of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"):
    * hash every [[SpanTokens]]-token sliding window of every document
    * and report, per document, how many of its window positions recur
    * verbatim in ANOTHER document — the span-level contamination that
    * document-level near-dup misses (templated boilerplate, quoted
    * passages, mirrored fragments inside otherwise-distinct pages).
    *
    * Scale shape: windows ≈ one row per corpus TOKEN — inherently the
    * heaviest dedup pass (the distributed-friendly alternative to a
    * suffix array), but every stage is hash-partitioned: the
    * cross-doc test is a two-stage agg on the window hash (map-side
    * partials, never doc×doc), and the join back to positions is an
    * equi-join on that same hash. The per-position hashing itself is
    * one native pass ([[graft.functions.ShingleHashSeq]] — duplicates
    * kept, unlike the set-valued HashedShingles) so nothing re-tokenizes
    * per window. Output is every document with its window/dup-window
    * counts (BIGINT, hash-stable cross-engine). */
  def repeatedSpans(s: SparkSession, d: String): DataFrame =
    repeatedSpansOver(Tables.documents(s, d))

  /** [[repeatedSpans]] over ANY (doc_id, text) relation — the
    * planted-span fixture test calls THIS, so the invariant pins the
    * shipped operator, not a transcription of it. */
  private[graft] def repeatedSpansOver(docs: DataFrame): DataFrame = {
    // ~one row per corpus token — the heaviest relation in the dedup
    // family. It feeds BOTH the dup aggregate and the join's left side,
    // and the subtrees diverge before any shuffle, so without a persist
    // the tokenize+hash pass would run TWICE (exchange reuse can't
    // fire). Persisted (memory-and-disk, spills at scale) for the
    // duration, released once the per-doc counts — one small row per
    // document — are eagerly checkpointed off it.
    val w = spanWindows(docs).persist()
    try repeatedSpansCounts(w).localCheckpoint()
    finally w.unpersist()
  }

  /** The per-position window-hash relation: one row per token position
    * with its [[SpanTokens]]-gram rolling hash. */
  private[graft] def spanWindows(docs: DataFrame): DataFrame = {
    graft.util.Widen(docs)
      .select(col("doc_id"), TextShingles.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        explode(graft.functions.ShingleHashSeq(col("__toks"), SpanTokens))
          .as("h"))
  }

  /** The span-dedup plan proper over the window relation `w` — kept
    * separate so the plan-shape pin can explain the LAZY plan (the
    * shipped operator checkpoints this exact tree, which collapses its
    * explain output to a Scan ExistingRDD). */
  private[graft] def repeatedSpansCounts(w: DataFrame): DataFrame = {
    // windows seen in >= 2 distinct docs; two-stage agg on the hash key
    val dup = w.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"), lit(1L).as("is_dup"))
    w.join(dup, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_windows"),
        sum(coalesce(col("is_dup"), lit(0L))).cast(LongType)
          .as("n_dup_windows"))
  }

  val repeatedSpansSql: String =
    s"""WITH ${TextShingles.tokCteSql("documents")},
       |idx AS (
       |  SELECT doc_id, words,
       |    unnest(generate_series(1, greatest(len(words) - ${SpanTokens - 1}, 1))) i
       |  FROM tok),
       |w AS (
       |  SELECT doc_id,
       |    substr(md5(array_to_string(words[i:i+${SpanTokens - 1}], ' ')), 1, 16) h
       |  FROM idx),
       |d AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2)
       |SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       |       CAST(SUM(CASE WHEN d.h IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |         AS n_dup_windows
       |FROM w LEFT JOIN d ON d.h = w.h
       |GROUP BY w.doc_id""".stripMargin

  /** Duplicate-cluster size histogram — the dedup diagnostic a corpus
    * report leads with (how much of the corpus is singletons vs small
    * clusters vs mass-duplicated templates): clusters per size, docs
    * per size, including the singleton row (docs in no verified
    * cluster). Two tiny aggs over the (small) component labels plus
    * one corpus count — the full corpus is touched once, by the
    * clustering the catalog already runs. */
  def clusterSizes(s: SparkSession, d: String): DataFrame = {
    val comp = components(s, d)
    val perCluster = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("sz"))
    val clustered = perCluster.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).cast(LongType).as("n_clusters"),
        sum(col("sz")).cast(LongType).as("n_docs"))
    val nDocs = Tables.documents(s, d).count()
    val nInClusters = comp.count()
    val singletons = s.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(1L, nDocs - nInClusters, nDocs - nInClusters)),
      clustered.schema)
    clustered.unionByName(singletons)
      .groupBy(col("cluster_size"))
      .agg(sum(col("n_clusters")).cast(LongType).as("n_clusters"),
        sum(col("n_docs")).cast(LongType).as("n_docs"))
  }

  /** Embeds [[componentsSql]] so the clustering spelling cannot drift. */
  val clusterSizesSql: String =
    s"""WITH cc AS (SELECT * FROM ($componentsSql) x),
       |pc AS (SELECT component, CAST(COUNT(*) AS BIGINT) sz
       |       FROM cc GROUP BY component),
       |h AS (
       |  SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) n_clusters,
       |         CAST(SUM(sz) AS BIGINT) n_docs
       |  FROM pc GROUP BY sz
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT),
       |         (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM cc),
       |         (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM cc))
       |SELECT cluster_size, CAST(SUM(n_clusters) AS BIGINT) AS n_clusters,
       |       CAST(SUM(n_docs) AS BIGINT) AS n_docs
       |FROM h GROUP BY cluster_size""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("dedup_cluster_sizes", clusterSizes, clusterSizesSql),
    Entry("dedup_repeated_spans", repeatedSpans, repeatedSpansSql),
    Entry("dedup_rate_by_source", dedupRateBySource, dedupRateBySourceSql),
    Entry("dedup_components", components, componentsSql),
    Entry("dedup_components_twostar", componentsTwoStar, componentsSql),
    Entry("dedup_exact", exact, exactSql),
    Entry("dedup_ngram_jaccard", ngramJaccard, ngramJaccardSql),
    Entry("dedup_lsh_autotune", lshAutotune, lshAutotuneSql),
    Entry("dedup_containment", containment, containmentSql),
    Entry("dedup_cross_source", crossSourceMatrix, crossSourceMatrixSql),
    Entry("dedup_minhash_lsh", minhashLsh, minhashLshSql),
    Entry("dedup_incremental", incremental, incrementalSql),
    Entry("dedup_incremental_containment", incrementalContainment,
      incrementalContainmentSql),
    Entry("dedup_index_delete", indexDelete, indexDeleteSql),
    Entry("dedup_simhash", simhash, simhashSql),
    Entry("dedup_simhash_pairs", simhashPairs, simhashPairsSql),
    Entry("dedup_simhash64_pairs", simhash64Pairs, simhash64PairsSql))
}
