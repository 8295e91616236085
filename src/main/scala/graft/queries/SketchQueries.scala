package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.{KmvSketchAgg, Md5Key}
import graft.queries.Catalog.Entry
import graft.sources.Tables
import graft.streaming.FiniteStream
import graft.streaming.FiniteStream.{Keyed, Leg}

/** KMV (k-minimum-values) distinct-count sketch algebra over the
  * documents corpus — the mergeable cardinality layer of a curation
  * pipeline (vocabulary sizes per source, cross-source vocabulary
  * overlap) computed WITHOUT ever shuffling the token sets:
  *
  *  - per-source sketch: one ≤k-long partial per (source × partition),
  *    map-side combined — SUM-like shuffle volume at any corpus size;
  *  - set algebra: union / intersection / Jaccard come from the
  *    per-source sketches alone (k smallest of a union is computable
  *    from the two k-smallest lists), so the pairwise stage joins
  *    |sources| aggregated rows, never raw data.
  *
  * Determinism contract ([[graft.functions.Md5Key]]): hashes are
  * md5-u32, estimators are exact integer arithmetic
  * ((k−1)·2^32 DIV h_k; ppm grids), so every statistic — including the
  * ESTIMATES — is hash-verifiable against a DuckDB oracle that
  * computes the same sketch via window ranks. */
object SketchQueries {

  /** Sketch size: big enough that real sources saturate it (the
    * estimator path) while the pairwise stage stays 256-long arrays. */
  private val K = 256

  /** (k−1)·2^32 — the saturated estimator's integer numerator. */
  private val EstNum: Long = (K - 1).toLong * 4294967296L

  private def tokenHashes(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("source"), Md5Key.column(col("tok")).as("h"))

  /** Per-source distinct-vocabulary estimate, with the exact count
    * alongside (the sketch's accuracy is part of the verified output:
    * both engines compute the same k-th order statistic, so the
    * estimate itself hashes). */
  def kmvDistinct(s: SparkSession, d: String): DataFrame = {
    val kmv = udaf(new KmvSketchAgg(K))
    tokenHashes(s, d).groupBy(col("source"))
      .agg(kmv(col("h")).as("sk"),
        countDistinct(col("h")).as("exact_distinct"))
      .select(col("source"),
        size(col("sk")).cast("long").as("n_held"),
        element_at(col("sk"), -1).as("kth_hash"),
        col("exact_distinct"))
      .withColumn("est_distinct",
        when(col("n_held") < K, col("n_held"))
          .otherwise(expr(s"$EstNum DIV kth_hash")))
  }

  val kmvDistinctSql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |hashes AS (
       |  SELECT DISTINCT source, ${Md5Key.sql("tok")} AS h
       |  FROM toks WHERE tok <> ''),
       |ranked AS (
       |  SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM hashes),
       |agg AS (
       |  SELECT source,
       |         COUNT(*) AS exact_distinct,
       |         COUNT(CASE WHEN rn <= $K THEN 1 END) AS n_held,
       |         MAX(CASE WHEN rn <= $K THEN h END) AS kth_hash
       |  FROM ranked GROUP BY source)
       |SELECT source, CAST(n_held AS BIGINT) AS n_held,
       |       CAST(kth_hash AS BIGINT) AS kth_hash,
       |       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       |       CAST(CASE WHEN n_held < $K THEN n_held
       |            ELSE $EstNum // kth_hash END AS BIGINT) AS est_distinct
       |FROM agg""".stripMargin

  /** Pairwise cross-source vocabulary overlap from the SKETCHES alone:
    * union sketch = k smallest of the two k-min lists (array algebra),
    * ρ = members of the union sketch present on BOTH sides, Jaccard ≈
    * ρ/k_u on a ppm grid, intersection ≈ ρ·|A∪B|est DIV k_u. The join
    * is |sources|² over ≤K-long arrays with the right side broadcast —
    * the raw corpus is touched once, in the sketch pass. */
  def kmvJaccard(s: SparkSession, d: String): DataFrame = {
    val kmv = udaf(new KmvSketchAgg(K))
    val sk = tokenHashes(s, d).groupBy(col("source"))
      .agg(kmv(col("h")).as("sk"))
    val a = sk.select(col("source").as("source_a"), col("sk").as("sk_a"))
    val b = sk.select(col("source").as("source_b"), col("sk").as("sk_b"))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .withColumn("u",
        slice(array_sort(array_union(col("sk_a"), col("sk_b"))), 1, K))
      .withColumn("k_u", size(col("u")).cast("long"))
      .withColumn("rho_num", size(array_intersect(
        array_intersect(col("u"), col("sk_a")), col("sk_b"))).cast("long"))
      .withColumn("union_est",
        when(col("k_u") < K, col("k_u"))
          .otherwise(expr(s"$EstNum DIV element_at(u, -1)")))
      .select(col("source_a"), col("source_b"), col("k_u"), col("rho_num"),
        col("union_est"),
        expr("rho_num * 1000000 DIV k_u").as("jaccard_ppm"),
        expr("rho_num * union_est DIV k_u").as("intersect_est"))
  }

  val kmvJaccardSql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |hashes AS (
       |  SELECT DISTINCT source, ${Md5Key.sql("tok")} AS h
       |  FROM toks WHERE tok <> ''),
       |ranked AS (
       |  SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM hashes),
       |sk AS (SELECT source, h FROM ranked WHERE rn <= $K),
       |srcs AS (SELECT DISTINCT source FROM sk),
       |pairs AS (
       |  SELECT a.source AS sa, b.source AS sb
       |  FROM srcs a JOIN srcs b ON a.source < b.source),
       |memb AS (
       |  SELECT p.sa, p.sb, s.h, COUNT(DISTINCT s.source) AS m
       |  FROM pairs p JOIN sk s ON s.source = p.sa OR s.source = p.sb
       |  GROUP BY 1, 2, 3),
       |uni AS (
       |  SELECT sa, sb, h, m,
       |         row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
       |  FROM memb),
       |agg AS (
       |  SELECT sa, sb, COUNT(*) AS k_u, MAX(h) AS umax,
       |         SUM(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS rho_num
       |  FROM uni WHERE rn <= $K GROUP BY 1, 2)
       |SELECT sa AS source_a, sb AS source_b,
       |       CAST(k_u AS BIGINT) AS k_u,
       |       CAST(rho_num AS BIGINT) AS rho_num,
       |       CAST(CASE WHEN k_u < $K THEN k_u
       |            ELSE $EstNum // umax END AS BIGINT) AS union_est,
       |       CAST(rho_num * 1000000 // k_u AS BIGINT) AS jaccard_ppm,
       |       CAST(rho_num * (CASE WHEN k_u < $K THEN k_u
       |            ELSE $EstNum // umax END) // k_u AS BIGINT)
       |         AS intersect_est
       |FROM agg""".stripMargin

  /** Sketch ROLLUP — the mergeable-artifact lifecycle: sketches built
    * once at (source, lang) grain are UNION-MERGED up to lang grain
    * ([[graft.functions.KmvSketchMergeAgg]]) without re-reading any
    * rows — k smallest of a union is computable from the per-side
    * k-min lists, so the second aggregation touches |groups| arrays.
    * This is how per-(source, day) artifacts answer any later slice
    * at 100 TB. The exact per-lang count rides along, so the verified
    * output pins that the two-level merge equals the direct sketch. */
  def kmvRollup(s: SparkSession, d: String): DataFrame = {
    val kmv = udaf(new KmvSketchAgg(K))
    val kmvMerge = udaf(new graft.functions.KmvSketchMergeAgg(K))
    val hashes = Tables.documents(s, d)
      .select(col("source"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("source"), col("lang"), Md5Key.column(col("tok")).as("h"))
    val grain = hashes.groupBy(col("source"), col("lang"))
      .agg(kmv(col("h")).as("sk"))
    val exact = hashes.groupBy(col("lang"))
      .agg(countDistinct(col("h")).as("exact_distinct"))
    grain.groupBy(col("lang")).agg(kmvMerge(col("sk")).as("sk"))
      .join(broadcast(exact), Seq("lang"))
      .select(col("lang"),
        size(col("sk")).cast("long").as("n_held"),
        element_at(col("sk"), -1).as("kth_hash"),
        col("exact_distinct"))
      .withColumn("est_distinct",
        when(col("n_held") < K, col("n_held"))
          .otherwise(expr(s"$EstNum DIV kth_hash")))
  }

  val kmvRollupSql: String =
    s"""WITH toks AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |hashes AS (
       |  SELECT DISTINCT lang, ${Md5Key.sql("tok")} AS h
       |  FROM toks WHERE tok <> ''),
       |ranked AS (
       |  SELECT lang, h,
       |         row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
       |  FROM hashes),
       |agg AS (
       |  SELECT lang,
       |         COUNT(*) AS exact_distinct,
       |         COUNT(CASE WHEN rn <= $K THEN 1 END) AS n_held,
       |         MAX(CASE WHEN rn <= $K THEN h END) AS kth_hash
       |  FROM ranked GROUP BY lang)
       |SELECT lang, CAST(n_held AS BIGINT) AS n_held,
       |       CAST(kth_hash AS BIGINT) AS kth_hash,
       |       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       |       CAST(CASE WHEN n_held < $K THEN n_held
       |            ELSE $EstNum // kth_hash END AS BIGINT) AS est_distinct
       |FROM agg""".stripMargin

  /** Sliding-window cardinality — trailing-24 h distinct users per
    * event series — via sketch-merge WINDOW aggregation: one pass
    * builds a ≤K-long sketch per (series, hour), then
    * [[graft.functions.KmvSketchMergeAgg]] runs as a window function
    * over a 23-hour RANGE frame, so every row's trailing-distinct
    * estimate merges ≤24 arrays instead of re-scanning rows. The
    * classic exact spelling (COUNT(DISTINCT) OVER a sliding frame)
    * either re-counts the frame per row or is simply unsupported;
    * the sketch version is O(K) memory per frame at ANY user count —
    * the shape a 100 TB unique-visitors dashboard needs. RANGE (not
    * ROWS) on the epoch keeps gap hours out of the frame. */
  def kmvSliding(s: SparkSession, d: String): DataFrame = {
    val kmv = udaf(new KmvSketchAgg(K))
    val hourly = graft.sources.Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hts"))
      .agg(kmv(Md5Key.column(col("user_id").cast("string"))).as("sk"))
    slidingOf(hourly)
  }

  /** The shared RANGE-merge finalize over an (event_type, hts, sk)
    * hourly-sketch relation — consumed by the batch one-shot above
    * and the streaming counter-store twin below. */
  private def slidingOf(hourly: DataFrame): DataFrame = {
    val kmvMerge = udaf(new graft.functions.KmvSketchMergeAgg(K))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hsec"))
      .rangeBetween(-23L * 3600L, 0L)
    hourly.withColumn("hsec", unix_timestamp(col("hts")))
      .withColumn("wsk", kmvMerge(col("sk")).over(w))
      .select(col("event_type"),
        date_format(col("hts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        size(col("wsk")).cast("long").as("n_held"),
        element_at(col("wsk"), -1).as("kth_hash"))
      .withColumn("est_users_24h",
        when(col("n_held") < K, col("n_held"))
          .otherwise(expr(s"$EstNum DIV kth_hash")))
  }

  /** Streaming twin of the sliding cardinality: per-(series, hour) KMV sketches
    * accumulate as update-mode aggregation state — the
    * [[ChangePointQueries.hourlyStore]] counter-store pattern with a sketch
    * payload: state is one ≤K-long array per live (series, hour), bounded by
    * the covered TIME SPAN × K, never by user count or stream length. Each
    * batch upserts the refreshed hourly sketches; the 24 h RANGE-merge window
    * runs OUTSIDE the stream at gate time (merging ≤24 stored arrays per row).
    * Finite input ⇒ the stored sketches equal the batch hourly sketches (KMV
    * union is order-independent), so the same oracle verifies both. */
  def streamKmvSliding(s: SparkSession, d: String): DataFrame = {
    val kmv = udaf(new KmvSketchAgg(K))
    val hourly = StreamingQueries.eventsStream(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hts"))
      .agg(kmv(Md5Key.column(col("user_id").cast("string"))).as("sk"))
    slidingOf(FiniteStream.drain(
      Leg(hourly, "update", sink = Keyed("event_type", "hts"))).head)
  }

  val kmvSlidingSql: String =
    s"""WITH ph AS (
       |  SELECT DISTINCT event_type, date_trunc('hour', ts) AS hts,
       |         ${Md5Key.sql("CAST(user_id AS VARCHAR)")} AS uh
       |  FROM events),
       |hours AS (SELECT DISTINCT event_type, hts FROM ph),
       |frame AS (
       |  SELECT h.event_type, h.hts, p.uh
       |  FROM hours h JOIN ph p
       |    ON p.event_type = h.event_type
       |   AND p.hts >= h.hts - INTERVAL 23 HOUR AND p.hts <= h.hts
       |  GROUP BY 1, 2, 3),
       |ranked AS (
       |  SELECT event_type, hts, uh,
       |         row_number() OVER (PARTITION BY event_type, hts
       |                            ORDER BY uh) AS rn
       |  FROM frame),
       |agg AS (
       |  SELECT event_type, hts,
       |         COUNT(CASE WHEN rn <= $K THEN 1 END) AS n_held,
       |         MAX(CASE WHEN rn <= $K THEN uh END) AS kth_hash
       |  FROM ranked GROUP BY 1, 2)
       |SELECT event_type, strftime(hts, '%Y-%m-%d %H:%M:%S') AS hour,
       |       CAST(n_held AS BIGINT) AS n_held,
       |       CAST(kth_hash AS BIGINT) AS kth_hash,
       |       CAST(CASE WHEN n_held < $K THEN n_held
       |            ELSE $EstNum // kth_hash END AS BIGINT) AS est_users_24h
       |FROM agg""".stripMargin

  /** Streaming twin of the distinct estimate: the SAME mergeable
    * aggregate runs under update-mode state (per-source state = one
    * ≤K-long sketch — bounded whatever the stream length), each batch
    * upserts the refreshed sketch, and the estimator runs OUTSIDE the
    * stream on the stored sketches. Finite input ⇒ equals the batch
    * sketch; the oracle is the batch oracle minus the exact count
    * (a streaming exact-distinct would need unbounded state — the
    * sketch existing is the point). */
  def streamKmvDistinct(s: SparkSession, d: String): DataFrame = {
    val kmv = udaf(new KmvSketchAgg(K))
    val toks = Tables.stream(s, d, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("source"), Md5Key.column(col("tok")).as("h"))
    val agg = toks.groupBy(col("source")).agg(kmv(col("h")).as("sk"))
    FiniteStream.drain(Leg(agg, "update", sink = Keyed("source"))).head
      .select(col("source"),
        size(col("sk")).cast("long").as("n_held"),
        element_at(col("sk"), -1).as("kth_hash"))
      .withColumn("est_distinct",
        when(col("n_held") < K, col("n_held"))
          .otherwise(expr(s"$EstNum DIV kth_hash")))
  }

  val streamKmvDistinctSql: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |hashes AS (
       |  SELECT DISTINCT source, ${Md5Key.sql("tok")} AS h
       |  FROM toks WHERE tok <> ''),
       |ranked AS (
       |  SELECT source, h,
       |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM hashes),
       |agg AS (
       |  SELECT source,
       |         COUNT(CASE WHEN rn <= $K THEN 1 END) AS n_held,
       |         MAX(CASE WHEN rn <= $K THEN h END) AS kth_hash
       |  FROM ranked GROUP BY source)
       |SELECT source, CAST(n_held AS BIGINT) AS n_held,
       |       CAST(kth_hash AS BIGINT) AS kth_hash,
       |       CAST(CASE WHEN n_held < $K THEN n_held
       |            ELSE $EstNum // kth_hash END AS BIGINT) AS est_distinct
       |FROM agg""".stripMargin

  // ---------------------------------------------------------------
  // Misra–Gries frequency sketch — the heavy-hitter member of the
  // sketch triad (cardinality = KMV above, quantiles = DecimalSketch,
  // frequency = MG). See
  // [[graft.functions.MgSketch]] for the bounds and the deterministic
  // candidates-then-exact protocol these queries implement.
  // ---------------------------------------------------------------

  /** MG counter budget. 64 counters ⇒ every term holding ≥ 1/64 of a
    * source's tokens is guaranteed held whatever the partitioning. */
  private val MgK = 64

  /** Per-source heavy terms (share ≥ 1/64) via the MG sketch: pass 1
    * folds each source's token stream into a ≤64-counter summary
    * (map-side combined — SUM-like shuffle however big the corpus)
    * plus the exact token total; pass 2 exact-counts ONLY the ≤64
    * candidates per source (broadcast semi-join — the only rows that
    * reach the counting agg are candidate matches) and gates on
    * n·64 ≥ N. The MG completeness bound makes that output the EXACT
    * heavy set, deterministically, with per-term state never
    * exceeding 64 counters — the two-pass candidates-then-verify
    * shape every production heavy-hitter pipeline uses. NOTE on sf1
    * (ScaleGen): token suffixing dilutes every term's global share
    * ~10×, so the ≥1/64 heavy set is legitimately EMPTY there — the
    * gate still hash-verifies (both engines produce zero rows). */
  def mgTopK(s: SparkSession, d: String): DataFrame = {
    val mg = udaf(new graft.functions.MgSketchAgg(MgK))
    def words = Tables.documents(s, d)
      .select(col("source"),
        explode(graft.functions.TextShingles.tokens(col("text"))).as("term"))
    val sk = words.groupBy(col("source"))
      .agg(mg(col("term")).as("sk"), count(lit(1)).as("n_total"))
    val cand = sk.select(col("source"), col("n_total"),
      explode(map_keys(col("sk"))).as("term"))
    words.join(broadcast(cand), Seq("source", "term"))
      .groupBy(col("source"), col("term"), col("n_total"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") * MgK >= col("n_total"))
      .select(col("source"), col("term"), col("n"),
        expr("n * 1000 DIV n_total").as("share_permille"))
  }

  val mgTopKSql: String =
    s"""WITH w AS (
       |  SELECT source,
       |         unnest(string_split_regex(trim(text), '\\s+')) AS term
       |  FROM documents),
       |tot AS (SELECT source, COUNT(*) AS n_total FROM w GROUP BY 1),
       |c AS (SELECT source, term, COUNT(*) AS n FROM w GROUP BY 1, 2)
       |SELECT c.source, c.term, CAST(c.n AS BIGINT) AS n,
       |       CAST(c.n * 1000 // t.n_total AS BIGINT) AS share_permille
       |FROM c JOIN tot t ON c.source = t.source
       |WHERE c.n * $MgK >= t.n_total""".stripMargin

  /** Streaming twin: the CONTINUOUS bounded-state heavy-hitter
    * monitor — per-source MG summaries accumulate as update-mode
    * aggregation state (≤64 counters + one total per source, FIXED
    * forever — unlike `stream_heavy_hitters`, whose exact complete-
    * mode count keys state on the whole vocabulary), each batch
    * upserts the refreshed sketch, and the candidates-then-exact
    * finalize runs OUTSIDE the stream at gate time (the CUSUM
    * counter-store pattern). Finite input ⇒ same exact heavy set,
    * same oracle as the batch form. */
  def streamMgTopK(s: SparkSession, d: String): DataFrame = {
    val mg = udaf(new graft.functions.MgSketchAgg(MgK))
    val words = Tables.stream(s, d, "documents")
      .select(col("source"),
        explode(graft.functions.TextShingles.tokens(col("text"))).as("term"))
    val agg = words.groupBy(col("source"))
      .agg(mg(col("term")).as("sk"), count(lit(1)).as("n_total"))
    val Seq(sketches) =
      FiniteStream.drain(Leg(agg, "update", sink = Keyed("source")))
    val cand = sketches.select(col("source"), col("n_total"),
      explode(map_keys(col("sk"))).as("term"))
    Tables.documents(s, d)
      .select(col("source"),
        explode(graft.functions.TextShingles.tokens(col("text"))).as("term"))
      .join(broadcast(cand), Seq("source", "term"))
      .groupBy(col("source"), col("term"), col("n_total"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") * MgK >= col("n_total"))
      .select(col("source"), col("term"), col("n"),
        expr("n * 1000 DIV n_total").as("share_permille"))
  }

  /** MG sketch ROLLUP — the mergeable-artifact lifecycle for the
    * frequency sketch (the [[kmvRollup]] pattern): summaries built
    * once at (source, lang) grain are MERGED up to source grain with
    * [[graft.functions.MgSketchMergeAgg]] without re-reading rows —
    * the Agarwal et al. merge keeps the combined-N/(k+1) bound, so
    * every ≥N_source/64-heavy term is still held by the MERGED
    * summary, and the candidates-then-exact protocol returns the
    * SAME exact heavy set as the direct sketch. Sharing
    * [[mgTopKSql]] as the oracle pins precisely that: a two-level
    * artifact merge is indistinguishable from a one-shot sketch at
    * the verified output. */
  def mgRollup(s: SparkSession, d: String): DataFrame = {
    val mg = udaf(new graft.functions.MgSketchAgg(MgK))
    val mgMerge = udaf(new graft.functions.MgSketchMergeAgg(MgK))
    def words = Tables.documents(s, d)
      .select(col("source"), col("lang"),
        explode(graft.functions.TextShingles.tokens(col("text"))).as("term"))
    val grain = words.groupBy(col("source"), col("lang"))
      .agg(mg(col("term")).as("sk"), count(lit(1)).as("n"))
    val rolled = grain.groupBy(col("source"))
      .agg(mgMerge(col("sk")).as("sk"), sum(col("n")).as("n_total"))
    val cand = rolled.select(col("source"), col("n_total"),
      explode(map_keys(col("sk"))).as("term"))
    words.select(col("source"), col("term"))
      .join(broadcast(cand), Seq("source", "term"))
      .groupBy(col("source"), col("term"), col("n_total"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") * MgK >= col("n_total"))
      .select(col("source"), col("term"), col("n"),
        expr("n * 1000 DIV n_total").as("share_permille"))
  }

  /** MG counter budget for the SLIDING heavy-hitter queries: 16
    * counters ⇒ every user holding ≥ 1/16 of a trailing-24 h frame's
    * events is guaranteed held by the frame's merged sketch. */
  private val MgWinK = 16

  /** Sliding-window heavy hitters (the sliding member of the
    * frequency family, so all three sketch tiers have a window form):
    * per-(series,
    * hour) MG summaries merge over a trailing-24 h RANGE frame
    * ([[kmvSliding]]'s shape with the frequency sketch as payload),
    * then the [[mgTopK]] candidates-then-exact protocol runs PER
    * WINDOW: the merged frame sketch holds every ≥ N_frame/16 user
    * (Agarwal-merge bound, any topology), the ≤16 candidates per
    * window join back to the tiny per-hour exact-count relation
    * (grouped once — never the raw events again) under the same RANGE
    * band, and the exact n·16 ≥ N_frame gate makes the output the
    * exact per-frame heavy set, deterministically. Scale: hourly
    * sketches are ≤16 counters each; the window merges ≤24 of them
    * per row; candidates (|hours|·16 rows — bounded by the covered
    * time span, never by users or events) BROADCAST against the
    * hourly count relation. */
  def mgSliding(s: SparkSession, d: String): DataFrame = {
    val mg = udaf(new graft.functions.MgSketchAgg(MgWinK))
    val hourly = graft.sources.Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hts"))
      .agg(mg(col("user_id").cast("string")).as("sk"),
        count(lit(1)).as("n"))
    mgSlidingOf(s, d, hourly)
  }

  /** The shared RANGE-merge + candidates-then-exact finalize over an
    * (event_type, hts, sk, n) hourly-summary relation — consumed by
    * the batch one-shot above and the streaming counter-store twin. */
  private def mgSlidingOf(s: SparkSession, d: String,
                          hourly: DataFrame): DataFrame = {
    val mgMerge = udaf(new graft.functions.MgSketchMergeAgg(MgWinK))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hsec"))
      .rangeBetween(-23L * 3600L, 0L)
    val cand = hourly.withColumn("hsec", unix_timestamp(col("hts")))
      .withColumn("wsk", mgMerge(col("sk")).over(w))
      .withColumn("n_frame", sum(col("n")).over(w))
      .select(col("event_type"), col("hts"), col("n_frame"),
        explode(map_keys(col("wsk"))).as("user"))
    val hourlyCnt = graft.sources.Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hts2"),
        col("user_id").cast("string").as("user"))
      .agg(count(lit(1)).as("c"))
    hourlyCnt
      .join(broadcast(cand), Seq("event_type", "user"))
      .filter(col("hts2") >= col("hts") - expr("INTERVAL 23 HOURS") &&
        col("hts2") <= col("hts"))
      .groupBy(col("event_type"), col("hts"), col("user"), col("n_frame"))
      .agg(sum(col("c")).as("n"))
      .filter(col("n") * MgWinK >= col("n_frame"))
      .select(col("event_type"),
        date_format(col("hts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("user").cast(LongType).as("user_id"),
        col("n").cast(LongType).as("n"),
        expr("n * 1000 DIV n_frame").as("share_permille"))
  }

  val mgSlidingSql: String =
    s"""WITH e AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hts, user_id
       |  FROM events),
       |hours AS (SELECT DISTINCT event_type, hts FROM e),
       |frame AS (
       |  SELECT h.event_type, h.hts, p.user_id
       |  FROM hours h JOIN e p
       |    ON p.event_type = h.event_type
       |   AND p.hts >= h.hts - INTERVAL 23 HOUR AND p.hts <= h.hts),
       |tot AS (SELECT event_type, hts, COUNT(*) AS n_frame
       |        FROM frame GROUP BY 1, 2),
       |cnt AS (SELECT event_type, hts, user_id, COUNT(*) AS n
       |        FROM frame GROUP BY 1, 2, 3)
       |SELECT c.event_type, strftime(c.hts, '%Y-%m-%d %H:%M:%S') AS hour,
       |       CAST(c.user_id AS BIGINT) AS user_id, CAST(c.n AS BIGINT) AS n,
       |       CAST(c.n * 1000 // t.n_frame AS BIGINT) AS share_permille
       |FROM cnt c JOIN tot t
       |  ON c.event_type = t.event_type AND c.hts = t.hts
       |WHERE c.n * $MgWinK >= t.n_frame""".stripMargin

  /** Streaming twin: per-(series, hour) MG summaries accumulate as
    * update-mode aggregation state (≤16 counters + one total per live
    * (series, hour) — bounded by the covered TIME SPAN × k, the
    * [[streamKmvSliding]] counter-store pattern with a frequency
    * payload), each batch upserts the refreshed hourly summaries, and
    * the RANGE-merge + candidates-then-exact finalize runs OUTSIDE the
    * stream on the stored rows (exact counts from the grouped hourly
    * relation, as [[streamMgTopK]]'s exact pass). Finite input ⇒ the
    * stored summaries are valid MG sketches of each hour, so the gate
    * emits the same exact heavy set — one oracle for both. */
  def streamMgSliding(s: SparkSession, d: String): DataFrame = {
    val mg = udaf(new graft.functions.MgSketchAgg(MgWinK))
    val hourly = StreamingQueries.eventsStream(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hts"))
      .agg(mg(col("user_id").cast("string")).as("sk"),
        count(lit(1)).as("n"))
    mgSlidingOf(s, d, FiniteStream.drain(
      Leg(hourly, "update", sink = Keyed("event_type", "hts"))).head)
  }

  def entries: Seq[Entry] = Seq(
    Entry("sketch_kmv_distinct", kmvDistinct, kmvDistinctSql),
    Entry("sketch_kmv_jaccard", kmvJaccard, kmvJaccardSql),
    Entry("sketch_kmv_rollup", kmvRollup, kmvRollupSql),
    Entry("sketch_kmv_sliding", kmvSliding, kmvSlidingSql),
    Entry("stream_kmv_sliding", streamKmvSliding, kmvSlidingSql),
    Entry("stream_kmv_distinct", streamKmvDistinct, streamKmvDistinctSql),
    Entry("sketch_mg_topk", mgTopK, mgTopKSql),
    Entry("sketch_mg_sliding", mgSliding, mgSlidingSql),
    Entry("stream_mg_sliding", streamMgSliding, mgSlidingSql),
    Entry("sketch_mg_rollup", mgRollup, mgTopKSql),
    Entry("stream_mg_topk", streamMgTopK, mgTopKSql))
}
