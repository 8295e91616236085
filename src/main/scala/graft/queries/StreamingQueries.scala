package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Relational
import graft.queries.Catalog.Entry
import graft.sources.Tables
import graft.streaming.{DebeziumJson, FiniteStream, Pipeline}
import graft.streaming.FiniteStream.{Batches, Keyed, Leg, deleteRecursively,
  scratchDir}

/** Structured Streaming operators surfaced as driver-verifiable
  * queries: each runs a real streaming query (file source or the full
  * chained pipeline) to completion against the testdata and returns
  * the result table. Because the inputs are finite, the streaming
  * result must equal the batch/DuckDB-oracle result — which makes the
  * streaming engine itself hash-verified, not just smoke-tested.
  */
object StreamingQueries {

  /** Streaming read of the events table with the same nanos→micros
    * normalization as the batch loader. `wide` inserts the
    * [[graft.util.Widen.stream]] round-robin between the source and
    * the consumer's derivations (a micro-batch inherits the arriving
    * FILE count as its task count, so per-row work above the source
    * is serial otherwise). Default OFF: the events consumers are
    * cheap per-row aggregations where the extra exchange measured as
    * pure cost (+0.05..0.55 s per query in a family A/B); heavy,
    * order-insensitive consumers opt in. */
  private[queries] def eventsStream(s: SparkSession, d: String,
                                    wide: Boolean = false): DataFrame = {
    val src = Tables.normalizeEventsTs(Tables.stream(s, d, "events"))
    if (wide) graft.util.Widen.stream(src) else src
  }

  /** One memory-sink [[FiniteStream.drain]] leg: the detached result. */
  private[queries] def runToTable(df: DataFrame, mode: String): DataFrame =
    FiniteStream.drain(Leg(df, mode)).head

  /** Tumbling 1 h event-time window aggregation, streaming complete
    * mode — the streaming twin of q_tumbling_agg (same oracle SQL). */
  def tumblingAgg(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 1000000).cast(LongType)) / 1000000.0).as("sum_value"))
    runToTable(agg, "complete")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Streaming OHLC candlestick bars — twin of q_ohlc_bars (same
    * oracle): per (event_type, 1 h tumbling window), open/close via
    * `min_by`/`max_by` on the monotone event_id (offset order — the
    * windowed EARLIEST/LATEST_BY_OFFSET), high/low/volume alongside,
    * complete mode. The min_by/max_by state per window-key is one
    * (value, ord) pair — bounded regardless of event volume. */
  def ohlcBars(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("value"), col("event_id")).as("open_px"),
        max(col("value")).as("high_px"),
        min(col("value")).as("low_px"),
        max_by(col("value"), col("event_id")).as("close_px"),
        count(lit(1)).as("n_trades"),
        (sum(floor(col("value") * 1000000).cast(LongType)) / 1000000.0)
          .as("volume"))
    runToTable(agg, "complete")
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("open_px"), col("high_px"), col("low_px"),
        col("close_px"), col("n_trades"), col("volume"))
  }

  /** Hopping windows (1 h / 15 min) — streaming twin of q_hopping_agg,
    * same oracle: each event expands to 4 overlapping windows before
    * the stateful agg (ksqlDB `WINDOW HOPPING (SIZE 1 HOUR, ADVANCE BY
    * 15 MINUTES)`). */
  def hoppingAgg(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 1000000).cast(LongType)) / 1000000.0).as("sum_value"))
    runToTable(agg, "complete")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** The one spelling of the EMIT FINAL mechanics, shared by every
    * window type (ksqlDB allows `EMIT FINAL` on tumbling, hopping and
    * session windows alike): union a far-future flush sentinel —
    * pushing the watermark past all real data so every window closes
    * on this finite input (a live stream's watermark advances on its
    * own) — then watermark + aggregate in APPEND mode, where Spark
    * emits each window exactly once, closed, with its final value.
    * The sentinel is dropped AFTER materialization: a filter inside
    * the streaming plan would be pushed below the watermark operator
    * and kill the flush (see streamIntervalLeft). Each variant's
    * oracle is its batch aggregate — final emission must equal the
    * batch answer. */
  private def emitFinal(input: DataFrame, sentinel: DataFrame,
                        group: Seq[Column], aggs: Seq[Column],
                        keepReal: Column): DataFrame =
    runToTable(
      input.unionByName(sentinel)
        .withWatermark("ts", "1 hour")
        .groupBy(group: _*)
        .agg(aggs.head, aggs.tail: _*),
      "append")
      .filter(keepReal)

  /** [[emitFinal]] over the events stream for a time-window expression
    * — tumbling and hopping differ ONLY in the window spec (hopping
    * proves overlapping windows close independently: every (window,
    * key) pair appears exactly once even though each event lives in 4
    * windows). */
  private def eventsWindowFinal(s: SparkSession, d: String,
                                win: Column): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val flush =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String, Double)]
    flush.addData((java.sql.Timestamp.valueOf("2099-01-01 00:00:00"), "__flush", 0.0))
    emitFinal(
      eventsStream(s, d)
        .select(col("ts").cast(TimestampType).as("ts"), col("event_type"),
          col("value")),
      flush.toDF().toDF("ts", "event_type", "value"),
      Seq(win, col("event_type")),
      Seq(count(lit(1)).as("n"),
        (sum(floor(col("value") * 1000000).cast(LongType)) / 1000000.0)
          .as("sum_value")),
      col("event_type") =!= "__flush")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** EMIT FINAL analog for tumbling windows; oracle = the batch
    * tumbling agg. */
  def tumblingFinal(s: SparkSession, d: String): DataFrame =
    eventsWindowFinal(s, d, window(col("ts"), "1 hour"))

  /** EMIT FINAL OHLC bars — the production publication shape for
    * candlesticks: each hour's bar emits exactly once, CLOSED, when
    * the watermark passes its end (complete-mode bars re-update on
    * every batch; a downstream chart wants the final print). Same
    * min_by/max_by offset-order state as [[ohlcBars]], same batch
    * oracle. */
  def ohlcFinal(s: SparkSession, d: String): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val flush = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String, Double, Long)]
    flush.addData((java.sql.Timestamp.valueOf("2099-01-01 00:00:00"),
      "__flush", 0.0, -1L))
    emitFinal(
      eventsStream(s, d)
        .select(col("ts").cast(TimestampType).as("ts"), col("event_type"),
          col("value"), col("event_id")),
      flush.toDF().toDF("ts", "event_type", "value", "event_id"),
      Seq(window(col("ts"), "1 hour"), col("event_type")),
      Seq(min_by(col("value"), col("event_id")).as("open_px"),
        max(col("value")).as("high_px"),
        min(col("value")).as("low_px"),
        max_by(col("value"), col("event_id")).as("close_px"),
        count(lit(1)).as("n_trades"),
        (sum(floor(col("value") * 1000000).cast(LongType)) / 1000000.0)
          .as("volume")),
      col("event_type") =!= "__flush")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("open_px"), col("high_px"), col("low_px"),
        col("close_px"), col("n_trades"), col("volume"))
  }

  /** EMIT FINAL for hopping windows; oracle = the batch hopping agg. */
  def hoppingFinal(s: SparkSession, d: String): DataFrame =
    eventsWindowFinal(s, d, window(col("ts"), "1 hour", "15 minutes"))

  /** EMIT FINAL for SESSION windows — the window type [[sessionAgg]]
    * runs in complete mode (update churn). Append mode + watermark
    * emits each session exactly once, after the watermark passes its
    * close (last event + gap) — which also exercises Spark's state-
    * store session MERGE path (complete mode merges in-memory). The
    * flush sentinel rides a reserved user_id (-1: real ids are
    * non-negative). Oracle: the same gaps-and-islands SQL as the
    * complete-mode session agg. */
  def sessionFinal(s: SparkSession, d: String): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val flush =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    flush.addData((java.sql.Timestamp.valueOf("2099-01-01 00:00:00"), -1L))
    emitFinal(
      eventsStream(s, d)
        .select(col("ts").cast(TimestampType).as("ts"), col("user_id")),
      flush.toDF().toDF("ts", "user_id"),
      Seq(session_window(col("ts"), "30 minutes"), col("user_id")),
      Seq(count(lit(1)).as("n")),
      col("user_id") =!= -1L)
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_start"),
        col("n"))
  }

  /** Session windows (30 min gap) per user, streaming complete mode;
    * oracle is the classic gaps-and-islands SQL. */
  def sessionAgg(s: SparkSession, d: String): DataFrame = {
    val agg = eventsStream(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    runToTable(agg, "complete")
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_start"),
        col("n"))
  }

  val sessionAggSql: String =
    """WITH x AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END ns
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |y AS (
      |  SELECT user_id, ts,
      |    SUM(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) sid
      |  FROM x)
      |SELECT user_id,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      |       COUNT(*) AS n
      |FROM y GROUP BY user_id, sid""".stripMargin

  /** Streaming NEAR-duplicate detection — the minhash-LSH family's
    * streaming member. Band signatures (the same 8-hash 4×2 banding as
    * [[DedupQueries.minhashLsh]]) are a narrow per-row projection on
    * the stream; then ONE stateful operator keyed by (band, sig)
    * filters the unbounded band stream down to the CONTESTED buckets
    * ([[neardupCore]] — the claim log), and the min-doc_id owner
    * election runs at finalize over that bounded log
    * ([[electDupBands]]) — so the result is independent of arrival
    * order, matching the batch EXISTS oracle under any file order,
    * batch split, or partition interleave (pinned against a
    * multi-file doc_id-shuffled fixture in ShuffledArrivalSpec).
    *
    * Scale shape: state is ~ONE long per distinct (band, sig) bucket
    * (bounded by distinct signatures, not corpus rows; at cluster
    * scale back it with the RocksDB state-store provider conf, as
    * RocksDBStateSpec exercises for the table operators); no joins,
    * no all-pairs, no shuffle beyond the single keyed exchange — the
    * streaming analog of the batch LSH band join. The election is a
    * groupBy over COLLISION rows only (the claim log — corpus-scale
    * tiny), the compaction step a production registry runs anyway. */
  def streamNeardup(s: SparkSession, d: String): DataFrame = {
    val docs = docStream(s, d, wide = true) // minhash bands are per-row-heavy
    electDupBands(
      runToTable(neardupCore(DedupQueries.bandRows(docs)), "append"))
  }

  /** Streaming cross-source contamination matrix —
    * the ingest-time twin of [[DedupQueries.crossSourceMatrix]],
    * sharing its oracle EXACTLY. The trick is what the registry is
    * keyed on: each document's distinct 5-gram SHINGLES (band 0,
    * sig = shingle hash), so the drained claim log is precisely the
    * occurrences of shingles carried by ≥2 documents — the only rows
    * the batch ngramJaccard intersection ever counts (a shingle unique
    * to one doc can't contribute to any pair). The log SET is
    * arrival-order invariant ([[neardupCore]]'s retain-until-
    * contested discipline), so the finalize-time pair reconstruction
    * — a sig-keyed self-join counting shared shingles — reproduces
    * the batch inter relation bit-for-bit under any file order; the
    * per-doc shingle-set size and source ride a stateless narrow
    * append stream (each doc arrives once). Verify = exact Jaccard
    * ≥ 0.8 on the reconstructed counts, rollup = (canonical source,
    * duplicate source) counts. State: O(1) per distinct shingle ≈
    * O(total corpus tokens) — EXACT at that cost; this is the
    * compaction-time path. The 100×-scale ingest shape is
    * [[streamCrossSourceBanded]], whose registry keys on MinHash
    * bands (state O(docs × bands)) at LSH candidate recall. */
  def streamCrossSource(s: SparkSession, d: String): DataFrame = {
    val (inter, prof) = shingleClaimRelations(s, d)
    inter
      .join(prof.select(col("doc_id").as("doc_a"), col("n").as("na"),
        col("source").as("src_canonical")), Seq("doc_a"))
      .join(prof.select(col("doc_id").as("doc_b"), col("n").as("nb"),
        col("source").as("src_dup")), Seq("doc_b"))
      .filter(col("i") * 1.0 / (col("na") + col("nb") - col("i")) >= 0.8)
      .groupBy(col("src_canonical"), col("src_dup"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** The shingle-keyed registry machinery shared by
    * [[streamCrossSource]] and [[streamContainment]]: runs the
    * order-independent claim registry over each arriving document's
    * distinct 5-gram shingles, drains the log, and reconstructs (a)
    * the exact shared-shingle intersection relation
    * (doc_a, doc_b, i) — identical to the batch miners' `inter` CTE —
    * and (b) the stateless per-doc profile (doc_id, source, n =
    * shingle-set size). */
  private def shingleClaimRelations(s: SparkSession,
                                    d: String): (DataFrame, DataFrame) = {
    val docs = docStream(s, d)
    val shingles = graft.functions.TextShingles
      .shingleHashSet(docs, "doc_id", "text", 5)
      .select(col("doc_id"), lit(0).as("band"),
        col("sh").cast(StringType).as("sig"))
    // the claim-log and profile streams are independent until the
    // finalize join: two legs of one drain
    val Seq(log, prof) = FiniteStream.drain(
      Leg(neardupCore(shingles), "append"),
      Leg(docs.select(col("doc_id"), col("source"),
        graft.functions.TextShingles.tokens(col("text")).as("__toks"))
        .select(col("doc_id"), col("source"),
          size(graft.functions.HashedShingles(col("__toks"), 5)).as("n")),
        "append"))
    // renamed projections before the self-join (memory-sink views
    // can't deduplicate shared attributes on their own)
    val a = log.select(col("doc_id").as("doc_a"), col("sig").as("a_sig"))
    val b = log.select(col("doc_id").as("doc_b"), col("sig").as("b_sig"))
    val inter = a.join(b,
        col("a_sig") === col("b_sig") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("i"))
    (inter, prof)
  }

  /** Streaming asymmetric-containment gate — the ingest-time twin of
    * [[DedupQueries.containment]] (Broder ≥90% small-in-big), sharing
    * its oracle exactly: the shingle claim log reconstructs the
    * shared-shingle intersection, the profile stream supplies the
    * set sizes, and the containment/jaccard ppm grid and the
    * inner/outer election are the batch spellings verbatim. */
  def streamContainment(s: SparkSession, d: String): DataFrame = {
    val (inter, prof) = shingleClaimRelations(s, d)
    inter
      .join(prof.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(prof.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .withColumn("containment_ppm",
        expr("i * 1000000 DIV LEAST(na, nb)"))
      .withColumn("jaccard_ppm", expr("i * 1000000 DIV (na + nb - i)"))
      .filter(col("containment_ppm") >= DedupQueries.ContainPpm)
      .select(
        expr("IF(na <= nb, doc_a, doc_b)").as("doc_inner"),
        expr("IF(na <= nb, doc_b, doc_a)").as("doc_outer"),
        col("containment_ppm"), col("jaccard_ppm"),
        (col("jaccard_ppm") < 800000L).cast(LongType).as("asymmetric"))
  }

  /** BOUNDED-STATE streaming contamination matrix —
    * the 100×-scale spelling of [[streamCrossSource]]: the ingest
    * registry keys on each document's MinHash BAND rows (4 per doc —
    * [[DedupQueries.bandRows]], the `stream_neardup` footprint), so
    * state-store cardinality is O(docs × bands) instead of the exact
    * twin's O(distinct corpus shingles) ≈ O(total tokens). The drained
    * claim log holds every member row of every contested bucket
    * (order-invariant SET, [[neardupCore]]), so its band/sig-keyed
    * self-join reproduces the batch LSH candidate relation exactly;
    * the exact-Jaccard verify + source rollup then run at COMPACTION
    * over the staged corpus — candidates only, never all-pairs. The
    * banding is deterministic and replicated relationally in the
    * DuckDB oracle ([[DedupQueries.crossSourceBandedSql]] — the
    * `dedup_semantic_lsh` approximate-but-verifiable precedent):
    * approximate vs the full shared-shingle matrix only in LSH recall,
    * exact w.r.t. its own published banding. The exact shingle-keyed
    * twins remain catalog rows as compaction-time paths; THIS is the
    * shape a 100 TB ingest deploys. */
  def streamCrossSourceBanded(s: SparkSession, d: String): DataFrame = {
    val docs = docStream(s, d)
    // registry state: one O(1) tuple per distinct (band, sig) bucket —
    // ≤ 4 buckets contributed per document, a hard bound
    // the claim-log and staging streams are independent until the
    // compaction-time verify: two legs of one drain
    val Seq(log, staged) = FiniteStream.drain(
      Leg(neardupCore(DedupQueries.bandRows(docs)), "append"),
      Leg(docs.select(col("doc_id"), col("text"), col("source")), "append"))
    val a = log.select(col("doc_id").as("doc_a"), col("band").as("a_band"),
      col("sig").as("a_sig"))
    val b = log.select(col("doc_id").as("doc_b"), col("band").as("b_band"),
      col("sig").as("b_sig"))
    val cand = a.join(b,
        col("a_band") === col("b_band") && col("a_sig") === col("b_sig") &&
          col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // compaction-time verify over the staged corpus (stateless append
    // stage — each doc arrives once): exact Jaccard on the banded
    // candidates only, then the source rollup
    DedupQueries.jaccardPairs(staged.select(col("doc_id"), col("text")),
        candidates = Some(cand), threshold = 0.8)
      .join(staged.select(col("doc_id").as("doc_a"),
        col("source").as("src_canonical")), Seq("doc_a"))
      .join(staged.select(col("doc_id").as("doc_b"),
        col("source").as("src_dup")), Seq("doc_b"))
      .groupBy(col("src_canonical"), col("src_dup"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Streaming parquet read of the documents table, honoring the
    * session conf `graft.stream.maxFilesPerTrigger` when set — the
    * test hook that forces multi-micro-batch, file-at-a-time delivery
    * (ShuffledArrivalSpec) without changing production defaults. */
  private[queries] def docStream(s: SparkSession, d: String,
                                 wide: Boolean = false): DataFrame = {
    val src = Tables.stream(s, d, "documents",
      s.conf.getOption("graft.stream.maxFilesPerTrigger"))
    // the widen sits between the source and the per-row text
    // derivations (tokenize/shingle/md5 grids — the heavy part of
    // every doc-stream twin); see eventsStream for the contract
    if (wide) graft.util.Widen.stream(src) else src
  }

  /** The stateful bucket registry over ANY (doc_id, band, sig)
    * stream — ORDER-INDEPENDENT form: instead of
    * flagging rows by arrival order, the registry emits the CLAIM LOG
    * — every row belonging to a bucket observed to hold ≥2 distinct
    * documents — and leaves ownership to a finalize-time min-doc_id
    * election ([[electDupBands]]). The emitted SET is the same under
    * any arrival order: a bucket's rows are retained (in state) while
    * the bucket is sole-owned and released the moment a second
    * distinct document arrives, after which every member row passes
    * straight through. State per bucket: (contested, sole doc_id,
    * retained-row count) — one tuple, O(1); emitted rows leave state
    * forever. STATE-FORMAT NOTE: a checkpoint whose per-bucket state
    * is a bare Long (min id) does not restore into this tuple (the
    * MgSketch kryo
    * break class; throwaway fixture checkpoints are unaffected, a
    * production upgrade drains or restarts the query). Same applies
    * to [[claimCore]]. Package-visible so the spec drives it
    * batch-by-batch. */
  private[graft] def neardupCore(bands: DataFrame): DataFrame = {
    val s = bands.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    bands.select(col("doc_id"), col("band"), col("sig"))
      .as[(Long, Int, String)]
      .groupByKey { case (_, band, sig) => (band, sig) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, String), it: Iterator[(Long, Int, String)],
         st: GroupState[(Boolean, Long, Int)]) =>
          val rows = it.toVector
          var (contested, soleDoc, nPend) =
            st.getOption.getOrElse((false, -1L, 0))
          val out = Vector.newBuilder[(Long, Int, String)]
          if (contested) rows.foreach(out += _)
          else {
            val docs =
              (rows.map(_._1) ++ (if (nPend > 0) Seq(soleDoc) else Nil)).distinct
            if (docs.size >= 2) {
              var i = 0
              while (i < nPend) { out += ((soleDoc, key._1, key._2)); i += 1 }
              rows.foreach(out += _)
              contested = true; soleDoc = -1L; nPend = 0
            } else if (rows.nonEmpty) {
              soleDoc = docs.head
              nPend += rows.size
            }
          }
          st.update((contested, soleDoc, nPend))
          out.result().iterator
      }.toDF("doc_id", "band", "sig")
  }

  /** Finalize-time owner election over a drained [[neardupCore]]
    * claim log: the min doc_id per (band, sig) bucket owns it — the
    * batch owner election's exact rule, so stream results match the
    * shared EXISTS oracles under ANY arrival order — and every other
    * member row counts toward its document's collided-band total.
    * The log holds collision rows only, so this groupBy is bounded by
    * the corpus' internal duplication, not its size. */
  private[graft] def electDupBands(log: DataFrame): DataFrame = {
    // renamed projection before the self-join: memory-sink views
    // can't deduplicate shared attributes on their own
    val owners = log
      .select(col("doc_id").as("o_doc"), col("band").as("o_band"),
        col("sig").as("o_sig"))
      .groupBy(col("o_band"), col("o_sig"))
      .agg(min(col("o_doc")).as("owner"))
    log.join(owners,
        col("band") === col("o_band") && col("sig") === col("o_sig"))
      .filter(col("doc_id") > col("owner"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_dup_bands"))
  }

  /** Claim registry keyed on the SIGNATURE alone — the [[neardupCore]]
    * order-independent discipline for CONTENT claims rather than
    * bucket collisions, with a payload column (a token position)
    * riding through untouched. Emits the claim log: every (doc_id,
    * pos) occurrence of a signature carried by ≥2 distinct documents;
    * [[electClaims]] then flags the non-owner occurrences. Within-doc
    * repeats of a sole-owned signature stay retained (never released,
    * never flagged) UP TO [[ClaimPendCap]] positions — beyond the cap,
    * overflow positions SPILL straight into the claim log (a
    * pathological document repeating one gram must not inflate
    * the state store, nor pay a quadratic re-concat per batch). The
    * spill is election-lossless: a sole-owner row reaches
    * [[electClaims]] identically whether replayed at contestation or
    * released early — if the signature stays sole-owned its rows all
    * carry the owner's doc_id (never flagged, `>` is strict), and if
    * it is contested later every row is in the log either way. The
    * log is therefore collision rows plus at most the per-key
    * overflow. State per signature: (contested, sole doc_id, ≤cap
    * retained positions), emptying permanently at contestation;
    * post-contestation state is O(1) per distinct signature, the
    * streaming dedup registry's inherent footprint (production backs
    * it with the RocksDB provider and fronts hot paths with a bloom,
    * exactly as the batch tier fronts its join). */
  /** Retained-position bound per sole-owned signature in
    * [[claimCore]] — far above any real document's repeats of one
    * gram; overflow spills to the log (see the claimCore scaladoc for
    * why the spill cannot change the election). Package-visible so
    * the spec can drive past it with a small bound. */
  private[graft] val ClaimPendCap: Int = 512

  private[graft] def claimCore(rows: DataFrame): DataFrame =
    claimCoreBounded(rows, ClaimPendCap)

  private[graft] def claimCoreBounded(rows: DataFrame,
                                      pendCap: Int): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    rows.select(col("doc_id"), col("pos"), col("sig"))
      .as[(Long, Long, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sig: String, it: Iterator[(Long, Long, String)],
         st: GroupState[(Boolean, Long, Array[Long])]) =>
          val rows = it.toVector
          var (contested, soleDoc, pend) =
            st.getOption.getOrElse((false, -1L, Array.empty[Long]))
          val out = Vector.newBuilder[(Long, Long, String)]
          if (contested) rows.foreach(out += _)
          else {
            // ownership is tracked by soleDoc itself (−1 = none; doc_ids
            // are non-negative by the source contract), NOT inferred
            // from pend.nonEmpty: with a tiny pendCap every position can
            // spill while the key stays sole-owned, and forgetting the
            // owner would let a later second document pass uncontested
            val docs =
              (rows.map(_._1) ++ (if (soleDoc >= 0) Seq(soleDoc) else Nil))
                .distinct
            if (docs.size >= 2) {
              pend.foreach(p => out += ((soleDoc, p, sig)))
              rows.foreach(out += _)
              contested = true; soleDoc = -1L; pend = Array.empty[Long]
            } else if (rows.nonEmpty) {
              soleDoc = docs.head
              val incoming = rows.map(_._2)
              val room = math.max(pendCap - pend.length, 0)
              if (incoming.size <= room) pend = pend ++ incoming
              else {
                val (keep, spill) = incoming.splitAt(room)
                pend = pend ++ keep
                // overflow spills to the log — election-lossless (see
                // scaladoc); state stays ≤ pendCap positions per key
                spill.foreach(p => out += ((soleDoc, p, sig)))
              }
            }
          }
          st.update((contested, soleDoc, pend))
          out.result().iterator
      }.toDF("doc_id", "pos", "sig")
  }

  /** Finalize-time election over a drained [[claimCore]] log: the min
    * doc_id among a signature's distinct carriers owns it; every
    * occurrence in a LATER document is flagged (owner occurrences,
    * including within-doc repeats, are not — `>` is strict). Bounded
    * by the log (collision rows only). */
  private[graft] def electClaims(log: DataFrame): DataFrame = {
    val owners = log
      .select(col("doc_id").as("o_doc"), col("sig").as("o_sig"))
      .groupBy(col("o_sig")).agg(min(col("o_doc")).as("owner"))
    log.join(owners, col("sig") === col("o_sig"))
      .filter(col("doc_id") > col("owner"))
      .select(col("doc_id"), col("pos"))
  }

  val streamNeardupSql: String =
    s"""WITH ${DedupQueries.bandsCteSql}
      |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_bands
      |FROM bands a
      |WHERE EXISTS (SELECT 1 FROM bands b
      |              WHERE b.band = a.band AND b.sig = a.sig
      |                AND b.doc_id < a.doc_id)
      |GROUP BY a.doc_id""".stripMargin

  /** Streaming BPE pair counting — [[TextQueries.bpePairs]]'s
    * vocabulary statistics maintained CONTINUOUSLY over a document
    * ingest stream: per micro-batch, the narrow word→pair explosion
    * feeds an update-mode grouped sum keyed on the symbol pair, so the
    * trainer's candidate table is always current without rescanning
    * the corpus. State is one count per distinct pair (the bounded
    * symbol-bigram space — map-side partials stay tiny at any corpus
    * size). On the finite fixture the final state must equal the batch
    * count exactly — the same oracle. One divergence from the batch
    * spelling, deliberate: the batch form pre-aggregates words over
    * the WHOLE corpus before pair-exploding (cheapest when the corpus
    * is at rest); the streaming form explodes per batch and lets the
    * stateful sum do all merging (a cross-batch word pre-agg would
    * itself need unbounded state). Same totals, scale-appropriate
    * shapes. */
  def streamBpePairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.stream(s, d, "documents")
    val pairs = docs
      .select(explode(graft.functions.TextShingles.tokens(col("text")))
        .as("word"))
      .filter(length(col("word")) >= 2)
      .selectExpr(
        "explode(transform(sequence(1, length(word) - 1), " +
          "i -> substr(word, i, 2))) AS pair")
      .groupBy(col("pair"))
      .agg(count(lit(1)).cast(LongType).as("n"))
    runToTable(pairs, "complete")
  }

  /** Streaming heavy hitters — the CONTINUOUS-monitoring form of
    * [[TextQueries.heavyHitters]] (same oracle): the token stream
    * folds into Spark's builtin `count_min_sketch` aggregate as
    * streaming state, so the "how often does X occur" monitor carries
    * a FIXED w×d counter grid across micro-batches however long the
    * stream runs — cell-wise merge is order-independent, so under the
    * same seed the stream's sketch is bit-identical to the batch
    * one-shot and the classic [n, n + eps·N] contract is verified
    * against exact streaming counts the same way. Two complete-mode
    * queries (exact per-term counts; the one-row sketch), then the
    * 20-row driver-side probe.
    *
    * STATE NOTE: the exact-count leg keys state on the
    * whole vocabulary — it exists to VERIFY the sketch, and this query
    * is the verification twin. The production bounded-state monitor is
    * `stream_mg_topk` ([[SketchQueries.streamMgTopK]]): Misra–Gries
    * summaries of ≤64 counters per source, with the exact pass
    * confined to the ≤64 candidates at gate time. */
  def streamHeavyHitters(s: SparkSession, d: String): DataFrame = {
    def terms = Tables.stream(s, d, "documents")
      .select(explode(graft.functions.TextShingles.tokens(col("text")))
        .as("term"))
    // exact counts and the CMS sketch are independent aggregations of
    // one source; the 1.6 MB sketch returns as a batch result (a memory
    // table would ship it inside the task that detaches it)
    @volatile var skBytes: Array[Byte] = null
    val Seq(counts) = FiniteStream.drain(
      Leg(terms.groupBy(col("term")).agg(count(lit(1)).as("n")), "complete"),
      Leg(terms.agg(expr("count_min_sketch(term, 0.0001d, 0.999d, 42)").as("sk")),
        "complete", sink = Batches((b, _) => skBytes = b.head.getAs[Array[Byte]](0))))
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(skBytes)
    val total = counts.agg(sum(col("n"))).collect().head.getLong(0)
    val slack = math.ceil(0.0001 * total).toLong
    import s.implicits._
    counts.orderBy(col("n").desc, col("term")).limit(20).collect().toSeq
      .map { r =>
        val (t, n) = (r.getString(0), r.getLong(1))
        val est = cms.estimateCount(t)
        (t, n, if (est >= n) 1L else 0L, if (est <= n + slack) 1L else 0L)
      }
      .toDF("term", "n", "ok_lower", "ok_upper")
  }

  /** Streaming A-ES weighted sampling — the continuous twin of
    * [[CurationQueries.weightedSample]] (same oracle): priorities are
    * pure per-row functions (md5-keyed uniform, ln(u)/n_chars), so
    * the stream needs NO sampling coordination — state is one
    * k-bounded [[Relational.topKAggregator]] buffer per source
    * (≤10 (pri, id) pairs, fixed size forever), updated in complete
    * mode as batches arrive. The winners join back to the static
    * table for their attributes post-materialization. */
  def streamWeightedSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.stream(s, d, "documents")
    val M = 1L << 20
    val u = (graft.functions.Md5Key.column(col("doc_id").cast(StringType))
      % M + 1).cast(DoubleType) / (M + 1).toDouble
    val topk = Relational.topKAggregator(10, longScores = false)
    val agg = docs
      .select(col("source"), col("doc_id"),
        (log(u) / col("n_chars").cast(DoubleType)).as("pri"))
      .groupBy(col("source"))
      .agg(topk(col("pri"), col("doc_id")).as("top"))
    Relational.topKRanked(runToTable(agg, "complete"), "top", "doc_id", "pri")
      .select(col("source"), col("doc_id"), col("rank").as("rk"))
      .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .select(col("source"), col("doc_id"), col("n_chars"), col("rk"))
  }

  /** Streaming OOV MONITOR — the frozen-tokenizer drift alarm: the
    * top-K vocabulary is computed ONCE from the reference corpus
    * (batch, exactly [[TextQueries.vocabCoverage]]'s cut) and
    * broadcast against the INCOMING document stream; per-source token
    * and OOV counts accumulate in update mode. A rising OOV rate on a
    * source is how a production ingest discovers domain drift before
    * the tokenizer does. State = one row per source; the token stream
    * itself never shuffles (broadcast membership + map-side partial
    * counts). Same oracle as the batch query — the stream replays the
    * same corpus. */
  def streamVocabOov(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val VocabK = 1000
    val vocab = Tables.documents(s, d)
      .select(explode(graft.functions.TextShingles.tokens(col("text")))
        .as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(VocabK)
      .select(col("term"), lit(1).as("__in_vocab"))
    val docs = graft.util.Widen.stream(Tables.stream(s, d, "documents"))
    val agg = docs
      .select(col("source"),
        explode(graft.functions.TextShingles.tokens(col("text")))
          .as("term"))
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast(LongType).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L))
          .cast(LongType).as("n_oov"))
      .selectExpr("source", "n_tokens", "n_oov",
        "CAST(n_oov * 1000000 DIV n_tokens AS BIGINT) AS oov_ppm")
    runToTable(agg, "complete")
  }

  /** Streaming classifier INFERENCE — [[TextQueries.classifierScore]]'s
    * projection verbatim over the document stream, append mode: the
    * fasttext-style quality gate applied at ingest time. Stateless
    * narrow expressions, so there is NO state store at any scale —
    * the cheapest possible streaming operator shape — and the batch
    * oracle applies unchanged. */
  def streamClassifierScore(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.stream(s, d, "documents")
    runToTable(TextQueries.classifierProjection(docs), "append")
  }

  /** Streaming stateful deduplication (dropDuplicates with per-key
    * state), append mode. event_id is unique so the deduped stream
    * must equal the input relation — state behavior is what's tested. */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val deduped = eventsStream(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .dropDuplicates("event_id")
    runToTable(deduped, "append")
  }

  val streamDedupSql: String =
    "SELECT event_id, user_id, event_type FROM events"

  /** Bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
    * keeps a key's state only until the watermark passes its event
    * time + the delay, so state size tracks the dedup horizon instead
    * of the stream's full key history — the scale-safe form of
    * [[streamDedup]] (whose per-key state never evicts). Output is the
    * key columns ONLY: projecting away the non-key columns makes the
    * emitted row independent of which duplicate arrived first.
    *
    * Oracle honesty: a key recurring BEYOND the horizon re-emits (its
    * state was evicted) — that output depends on micro-batch delivery,
    * not just the data, so no batch SQL can oracle it in general. The
    * 35-day delay here covers the fixture's full ~30-day event span,
    * making the finite-input result delivery-independent (= DISTINCT)
    * under ANY batching — and that invariant is ASSERTED below against
    * the actual data (a fixture regenerated with a longer span would
    * otherwise silently turn this oracle flaky); the
    * eviction/re-admission semantics past the horizon are pinned
    * separately in BoundedStateSpec. */
  def streamDedupBounded(s: SparkSession, d: String): DataFrame = {
    val spanRow = Tables.events(s, d)
      .agg(((max(col("ts").cast("long")) - min(col("ts").cast("long")))
        / 86400.0).as("days")).head
    require(!spanRow.isNullAt(0),
      "events table is empty — no event-time span to bound the dedup horizon")
    val spanDays = spanRow.getDouble(0)
    require(spanDays < 35.0,
      f"events span $spanDays%.1f days exceeds the 35-day dedup horizon — " +
        "the DISTINCT oracle would become micro-batch-delivery-dependent")
    val deduped = eventsStream(s, d)
      .withWatermark("ts", "35 days")
      .select(col("ts"), col("user_id"), col("event_type"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    runToTable(deduped, "append")
  }

  val streamDedupBoundedSql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  /** Gap-based sessionization input/state/output rows (top-level case
    * classes so the product encoders resolve). `ts` rides along solely
    * to keep the watermark lineage; the µs arithmetic uses `us`. */
  case class SessIn(user_id: Long, event_id: Long, us: Long,
                    ts: java.sql.Timestamp)
  case class SessEv(us: Long, event_id: Long)
  case class SessState(nextSeq: Long, buf: Seq[SessEv])
  case class SessRow(event_id: Long, user_id: Long, session_seq: Long)

  private val SessGapUs = 1800L * 1000000L // 30 min, same as q_sessionize

  /** Streaming row-level sessionization — the stateful form of
    * `q_sessionize`: every event gets its per-user session number, in
    * EMIT FINAL style (a session's rows are emitted once, when the
    * session is PROVEN closed: the watermark has passed its last
    * event + the 30-minute gap, so no non-late event can still join
    * or alter it; buffered successor gaps place the boundaries).
    * This is the operator ksqlDB's `WINDOW SESSION`
    * cannot express (it emits per-session aggregates, not per-event
    * session ids) and Spark's built-in `session_window` can't either —
    * hence `flatMapGroupsWithState` with an event-time timeout.
    *
    * State per user is the OPEN tail only once sessions start closing:
    * each invocation sorts the buffered events, emits every closed
    * session in time order (numbering carried in state, so emission
    * order across micro-batches preserves the batch numbering), and
    * retains just the still-open suffix plus the next session number.
    * Timeouts re-invoke idle groups when the watermark passes their
    * open session's close point. On this finite input the 35-day
    * watermark delay (span-guarded like [[streamDedupBounded]]) keeps
    * the watermark below all real events until the far-future flush
    * sentinel, so no session can close prematurely and the result is
    * delivery-independent — the batch oracle exactly. */
  def streamSessionize(s: SparkSession, d: String): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val spanRow = Tables.events(s, d)
      .agg(((max(col("ts").cast("long")) - min(col("ts").cast("long")))
        / 86400.0).as("days")).head
    require(!spanRow.isNullAt(0), "events table is empty — nothing to sessionize")
    require(spanRow.getDouble(0) < 35.0,
      "events span exceeds the 35-day watermark delay — sessions could " +
        "close mid-stream and the batch oracle would not be exact")
    val flush =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long, Long)]
    flush.addData((java.sql.Timestamp.valueOf("2099-01-01 00:00:00"), -1L, -1L))
    val in = eventsStream(s, d)
      .select(col("ts").cast(TimestampType).as("ts"), col("user_id"),
        col("event_id"))
      .unionByName(flush.toDF().toDF("ts", "user_id", "event_id"))
      .withWatermark("ts", "35 days")
    runToTable(sessionizeCore(in), "append")
      .filter(col("user_id") =!= -1L)
      .select(col("event_id"), col("user_id"), col("session_seq"))
  }

  /** The stateful sessionizer over ANY watermarked
    * (ts, user_id, event_id) stream — [[streamSessionize]] wraps it
    * with the flush sentinel for oracle equality on finite input;
    * `StreamSessionizeSpec` drives it batch-by-batch to pin the
    * INCREMENTAL behavior (mid-stream closes once the watermark
    * confirms them, late-event drops, numbering carried across
    * micro-batches). */
  private[graft] def sessionizeCore(in: DataFrame): DataFrame = {
    val s = in.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    in.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("ts"))
      .as[SessIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SessIn], st: GroupState[SessState]) =>
          val prior = st.getOption.getOrElse(SessState(1L, Seq.empty))
          val wmUs = st.getCurrentWatermarkMs() * 1000L
          // standard watermark contract: rows at or below the watermark
          // are late and dropped (flatMapGroupsWithState does NOT drop
          // them for us). Without this, a late event could splice into
          // a region whose sessions were already emitted as final.
          val buf = (prior.buf ++
              it.filter(_.us > wmUs).map(e => SessEv(e.us, e.event_id)))
            .sortBy(e => (e.us, e.event_id))
          val rows = scala.collection.mutable.ArrayBuffer.empty[SessRow]
          var seq = prior.nextSeq
          var start = 0
          var i = 0
          while (i < buf.length) {
            // a session [start..i] may be EMITTED only when the
            // watermark has passed its close point — a buffered gap to
            // the next event is necessary (it places the boundary) but
            // NOT sufficient: until wm > last + gap, a non-late
            // out-of-order event could still arrive inside or adjacent
            // to the session and change it (append-mode emissions are
            // final, so a premature close is permanently wrong)
            val boundary = i == buf.length - 1 ||
              buf(i + 1).us - buf(i).us > SessGapUs
            val closed = boundary && wmUs > buf(i).us + SessGapUs
            if (closed) {
              var j = start
              while (j <= i) {
                rows += SessRow(buf(j).event_id, uid, seq); j += 1
              }
              seq += 1
              start = i + 1
            } else if (boundary) {
              // first not-yet-closeable session reached: later ones
              // cannot close before it (their events are newer)
              i = buf.length
            }
            i += 1
          }
          val remaining = buf.drop(start)
          // the buffer (the unbounded part) is released when all
          // sessions close, but the counter MUST survive: lifetime
          // per-user session numbering is the semantics, and a user
          // returning after a close would otherwise restart at 1
          // (caught by StreamSessionizeSpec). One long per ever-seen
          // user is the same state floor as any per-key counter table.
          st.update(SessState(seq, remaining))
          if (remaining.nonEmpty) {
            // wake this group when the watermark passes the FIRST
            // remaining session's close point (strictly above the
            // current wm) — the earliest moment anything can emit
            val firstEnd = remaining.indices
              .find(j => j == remaining.length - 1 ||
                remaining(j + 1).us - remaining(j).us > SessGapUs).get
            st.setTimeoutTimestamp(
              math.max((remaining(firstEnd).us + SessGapUs) / 1000L + 1,
                st.getCurrentWatermarkMs() + 1))
          }
          rows.iterator
      }.toDF()
  }

  case class Scd2In(user_id: Long, event_id: Long, state: String, us: Long,
                    ts: java.sql.Timestamp)
  case class Scd2Ev(us: Long, event_id: Long, state: String)
  case class Scd2St(buf: Seq[Scd2Ev])
  case class Scd2Out(user_id: Long, state: String, from_us: Long,
                     to_us: Option[Long], is_current: Long)

  /** How far the watermark must run past a trailing version before it
    * is published as the OPEN (current) row. On this finite replay the
    * flush sentinel blows past it; a production feed would publish
    * open versions through update-mode upserts instead and use append
    * emission only for CLOSED versions. */
  private val Scd2OpenDelayUs = 365L * 86400L * 1000000L

  /** Streaming SCD TYPE-2 — [[BatchSqlQueries.scd2History]] built
    * CONTINUOUSLY from the event stream: one `flatMapGroupsWithState`
    * per user holds only the not-yet-closed tail of its history; a
    * version row emits (append, final) once the watermark passes the
    * NEXT version's start — at that point no admissible event can
    * open an earlier boundary, so its [valid_from, valid_to) is
    * immutable. Closed versions leave state immediately: steady-state
    * memory is the open tail per key, not the history. Emission
    * timing is watermark-driven (event-time timeouts wake idle
    * groups), and the finite-input flush sentinel closes the last
    * versions so the stream's total output equals the batch oracle
    * exactly. */
  def streamScd2(s: SparkSession, d: String): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val flush = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, Long, String)]
    flush.addData((java.sql.Timestamp.valueOf("2099-01-01 00:00:00"),
      -1L, -1L, "x"))
    val in = eventsStream(s, d)
      .select(col("ts").cast(TimestampType).as("ts"), col("user_id"),
        col("event_id"), col("event_type"))
      .unionByName(flush.toDF().toDF("ts", "user_id", "event_id",
        "event_type"))
      .withWatermark("ts", "35 days")
    val core = in
      .select(col("user_id"), col("event_id"),
        col("event_type").as("state"), unix_micros(col("ts")).as("us"),
        col("ts")) // keeps the watermark column in the plan
      .as[Scd2In]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Scd2In], st: GroupState[Scd2St]) =>
          val prior = st.getOption.getOrElse(Scd2St(Seq.empty))
          val wmUs = st.getCurrentWatermarkMs() * 1000L
          val buf = (prior.buf ++ it.filter(_.us > wmUs)
              .map(e => Scd2Ev(e.us, e.event_id, e.state)))
            .sortBy(e => (e.us, e.event_id))
          // versions = runs of consecutive identical state:
          // (state, fromUs, lastUs)
          val versions =
            scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
          buf.foreach { e =>
            if (versions.nonEmpty && versions.last._1 == e.state)
              versions(versions.length - 1) =
                versions.last.copy(_3 = e.us)
            else versions += ((e.state, e.us, e.us))
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
          var k = 0
          var blocked = false
          while (k < versions.length && !blocked) {
            val hasNext = k + 1 < versions.length
            if (hasNext && wmUs >= versions(k + 1)._2) {
              // valid_to fixed: nothing can arrive before next.from
              out += Scd2Out(uid, versions(k)._1, versions(k)._2,
                Some(versions(k + 1)._2), 0L)
              k += 1
            } else if (!hasNext &&
                wmUs > versions(k)._3 + Scd2OpenDelayUs) {
              out += Scd2Out(uid, versions(k)._1, versions(k)._2, None, 1L)
              k += 1
            } else blocked = true
          }
          val keepFromUs =
            if (k < versions.length) versions(k)._2 else Long.MaxValue
          val remaining = buf.filter(_.us >= keepFromUs)
          if (remaining.isEmpty) st.remove()
          else {
            st.update(Scd2St(remaining))
            // wake when the watermark can first close something more
            val nextPointUs =
              if (k + 1 < versions.length) versions(k + 1)._2
              else versions(k)._3 + Scd2OpenDelayUs
            st.setTimeoutTimestamp(math.max(nextPointUs / 1000L + 1,
              st.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }.toDF()
    val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    runToTable(core, "append")
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"), col("state"),
        date_format(timestamp_micros(col("from_us")), fmt).as("valid_from"),
        date_format(timestamp_micros(col("to_us")), fmt).as("valid_to"),
        col("is_current"))
  }

  /** Streaming `LATEST/EARLIEST_BY_OFFSET(value, N)` — the 2-arg ksql
    * array aggregate under UPDATE-mode streaming, through the
    * K-BOUNDED [[graft.functions.LatestKByOffsetAgg]]: per-key state
    * is ≤ k pairs however long the key's history grows (the batch
    * spelling's collect_list holds the whole history — fine batch,
    * fatal in a year-long stream), and each map partition collapses to
    * ≤ k pairs before the shuffle. Emission is the [[streamLatestByKey]]
    * pattern: update-mode agg → keyed snapshot upsert. Same oracle as
    * the batch q_latest_k_by_offset — the bounded-state stream must
    * produce exactly the unbounded batch answer. */
  def streamLatestK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val latest3 = udaf(new graft.functions.LatestKByOffsetAgg(3))
    val earliest3 =
      udaf(new graft.functions.LatestKByOffsetAgg(3, earliest = true))
    val agg = eventsStream(s, d)
      .groupBy(col("user_id"))
      .agg(
        array_join(latest3(col("event_id"), col("event_type")), ",")
          .as("latest3"),
        array_join(earliest3(col("event_id"), col("event_type")), ",")
          .as("earliest3"),
        count(lit(1)).cast(LongType).as("n"))
    FiniteStream.drain(Leg(agg, "update", sink = Keyed("user_id"))).head
  }

  /** Streaming [[graft.functions.DecimalSketch]]: per-event-type
    * mergeable quantile sketches under UPDATE-mode aggregation. The
    * per-key state is the bounded bucket map (≤ ~17k counters however
    * long the stream runs — the streaming-safe shape approx_percentile
    * lacks), each micro-batch upserts the key's refreshed sketch into
    * the snapshot store, and quantile extraction happens OUTSIDE the
    * stream as the same relational rank scan the batch
    * q_decsketch_quantiles uses — the stored sketch is the reusable
    * artifact, queryable for any quantile later. Because the sketch
    * merge is lossless, the finite-input stream result equals the
    * batch-over-everything oracle exactly. */
  def streamDecsketch(s: SparkSession, d: String): DataFrame =
    graft.functions.DecimalSketch.quantileScan(
      decsketchStore(s, d), Seq("event_type"), Seq(0.5, 0.95), "cents")

  /** The shared streaming leg of the sketch twins: update-mode
    * per-event-type DecimalSketch aggregation materialized into a
    * snapshot store, returned as the final (event_type, sketch, n)
    * table. Per-key state is the bounded bucket map. */
  private def decsketchStore(s: SparkSession, d: String): DataFrame = {
    val sk = udaf(new graft.functions.DecimalSketchAgg)
    val agg = eventsStream(s, d)
      .select(col("event_type"),
        round(col("value") * 100).cast(LongType).as("cents"))
      .groupBy(col("event_type"))
      .agg(sk(col("cents")).as("sketch"),
        count(lit(1)).cast(LongType).as("n"))
    FiniteStream.drain(Leg(agg, "update", sink = Keyed("event_type"))).head
  }

  /** Streaming drift monitor: the same stored per-type sketches,
    * finalized through the batch TVD tail — the gate a training
    * pipeline would run after each ingest window, re-reading only
    * sketches. Finite input ⇒ equals the batch q_sketch_drift oracle
    * exactly (the sketch merge is lossless, so WHERE the micro-batch
    * boundaries fell cannot show through). */
  def streamSketchDrift(s: SparkSession, d: String): DataFrame =
    BatchSqlQueries.tvdAgainstGlobal(decsketchStore(s, d))

  /** Streaming CEP: the [[graft.streaming.PatternMatch]] automaton
    * (incremental `v+c*p` funnel count + `p.*e` flag, constant per-key
    * state) run over the event stream; per-batch running snapshots
    * upsert by key, and on finite input the final table must equal the
    * batch regex-over-folded-history oracle — which hash-verifies the
    * automaton⇄regex equivalence on real data, on top of the fuzz pin
    * in `PatternMatchSpec`. */
  def streamPatternMatch(s: SparkSession, d: String): DataFrame = {
    val ev = eventsStream(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"),
      substring(col("event_type"), 1, 1).as("ch"))
    val out = graft.streaming.PatternMatch.table(s, ev)
    FiniteStream.drain(Leg(out.toDF(), "append", sink = Keyed("user_id"))).head
  }

  /** Streaming session-scoped CEP ([[graft.streaming.PatternMatch.sessionTable]]):
    * the automaton closes the open session at a >30-min gap, so a
    * match can never span sessions — pattern-window semantics with
    * the same constant per-key state (plus one timestamp). Finite
    * input ⇒ equals the batch gaps-and-islands + per-session regex
    * oracle. */
  def streamPatternSessions(s: SparkSession, d: String): DataFrame = {
    val ev = eventsStream(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_id"),
      substring(col("event_type"), 1, 1).as("ch"))
    val out = graft.streaming.PatternMatch.sessionTable(s, ev,
      BatchSqlQueries.SessionGapUs)
    FiniteStream.drain(Leg(out.toDF(), "append", sink = Keyed("user_id"))).head
  }

  /** The events stream with each series' batch-trained SAX
    * breakpoints attached by a broadcast stream-static join. */
  private def saxStream(s: SparkSession, d: String): DataFrame = {
    val bps = BatchSqlQueries.saxBreakpoints(
        BatchSqlQueries.saxSums(BatchSqlQueries.saxEvents(s, d)))
      .select(col("event_type"), col("b1"), col("b2"), col("b3"))
    val ev = eventsStream(s, d).select(col("event_type"),
      unix_micros(col("ts")).as("us"), col("event_id"),
      round(col("value") * 100).cast(LongType).as("cents"))
    ev.join(broadcast(bps), "event_type")
      .select(col("event_type"), col("us"), col("event_id"),
        col("cents"), col("b1"), col("b2"), col("b3"))
  }

  /** Streaming SAX motif mining ([[graft.streaming.SaxMotif]]): the
    * rank-quartile breakpoints are TRAINED batch-side (a global
    * property no stream can compute online — same artifact/inference
    * split as the IVF lifecycle), attached to the stream by a
    * broadcast stream-static join, and the symbolization + trigram
    * tracking runs as a constant-space automaton (partial-window sum,
    * two letters, ≤64 trigram counters per series). On finite input
    * the final motif table equals the batch q_sax_motif oracle. */
  def streamSaxMotif(s: SparkSession, d: String): DataFrame = {
    val out = graft.streaming.SaxMotif.table(s, saxStream(s, d),
      BatchSqlQueries.SaxW)
    FiniteStream.drain(Leg(out.toDF(), "append", sink = Keyed("event_type")))
      .head
  }

  /** Streaming corpus-composition monitor: per-source (source, lang)
    * counts accumulate under update-mode aggregation (state = one
    * counter per live pair, the categorical analog of the sketch
    * bucket map), each batch upserts the refreshed counts, and the
    * TVD-vs-global finalize runs OUTSIDE the stream on the stored
    * counts — the drift gate a curation pipeline evaluates per ingest
    * window. Finite input ⇒ equals the batch curate_lang_drift
    * oracle. */
  def streamLangDrift(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.stream(s, d, "documents")
      .select(col("source"), col("lang"))
    val agg = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("ct"))
    TextQueries.fertilityTvd(FiniteStream.drain(
      Leg(agg, "update", sink = Keyed("source", "lang"))).head, "lang")
  }

  /** Streaming incremental dedup gate — [[DedupQueries.incremental]]
    * the way it DEPLOYS: the at-rest corpus's signature index (band
    * rows, shingle rows, set sizes — [[DedupQueries.restIndexOf]]) is
    * MATERIALIZED ONCE to a stored parquet layout before the stream
    * starts (the IvfIndex stored-index discipline, so no epoch
    * re-derives the corpus-side relations), then each arriving micro-batch of
    * delta documents gates against the stored index inside its own batch
    * ([[DedupQueries.incrementalAgainst]] — delta bands equi-join the stored
    * band relation, exact-Jaccard verify joins the stored shingle/size
    * relations), and verified rejections upsert into the result snapshot keyed
    * on the pair, so a replayed epoch is idempotent. No cross-batch state at
    * all, and no corpus-side derivation after the build: per-ingest cost is
    * O(batch + collisions) regardless of history length. Finite input ⇒ equals
    * the batch oracle. */
  def streamIncremental(s: SparkSession, d: String): DataFrame =
    streamRestGate(s, d,
      valueFields = Seq(StructField("doc_id", LongType),
        StructField("dup_of", LongType), StructField("jaccard", DoubleType)),
      gate = DedupQueries.incrementalAgainst)

  /** Streaming twin of [[DedupQueries.incrementalContainment]] — the
    * [[streamIncremental]] stored-index shape with the containment
    * gate: shared-shingle candidates against the stored shingle
    * relation, Broder ppm verify against the stored sizes, and the
    * `delta_inner` routing decision per arriving document. No
    * registry, no cross-batch state — this is the INGEST-time answer
    * for asymmetric duplication (the shingle-keyed
    * [[streamContainment]] stays the compaction-time exact twin;
    * MinHash banding cannot cover asymmetric pairs, so the bounded
    * ingest path is the stored-index join, not a banded registry). */
  def streamIncrementalContainment(s: SparkSession, d: String): DataFrame =
    streamRestGate(s, d,
      valueFields = Seq(StructField("doc_id", LongType),
        StructField("dup_of", LongType),
        StructField("containment_ppm", LongType),
        StructField("jaccard_ppm", LongType),
        StructField("delta_inner", LongType)),
      gate = DedupQueries.incrementalContainmentAgainst)

  /** Streaming twin of [[DedupQueries.indexDelete]] — the takedown
    * lifecycle AT INGEST: the stored at-rest index is built once, the
    * takedown list is a (doc_id) tombstone relation, and every
    * micro-batch's gate serves through the broadcast tombstone
    * anti-join ([[DedupQueries.tombstoneServe]]) — the hot path never
    * rebuilds the index on takedown; compaction rebuilds it from the
    * surviving corpus later (the batch row's spec-pinned equality,
    * `DedupHygieneSpec`). Delta documents whose only at-rest witness
    * was taken down pass the gate — the unblocking erasure must
    * produce. */
  def streamIndexDelete(s: SparkSession, d: String): DataFrame =
    streamRestGate(s, d,
      valueFields = Seq(StructField("doc_id", LongType),
        StructField("dup_of", LongType), StructField("jaccard", DoubleType)),
      gate = (delta, idx) => DedupQueries.incrementalAgainst(delta,
        DedupQueries.tombstoneServe(idx, DedupQueries.tombstonesOf(
          Tables.documents(s, d).filter(col("doc_id") % 10 =!= 9)))))

  /** The shared delta-vs-stored-index ingest harness: build the
    * at-rest signature index ONCE into a scratch parquet layout, gate
    * each arriving micro-batch's delta slice against it with `gate`,
    * and upsert the (doc_id, dup_of)-keyed verdicts into the snapshot
    * (replay-idempotent). `valueFields` must start with doc_id and
    * dup_of (the upsert key). */
  private def streamRestGate(s: SparkSession, d: String,
      valueFields: Seq[StructField],
      gate: (DataFrame, DedupQueries.RestIndex) => DataFrame): DataFrame = {
    val rest = Tables.documents(s, d).filter(col("doc_id") % 10 =!= 9)
    // build the stored at-rest index ONCE: three parquet relations in
    // a scratch layout — at 100 TB this is the published signature
    // index a corpus maintains alongside itself (paid per corpus
    // version, not per ingest epoch)
    val idxRoot = java.nio.file.Paths.get(scratchDir("graft-dedup-idx-"))
    val store = new graft.streaming.SnapshotStore(StructType(valueFields),
      keys = Seq("doc_id", "dup_of"))
    try {
      val built = DedupQueries.restIndexOf(rest)
      val (bandsP, shP, sizesP) = (idxRoot.resolve("bands").toString,
        idxRoot.resolve("shingles").toString, idxRoot.resolve("sizes").toString)
      built.bands.write.mode("overwrite").parquet(bandsP)
      built.shingles.write.mode("overwrite").parquet(shP)
      built.sizes.write.mode("overwrite").parquet(sizesP)
      val stored = DedupQueries.RestIndex(
        bands = s.read.parquet(bandsP),
        shingles = s.read.parquet(shP),
        sizes = s.read.parquet(sizesP))
      FiniteStream.drain(Leg(docStream(s, d), "append", sink = Batches { (b, _) =>
        val delta = b.filter(col("doc_id") % 10 === 9)
        store.upsert(gate(delta, stored))
      }))
    } finally deleteRecursively(idxRoot.toString)
    store.df(s)
  }

  /** Streaming tokenizer-fertility drift monitor: the per-document fertility
    * BUCKET is a pure narrow expression ([[TextQueries.fertilityBuckets]] plans
    * on the unbounded source), so (source, bucket) counts accumulate under
    * update-mode aggregation — state = one counter per live pair, the
    * categorical sketch of [[streamLangDrift]] — and the TVD-vs-global finalize
    * ([[TextQueries.fertilityTvd]], shared with the batch gate) runs OUTSIDE
    * the stream on the stored counts. Finite input ⇒ equals the batch
    * text_fertility_drift oracle. */
  def streamFertilityDrift(s: SparkSession, d: String): DataFrame = {
    val agg = TextQueries.fertilityBuckets(
        docStream(s, d).select(col("source"), col("text")))
      .groupBy(col("source"), col("bkt"))
      .agg(count(lit(1)).as("ct"))
    TextQueries.fertilityTvd(FiniteStream.drain(
      Leg(agg, "update", sink = Keyed("source", "bkt"))).head, "bkt")
  }

  /** Streaming symbolic similarity: the SAME SAX automaton emits each
    * series' distinct trigram VOCABULARY (≤64 words by construction —
    * the 4-letter alphabet closes the key space), and pairwise
    * Jaccard over the stored vocabularies is set algebra outside the
    * stream. Completes the SAX triple (motif, similarity) in both
    * execution modes against one oracle. */
  def streamSaxSimilarity(s: SparkSession, d: String): DataFrame = {
    val out = graft.streaming.SaxMotif.vocabTable(s, saxStream(s, d),
      BatchSqlQueries.SaxW)
    val Seq(vocab) =
      FiniteStream.drain(Leg(out.toDF(), "append", sink = Keyed("event_type")))
    BatchSqlQueries.saxJaccard(vocab.select(col("event_type"),
      explode(split(col("words"), ",")).as("word")))
  }

  /** The batch pattern-match oracle minus the folded string (the
    * stream never materializes it — that is the point). */
  val streamPatternMatchSql: String =
    """WITH e AS (
      |  SELECT user_id, substring(event_type, 1, 1) AS ch, ts, event_id
      |  FROM events),
      |s AS (
      |  SELECT user_id, string_agg(ch, '' ORDER BY ts, event_id) AS seq
      |  FROM e GROUP BY user_id)
      |SELECT user_id,
      |  CAST(length(seq) AS BIGINT) AS seq_len,
      |  CAST(len(regexp_extract_all(seq, 'v+c*p')) AS BIGINT) AS n_funnel,
      |  CAST(CASE WHEN regexp_matches(seq, 'p.*e') THEN 1 ELSE 0 END
      |       AS BIGINT) AS err_after_purchase
      |FROM s""".stripMargin

  /** Batch oracle for [[streamDecsketch]]: the decimal-grid bucketing
    * and rank scan over the whole events table (same integer/string
    * power-of-ten spelling as q_decsketch_quantiles). */
  val streamDecsketchSql: String =
    """WITH v AS (
      |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS cents
      |  FROM events),
      |b AS (
      |  SELECT event_type,
      |    CASE WHEN abs(cents) < 1000 THEN cents
      |         ELSE cents - cents % CAST('1' || repeat('0',
      |                length(CAST(abs(cents) AS VARCHAR)) - 3) AS BIGINT)
      |    END AS bkt
      |  FROM v),
      |h AS (SELECT event_type, bkt, COUNT(*) AS cnt FROM b GROUP BY event_type, bkt),
      |nn AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY event_type),
      |c AS (SELECT event_type, bkt,
      |        SUM(cnt) OVER (PARTITION BY event_type ORDER BY bkt) AS cum
      |      FROM h),
      |qq AS (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE]) AS q)
      |SELECT c.event_type, qq.q, MIN(c.bkt) AS cents, CAST(nn.n AS BIGINT) AS n
      |FROM c JOIN nn USING (event_type) CROSS JOIN qq
      |WHERE c.cum >= ceil(qq.q * nn.n)
      |GROUP BY c.event_type, qq.q, nn.n""".stripMargin

  /** A2/A3 streaming form: update-mode latest-by-offset aggregation
    * drained as a keyed leg, the table keyed by user_id — the final
    * table state must equal the batch arg_max oracle. */
  def streamLatestByKey(s: SparkSession, d: String): DataFrame = {
    val table = graft.streaming.LatestByKey.table(
      eventsStream(s, d)
        .select(col("user_id"), col("event_id").as("offset"),
          col("event_type").as("latest_type"), col("value").as("latest_value")),
      "user_id", "offset", Seq("latest_type", "latest_value"))
    FiniteStream.drain(Leg(table, "update", sink = Keyed("user_id"))).head
  }

  /** Native stream–static join (Spark's built-in J1 shape: the static
    * side re-resolves per micro-batch): the events stream enriched
    * against a static latest-event-per-user dimension derived from the
    * same table — equals the batch join oracle on finite input. */
  def streamStaticJoin(s: SparkSession, d: String): DataFrame = {
    val dim = Relational.latestByKey(Tables.events(s, d),
        col("user_id"), col("event_id"), "latest_type" -> col("event_type"))
      .withColumnRenamed("user_id", "dim_user")
    val joined = eventsStream(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .join(broadcast(dim), col("user_id") === col("dim_user"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("latest_type"))
    runToTable(joined, "append")
  }

  val streamStaticJoinSql: String =
    """SELECT e.event_id, e.user_id, e.event_type, l.latest_type
      |FROM events e
      |LEFT JOIN (SELECT user_id, arg_max(event_type, event_id) latest_type
      |           FROM events GROUP BY user_id) l
      |  ON e.user_id = l.user_id""".stripMargin

  /** ksqlDB `INSERT INTO`: a second persistent query appends into an
    * already-declared stream, so one sink consumes several sources.
    * Spark-side this is a union of streaming sources feeding one
    * query — each branch keeps its own scan/pushdown, the union is a
    * no-shuffle narrow op, and the downstream agg sees one logical
    * stream. Verified by a per-source rollup against a batch UNION ALL
    * oracle. */
  def streamInsertInto(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.stream(s, d, "orders")
      .select(lit("orders").as("src"), col("o_orderkey").as("id"))
    val lineitem = Tables.stream(s, d, "lineitem")
      .select(lit("lineitem").as("src"), col("l_orderkey").as("id"))
    val agg = orders.unionByName(lineitem)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"))
    runToTable(agg, "complete")
  }

  val streamInsertIntoSql: String =
    """SELECT src, COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS id_sum
      |FROM (
      |  SELECT 'orders' AS src, o_orderkey AS id FROM orders
      |  UNION ALL
      |  SELECT 'lineitem' AS src, l_orderkey AS id FROM lineitem)
      |GROUP BY src""".stripMargin

  /** Shared builder for the stream–stream interval joins: orders ⋈
    * lineitem as file streams, equi-key + ±3 day band, 30-day
    * watermarks. `withFlush` injects a far-future sentinel row on EACH
    * side (key -1/-2, matching nothing) to push both watermarks past
    * all real data — needed by the outer variant so every pending
    * null-emission fires on finite input (a live stream's watermark
    * advances on its own). One definition so the inner and left-outer
    * spellings can never desynchronize from each other or the shared
    * oracle band. */
  private def intervalJoinStream(s: SparkSession, d: String,
                                 joinType: String,
                                 withFlush: Boolean,
                                 projectLineKey: Boolean = false): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val flushTs = java.sql.Timestamp.valueOf("2099-01-01 00:00:00")
    // parquet timestamps infer as NTZ; watermarks need TIMESTAMP —
    // identical wall values under the UTC session
    var o = Tables.stream(s, d, "orders")
      .select(col("o_orderkey"),
        col("o_orderdate").cast(TimestampType).as("o_orderdate"))
    var l = Tables.stream(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").cast(TimestampType).as("l_shipdate"))
    if (withFlush) {
      val flushO =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp)]
      val flushL =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Int, java.sql.Timestamp)]
      flushO.addData((-1L, flushTs))
      flushL.addData((-2L, 0, flushTs))
      o = o.unionByName(flushO.toDF().toDF("o_orderkey", "o_orderdate"))
      l = l.unionByName(flushL.toDF().toDF("l_orderkey", "l_linenumber", "l_shipdate"))
    }
    val joined = o.withWatermark("o_orderdate", "30 days").as("o")
      .join(l.withWatermark("l_shipdate", "30 days").as("l"),
        expr("""l.l_orderkey = o.o_orderkey AND
                l.l_shipdate >= o.o_orderdate - INTERVAL 3 DAYS AND
                l.l_shipdate <= o.o_orderdate + INTERVAL 3 DAYS"""), joinType)
    // the full-outer variant also projects the line-side key: a
    // right-unmatched row has a NULL order_id, so the line key is both
    // its identity in the output and the sentinel-filter handle
    val lineKey =
      if (projectLineKey) Seq(col("l.l_orderkey").as("line_order_id")) else Nil
    joined.select(col("o.o_orderkey").as("order_id") +: lineKey ++: Seq(
      col("l.l_linenumber").as("line_no"),
      date_format(col("l.l_shipdate"), "yyyy-MM-dd").as("ship_date")): _*)
  }

  /** Watermarked stream–stream interval join (J2 streaming form) —
    * finite input, so it must equal the batch j2_interval_join oracle
    * exactly. */
  def streamIntervalJoin(s: SparkSession, d: String): DataFrame =
    runToTable(intervalJoinStream(s, d, "inner", withFlush = false), "append")

  /** Stream–stream LEFT OUTER interval join (ksqlDB `LEFT JOIN …
    * WITHIN`, which the reference's demo doesn't exercise but ksqlDB
    * supports): unmatched left rows emit with nulls once the combined
    * watermark passes their join window; flush sentinels close all
    * windows on finite input so the result equals the batch LEFT JOIN
    * oracle. The sentinel filter must run on the MATERIALIZED result,
    * not inside the streaming plan: Catalyst pushes a deterministic
    * filter below EventTimeWatermark into the union branch, which
    * would drop the flush row before it registers event-time stats and
    * silently freeze the watermark (observed: 32 missing
    * null-emissions). The left sentinel can't emit anyway — it IS the
    * max event, so the watermark never passes its own window — but
    * filter defensively. */
  def streamIntervalLeft(s: SparkSession, d: String): DataFrame =
    runToTable(intervalJoinStream(s, d, "leftOuter", withFlush = true), "append")
      .filter(col("order_id") >= 0)

  val streamIntervalLeftSql: String =
    """SELECT o.o_orderkey AS order_id, l.l_linenumber AS line_no,
      |       strftime(l.l_shipdate, '%Y-%m-%d') AS ship_date
      |FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      | AND l.l_shipdate >= o.o_orderdate - INTERVAL 3 DAY
      | AND l.l_shipdate <= o.o_orderdate + INTERVAL 3 DAY""".stripMargin

  /** Stream–stream FULL OUTER interval join (ksqlDB `FULL JOIN …
    * WITHIN`): unmatched rows on EITHER side emit with nulls once the
    * combined watermark passes their join window. Both flush sentinels
    * (keys -1/-2) push both watermarks past all real data so every
    * pending emission fires on finite input; each sentinel is filtered
    * on the MATERIALIZED result via whichever side's key it carries
    * (the pushdown trap — see streamIntervalLeft). Must equal the
    * batch FULL JOIN oracle. */
  def streamIntervalFull(s: SparkSession, d: String): DataFrame =
    runToTable(intervalJoinStream(s, d, "fullOuter", withFlush = true,
        projectLineKey = true), "append")
      .filter(coalesce(col("order_id"), col("line_order_id")) >= 0)

  val streamIntervalFullSql: String =
    """SELECT o.o_orderkey AS order_id, l.l_orderkey AS line_order_id,
      |       l.l_linenumber AS line_no,
      |       strftime(l.l_shipdate, '%Y-%m-%d') AS ship_date
      |FROM orders o FULL JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      | AND l.l_shipdate >= o.o_orderdate - INTERVAL 3 DAY
      | AND l.l_shipdate <= o.o_orderdate + INTERVAL 3 DAY""".stripMargin

  /** The full chained streaming pipeline on the reference's golden
    * seed (reference README.md:502-527 + live insert 654-672); the
    * oracle is the expected output as a VALUES literal — the strongest
    * possible check: the streaming engine must reproduce the
    * reference's published Elasticsearch documents bit-for-bit. */
  def pipelineGolden(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The fixture is 11 rows: streaming state sharded over the
    // session's shuffle partitions is pure per-micro-batch overhead
    // here. Pin a tiny partition count for these queries (stream
    // confs are captured at query start) and checkpoint to shm.
    val ckpt = scratchDir("graft-sq-")
    val p = graft.util.Confs.withShufflePartitions(s, 2)(new Pipeline(s, ckpt))
    try {
      p.customersFeed.add(
        "5" -> DebeziumJson.insert("id" -> "5", "name" -> "fred", "age" -> 34),
        "7" -> DebeziumJson.insert("id" -> "7", "name" -> "sue", "age" -> 25),
        "2" -> DebeziumJson.insert("id" -> "2", "name" -> "bill", "age" -> 51))
      p.ordersFeed.add(
        "13" -> """{"customer_id":"2","order_id":"13","price":50.50,"currency":"usd","ts":"2020-04-03T11:20:00"}""",
        "29" -> """{"customer_id":"7","order_id":"29","price":15.00,"currency":"aud","ts":"2020-04-02T12:36:00"}""",
        "17" -> """{"customer_id":"5","order_id":"17","price":25.25,"currency":"eur","ts":"2020-04-02T17:22:00"}""",
        "15" -> """{"customer_id":"5","order_id":"15","price":13.75,"currency":"usd","ts":"2020-04-03T02:55:00"}""",
        "22" -> """{"customer_id":"7","order_id":"22","price":29.71,"currency":"aud","ts":"2020-04-04T00:12:00"}""")
      p.shipmentsFeed.add(
        "17" -> """{"order_id":"17","shipment_id":"75","origin":"texas","ts":"2020-04-04T19:20:00"}""",
        "22" -> """{"order_id":"22","shipment_id":"71","origin":"iowa","ts":"2020-04-04T12:25:00"}""",
        "29" -> """{"order_id":"29","shipment_id":"89","origin":"california","ts":"2020-04-05T13:21:00"}""",
        "13" -> """{"order_id":"13","shipment_id":"92","origin":"maine","ts":"2020-04-04T06:13:00"}""",
        "15" -> """{"order_id":"15","shipment_id":"95","origin":"florida","ts":"2020-04-04T01:13:00"}""")
      p.step()
      p.customersFeed.add(
        "9" -> DebeziumJson.insert("id" -> "9", "name" -> "victor", "age" -> 23))
      p.ordersFeed.add(
        "31" -> """{"customer_id":"9","order_id":"31","price":525.50,"currency":"usd","ts":"2020-04-03T11:20:00"}""")
      p.shipmentsFeed.add(
        "31" -> """{"order_id":"31","shipment_id":"97","origin":"new jersey","ts":"2020-04-04T19:20:00"}""")
      p.step()
      s.createDataset(p.shippedOrders.values).toDF()
    } finally {
      p.stop()
      s.streams.resetTerminated()
      deleteRecursively(ckpt)
    }
  }

  val pipelineGoldenSql: String =
    """SELECT * FROM (VALUES
      |  ('13', '92', '2', 'bill', CAST(51 AS INT), 'maine', CAST(50.50 AS DOUBLE), 'usd'),
      |  ('15', '95', '5', 'fred', CAST(34 AS INT), 'florida', CAST(13.75 AS DOUBLE), 'usd'),
      |  ('17', '75', '5', 'fred', CAST(34 AS INT), 'texas', CAST(25.25 AS DOUBLE), 'eur'),
      |  ('22', '71', '7', 'sue', CAST(25 AS INT), 'iowa', CAST(29.71 AS DOUBLE), 'aud'),
      |  ('29', '89', '7', 'sue', CAST(25 AS INT), 'california', CAST(15.00 AS DOUBLE), 'aud'),
      |  ('31', '97', '9', 'victor', CAST(23 AS INT), 'new jersey', CAST(525.50 AS DOUBLE), 'usd'))
      |  AS t(order_id, shipment_id, customer_id, customer_name,
      |       customer_age, origin, price, currency)""".stripMargin

  /** Streaming corpus build — the curation capstone run INCREMENTALLY:
    * the per-document stages (token count, quality score, mixture-gate
    * decision) are computed in the stream itself (narrow codegen'd
    * projections, the shape that keeps up with an ingest firehose),
    * the stream passes through the bounded-state dedup
    * (`dropDuplicatesWithinWatermark` on doc_id over a synthetic
    * ingest time — the at-least-once file/topic source's duplicate
    * guard, state evicted with the watermark), and each micro-batch's
    * survivors append to a staged store over which `foreachBatch`
    * re-runs the cross-document stages — canonical election over the
    * accumulated clusters, mixture gate, distributed-prefix-sum shard
    * packing — publishing the corpus-as-of-this-batch (EMIT CHANGES
    * over the build; the published layout is always a complete,
    * consistent pack of everything ingested so far).
    *
    * Cost shape: the per-batch stages are the ALREADY-verified batch
    * operators over the staged set (composition introduces no new
    * spellings); at production scale the re-pack amortizes by running
    * the election/pack on a cadence (every N batches) rather than
    * every micro-batch — the operators don't change, only the trigger.
    * On finite input the final publish must equal the batch
    * [[CurationQueries.corpusBuild]] — same oracle, so the streaming
    * path itself is hash-verified. */
  def streamCorpusBuild(s: SparkSession, d: String): DataFrame =
    streamCorpusBuildOver(s, schemaFrom = s"$d/documents.parquet",
      glob = s"$d/{documents}.parquet", repackEvery = 1,
      maxFilesPerTrigger = None)._1

  /** The generalized build [[streamCorpusBuild]] wraps: `repackEvery`
    * IS the production amortization knob the per-batch design
    * documents — staging ingest stays per-batch (cheap, idempotent),
    * but the O(staged) re-election + re-pack runs only every Nth batch
    * plus ONCE after the input drains, so the amortized cost per batch
    * is O(staged)/N while the final published corpus is byte-identical
    * to the every-batch (and the batch-oracle) result. Returns the
    * result plus the number of re-packs actually run (the spec pins
    * the cadence arithmetic). `maxFilesPerTrigger` bounds each
    * micro-batch's file intake — the fixture lever that makes a
    * multi-batch ingest out of a small directory. */
  private[graft] def streamCorpusBuildOver(
      s: SparkSession, schemaFrom: String, glob: String,
      repackEvery: Int, maxFilesPerTrigger: Option[Int],
      wide: Boolean = true): (DataFrame, Int) = {
    import graft.queries.{CurationQueries => CQ}
    require(repackEvery >= 1, s"repackEvery must be >= 1, got $repackEvery")
    // synthetic deterministic ingest time (doc_id seconds) for the
    // bounded dedup; the horizon must cover the id span on THIS data
    // or eviction would make the finite-input result batch-dependent
    val horizonDays = 60L
    val schema = Tables.schema(s, schemaFrom)
    // validated against the GLOB — the data the stream actually reads
    // (schemaFrom only pins the schema; the spec passes different
    // paths for the two)
    val maxIdRow = s.read.schema(schema).parquet(glob)
      .agg(max(col("doc_id"))).head
    require(!maxIdRow.isNullAt(0), s"no documents under $glob")
    require(maxIdRow.getLong(0) < horizonDays * 86400L,
      s"doc_id span ${maxIdRow.getLong(0)}s exceeds the $horizonDays-day " +
        "dedup horizon — the finite-input oracle would become " +
        "micro-batch-delivery-dependent")
    val reader0 = s.readStream.schema(schema)
    val reader = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
    val src0 = reader.parquet(glob)
    // widen between source and the per-row quality/token derivations
    // (the Widen.stream contract) — the dedupe key is the unique
    // doc_id, so emitted rows are arrival-order-independent
    val src = if (wide) graft.util.Widen.stream(src0) else src0
    val scored = src
      .select(col("doc_id"), col("source"), col("text"),
        size(graft.functions.TextShingles.tokens(col("text")))
          .cast(LongType).as("n_tokens"),
        TextQueries.qualityScoreCol.as("quality_score"),
        (CQ.mixBucket < CQ.mixKeepPct).as("mix_keep"),
        // base offset keeps every synthetic ts strictly above Spark's
        // initial watermark (epoch 0): doc_id 0 at exactly epoch 0
        // would be filtered as late by the <=-watermark gate
        timestamp_seconds(col("doc_id") + lit(1000000000L)).as("__ts"))
    val deduped = scored
      .withWatermark("__ts", s"$horizonDays days")
      .dropDuplicatesWithinWatermark("doc_id")
      .drop("__ts")
    // scratch dirs on shm where available (same rationale as the
    // checkpoints: finite-input runs need no durability, and the
    // staging set is re-read every re-pack)
    val staging = scratchDir("graft-scb-staging-")
    val outDir = scratchDir("graft-scb-out-")
    // @volatile: both are written on the stream-execution thread
    // (inside foreachBatch) and read on the caller thread after the
    // drain — the drain-time repack decision must not depend on
    // StreamExecution's incidental internal locking for its
    // happens-before edge
    @volatile var packs = 0
    // batches staged since the last re-pack — the drain-time publish
    // runs only when the cadence left staged work unpublished
    @volatile var dirty = false
    // cadence counts batches that actually STAGED documents, not
    // micro-batch ids: with a watermark in the plan Spark may run
    // no-data micro-batches (watermark-advance/eviction passes), and
    // an empty batch must neither dirty the staging set nor burn a
    // cadence slot — otherwise pack timing depends on trigger timing,
    // not on the data
    @volatile var stagedBatches = 0
    // the O(staged) half: full re-election + re-pack over everything
    // staged so far, published as one atomic-ish overwrite
    def repack(): Unit = {
      packs += 1
      dirty = false
      val staged = s.read.parquet(staging)
      val canon = CQ.canonicalDocsOver(staged,
          staged.select(col("doc_id"), col("quality_score")))
        .select(col("canonical_id").as("doc_id"))
      val kept = staged.filter(col("mix_keep")).join(canon, "doc_id")
      CQ.packShardsOver(kept.select(col("doc_id"), col("n_tokens")))
        .join(kept.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("start_offset"), col("shard_id"))
        .write.mode("overwrite").parquet(outDir)
    }
    // every scratch dir is reclaimed in the finally — a failed stream
    // (an error inside repack(), a bad input file) must not leak the
    // staged document copy into /dev/shm
    try {
      FiniteStream.drain(Leg(deduped, "append", sink = Batches { (b, id) =>
        // batch-keyed overwrite: a re-executed epoch (foreachBatch is
        // at-least-once) replaces its own staging subtree instead of
        // double-appending its documents — the same replay-idempotence
        // bar KeyedParquetSink holds via its manifest. The extra
        // discovered `batch` partition column is never selected in the
        // re-pack.
        if (!b.isEmpty) {
          b.write.mode("overwrite").parquet(s"$staging/batch=$id")
          dirty = true
          stagedBatches += 1
          if (stagedBatches % repackEvery == 0) repack()
        }
      }))
      // the drain-time publish: whatever the cadence skipped is folded
      // into one final O(staged) pass, so the published corpus never
      // depends on where the cadence boundary fell (skipped when the
      // last batch already published — the every-batch configuration
      // pays no extra pass)
      if (dirty || packs == 0) repack()
      // detach the result from the scratch dir (eager) before cleanup
      (s.read.parquet(outDir).localCheckpoint(), packs)
    } finally {
      deleteRecursively(staging)
      deleteRecursively(outDir)
    }
  }

  def entries: Seq[Entry] = Seq(
    Entry("stream_sessionize", streamSessionize, BatchSqlQueries.sessionizeSql),
    Entry("stream_corpus_build", streamCorpusBuild,
      CurationQueries.corpusBuildSql),
    Entry("stream_tumbling_agg", tumblingAgg, BatchSqlQueries.tumblingAggSql),
    Entry("stream_ohlc_bars", ohlcBars, BatchSqlQueries.ohlcBarsSql),
    Entry("stream_ohlc_final", ohlcFinal, BatchSqlQueries.ohlcBarsSql),
    Entry("stream_session_agg", sessionAgg, sessionAggSql),
    Entry("stream_dedup", streamDedup, streamDedupSql),
    Entry("stream_neardup", streamNeardup, streamNeardupSql),
    Entry("stream_cross_source", streamCrossSource,
      DedupQueries.crossSourceMatrixSql),
    Entry("stream_cross_source_banded", streamCrossSourceBanded,
      DedupQueries.crossSourceBandedSql),
    Entry("stream_containment", streamContainment, DedupQueries.containmentSql),
    Entry("stream_incremental", streamIncremental, DedupQueries.incrementalSql),
    Entry("stream_incremental_containment", streamIncrementalContainment,
      DedupQueries.incrementalContainmentSql),
    Entry("stream_index_delete", streamIndexDelete,
      DedupQueries.indexDeleteSql),
    Entry("stream_bpe_pairs", streamBpePairs, TextQueries.bpePairsSql),
    Entry("stream_classifier_score", streamClassifierScore,
      TextQueries.classifierScoreSql),
    Entry("stream_vocab_oov", streamVocabOov, TextQueries.vocabCoverageSql),
    Entry("stream_heavy_hitters", streamHeavyHitters,
      TextQueries.heavyHittersSql),
    Entry("stream_weighted_sample", streamWeightedSample,
      CurationQueries.weightedSampleSql),
    Entry("stream_scd2", streamScd2, BatchSqlQueries.scd2HistorySql),
    Entry("stream_dedup_bounded", streamDedupBounded, streamDedupBoundedSql),
    Entry("stream_latest_by_key", streamLatestByKey,
      PipelineQueries.latestByKeySql),
    Entry("stream_latest_k", streamLatestK,
      BatchSqlQueries.latestKByOffsetSql),
    Entry("stream_decsketch", streamDecsketch, streamDecsketchSql),
    Entry("stream_sketch_drift", streamSketchDrift,
      BatchSqlQueries.sketchDriftSql),
    Entry("stream_pattern_match", streamPatternMatch, streamPatternMatchSql),
    Entry("stream_pattern_sessions", streamPatternSessions,
      BatchSqlQueries.patternSessionsSql),
    Entry("stream_sax_motif", streamSaxMotif, BatchSqlQueries.saxMotifSql),
    Entry("stream_sax_similarity", streamSaxSimilarity,
      BatchSqlQueries.saxSimilaritySql),
    Entry("stream_lang_drift", streamLangDrift, CurationQueries.langDriftSql),
    Entry("stream_fertility_drift", streamFertilityDrift,
      TextQueries.fertilityDriftSql),
    Entry("stream_static_join", streamStaticJoin, streamStaticJoinSql),
    Entry("stream_hopping_agg", hoppingAgg, BatchSqlQueries.hoppingAggSql),
    Entry("stream_insert_into", streamInsertInto, streamInsertIntoSql),
    Entry("stream_tumbling_final", tumblingFinal,
      BatchSqlQueries.tumblingAggSql),
    Entry("stream_hopping_final", hoppingFinal, BatchSqlQueries.hoppingAggSql),
    Entry("stream_session_final", sessionFinal, sessionAggSql),
    Entry("stream_interval_join", streamIntervalJoin,
      PipelineQueries.intervalJoinSql),
    Entry("stream_interval_left", streamIntervalLeft, streamIntervalLeftSql),
    Entry("stream_interval_full", streamIntervalFull, streamIntervalFullSql),
    Entry("stream_pipeline_golden", pipelineGolden, pipelineGoldenSql))
}
