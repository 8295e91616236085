package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Relational
import graft.queries.Catalog.Entry
import graft.streaming.FiniteStream

/** Multimodal-column plumbing: media payloads ride as opaque `binary`
  * columns with typed metadata extracted by a partition-level decode
  * pass (`mapPartitions` over an iterator of byte arrays — the Scala
  * analog of a batched decode UDF; one codec init per partition, not
  * per row).
  *
  * The synthetic corpus has no real media bytes (and the DuckDB oracle
  * must reproduce the decode), so the CATALOG queries use a
  * clearly-marked DETERMINISTIC STUB (dimensions derived from an MD5 of
  * the payload). The real decode exists alongside it: [[imageMeta]]
  * extracts true header metadata via JDK ImageIO through the identical
  * partition-batched plumbing, proven on real PNG/BMP payloads by
  * MultimodalCodecSpec. At 100 TB this shape is the right one:
  * payloads never shuffle (all transforms are narrow), header-only
  * reads skip pixel decoding, and metadata extraction is
  * embarrassingly parallel over input splits.
  */
object MultimodalQueries {

  case class MediaMeta(doc_id: Long, n_bytes: Long, width: Long,
                       height: Long, format: String)

  /** STUB decode: a real implementation would parse the image header
    * here (e.g. PNG IHDR). Deterministic fake: dims from the payload's
    * MD5, format from length mod 3. */
  private def decodeStub(id: Long, payload: Array[Byte]): MediaMeta = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(payload).map("%02x".format(_)).mkString
    val w = 64 + Integer.parseInt(hex.substring(0, 3), 16) % 960
    val h = 64 + Integer.parseInt(hex.substring(3, 6), 16) % 960
    val fmt = (payload.length % 3) match {
      case 0 => "png"; case 1 => "jpeg"; case _ => "webp"
    }
    MediaMeta(id, payload.length.toLong, w.toLong, h.toLong, fmt)
  }

  /** REAL decode path: JDK ImageIO, whose PNG/GIF/BMP/JPEG readers
    * ship with every JVM — no external codec needed. Identical
    * partition-batched `mapPartitions` shape as the catalog query, but
    * the metadata comes from the actual image header: the reader is
    * asked only for format/width/height, which parses the header
    * without decoding pixels (the cheap pass a 100 TB media crawl runs
    * first). Payloads no installed reader understands yield a null
    * format and -1 dims rather than failing the partition. The catalog
    * entry stays on the deterministic stub because the synthetic corpus
    * has no real media bytes and the DuckDB oracle must reproduce the
    * decode — this is the production function, exercised by
    * MultimodalCodecSpec against real in-memory PNG/BMP payloads. */
  def imageMeta(images: DataFrame, idCol: String,
                payloadCol: String): DataFrame = {
    val s = images.sparkSession
    import s.implicits._
    images.select(col(idCol).cast(LongType), col(payloadCol).cast(BinaryType))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val in = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(in)
          if (readers.hasNext) {
            val r = readers.next()
            try {
              r.setInput(in)
              MediaMeta(id, bytes.length.toLong, r.getWidth(0).toLong,
                r.getHeight(0).toLong, r.getFormatName.toLowerCase)
            } finally r.dispose()
          } else MediaMeta(id, bytes.length.toLong, -1L, -1L, null)
        } finally in.close()
      })
      .toDF()
  }

  case class AudioMeta(doc_id: Long, n_bytes: Long, sample_rate: Double,
                       channels: Long, frames: Long, duration_sec: Double)

  /** REAL audio decode path, mirroring [[imageMeta]]: JDK
    * `javax.sound.sampled` parses WAV/AIFF/AU headers in every JVM.
    * Header-only (frame count, rate, channels — no sample decode);
    * unreadable payloads degrade to -1/null rows. Exercised on real
    * in-memory WAV payloads by MultimodalCodecSpec. */
  def audioMeta(audio: DataFrame, idCol: String,
                payloadCol: String): DataFrame = {
    val s = audio.sparkSession
    import s.implicits._
    audio.select(col(idCol).cast(LongType), col(payloadCol).cast(BinaryType))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        try {
          val fmt = javax.sound.sampled.AudioSystem.getAudioFileFormat(
            new java.io.ByteArrayInputStream(bytes))
          val af = fmt.getFormat
          val frames = fmt.getFrameLength.toLong
          AudioMeta(id, bytes.length.toLong, af.getSampleRate.toDouble,
            af.getChannels.toLong, frames,
            if (af.getFrameRate > 0) frames / af.getFrameRate.toDouble else -1.0)
        } catch {
          // NonFatal, not just the checked pair: a malformed payload
          // must degrade to the sentinel row, never fail the job
          // (codec paths also throw runtime exceptions)
          case scala.util.control.NonFatal(_) =>
            AudioMeta(id, bytes.length.toLong, -1.0, -1L, -1L, -1.0)
        }
      })
      .toDF()
  }

  /** Binary ingest + partition-batched metadata extraction. The text
    * column stands in for a media payload (UTF-8 bytes). */
  def mediaMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.sources.Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeStub(id, bytes) })
      .toDF()
  }

  val mediaMetaSql: String =
    """SELECT doc_id,
      |  CAST(strlen(text) AS BIGINT) AS n_bytes,
      |  CAST(64 + (('0x' || substr(md5(text), 1, 3))::INT % 960) AS BIGINT) AS width,
      |  CAST(64 + (('0x' || substr(md5(text), 4, 3))::INT % 960) AS BIGINT) AS height,
      |  CASE CAST(strlen(text) % 3 AS INT) WHEN 0 THEN 'png'
      |       WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
      |FROM documents""".stripMargin

  case class DocEmbed(doc_id: Long, embedding: Seq[Double])

  /** Feature-extraction plumbing: payload bytes → embedding vector via
    * a partition-batched extractor (one "model" per partition, the
    * mapInPandas shape). The extractor is a DETERMINISTIC STUB
    * (md5-derived 8-dim vector in [0,1]); the Spark plumbing — binary
    * in, typed vector column out, no shuffle — is the real path an
    * image/audio embedder runs at 100 TB.
    *
    * The verified output is the vector in long form (doc_id, dim, val):
    * the oracle gate hashes rows after a column sort, so the final
    * projection must be scalar columns (a raw array column is not
    * sortable driver-side); the vector itself still flows through the
    * plan as one typed column. */
  def embedStub(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.sources.Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5") // per partition
        it.map { case (id, bytes) =>
          md.reset()
          val dg = md.digest(bytes)
          DocEmbed(id, (0 until 8).map(i => (dg(i) & 0xff) / 255.0))
        }
      }
      .toDF()
      .select(col("doc_id"),
        posexplode(col("embedding")).as(Seq("dim", "val")))
      .select(col("doc_id"), col("dim").cast(LongType).as("dim"),
        round(col("val"), 6).as("val"))
  }

  val embedStubSql: String =
    """SELECT doc_id, CAST(i - 1 AS BIGINT) AS dim,
      |  round((('0x' || substr(md5(text), 2*i-1, 2))::INT) / 255.0, 6) AS val
      |FROM documents
      |CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) dims""".stripMargin

  /** Frame-sampling plumbing: treat every 1 KiB slice of the payload as
    * a "frame", sample every 4th — pure column ops on binary
    * (substring on bytes), no shuffle. Output is (doc_id, frame_no,
    * frame_bytes-length) — the schema a video pipeline hands to a
    * feature extractor. */
  def frameSample(s: SparkSession, d: String): DataFrame =
    graft.sources.Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            greatest(floor((length(col("payload")) - 1) / 256).cast(IntegerType),
              lit(0)), lit(4)),
          off => substring(col("payload"), (off * 256 + 1).cast(IntegerType),
            lit(256))))
          .as(Seq("frame_no", "frame")))
      .select(col("doc_id"), col("frame_no").cast(LongType).as("frame_no"),
        length(col("frame")).cast(LongType).as("frame_bytes"))

  val frameSampleSql: String =
    """WITH p AS (SELECT doc_id, text, CAST(strlen(text) AS BIGINT) n FROM documents),
      |f AS (
      |  SELECT doc_id, n,
      |         unnest(generate_series(0, CAST((n-1)/256 AS BIGINT), 4)) o
      |  FROM p)
      |SELECT doc_id,
      |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY o) - 1 AS BIGINT) AS frame_no,
      |  CAST(least(256, n - o*256) AS BIGINT) AS frame_bytes
      |FROM f""".stripMargin

  /** Per-modality dataset card — the media section of a corpus
    * release: items, bytes, and the dimension envelope per format.
    * Composes [[mediaMeta]] (the metadata pass is the only payload
    * touch; the rollup is a tiny grouped agg over its output), exactly
    * how a 100 TB media card is produced: one header-only scan, then
    * counters. All BIGINT. */
  def modalityCard(s: SparkSession, d: String): DataFrame =
    mediaMeta(s, d)
      .groupBy(col("format"))
      .agg(count(lit(1)).cast(LongType).as("n_items"),
        sum(col("n_bytes")).cast(LongType).as("total_bytes"),
        min(col("width")).as("min_width"),
        max(col("width")).as("max_width"),
        min(col("height")).as("min_height"),
        max(col("height")).as("max_height"))

  /** Embeds [[mediaMetaSql]] so the decode spelling cannot drift. */
  val modalityCardSql: String =
    s"""WITH mm AS ($mediaMetaSql)
       |SELECT format, CAST(COUNT(*) AS BIGINT) AS n_items,
       |       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       |       min(width) AS min_width, max(width) AS max_width,
       |       min(height) AS min_height, max(height) AS max_height
       |FROM mm GROUP BY format""".stripMargin

  /** Resolution floor for [[resolutionGate]], pixels per side. */
  private val MinSide = 256L

  /** Media quality gate — the standard resolution/size filter a
    * multimodal curation pass runs before any expensive decode: keep
    * items whose BOTH sides clear [[MinSide]] (thumbnails, icons, and
    * tracking pixels drop). A pure per-row filter over the header
    * metadata — the payload bytes are never touched beyond the header
    * pass, and the kept set feeds the embed/frame stages. */
  def resolutionGate(s: SparkSession, d: String): DataFrame =
    mediaMeta(s, d)
      .filter(col("width") >= MinSide && col("height") >= MinSide)
      .select(col("doc_id"), col("format"), col("width"), col("height"))

  val resolutionGateSql: String =
    s"""WITH mm AS ($mediaMetaSql)
       |SELECT doc_id, format, width, height
       |FROM mm WHERE width >= $MinSide AND height >= $MinSide""".stripMargin

  // ---------------------------------------------------------------
  // Perceptual-hash near-duplicate detection: text has exact/near/
  // semantic dedup; this gives media payloads the same.
  // The real path is [[imageAHash]] — decode, average-pool to an 8×8
  // luma grid, threshold against the mean, 64-bit aHash packed as
  // four 16-bit hamming BANDS (proven on real in-memory images in
  // MultimodalCodecSpec: a lightly perturbed copy lands within the
  // hamming gate, a different image far outside). The catalog query
  // runs the IDENTICAL band/block/verify pipeline over a
  // deterministic stand-in grid (the synthetic corpus has no real
  // media bytes, and the DuckDB oracle must reproduce the decode):
  // payload features hash-bucketed into 64 cells, count per cell —
  // the same average-pooling shape, locality-preserving under small
  // payload edits.
  // ---------------------------------------------------------------

  /** `decoded` is the EXPLICIT presence flag from the decode stage:
    * an all-zero band pack is ambiguous — it can mean
    * "payload absent/undecodable" OR a genuinely uniform image whose
    * every cell sits at the mean — so downstream absence gates must
    * read this flag, never infer absence from zero signatures. */
  case class AHashBands(id: Long, b0: Long, b1: Long, b2: Long, b3: Long,
                        decoded: Boolean)

  /** REAL perceptual hash: decode via ImageIO, average-pool the luma
    * plane to an 8×8 grid, aHash bit = cell mean > global mean, the
    * 64 bits packed as four 16-bit band values (the blocking keys of
    * [[phashNearDup]]'s join and the popcount operands of its verify
    * leg). Hamming distance between two payloads =
    * Σ_j bit_count(b_j XOR b'_j). Undecodable payloads → all-zero
    * bands (blocked on nothing, since zero bands are excluded from
    * candidate generation). Partition-batched like [[imageMeta]]. */
  def imageAHash(images: DataFrame, idCol: String,
                 payloadCol: String): DataFrame = {
    val s = images.sparkSession
    import s.implicits._
    images.select(col(idCol).cast(LongType), col(payloadCol).cast(BinaryType))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null || img.getWidth < 1 || img.getHeight < 1)
          AHashBands(id, 0L, 0L, 0L, 0L, decoded = false)
        else {
          // average-pool luma to 8x8: each cell averages its pixel block
          val cells = new Array[Long](64)
          val counts = new Array[Long](64)
          val (w, h) = (img.getWidth, img.getHeight)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val luma = ((rgb >> 16) & 0xff) * 299L +
                ((rgb >> 8) & 0xff) * 587L + (rgb & 0xff) * 114L
              val c = (y * 8 / h) * 8 + (x * 8 / w)
              cells(c) += luma
              counts(c) += 1
              x += 1
            }
            y += 1
          }
          val means = cells.indices.map(i =>
            if (counts(i) == 0) 0L else cells(i) / counts(i))
          val mu = means.sum / 64
          val bands = new Array[Long](4)
          means.zipWithIndex.foreach { case (m, i) =>
            if (m > mu) bands(i / 16) |= 1L << (i % 16)
          }
          AHashBands(id, bands(0), bands(1), bands(2), bands(3),
            decoded = true)
        }
      })
      .toDF()
  }

  /** Hamming gate for verified near-dup pairs (of 64 bits). */
  private val HammingMax = 6L

  /** Catalog near-dup query over the deterministic payload grid:
    * grid cell = md5-bucket of each payload bigram feature (64 cells,
    * count per cell — absent cells are implicit zeros, so the sparse
    * relation IS the grid); aHash bit = count > floor-mean (mean over
    * all 64 cells = total features DIV 64 — a per-row scalar, no
    * densify pass); bands = four 16-bit packs. Candidates come ONLY
    * from the banded equi-join (docs sharing a non-zero 16-bit band —
    * the `dedup_simhash_pairs` blocking pattern; zero bands carry no
    * signal and would become the skew bucket, so they never block);
    * the verify leg joins the ≤|cand| pairs back to the 4-band hash
    * relation and gates on Σ bit_count(xor) ≤ 6. Never all-pairs, at
    * any corpus size. */
  /** The (doc_id, band_no, band_val) perceptual-hash band relation,
    * GROUPED spelling — explode the features, hash-aggregate the grid
    * two-phase (map-side partials collapse each doc to ≤64 cells
    * before any shuffle), pack bands. O(features) CPU — the fast
    * batch path (the narrow spelling below pays O(64·features)
    * comparisons; measured 3× slower at sf0.1). NOT streamable:
    * grouped aggregation mid-stream forbids downstream stateful ops. */
  private[graft] def phashBandsBatch(docs0: DataFrame): DataFrame = {
    val bg = graft.util.Widen(docs0)
      .select(col("doc_id"),
        graft.functions.TextShingles.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), (size(col("w")) - 1).cast(LongType).as("n_feat"),
        explode(zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (x, y) => concat(x, lit(" "), y))).as("bigram"))
    bg
      .select(col("doc_id"), col("n_feat"),
        (graft.functions.Md5Key.column(col("bigram")) % 64).as("cell"))
      .groupBy(col("doc_id"), col("n_feat"), col("cell"))
      .agg(count(lit(1)).as("b"))
      .withColumn("bit", (col("b") > expr("n_feat DIV 64")).cast(LongType))
      .groupBy(col("doc_id"), expr("cell DIV 16").as("band_no"))
      .agg(sum(expr("bit * shiftleft(1L, CAST(cell % 16 AS INT))"))
        .as("band_val"))
  }

  /** The same band relation as a NARROW per-row pass — the whole
    * 64-cell grid is a property of one document, so it can compute
    * inside the row (one md5 per feature into a cell-id array, each
    * band's 16 bits from bounded filter-counts): no explode, no
    * grouped aggregation, so it plans on an UNBOUNDED source — the
    * streaming registry's input. Costs O(64·features) comparisons per
    * row, which is why the batch query uses [[phashBandsBatch]].
    * Output-identical to the grouped spelling (zero bands included
    * either way downstream of the coalesce/filter discipline) — both
    * legs verify against the same oracle CTEs at every SF. */
  private[graft] def phashBands(docs0: DataFrame): DataFrame =
    graft.util.Widen(docs0)
      .select(col("doc_id"),
        graft.functions.TextShingles.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .withColumn("bigrams", zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (x, y) => concat(x, lit(" "), y)))
      // one md5 per feature; cells are 0..63
      .withColumn("cellids", expr(
        "transform(bigrams, b -> " +
          "CAST(conv(substring(md5(b), 1, 8), 16, 10) AS BIGINT) % 64)"))
      .withColumn("mu", expr("CAST(size(bigrams) AS BIGINT) DIV 64"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 3), j -> aggregate(sequence(0, 15), 0L, " +
          "(acc, k) -> acc + IF(" +
          "size(filter(cellids, c -> c = CAST(j * 16 + k AS BIGINT))) > mu, " +
          "shiftleft(1L, k), 0L)))"))
        .as(Seq("band_no", "band_val")))
      .select(col("doc_id"), col("band_no").cast(LongType).as("band_no"),
        col("band_val"))

  /** The banded near-dup pipeline over ANY (doc_id, band_no, band_val)
    * 4x16-bit hash-band relation — blocking candidates from the
    * non-zero-band equi-join, exact popcount verify at the gate.
    * Shared by the image/payload perceptual hash and the audio
    * fingerprint, so the no-cartesian discipline has one spelling. */
  private[graft] def bandedNearDup(bands: DataFrame): DataFrame = {
    val h = packBands4(bands)
    bandedCandidates(bands)
      .join(h.select(col("doc_id").as("doc_a"), col("b0").as("xb0"),
        col("b1").as("xb1"), col("b2").as("xb2"), col("b3").as("xb3")),
        Seq("doc_a"))
      .join(h.select(col("doc_id").as("doc_b"), col("b0").as("yb0"),
        col("b1").as("yb1"), col("b2").as("yb2"), col("b3").as("yb3")),
        Seq("doc_b"))
      .withColumn("hamming", expr(
        "CAST(bit_count(xb0 ^ yb0) + bit_count(xb1 ^ yb1) + " +
          "bit_count(xb2 ^ yb2) + bit_count(xb3 ^ yb3) AS BIGINT)"))
      .filter(col("hamming") <= HammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Blocking-candidate generation over ANY (doc_id, band_no,
    * band_val) relation — the non-zero band equi-join, doc_a < doc_b,
    * distinct pairs. Extracted from [[bandedNearDup]] so the
    * cross-modal PAIR operator blocks through the same (and only)
    * no-cartesian spelling, just over a wider band_no range. */
  private[graft] def bandedCandidates(bands: DataFrame): DataFrame = {
    val nz = bands.filter(col("band_val") =!= 0L)
    nz.select(col("doc_id").as("doc_a"), col("band_no"), col("band_val"))
      .join(nz.select(col("doc_id").as("doc_b"), col("band_no"),
        col("band_val")), Seq("band_no", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Per-document 4-wide packed band vector (b0..b3, zero-coalesced)
    * — the popcount operand of every hamming verify. */
  private[graft] def packBands4(bands: DataFrame): DataFrame =
    bands.groupBy(col("doc_id"))
      .agg(
        coalesce(max(when(col("band_no") === 0, col("band_val"))), lit(0L)).as("b0"),
        coalesce(max(when(col("band_no") === 1, col("band_val"))), lit(0L)).as("b1"),
        coalesce(max(when(col("band_no") === 2, col("band_val"))), lit(0L)).as("b2"),
        coalesce(max(when(col("band_no") === 3, col("band_val"))), lit(0L)).as("b3"))

  def phashNearDup(s: SparkSession, d: String): DataFrame =
    bandedNearDup(phashBandsBatch(graft.sources.Tables.documents(s, d)))

  /** The band-relation CTEs (through `bands`) shared by the batch
    * near-dup oracle and the streaming registry oracle. */
  private val phashBandsCteSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS a
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, CAST(len(a) - 1 AS BIGINT) AS n_feat,
       |         unnest(a[:len(a)-1]) || ' ' || unnest(a[2:]) AS bigram
       |  FROM w WHERE len(a) >= 2),
       |grid AS (
       |  SELECT doc_id, n_feat,
       |         CAST(${graft.functions.Md5Key.sql("bigram")} % 64 AS BIGINT)
       |           AS cell,
       |         COUNT(*) AS b
       |  FROM bg GROUP BY 1, 2, 3),
       |bits AS (
       |  SELECT doc_id, cell,
       |         CASE WHEN b > n_feat // 64 THEN 1 ELSE 0 END AS bit
       |  FROM grid),
       |bands AS (
       |  SELECT doc_id, CAST(cell // 16 AS BIGINT) AS band_no,
       |         CAST(SUM(bit * (1 << CAST(cell % 16 AS INT))) AS BIGINT)
       |           AS band_val
       |  FROM bits GROUP BY 1, 2)""".stripMargin

  val phashNearDupSql: String =
    s"""$phashBandsCteSql,
       |h AS (
       |  SELECT doc_id,
       |         COALESCE(MAX(CASE WHEN band_no=0 THEN band_val END), 0) AS b0,
       |         COALESCE(MAX(CASE WHEN band_no=1 THEN band_val END), 0) AS b1,
       |         COALESCE(MAX(CASE WHEN band_no=2 THEN band_val END), 0) AS b2,
       |         COALESCE(MAX(CASE WHEN band_no=3 THEN band_val END), 0) AS b3
       |  FROM bands GROUP BY 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_no = b.band_no AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id
       |  WHERE a.band_val <> 0)
       |SELECT doc_a, doc_b,
       |       CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
       |          + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
       |         AS BIGINT) AS hamming
       |FROM cand c JOIN h x ON x.doc_id = c.doc_a
       |            JOIN h y ON y.doc_id = c.doc_b
       |WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
       |    + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
       |    <= $HammingMax""".stripMargin

  /** Streaming twin of the perceptual near-dup — the INGEST-time
    * gate: as payloads arrive, each of a document's non-zero hash
    * bands registers in its (band_no, band_val) bucket
    * ([[StreamingQueries.neardupCore]], the stream_neardup claim-log
    * registry — state per bucket is one tuple); contested buckets
    * emit their member rows, and the finalize-time min-doc_id
    * election flags every non-owner with the count of its collided
    * bands. This is candidate-level dedup (band
    * collision = perceptual near-dup candidate) — the batch query's
    * hamming verify runs at compaction time on the flagged set. Zero
    * bands never register (no signal — the batch exclusion, same
    * reason). Oracle: the EXISTS-earlier spelling over the same band
    * CTE — matched under ANY arrival order via the claim-log +
    * finalize-election registry ([[StreamingQueries.neardupCore]] /
    * [[StreamingQueries.electDupBands]]). */
  def streamPhashNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = StreamingQueries.docStream(s, d, wide = true)
    val bands = phashBands(docs)
      .filter(col("band_val") =!= 0L)
      .select(col("doc_id"), col("band_no").cast("int").as("band"),
        col("band_val").cast(StringType).as("sig"))
    StreamingQueries.electDupBands(StreamingQueries.runToTable(
      StreamingQueries.neardupCore(bands), "append"))
  }

  val streamPhashNearDupSql: String =
    s"""$phashBandsCteSql
       |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_bands
       |FROM bands a
       |WHERE a.band_val <> 0
       |  AND EXISTS (SELECT 1 FROM bands b
       |              WHERE b.band_no = a.band_no
       |                AND b.band_val = a.band_val AND b.band_val <> 0
       |                AND b.doc_id < a.doc_id)
       |GROUP BY a.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // Audio perceptual fingerprint: images have aHash near-dup; this
  // gives audio the same. The
  // hash is an 8-frame x 8-sequency WALSH band-energy sign hash: pool
  // the sample sequence to a 64-slot grid of slice sums (time frames),
  // correlate each frame against the 8 square-wave (Walsh/sequency)
  // basis functions — the integer-exact stand-in for a DFT band split,
  // libm-free so both engines compute it bit-for-bit — and set bit
  // (frame, band) when that coefficient's magnitude exceeds the mean
  // magnitude (cross-multiplied: |c|*64 > sum|c| — no division
  // anywhere). 64 bits pack as four 16-bit hamming bands, and near-dup
  // runs the SAME banded blocking + popcount verify as the image path
  // ([[bandedNearDup]]). The real leg ([[audioFingerprint]]) decodes
  // WAV/AIFF PCM via javax.sound onto the same grid, proven on real
  // in-memory tones in MultimodalCodecSpec; the catalog leg runs the
  // identical math over a deterministic sample stand-in (one
  // md5-derived signed-byte sample per token — the corpus has no real
  // audio bytes and the DuckDB oracle must reproduce the decode).
  // ---------------------------------------------------------------

  /** The (doc_id, band_no, band_val) audio-fingerprint band relation —
    * a NARROW per-row pass (the whole 64-cell grid is a property of
    * one document: pooling, Walsh, threshold, and packing all compute
    * inside the row), so ONE spelling serves the batch query and the
    * streaming registry's unbounded input. Cost is O(samples + 64·8)
    * per row. */
  private[graft] def audioFpBands(docs0: DataFrame): DataFrame =
    graft.util.Widen(docs0)
      .select(col("doc_id"),
        graft.functions.TextShingles.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
      // The whole grid computes in ONE nested expression, each
      // intermediate bound EXACTLY ONCE via the single-element-array
      // lambda trick (transform(array(X), x -> …) evaluates X once and
      // binds it as the lambda variable). Plain withColumn chaining is
      // a trap here: CollapseProject inlines each intermediate into
      // every reference site, so the samples would re-hash 64×, the
      // pool re-evaluate 512×, and the Walsh grid re-evaluate ~80×
      // per row — measured as a multi-hour interpreted-HOF stall at
      // sf1 where the bound form runs in seconds.
      //   smp  : one signed-byte sample per token (md5 grid)
      //   p    : 64 time-slice sums (band energies are sums)
      //   c    : 8 frames × 8 sequency Walsh coefficients
      //   asum : Σ|c| — the threshold normalizer
      //   out  : four 16-bit sign-bit packs (|c|·64 > Σ|c|)
      .select(col("doc_id"), posexplode(expr(
        "element_at(transform(array(" +
          "transform(w, t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) " +
          "AS BIGINT) % 256 - 128)), smp -> " +
        "element_at(transform(array(" +
          "transform(sequence(0, 63), g -> aggregate(slice(smp, " +
          "CAST(g * size(smp) DIV 64 AS INT) + 1, " +
          "CAST((g + 1) * size(smp) DIV 64 - g * size(smp) DIV 64 AS INT)), " +
          "0L, (acc, x) -> acc + x))), p -> " +
        "element_at(transform(array(" +
          "transform(sequence(0, 63), k -> aggregate(sequence(0, 7), 0L, " +
          "(acc, j) -> acc + element_at(p, CAST(k DIV 8 AS INT) * 8 + j + 1) " +
          "* (1 - 2 * pmod(bit_count(j & pmod(k, 8)), 2))))), c -> " +
        "element_at(transform(array(" +
          "aggregate(c, 0L, (acc, x) -> acc + abs(x))), asum -> " +
          "transform(sequence(0, 3), j -> aggregate(sequence(0, 15), 0L, " +
          "(acc, i) -> acc + IF(abs(element_at(c, j * 16 + i + 1)) * 64 " +
          "> asum, shiftleft(1L, i), 0L)))" +
        "), 1)), 1)), 1)), 1)"))
        .as(Seq("band_no", "band_val")))
      .select(col("doc_id"), col("band_no").cast(LongType).as("band_no"),
        col("band_val"))

  /** Audio near-dup pairs over the fingerprint bands — the
    * [[bandedNearDup]] pipeline: banded equi-join candidates, popcount
    * verify ≤ [[HammingMax]], never all-pairs. */
  def audioFpNearDup(s: SparkSession, d: String): DataFrame =
    bandedNearDup(audioFpBands(graft.sources.Tables.documents(s, d)))

  /** The band CTEs shared by the audio near-dup oracle and its
    * streaming-registry oracle. */
  private val audioFpBandsCteSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS a
       |  FROM documents),
       |smp AS (
       |  SELECT doc_id, CAST(len(a) AS BIGINT) AS n,
       |         list_transform(a, t ->
       |           ('0x' || substr(md5(t), 1, 8))::BIGINT % 256 - 128) AS s
       |  FROM w WHERE len(a) >= 1),
       |pool AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(0, 63), g ->
       |           COALESCE(list_sum(
       |             s[CAST(g * n // 64 + 1 AS BIGINT) :
       |               CAST((g + 1) * n // 64 AS BIGINT)]), 0)) AS p
       |  FROM smp),
       |wal AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(0, 63), k ->
       |           list_sum(list_transform(generate_series(0, 7), j ->
       |             p[(k // 8) * 8 + j + 1]
       |               * (1 - 2 * (bit_count(j & (k % 8)) % 2))))) AS c
       |  FROM pool),
       |ab AS (
       |  SELECT doc_id, c,
       |         list_sum(list_transform(c, x -> abs(x))) AS asum
       |  FROM wal),
       |bands AS (
       |  SELECT doc_id, CAST(t.j AS BIGINT) AS band_no,
       |         CAST(list_sum(list_transform(generate_series(0, 15), i ->
       |           CASE WHEN abs(c[t.j * 16 + i + 1]) * 64 > asum
       |                THEN (1 << CAST(i AS INT)) ELSE 0 END)) AS BIGINT)
       |           AS band_val
       |  FROM ab, (SELECT unnest(generate_series(0, 3)) AS j) t)""".stripMargin

  val audioFpNearDupSql: String =
    s"""$audioFpBandsCteSql,
       |h AS (
       |  SELECT doc_id,
       |         COALESCE(MAX(CASE WHEN band_no=0 THEN band_val END), 0) AS b0,
       |         COALESCE(MAX(CASE WHEN band_no=1 THEN band_val END), 0) AS b1,
       |         COALESCE(MAX(CASE WHEN band_no=2 THEN band_val END), 0) AS b2,
       |         COALESCE(MAX(CASE WHEN band_no=3 THEN band_val END), 0) AS b3
       |  FROM bands GROUP BY 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_no = b.band_no AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id
       |  WHERE a.band_val <> 0)
       |SELECT doc_a, doc_b,
       |       CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
       |          + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
       |         AS BIGINT) AS hamming
       |FROM cand c JOIN h x ON x.doc_id = c.doc_a
       |            JOIN h y ON y.doc_id = c.doc_b
       |WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
       |    + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
       |    <= $HammingMax""".stripMargin

  /** Streaming twin — the ingest-time audio near-dup gate, exactly the
    * [[streamPhashNearDup]] shape: [[audioFpBands]] is already a
    * narrow per-row pass, so it plans on the unbounded source
    * directly; non-zero bands claim (band_no, band_val) buckets
    * first-wins, later collisions flag with their collided-band
    * count; ownership is the finalize-time min-doc_id election, so
    * the shared oracle matches under ANY arrival order
    * ([[StreamingQueries.electDupBands]]). */
  def streamAudioFp(s: SparkSession, d: String): DataFrame = {
    val docs = StreamingQueries.docStream(s, d, wide = true)
    val bands = audioFpBands(docs)
      .filter(col("band_val") =!= 0L)
      .select(col("doc_id"), col("band_no").cast("int").as("band"),
        col("band_val").cast(StringType).as("sig"))
    StreamingQueries.electDupBands(StreamingQueries.runToTable(
      StreamingQueries.neardupCore(bands), "append"))
  }

  val streamAudioFpSql: String =
    s"""$audioFpBandsCteSql
       |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_bands
       |FROM bands a
       |WHERE a.band_val <> 0
       |  AND EXISTS (SELECT 1 FROM bands b
       |              WHERE b.band_no = a.band_no
       |                AND b.band_val = a.band_val AND b.band_val <> 0
       |                AND b.doc_id < a.doc_id)
       |GROUP BY a.doc_id""".stripMargin

  /** The scalar 8x8 Walsh band-energy sign hash over ANY integer
    * sample sequence — the one spelling of the fingerprint math,
    * consumed by the REAL decode leg below; [[audioFpBands]] computes
    * the identical function columnar-side (both verified against the
    * same expectations in MultimodalCodecSpec). */
  private[graft] def walshBands(samples: Array[Long]): Array[Long] = {
    val n = samples.length
    val p = new Array[Long](64)
    var g = 0
    while (g < 64) {
      var i = (g.toLong * n / 64).toInt
      val end = ((g + 1).toLong * n / 64).toInt
      var acc = 0L
      while (i < end) { acc += samples(i); i += 1 }
      p(g) = acc
      g += 1
    }
    val c = new Array[Long](64)
    var k = 0
    while (k < 64) {
      var acc = 0L
      var j = 0
      while (j < 8) {
        val sign =
          if (java.lang.Integer.bitCount(j & (k % 8)) % 2 == 0) 1L else -1L
        acc += p((k / 8) * 8 + j) * sign
        j += 1
      }
      c(k) = acc
      k += 1
    }
    var asum = 0L
    c.foreach(x => asum += math.abs(x))
    val bands = new Array[Long](4)
    var i = 0
    while (i < 64) {
      if (math.abs(c(i)) * 64 > asum) bands(i / 16) |= 1L << (i % 16)
      i += 1
    }
    bands
  }

  /** REAL audio fingerprint: decode 16-bit signed PCM (WAV/AIFF/AU via
    * javax.sound — every JVM), take channel 0 onto the deterministic
    * sample grid, hash with [[walshBands]]. Partition-batched like
    * [[audioMeta]]; undecodable or non-16-bit payloads degrade to
    * all-zero bands (blocked on nothing — zero bands never generate
    * candidates). Exercised on real in-memory tones in
    * MultimodalCodecSpec: a lightly perturbed copy lands within the
    * hamming gate, a different signal far outside. */
  def audioFingerprint(audio: DataFrame, idCol: String,
                       payloadCol: String): DataFrame = {
    val s = audio.sparkSession
    import s.implicits._
    audio.select(col(idCol).cast(LongType), col(payloadCol).cast(BinaryType))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        var decoded = false
        val bands =
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            try {
              val f = ais.getFormat
              if (f.getSampleSizeInBits != 16 ||
                  f.getEncoding !=
                    javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
                new Array[Long](4)
              else {
                val data = ais.readAllBytes()
                val fs = f.getFrameSize
                val nf = data.length / fs
                val samples = new Array[Long](nf)
                var i = 0
                while (i < nf) {
                  val off = i * fs // channel 0 = first 2 bytes of frame
                  val sm =
                    if (f.isBigEndian)
                      ((data(off) << 8) | (data(off + 1) & 0xff)).toShort
                    else
                      ((data(off + 1) << 8) | (data(off) & 0xff)).toShort
                  samples(i) = sm.toLong
                  i += 1
                }
                decoded = true
                walshBands(samples)
              }
            } finally ais.close()
          } catch {
            // NonFatal: undecodable payloads degrade to
            // zero bands (excluded from candidates), never fail the job
            case scala.util.control.NonFatal(_) => new Array[Long](4)
          }
        AHashBands(id, bands(0), bands(1), bands(2), bands(3), decoded)
      })
      .toDF()
  }

  // ---------------------------------------------------------------
  // Video / frame-sequence near-dup: image and audio near-dup are
  // per-item; video adds the TEMPORAL dimension. A video is a FRAME SEQUENCE
  // (the [[frameSample]] schema a real pipeline produces with ffmpeg:
  // one row per sampled frame); each frame gets an 8-bit perceptual
  // signature (the aHash idea pooled to 8 cells), and the blocking
  // keys are TEMPORAL 2-SHINGLES of the signature sequence: band j =
  // sig_j·256 + sig_{j+1} over the first 5 frames — a candidate must
  // match two CONSECUTIVE frames' signatures exactly, so a still
  // image shared between unrelated videos never blocks, and the
  // concatenation is bitwise locality-preserving, so the hamming
  // verify leg stays meaningful ([[bandedNearDup]], unchanged: banded
  // equi-join candidates, popcount <= 6 gate, never all-pairs; the
  // middle frames appear in two bands, so their diffs count twice —
  // deliberate temporal weighting). The real leg ([[videoFingerprint]])
  // consumes real decoded frames via ImageIO (proven on in-memory
  // PNG sequences in MultimodalCodecSpec); the catalog leg runs the
  // identical shingle/band math over a deterministic stand-in (5
  // token-slice "frames", per-frame sig from an md5-bucketed 8-cell
  // grid — the corpus has no real video bytes and the DuckDB oracle
  // must reproduce the decode).
  // ---------------------------------------------------------------

  /** The (doc_id, band_no, band_val) video-fingerprint band relation —
    * a NARROW per-row pass (the whole signature sequence is a property
    * of one document), one spelling for the batch query and the
    * streaming registry. Bind-once discipline throughout (the
    * [[audioFpBands]] CollapseProject trap):
    *   cids : one 3-bit cell id per token (md5 grid)
    *   sigs : 5 per-frame 8-bit signatures (cell count*8 > frame len)
    *   out  : 4 temporal 2-shingle bands sig_j·256 + sig_{j+1} */
  private[graft] def videoFpBands(docs0: DataFrame): DataFrame =
    graft.util.Widen(docs0)
      .select(col("doc_id"),
        graft.functions.TextShingles.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), posexplode(expr(
        "element_at(transform(array(" +
          "transform(w, t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) " +
          "AS BIGINT) % 8)), cids -> " +
        "element_at(transform(array(" +
          "transform(sequence(0, 4), f -> " +
          "element_at(transform(array(slice(cids, " +
          "CAST(f * size(cids) DIV 5 AS INT) + 1, " +
          "CAST((f + 1) * size(cids) DIV 5 - f * size(cids) DIV 5 AS INT)))," +
          " fr -> " +
          "aggregate(sequence(0, 7), 0L, (acc, cc) -> acc + " +
          "IF(size(filter(fr, x -> x = CAST(cc AS BIGINT))) * 8 > size(fr), " +
          "shiftleft(1L, cc), 0L))), 1))), sigs -> " +
        "transform(sequence(0, 3), j -> " +
          "element_at(sigs, j + 1) * 256 + element_at(sigs, j + 2))" +
        "), 1)), 1)"))
        .as(Seq("band_no", "band_val")))
      .select(col("doc_id"), col("band_no").cast(LongType).as("band_no"),
        col("band_val"))

  /** Video near-dup pairs over the temporal-shingle bands — the
    * [[bandedNearDup]] pipeline, unchanged. */
  def videoNearDup(s: SparkSession, d: String): DataFrame =
    bandedNearDup(videoFpBands(graft.sources.Tables.documents(s, d)))

  private val videoFpBandsCteSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS a
       |  FROM documents),
       |cid AS (
       |  SELECT doc_id, CAST(len(a) AS BIGINT) AS n,
       |         list_transform(a, t ->
       |           ('0x' || substr(md5(t), 1, 8))::BIGINT % 8) AS c
       |  FROM w WHERE len(a) >= 1),
       |sig AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(0, 4), f ->
       |           list_sum(list_transform(generate_series(0, 7), cc ->
       |             CASE WHEN len(list_filter(
       |                    c[CAST(f * n // 5 + 1 AS BIGINT) :
       |                      CAST((f + 1) * n // 5 AS BIGINT)],
       |                    x -> x = cc)) * 8
       |                  > ((f + 1) * n // 5 - f * n // 5)
       |                  THEN (1 << CAST(cc AS INT)) ELSE 0 END))) AS s
       |  FROM cid),
       |bands AS (
       |  SELECT doc_id, CAST(t.j AS BIGINT) AS band_no,
       |         CAST(s[t.j + 1] * 256 + s[t.j + 2] AS BIGINT) AS band_val
       |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j) t)""".stripMargin

  val videoNearDupSql: String =
    s"""$videoFpBandsCteSql,
       |h AS (
       |  SELECT doc_id,
       |         COALESCE(MAX(CASE WHEN band_no=0 THEN band_val END), 0) AS b0,
       |         COALESCE(MAX(CASE WHEN band_no=1 THEN band_val END), 0) AS b1,
       |         COALESCE(MAX(CASE WHEN band_no=2 THEN band_val END), 0) AS b2,
       |         COALESCE(MAX(CASE WHEN band_no=3 THEN band_val END), 0) AS b3
       |  FROM bands GROUP BY 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_no = b.band_no AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id
       |  WHERE a.band_val <> 0)
       |SELECT doc_a, doc_b,
       |       CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
       |          + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
       |         AS BIGINT) AS hamming
       |FROM cand c JOIN h x ON x.doc_id = c.doc_a
       |            JOIN h y ON y.doc_id = c.doc_b
       |WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
       |    + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
       |    <= $HammingMax""".stripMargin

  /** Streaming twin — the ingest-time video near-dup gate, exactly the
    * [[streamAudioFp]] shape ([[videoFpBands]] is a narrow per-row
    * pass): non-zero temporal-shingle bands claim (band_no, band_val)
    * buckets first-wins, later collisions flag with their collided-
    * band count; ownership is the finalize-time min-doc_id election,
    * so the shared oracle matches under ANY arrival order
    * ([[StreamingQueries.electDupBands]]). */
  def streamVideoFp(s: SparkSession, d: String): DataFrame = {
    val docs = StreamingQueries.docStream(s, d, wide = true)
    val bands = videoFpBands(docs)
      .filter(col("band_val") =!= 0L)
      .select(col("doc_id"), col("band_no").cast("int").as("band"),
        col("band_val").cast(StringType).as("sig"))
    StreamingQueries.electDupBands(StreamingQueries.runToTable(
      StreamingQueries.neardupCore(bands), "append"))
  }

  val streamVideoFpSql: String =
    s"""$videoFpBandsCteSql
       |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_bands
       |FROM bands a
       |WHERE a.band_val <> 0
       |  AND EXISTS (SELECT 1 FROM bands b
       |              WHERE b.band_no = a.band_no
       |                AND b.band_val = a.band_val AND b.band_val <> 0
       |                AND b.doc_id < a.doc_id)
       |GROUP BY a.doc_id""".stripMargin

  /** 8-bit per-frame strip signature from REAL pixels: pool luma into
    * 8 vertical strips, bit = strip mean > global mean — the 1-D aHash
    * a frame-level perceptual pass uses when the per-frame budget is
    * 8 bits (the 64-bit [[imageAHash]] is the single-image tier). */
  private[graft] def frameStripSig(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val strips = new Array[Long](8)
    val counts = new Array[Long](8)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val luma = ((rgb >> 16) & 0xff) * 299L +
          ((rgb >> 8) & 0xff) * 587L + (rgb & 0xff) * 114L
        val i = x * 8 / w
        strips(i) += luma
        counts(i) += 1
        x += 1
      }
      y += 1
    }
    val means = strips.indices.map(i =>
      if (counts(i) == 0) 0L else strips(i) / counts(i))
    val mu = means.sum / 8
    var sig = 0L
    means.zipWithIndex.foreach { case (m, i) => if (m > mu) sig |= 1L << i }
    sig
  }

  case class FrameSig(doc_id: Long, frame_no: Long, sig: Long)

  /** REAL video fingerprint: consumes the decoded-frame relation a
    * production pipeline emits (one row per sampled frame — the
    * [[frameSample]] schema with real image bytes), computes each
    * frame's [[frameStripSig]] via ImageIO (partition-batched like
    * [[imageMeta]]; undecodable frames degrade to sig 0), orders the
    * first 5 frames per video, and emits the same temporal 2-shingle
    * band relation as [[videoFpBands]] — ready for [[bandedNearDup]].
    * Videos with fewer than 5 sampled frames are skipped (no full
    * shingle window). Exercised on real in-memory PNG frame sequences
    * in MultimodalCodecSpec. */
  def videoFingerprint(frames: DataFrame, idCol: String, frameNoCol: String,
                       payloadCol: String): DataFrame = {
    val s = frames.sparkSession
    import s.implicits._
    val sigs = frames
      .select(col(idCol).cast(LongType), col(frameNoCol).cast(LongType),
        col(payloadCol).cast(BinaryType))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions(_.map { case (id, fno, bytes) =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case scala.util.control.NonFatal(_) => null }
        FrameSig(id, fno,
          if (img == null || img.getWidth < 1 || img.getHeight < 1) 0L
          else frameStripSig(img))
      })
      .toDF()
    sigs.groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(frame_no, sig)))," +
        " x -> x.sig)").as("s"))
      .filter(size(col("s")) >= 5)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 3), j -> " +
          "element_at(s, j + 1) * 256 + element_at(s, j + 2))"))
        .as(Seq("band_no", "band_val")))
      .select(col("doc_id"), col("band_no").cast(LongType).as("band_no"),
        col("band_val"))
  }

  // ---------------------------------------------------------------
  // Cross-modal PAIR near-dup — the
  // caption-dataset operator: image/audio/video near-dup are each
  // closed per-modality, but a (text, image) TRAINING PAIR duplicates
  // whenever EITHER side was copied — same image re-captioned with a
  // paraphrase, or same caption over a re-encoded image. Candidates
  // must therefore block on BOTH modalities' bands (one colliding
  // band from either side), while the verify gate demands BOTH
  // modalities be close — candidate recall is a union, verified
  // precision an intersection.
  // ---------------------------------------------------------------

  /** Text-side 4×16-bit band relation from the 64-bit SimHash — a
    * pure narrow pass (one native [[graft.functions.SimHash64]] per
    * row + an in-row unpack), so it plans on batch AND unbounded
    * sources; band j = bits 16j..16j+15, matching the hi/lo oracle
    * spelling of `dedup_simhash64_pairs`. */
  private[graft] def textSimhashBands(docs0: DataFrame): DataFrame = {
    graft.util.Widen(docs0)
      .select(col("doc_id"),
        graft.functions.TextShingles.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        graft.functions.SimHash64(col("__toks")).as("sh"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 3), j -> shiftright(sh, j * 16) & 65535)"))
        .as(Seq("band_no", "band_val")))
      .select(col("doc_id"), col("band_no").cast(LongType).as("band_no"),
        col("band_val"))
  }

  /** The 8-band pair relation: text simhash bands 0..3, image aHash
    * bands 4..7 — one relation, one blocking spelling. */
  private[graft] def pairBands(textBands: DataFrame,
                               imageBands: DataFrame): DataFrame =
    textBands.unionByName(
      imageBands.withColumn("band_no", col("band_no") + lit(4L)))

  /** Maximum text-side hamming for a verified pair — the simhash64
    * gate (4 bands ⇒ hamming ≤ 3 recall is COMPLETE by pigeonhole). */
  private[graft] val TextHammingMax = 3L

  /** Batch cross-modal pair near-dup: candidates from the 8-band
    * union through the shared [[bandedCandidates]] blocking (a
    * non-zero band colliding in EITHER modality), verify = exact
    * popcount in BOTH modalities (text ≤ [[TextHammingMax]], image ≤
    * HammingMax) AND an EXPLICIT presence flag on both sides of each
    * gate — absent media must not verify as similar media. Presence
    * is carried from the feature/decode stage (has_text =
    * non-blank text, has_image = the payload yields ≥1 grid feature —
    * the stand-in for [[AHashBands.decoded]] on real bytes) rather
    * than inferred from an all-zero packed signature, which would
    * silently drop genuinely-uniform-but-identical media pairs.
    * Emits (doc_a, doc_b, t_hamming, i_hamming). Never
    * all-pairs at any corpus size — the only data×data join is the
    * band-keyed equi-join (plan-pinned). */
  def pairNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = graft.sources.Tables.documents(s, d)
    val tb = textSimhashBands(docs)
    val ib = phashBandsBatch(docs)
    val th = packBands4(tb)
    val ih = packBands4(ib)
    // explicit modality-presence flags from the feature stage — a
    // per-row narrow projection, joined like the signature relations
    val pres = docs.select(col("doc_id"),
      (length(trim(col("text"))) > 0).as("has_text"),
      (size(graft.functions.TextShingles.tokens(col("text"))) >= 2)
        .as("has_image"))
    bandedCandidates(pairBands(tb, ib))
      .join(pres.select(col("doc_id").as("doc_a"), col("has_text").as("hta"),
        col("has_image").as("hia")), Seq("doc_a"))
      .join(pres.select(col("doc_id").as("doc_b"), col("has_text").as("htb"),
        col("has_image").as("hib")), Seq("doc_b"))
      .join(th.select(col("doc_id").as("doc_a"), col("b0").as("xt0"),
        col("b1").as("xt1"), col("b2").as("xt2"), col("b3").as("xt3")),
        Seq("doc_a"))
      .join(th.select(col("doc_id").as("doc_b"), col("b0").as("yt0"),
        col("b1").as("yt1"), col("b2").as("yt2"), col("b3").as("yt3")),
        Seq("doc_b"))
      .join(ih.select(col("doc_id").as("doc_a"), col("b0").as("xi0"),
        col("b1").as("xi1"), col("b2").as("xi2"), col("b3").as("xi3")),
        Seq("doc_a"))
      .join(ih.select(col("doc_id").as("doc_b"), col("b0").as("yi0"),
        col("b1").as("yi1"), col("b2").as("yi2"), col("b3").as("yi3")),
        Seq("doc_b"))
      .withColumn("t_hamming", expr(
        "CAST(bit_count(xt0 ^ yt0) + bit_count(xt1 ^ yt1) + " +
          "bit_count(xt2 ^ yt2) + bit_count(xt3 ^ yt3) AS BIGINT)"))
      .withColumn("i_hamming", expr(
        "CAST(bit_count(xi0 ^ yi0) + bit_count(xi1 ^ yi1) + " +
          "bit_count(xi2 ^ yi2) + bit_count(xi3 ^ yi3) AS BIGINT)"))
      .filter(col("t_hamming") <= TextHammingMax &&
        col("i_hamming") <= HammingMax &&
        // a modality only counts as "close" when BOTH sides actually
        // CARRY it: two missing/undecodable images
        // agree at hamming 0 — absence agreeing with absence, not
        // visual similarity — so an imageless pair must not verify on
        // text evidence alone (and symmetrically for blank text). The
        // gate reads the explicit presence flags, not the packed
        // signatures: an all-zero signature from genuinely uniform
        // present media is still real media
        col("hta") && col("htb") && col("hia") && col("hib"))
      .select(col("doc_a"), col("doc_b"), col("t_hamming"), col("i_hamming"))
  }

  /** Streaming twin — the ingest-time pair gate, the
    * [[streamPhashNearDup]] shape over the 8-band union (both
    * modality band makers are narrow per-row passes, so they plan on
    * the unbounded source; the union is a self-union of one stream):
    * non-zero bands of EITHER modality register in the shared
    * claim-log registry, and the finalize election flags every
    * non-owner with its collided-band count. The batch query's
    * both-modality hamming verify runs at compaction on the flagged
    * set. */
  def streamPairNearDup(s: SparkSession, d: String): DataFrame = {
    val docs = StreamingQueries.docStream(s, d, wide = true)
    val bands = pairBands(textSimhashBands(docs), phashBands(docs))
      .filter(col("band_val") =!= 0L)
      .select(col("doc_id"), col("band_no").cast("int").as("band"),
        col("band_val").cast(StringType).as("sig"))
    StreamingQueries.electDupBands(StreamingQueries.runToTable(
      StreamingQueries.neardupCore(bands), "append"))
  }

  /** CTEs through `allb` (the 8-band union) + both packed-signature
    * relations, shared by the batch and stream pair oracles. Text
    * CTEs are the `dedup_simhash64_pairs` spelling (t-prefixed to
    * avoid colliding with the phash CTE names). */
  private val pairBandsCteSql: String =
    s"""$phashBandsCteSql,
       |ttok AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(string_split_regex(trim(text), '\\s+')) t
       |  FROM documents),
       |ttv AS (SELECT doc_id,
       |         ('0x' || substr(md5(t), 1, 8))::BIGINT hi,
       |         ('0x' || substr(md5(t), 9, 8))::BIGINT lo FROM ttok),
       |tbits AS (
       |  SELECT doc_id, b,
       |    CASE WHEN SUM(CASE WHEN
       |           (CASE WHEN b < 32 THEN (lo >> b) ELSE (hi >> (b - 32)) END)
       |             & 1 = 1
       |         THEN 1 ELSE -1 END) > 0
       |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END bt
       |  FROM ttv, (SELECT unnest(generate_series(0, 63)) b) bs
       |  GROUP BY doc_id, b),
       |tsig AS (SELECT doc_id,
       |  CAST(SUM(CASE WHEN b < 16 THEN bt << b ELSE 0 END) AS BIGINT) s0,
       |  CAST(SUM(CASE WHEN b BETWEEN 16 AND 31 THEN bt << (b - 16) ELSE 0 END)
       |       AS BIGINT) s1,
       |  CAST(SUM(CASE WHEN b BETWEEN 32 AND 47 THEN bt << (b - 32) ELSE 0 END)
       |       AS BIGINT) s2,
       |  CAST(SUM(CASE WHEN b >= 48 THEN bt << (b - 48) ELSE 0 END)
       |       AS BIGINT) s3
       |  FROM tbits GROUP BY doc_id),
       |tband AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS band_no, s0 AS band_val FROM tsig
       |  UNION ALL SELECT doc_id, 1, s1 FROM tsig
       |  UNION ALL SELECT doc_id, 2, s2 FROM tsig
       |  UNION ALL SELECT doc_id, 3, s3 FROM tsig),
       |allb AS (
       |  SELECT doc_id, band_no, band_val FROM tband
       |  UNION ALL
       |  SELECT doc_id, band_no + 4, band_val FROM bands),
       |ih AS (
       |  SELECT doc_id,
       |         COALESCE(MAX(CASE WHEN band_no=0 THEN band_val END), 0) AS b0,
       |         COALESCE(MAX(CASE WHEN band_no=1 THEN band_val END), 0) AS b1,
       |         COALESCE(MAX(CASE WHEN band_no=2 THEN band_val END), 0) AS b2,
       |         COALESCE(MAX(CASE WHEN band_no=3 THEN band_val END), 0) AS b3
       |  FROM bands GROUP BY 1)""".stripMargin

  val pairNearDupSql: String =
    s"""$pairBandsCteSql,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM allb a JOIN allb b
       |    ON a.band_no = b.band_no AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id
       |  WHERE a.band_val <> 0),
       |pres AS (
       |  SELECT doc_id, length(trim(text)) > 0 AS has_text,
       |         len(string_split_regex(trim(text), '\\s+')) >= 2 AS has_image
       |  FROM documents)
       |SELECT doc_a, doc_b,
       |       CAST(bit_count(xor(tx.s0, ty.s0)) + bit_count(xor(tx.s1, ty.s1))
       |          + bit_count(xor(tx.s2, ty.s2)) + bit_count(xor(tx.s3, ty.s3))
       |         AS BIGINT) AS t_hamming,
       |       CAST(bit_count(xor(ix.b0, iy.b0)) + bit_count(xor(ix.b1, iy.b1))
       |          + bit_count(xor(ix.b2, iy.b2)) + bit_count(xor(ix.b3, iy.b3))
       |         AS BIGINT) AS i_hamming
       |FROM cand c
       |  JOIN tsig tx ON tx.doc_id = c.doc_a
       |  JOIN tsig ty ON ty.doc_id = c.doc_b
       |  JOIN ih ix ON ix.doc_id = c.doc_a
       |  JOIN ih iy ON iy.doc_id = c.doc_b
       |  JOIN pres pa ON pa.doc_id = c.doc_a
       |  JOIN pres pb ON pb.doc_id = c.doc_b
       |WHERE bit_count(xor(tx.s0, ty.s0)) + bit_count(xor(tx.s1, ty.s1))
       |    + bit_count(xor(tx.s2, ty.s2)) + bit_count(xor(tx.s3, ty.s3))
       |    <= $TextHammingMax
       |  AND bit_count(xor(ix.b0, iy.b0)) + bit_count(xor(ix.b1, iy.b1))
       |    + bit_count(xor(ix.b2, iy.b2)) + bit_count(xor(ix.b3, iy.b3))
       |    <= $HammingMax
       |  AND pa.has_text AND pb.has_text
       |  AND pa.has_image AND pb.has_image""".stripMargin

  val streamPairNearDupSql: String =
    s"""$pairBandsCteSql
       |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_bands
       |FROM allb a
       |WHERE a.band_val <> 0
       |  AND EXISTS (SELECT 1 FROM allb b
       |              WHERE b.band_no = a.band_no
       |                AND b.band_val = a.band_val AND b.band_val <> 0
       |                AND b.doc_id < a.doc_id)
       |GROUP BY a.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // Cross-modal retrieval — the serving composition
  // the pair-dedup tier feeds: text-QUERY vectors probed against the
  // IMAGE-embedding IVF index, CLIP-style. The encoders are the
  // deterministic [[embedStub]] feature map (the aligned-encoder
  // stand-in this container allows — the Spark plumbing is the real
  // 100 TB path: a published cell-partitioned layout, an O(ncells)
  // routing table, partition-pruned probes, k-bounded top-k). The
  // coarse quantizer is the ONE-HOT codebook: assignment by argmax
  // dimension IS nearest-one-hot-centroid in cosine (cos(x, e_c) =
  // x_c / |x|), so cell assignment, batch routing (score the stored
  // codebook) and stream routing (a pure row expression — top-nprobe
  // dims) are provably the same quantizer, and the oracle spells all
  // three relationally.
  // ---------------------------------------------------------------

  /** Number of one-hot cells (= embedding dims) and probe width. */
  private[graft] val CrossmodalCells = 8
  private[graft] val CrossmodalProbe = 2

  /** The md5 feature-map embedding of [[embedStub]] as a single
    * column expression (8 doubles in [0,1]) — usable on batch AND
    * unbounded sources. */
  private[graft] def stubEmb(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val h = md5(c)
    transform(sequence(lit(1), lit(CrossmodalCells)), i =>
      round(conv(substring(h, i * 2 - 1, lit(2)), 16, 10)
        .cast(DoubleType) / 255.0, 6))
  }

  /** Build (memoized per corpus) the image-side IVF layout: corpus =
    * docs with doc_id ≥ 5 (doc_id < 5 are the held-out text queries),
    * embedding = the stub image encoder over the payload, cell =
    * argmax dimension (first max wins — `array_position` and DuckDB
    * `list_position` agree), centroid table = the one-hot codebook. */
  private[graft] def crossmodalLayout(
      s: SparkSession, d: String): graft.sources.IvfIndex.Layout =
    graft.sources.IvfIndex.ensure(s"$d::crossmodal",
      crossmodalCodebook(s), crossmodalCorpus(s, d))

  /** The one-hot routing table — one row per cell. */
  private def crossmodalCodebook(s: SparkSession): DataFrame =
    s.range(1, CrossmodalCells + 1)
      .select(col("id").cast(IntegerType).as("label"))
      .withColumn("cemb", expr(
        s"transform(sequence(1, $CrossmodalCells), " +
          "i -> IF(i = label, 1.0D, 0.0D))"))

  /** The image-side corpus with its cell assignment (argmax dim =
    * nearest one-hot centroid). */
  private def crossmodalCorpus(s: SparkSession, d: String): DataFrame =
    graft.util.Widen(graft.sources.Tables.documents(s, d)
        .filter(col("doc_id") >= 5))
      .select(col("doc_id"), stubEmb(col("text")).as("emb"))
      .withColumn("cell",
        array_position(col("emb"), array_max(col("emb"))).cast(IntegerType))

  /** The corpus relation SERVED FROM the memoized published layout:
    * the layout's vectors ARE [[crossmodalCorpus]]'s rows —
    * stub embeddings round-trip parquet bit-exactly — so consumers
    * that need the whole corpus relation (exact recall passes, the
    * trained/delete lifecycle publishes) read the pay-once index
    * artifact instead of re-running the encoder over the documents
    * table per query. Same columns, same values, layout row order. */
  private def crossmodalCorpusStored(s: SparkSession, d: String): DataFrame = {
    val layout = crossmodalLayout(s, d)
    s.read.parquet(layout.vectors)
      .select(col("doc_id"), col("emb"),
        col("cell").cast(IntegerType).as("cell"))
  }

  /** Batch cross-modal top-5: route each text query through the
    * stored codebook (ncells rows — the router-collect bound), prune
    * the vector scan to the probed cell DIRECTORIES (a static
    * `cell IN` filter → `PartitionFilters`, pinned in
    * PlanPropertiesSpec), score exact micro-grid cosine inside the
    * probed cells only, and take the k-bounded LONG top-5 per query.
    * Routing compares UNROUNDED csim (= qemb[label]/|qemb| against a
    * one-hot centroid), so the oracle's rank-by-dim-value spelling is
    * exactly equivalent; label asc breaks exact ties. */
  def crossmodalTopK(s: SparkSession, d: String): DataFrame =
    crossmodalProbe(s, d, nprobe = CrossmodalProbe, extraFilter = lit(true))

  /** Streaming twin — queries ARRIVE, the index serves: each arriving
    * text query routes with a PURE ROW expression (its top-nprobe
    * dimensions — the same one-hot quantizer the batch router scores,
    * so provably the same cells), explodes into (qid, cell) probe
    * rows, stream–static joins the published cell layout, and the
    * per-query top-5 accumulates in the k-bounded LONG head. */
  def streamCrossmodalTopK(s: SparkSession, d: String): DataFrame =
    streamCrossmodalProbe(s, d, nprobe = CrossmodalProbe,
      extraFilter = lit(true))

  /** STREAMING filtered cross-modal search — the
    * predicate-inside-probe discipline of [[crossmodalFiltered]] on
    * the arriving-query stream twin: the attribute predicate applies
    * to the STATIC vector side BEFORE the stream–static join and the
    * top-k gate (a post-filtered head loses recall under selective
    * predicates), and nprobe widens to 3 — the same filtered-search
    * compensation as the batch row, sharing its oracle exactly. */
  def streamCrossmodalFiltered(s: SparkSession, d: String): DataFrame =
    streamCrossmodalProbe(s, d, nprobe = 3,
      extraFilter = col("doc_id") % 3 === 1)

  /** Shared probe body of [[streamCrossmodalTopK]] and
    * [[streamCrossmodalFiltered]]. */
  private def streamCrossmodalProbe(s: SparkSession, d: String, nprobe: Int,
      extraFilter: org.apache.spark.sql.Column): DataFrame = {
    val layout = crossmodalLayout(s, d)
    // the predicate thins the static side at the scan, before any
    // join or head — the pre-filter position the oracle pins
    val vecs = s.read.parquet(layout.vectors)
      .filter(extraFilter)
      .select(col("doc_id"), col("emb"), col("cell"))
    val q = StreamingQueries.docStream(s, d)
      .filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), stubEmb(col("text")).as("qemb"))
      // top-nprobe dims by (value desc, dim asc): sort (−value, dim)
      // structs ascending — narrow, so it plans on the unbounded source
      .withColumn("cell", explode(expr(
        s"""slice(transform(array_sort(transform(sequence(1, $CrossmodalCells),
           |  i -> struct(-element_at(qemb, i) AS negv, i AS dim))),
           |  x -> x.dim),
           |1, $nprobe)""".stripMargin)))
    val cm = round(SimilarityQueries.dot(col("emb"), col("qemb")) /
      (SimilarityQueries.norm(col("emb")) *
        SimilarityQueries.norm(col("qemb"))) * 1000000).cast(LongType)
    val topk = Relational.topKAggregator(5, longScores = true)
    val heads = q.join(vecs, Seq("cell"))
      .select(col("qid"), col("doc_id"), cm.as("cm"))
      .groupBy(col("qid"))
      .agg(topk(col("cm") * lit(4294967296L) - col("doc_id"),
        col("doc_id")).as("top"))
    Relational.topKRanked(StreamingQueries.runToTable(heads, "complete"),
        "top", "doc_id", "pk")
      .select(col("qid"), col("rank"), col("doc_id"),
        expr("(pk + doc_id) DIV 4294967296").as("cos_micro"))
  }

  /** Measured recall@5 of the probed cross-modal retrieval against
    * the exact brute-force top-5 per text query — the number a
    * CLIP-style serving deployment actually tracks (the [[annRecall]]
    * discipline applied to the cross-modal index): the exact pass is
    * a one-off EVAL job over the corpus, the probed pass is the
    * served [[crossmodalTopK]] itself, and the join is ≤ 25 rows.
    * Emits (qid, hits, recall_ppm) for every held-out query. */
  def crossmodalRecall(s: SparkSession, d: String): DataFrame = {
    val layout = crossmodalLayout(s, d)
    val q = graft.sources.Tables.documents(s, d)
      .filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), stubEmb(col("text")).as("qemb"))
    val cm = round(SimilarityQueries.dot(col("emb"), col("qemb")) /
      (SimilarityQueries.norm(col("emb")) *
        SimilarityQueries.norm(col("qemb"))) * 1000000).cast(LongType)
    val exact = Relational.topK(
        s.read.parquet(layout.vectors)
          .select(col("doc_id"), col("emb"))
          .crossJoin(broadcast(q))
          .select(col("qid"), col("doc_id"),
            (cm * lit(4294967296L) - col("doc_id")).as("pk")),
        Seq("qid"), "pk", "doc_id", k = 5, longScores = true)
      .select(col("qid"), col("doc_id"))
    val hits = crossmodalTopK(s, d).select(col("qid"), col("doc_id"))
      .join(exact, Seq("qid", "doc_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("h"))
    q.select(col("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("h"), lit(0L)).as("hits"),
        expr("COALESCE(h, 0L) * 1000000 DIV 5").as("recall_ppm"))
  }

  /** FILTERED cross-modal search — the attribute-predicate
    * composition ("nearest images WHERE <metadata>") on the published
    * index, the [[SimilarityQueries.annIvfFiltered]] discipline: the
    * predicate (deterministic stand-in `doc_id % 3 = 1`) applies
    * BEFORE the top-k gate, inside the probed cells, so selective
    * filters cannot silently empty a post-filtered head; the scan
    * still prunes to the probed cell directories, and nprobe widens
    * to 3 (the standard filtered-search compensation — the predicate
    * thins each cell). Same routing, scoring and head machinery as
    * [[crossmodalTopK]]. */
  def crossmodalFiltered(s: SparkSession, d: String): DataFrame =
    crossmodalProbe(s, d, nprobe = 3,
      extraFilter = col("doc_id") % 3 === 1)

  /** Shared probe body of [[crossmodalTopK]] (nprobe =
    * [[CrossmodalProbe]], no predicate) and [[crossmodalFiltered]]. */
  private def crossmodalProbe(s: SparkSession, d: String, nprobe: Int,
      extraFilter: org.apache.spark.sql.Column): DataFrame =
    crossmodalProbeOver(s, d, crossmodalLayout(s, d), nprobe, extraFilter,
      vecIdCol = "doc_id")

  /** The probe over ANY published crossmodal layout — the delete
    * lifecycle probes the compacted version it just published (whose
    * vector rows carry the shared lifecycle verbs' `vec_id` key).
    * Package-visible so CrossmodalLifecycleSpec can probe a compacted
    * layout exhaustively for its recall-restored assertion. */
  private[graft] def crossmodalProbeOver(s: SparkSession, d: String,
      layout: graft.sources.IvfIndex.Layout, nprobe: Int,
      extraFilter: org.apache.spark.sql.Column,
      vecIdCol: String, roundRoute: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = graft.sources.Tables.documents(s, d)
      .filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), stubEmb(col("text")).as("qemb"))
    // routing score: UNROUNDED against the one-hot codebook (cos(x,
    // e_c) = x_c/|x| — the oracle's rank-by-dim spelling is exactly
    // equivalent); ROUND-6 against a trained codebook (the
    // probeLayout/assignCells grid, so both engines rank identical
    // values)
    val rawCsim = SimilarityQueries.dot(col("cemb"), col("qemb")) /
      (SimilarityQueries.norm(col("cemb")) *
        SimilarityQueries.norm(col("qemb")))
    val routed = s.read.parquet(layout.centroids)
      .crossJoin(broadcast(q))
      .select(col("qid"), col("label"),
        (if (roundRoute) round(rawCsim, 6) else rawCsim).as("csim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("csim").desc, col("label"))))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("label"))
    val probed = routed.select(col("label")).distinct()
      .collect().map(_.getInt(0)).toSeq // ≤ ncells — router bound
    val cm = round(SimilarityQueries.dot(col("emb"), col("qemb")) /
      (SimilarityQueries.norm(col("emb")) *
        SimilarityQueries.norm(col("qemb"))) * 1000000).cast(LongType)
    Relational.topK(
        s.read.parquet(layout.vectors)
          .withColumn("doc_id", col(vecIdCol)) // no-op on the memoized layout
          // the lifecycle layout carries the shared verbs' `label` payload
          // column — drop it so the routed side's label is unambiguous
          .drop("label")
          .filter(col("cell").isin(probed: _*) && extraFilter)
          .join(broadcast(routed), col("cell") === col("label"))
          .join(broadcast(q), Seq("qid"))
          .select(col("qid"), col("doc_id"),
            (cm * lit(4294967296L) - col("doc_id")).as("pk")),
        Seq("qid"), "pk", "doc_id", k = 5, longScores = true)
      .select(col("qid"), col("rank"), col("doc_id"),
        expr("(pk + doc_id) DIV 4294967296").as("cos_micro"))
  }

  /** Measured recall@5 of FILTERED cross-modal search against the
    * exact brute-force top-5 over the QUALIFYING corpus — the gauge
    * that justifies the nprobe-widening compensation: a selective
    * predicate thins every probed cell, so filtered recall is the
    * number that degrades first, and it must be measured against the
    * filtered ground truth (comparing against unfiltered exact top-5
    * would conflate predicate selectivity with index recall). */
  def crossmodalFilteredRecall(s: SparkSession, d: String): DataFrame = {
    val q = graft.sources.Tables.documents(s, d)
      .filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), stubEmb(col("text")).as("qemb"))
    val cm = round(SimilarityQueries.dot(col("emb"), col("qemb")) /
      (SimilarityQueries.norm(col("emb")) *
        SimilarityQueries.norm(col("qemb"))) * 1000000).cast(LongType)
    val exact = Relational.topK(
        crossmodalCorpusStored(s, d)
          .filter(col("doc_id") % 3 === 1)
          .select(col("doc_id"), col("emb"))
          .crossJoin(broadcast(q))
          .select(col("qid"), col("doc_id"),
            (cm * lit(4294967296L) - col("doc_id")).as("pk")),
        Seq("qid"), "pk", "doc_id", k = 5, longScores = true)
      .select(col("qid"), col("doc_id"))
    val hits = crossmodalFiltered(s, d).select(col("qid"), col("doc_id"))
      .join(exact, Seq("qid", "doc_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("h"))
    q.select(col("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("h"), lit(0L)).as("hits"),
        expr("COALESCE(h, 0L) * 1000000 DIV 5").as("recall_ppm"))
  }

  /** Probed relation = [[crossmodalFilteredSql]]; exact side filters
    * the corpus BEFORE its rank (the filtered ground truth). */
  lazy val crossmodalFilteredRecallSql: String =
    s"""WITH pr AS (SELECT * FROM ($crossmodalFilteredSql) x),
       |ee AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, $CrossmodalCells),
       |      i -> round((('0x' || substr(md5(text), 2*i-1, 2))::INT)
       |                 / 255.0, 6)) AS emb
       |  FROM documents),
       |cc AS (SELECT doc_id, emb FROM ee
       |       WHERE doc_id >= 5 AND doc_id % 3 = 1),
       |qq AS (SELECT doc_id AS qid, emb AS qemb FROM ee WHERE doc_id < 5),
       |scx AS (
       |  SELECT qq.qid, cc.doc_id,
       |    CAST(round(
       |      list_sum(list_transform(generate_series(1, $CrossmodalCells),
       |        i -> cc.emb[i] * qq.qemb[i])) /
       |      (sqrt(list_sum(list_transform(cc.emb, x -> x*x))) *
       |       sqrt(list_sum(list_transform(qq.qemb, x -> x*x)))) * 1000000)
       |      AS BIGINT) AS cm
       |  FROM cc, qq),
       |ex AS (
       |  SELECT qid, doc_id FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cm DESC, doc_id) rn
       |    FROM scx) WHERE rn <= 5),
       |h AS (SELECT pr.qid, COUNT(*) AS h
       |      FROM pr JOIN ex ON ex.qid = pr.qid AND ex.doc_id = pr.doc_id
       |      GROUP BY pr.qid)
       |SELECT qq.qid,
       |  CAST(COALESCE(h.h, 0) AS BIGINT) AS hits,
       |  CAST(COALESCE(h.h, 0) * 1000000 // 5 AS BIGINT) AS recall_ppm
       |FROM qq LEFT JOIN h ON h.qid = qq.qid""".stripMargin

  /** Crossmodal index DELETE lifecycle — the
    * [[SimilarityQueries.ivfDeleteProbe]] tombstone cycle applied to
    * the served cross-modal layout: publish the image corpus as v1
    * (routing table = the one-hot codebook), take the IMAGE near-dup
    * tier's removals as tombstones ([[phashNearDup]]'s later-doc
    * sides — the maintenance feed a CLIP-style index actually gets
    * from its dedup pipeline), [[graft.sources.IvfIndex
    * .deleteAndCompact]] them into v2 (routing table carried over
    * unchanged — deletes do not retrain; atomic `_CURRENT` swap),
    * VACUUM the retired v1, and serve top-5 from the compacted index.
    * The oracle re-derives route → rank-over-REMAINING declaratively
    * (the dedup SQL names the dead set), so a hash match proves the
    * whole publish → delete → compact → swap → vacuum → probe cycle.
    * The recall-restored assertion (exhaustive-probe equality with
    * the exact top-5 of the remaining corpus, zero tombstones served)
    * lives in CrossmodalLifecycleSpec. */
  def crossmodalDelete(s: SparkSession, d: String): DataFrame = {
    val root = FiniteStream.scratchDir("graft-mm-del-")
    try {
      graft.sources.IvfIndex.publish(root, crossmodalCodebook(s),
        crossmodalCorpusStored(s, d)
          .select(col("doc_id").as("vec_id"), lit(0).as("label"),
            col("emb"), col("cell")))
      val dead = phashNearDup(s, d)
        .select(col("doc_b").as("vec_id")).distinct()
      val layout = graft.sources.IvfIndex.deleteAndCompact(s, root, dead)
      val vacuumed =
        graft.sources.IvfIndex.vacuumVersions(root, keepLast = 1)
      require(vacuumed.nonEmpty,
        s"vacuum reclaimed nothing after the compact under $root")
      crossmodalProbeOver(s, d, layout, nprobe = CrossmodalProbe,
        extraFilter = lit(true), vecIdCol = "vec_id").localCheckpoint()
    } finally FiniteStream.deleteRecursively(root)
  }

  /** Route over the UNCHANGED one-hot routing table, rank only the
    * surviving vectors — the dead set spelled by the image near-dup
    * oracle. */
  lazy val crossmodalDeleteSql: String =
    s"""WITH dd AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM ($phashNearDupSql) z),
       |e AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, $CrossmodalCells),
       |      i -> round((('0x' || substr(md5(text), 2*i-1, 2))::INT)
       |                 / 255.0, 6)) AS emb
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, emb, list_position(emb, list_max(emb)) AS cell
       |  FROM e WHERE doc_id >= 5
       |    AND doc_id NOT IN (SELECT doc_id FROM dd)),
       |q AS (SELECT doc_id AS qid, emb AS qemb FROM e WHERE doc_id < 5),
       |r AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, d.i AS cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY q.qemb[d.i] DESC, d.i) AS rn
       |    FROM q, (SELECT unnest(generate_series(1, $CrossmodalCells)) i) d)
       |  WHERE rn <= $CrossmodalProbe),
       |sc AS (
       |  SELECT r.qid, c.doc_id,
       |    CAST(round(
       |      list_sum(list_transform(generate_series(1, $CrossmodalCells),
       |        i -> c.emb[i] * q.qemb[i])) /
       |      (sqrt(list_sum(list_transform(c.emb, x -> x*x))) *
       |       sqrt(list_sum(list_transform(q.qemb, x -> x*x)))) * 1000000)
       |      AS BIGINT) AS cm
       |  FROM r JOIN c ON c.cell = r.cell
       |  JOIN q ON q.qid = r.qid)
       |SELECT qid, CAST(rn AS BIGINT) AS rank, doc_id, cm AS cos_micro
       |FROM (
       |  SELECT qid, doc_id, cm,
       |    row_number() OVER (PARTITION BY qid ORDER BY cm DESC, doc_id) rn
       |  FROM sc) WHERE rn <= 5""".stripMargin

  val crossmodalFilteredSql: String =
    s"""WITH e AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, $CrossmodalCells),
       |      i -> round((('0x' || substr(md5(text), 2*i-1, 2))::INT)
       |                 / 255.0, 6)) AS emb
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, emb, list_position(emb, list_max(emb)) AS cell
       |  FROM e WHERE doc_id >= 5),
       |q AS (SELECT doc_id AS qid, emb AS qemb FROM e WHERE doc_id < 5),
       |r AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, d.i AS cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY q.qemb[d.i] DESC, d.i) AS rn
       |    FROM q, (SELECT unnest(generate_series(1, $CrossmodalCells)) i) d)
       |  WHERE rn <= 3),
       |sc AS (
       |  SELECT r.qid, c.doc_id,
       |    CAST(round(
       |      list_sum(list_transform(generate_series(1, $CrossmodalCells),
       |        i -> c.emb[i] * q.qemb[i])) /
       |      (sqrt(list_sum(list_transform(c.emb, x -> x*x))) *
       |       sqrt(list_sum(list_transform(q.qemb, x -> x*x)))) * 1000000)
       |      AS BIGINT) AS cm
       |  FROM r JOIN c ON c.cell = r.cell AND c.doc_id % 3 = 1
       |  JOIN q ON q.qid = r.qid)
       |SELECT qid, CAST(rn AS BIGINT) AS rank, doc_id, cm AS cos_micro
       |FROM (
       |  SELECT qid, doc_id, cm,
       |    row_number() OVER (PARTITION BY qid ORDER BY cm DESC, doc_id) rn
       |  FROM sc) WHERE rn <= 5""".stripMargin

  /** Trained-codebook cell count — deliberately ≠ [[CrossmodalCells]]
    * (the embedding dim), proving the serving path is not wedded to
    * the one-hot cells-equal-dims trick. */
  private[graft] val CrossmodalTrainedK = 6

  /** Cross-modal retrieval through a TRAINED coarse quantizer — the
    * serving path off the one-hot trick: seed the
    * codebook with the first [[CrossmodalTrainedK]] image embeddings
    * (k ≠ dims — realistic decoupled cell counts), publish v1 with
    * every vector homed by nearest seed (the shared
    * [[SimilarityQueries.assignCells]] round-6/tie-cid spelling), run
    * the drift-gated Lloyd completion ([[graft.sources.IvfIndex
    * .maybeRetrain]] — exact 1e-6-grid cell means, re-home, atomic
    * publish as v2), and serve top-5 by routing queries through the
    * TRAINED centroids (round-6 cosine, label-asc ties). The oracle
    * spells the whole lifecycle relationally — seed assignment → grid
    * means → re-assignment → route → rank — so the hash match proves
    * the trained-centroid geometry end-to-end (the ivfRetrainSql
    * protocol on the cross-modal index). */
  def crossmodalTrained(s: SparkSession, d: String): DataFrame = {
    val root = FiniteStream.scratchDir("graft-mm-train-")
    try {
      val layout = publishTrainedCrossmodal(s, d, root)
      crossmodalProbeOver(s, d, layout, nprobe = CrossmodalProbe,
        extraFilter = lit(true), vecIdCol = "vec_id", roundRoute = true)
        .localCheckpoint()
    } finally FiniteStream.deleteRecursively(root)
  }

  /** Seed-publish + drift-gated Lloyd completion of the trained
    * cross-modal layout under `root` — shared by the trained top-k and
    * its nprobe tuner. */
  private def publishTrainedCrossmodal(s: SparkSession, d: String,
                                       root: String)
      : graft.sources.IvfIndex.Layout = {
    val corpus = crossmodalCorpusStored(s, d).drop("cell")
      .select(col("doc_id").as("vec_id"), lit(0).as("label"), col("emb"))
    val seeds = corpus.filter(col("vec_id") < 5 + CrossmodalTrainedK)
      .select((col("vec_id") - 5).cast(IntegerType).as("cid"),
        col("emb").as("cemb"))
    graft.sources.IvfIndex.publish(root,
      seeds.select(col("cid").as("label"), col("cemb")),
      graft.queries.SimilarityQueries.assignCells(corpus, seeds))
    val (layout, retrained) =
      graft.sources.IvfIndex.maybeRetrain(s, root, thresholdMicros = 0L)
    require(retrained, s"seed codebook did not drift under $d")
    layout
  }

  /** Streaming serve through the TRAINED codebook — how a trained
    * quantizer actually deploys: the routing table is PINNED at query
    * start (one ≤k-row collect — the router bound; a retrain republishes
    * and the serving query restarts on the new version, the
    * `_CURRENT`-pointer contract), embedded as a LITERAL centroid
    * array, and each arriving text query routes with a pure row
    * expression — top-nprobe pinned centroids by round-6 cosine,
    * cid-asc ties, exactly the batch router's grid — then
    * stream–static joins the published cell layout and accumulates
    * the k-bounded LONG head. Shares [[crossmodalTrainedSql]]: the
    * pinned-literal router is provably the same quantizer as the
    * batch route (identical doubles — `Double.toString` round-trips —
    * identical left-to-right dot, identical rounding/ties). */
  def streamCrossmodalTrained(s: SparkSession, d: String): DataFrame = {
    val root = FiniteStream.scratchDir("graft-mm-strain-")
    try {
      val layout = publishTrainedCrossmodal(s, d, root)
      // pin the routing table: ≤ CrossmodalTrainedK rows
      val centArr = s.read.parquet(layout.centroids)
        .select(col("label"), col("cemb")).collect()
        .map { r =>
          val cid = r.get(0).asInstanceOf[Number].intValue
          val emb = r.getSeq[Double](1)
          s"struct($cid AS cid, array(${emb.map(v => s"${v}D").mkString(", ")}) AS cemb)"
        }.mkString("array(", ", ", ")")
      val vecs = s.read.parquet(layout.vectors)
        .withColumn("doc_id", col("vec_id")).drop("label")
        .select(col("doc_id"), col("emb"), col("cell"))
      val q = StreamingQueries.docStream(s, d)
        .filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), stubEmb(col("text")).as("qemb"))
        // pure-row trained router: negated round-6 cosine sorts desc,
        // cid breaks ties asc (struct sort field order)
        .withColumn("cell", explode(expr(
          s"""slice(transform(array_sort(transform($centArr,
             |  c -> struct(
             |    -round(
             |      aggregate(zip_with(c.cemb, qemb, (x, y) -> x * y),
             |        0.0D, (acc, x) -> acc + x) /
             |      (sqrt(aggregate(transform(c.cemb, x -> x * x),
             |        0.0D, (acc, x) -> acc + x)) *
             |       sqrt(aggregate(transform(qemb, x -> x * x),
             |        0.0D, (acc, x) -> acc + x))), 6) AS negcs,
             |    c.cid AS cid))),
             |  x -> x.cid),
             |1, $CrossmodalProbe)""".stripMargin)))
      val cm = round(SimilarityQueries.dot(col("emb"), col("qemb")) /
        (SimilarityQueries.norm(col("emb")) *
          SimilarityQueries.norm(col("qemb"))) * 1000000).cast(LongType)
      val topk = Relational.topKAggregator(5, longScores = true)
      val heads = q.join(vecs, Seq("cell"))
        .select(col("qid"), col("doc_id"), cm.as("cm"))
        .groupBy(col("qid"))
        .agg(topk(col("cm") * lit(4294967296L) - col("doc_id"),
          col("doc_id")).as("top"))
      Relational.topKRanked(StreamingQueries.runToTable(heads, "complete"),
          "top", "doc_id", "pk")
        .select(col("qid"), col("rank"), col("doc_id"),
          expr("(pk + doc_id) DIV 4294967296").as("cos_micro"))
        .localCheckpoint()
    } finally FiniteStream.deleteRecursively(root)
  }

  /** nprobe RE-ELECTION for the trained codebook — the
    * [[crossmodalAutoprobe]] prefix-merge sweep with the router swapped for the
    * trained-centroid ranking (round-6 cosine, cid-asc ties — the same
    * quantizer the trained top-k serves through), over depths
    * 1..[[CrossmodalTrainedK]]: changing the codebook changes the recall curve,
    * so the tuner must re-run against the geometry it will serve. */
  def crossmodalTrainedAutoprobe(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val root = FiniteStream.scratchDir("graft-mm-tap-")
    try {
      val layout = publishTrainedCrossmodal(s, d, root)
      val q = graft.sources.Tables.documents(s, d)
        .filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"), stubEmb(col("text")).as("qemb"))
      val rnk = s.read.parquet(layout.centroids)
        .crossJoin(broadcast(q))
        .select(col("qid"), col("qemb"), col("label").as("cell"),
          round(SimilarityQueries.dot(col("cemb"), col("qemb")) /
            (SimilarityQueries.norm(col("cemb")) *
              SimilarityQueries.norm(col("qemb"))), 6).as("csim"))
        .withColumn("r", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("csim").desc, col("cell"))).cast(LongType))
        .select(col("qid"), col("qemb"), col("cell"), col("r"))
      val cm = round(SimilarityQueries.dot(col("emb"), col("qemb")) /
        (SimilarityQueries.norm(col("emb")) *
          SimilarityQueries.norm(col("qemb"))) * 1000000).cast(LongType)
      val scored = s.read.parquet(layout.vectors)
        .withColumn("doc_id", col("vec_id")).drop("label")
        .join(broadcast(rnk), Seq("cell"))
        .select(col("qid"), col("r"), col("doc_id"), cm.as("cm"))
      autoprobeSweepFrom(s, scored, CrossmodalTrainedK).localCheckpoint()
    } finally FiniteStream.deleteRecursively(root)
  }

  /** The trained-codebook CTE chain — stub embeddings, seed
    * assignment, 1e-6-grid Lloyd means, re-assignment — shared by
    * [[crossmodalTrainedSql]] and [[crossmodalTrainedAutoprobeSql]]
    * so the training spelling cannot drift between the server and its
    * tuner. Yields `q` (queries), `carr` (trained centroids) and `a2`
    * (the re-homed corpus). */
  private val crossmodalTrainedCtesSql: String =
    s"""e AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, $CrossmodalCells),
       |      i -> round((('0x' || substr(md5(text), 2*i-1, 2))::INT)
       |                 / 255.0, 6)) AS emb
       |  FROM documents),
       |c0 AS (SELECT doc_id, emb FROM e WHERE doc_id >= 5),
       |q AS (SELECT doc_id AS qid, emb AS qemb FROM e WHERE doc_id < 5),
       |seeds AS (
       |  SELECT CAST(doc_id - 5 AS INT) cid, emb cemb
       |  FROM c0 WHERE doc_id < 5 + $CrossmodalTrainedK),
       |s1 AS (
       |  SELECT c0.doc_id, c0.emb, s.cid,
       |    round(
       |      list_sum(list_transform(generate_series(1, $CrossmodalCells),
       |        i -> c0.emb[i] * s.cemb[i])) /
       |      (sqrt(list_sum(list_transform(c0.emb, x -> x*x))) *
       |       sqrt(list_sum(list_transform(s.cemb, x -> x*x)))), 6) csim
       |  FROM c0 CROSS JOIN seeds s),
       |a1 AS (
       |  SELECT doc_id, emb, cid FROM (
       |    SELECT doc_id, emb, cid,
       |      row_number() OVER (PARTITION BY doc_id
       |        ORDER BY csim DESC, cid) rn
       |    FROM s1) WHERE rn = 1),
       |g AS (
       |  SELECT cid, CAST(t.i AS BIGINT) dim,
       |         CAST(floor(emb[t.i] * 1000000) AS BIGINT) gx
       |  FROM a1, (SELECT unnest(generate_series(1, $CrossmodalCells)) i) t),
       |km AS (
       |  SELECT cid, dim,
       |         CAST(SUM(gx) AS DOUBLE)/(COUNT(*)*1000000.0) AS centroid
       |  FROM g GROUP BY cid, dim),
       |carr AS (SELECT cid, list(centroid ORDER BY dim) cemb
       |         FROM km GROUP BY cid),
       |s2 AS (
       |  SELECT c0.doc_id, c0.emb, c.cid,
       |    round(
       |      list_sum(list_transform(generate_series(1, $CrossmodalCells),
       |        i -> c0.emb[i] * c.cemb[i])) /
       |      (sqrt(list_sum(list_transform(c0.emb, x -> x*x))) *
       |       sqrt(list_sum(list_transform(c.cemb, x -> x*x)))), 6) csim
       |  FROM c0 CROSS JOIN carr c),
       |a2 AS (
       |  SELECT doc_id, emb, cid FROM (
       |    SELECT doc_id, emb, cid,
       |      row_number() OVER (PARTITION BY doc_id
       |        ORDER BY csim DESC, cid) rn
       |    FROM s2) WHERE rn = 1)""".stripMargin

  /** The trained serve parameterized on probe depth and corpus
    * predicate — [[crossmodalTrainedSql]] instantiates the plain
    * serve, [[crossmodalTrainedFilteredSql]] the filtered one (same
    * predicate-inside-probe + nprobe-widening discipline as the
    * one-hot [[crossmodalFilteredSql]]). */
  private def crossmodalTrainedServeSql(nprobe: Int,
                                        corpusPred: String): String =
    s"""WITH $crossmodalTrainedCtesSql,
       |r AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        round(
       |          list_sum(list_transform(generate_series(1, $CrossmodalCells),
       |            i -> c.cemb[i] * q.qemb[i])) /
       |          (sqrt(list_sum(list_transform(c.cemb, x -> x*x))) *
       |           sqrt(list_sum(list_transform(q.qemb, x -> x*x)))), 6) DESC,
       |        c.cid) rn
       |    FROM q, carr c) WHERE rn <= $nprobe),
       |sc AS (
       |  SELECT r.qid, a2.doc_id,
       |    CAST(round(
       |      list_sum(list_transform(generate_series(1, $CrossmodalCells),
       |        i -> a2.emb[i] * q.qemb[i])) /
       |      (sqrt(list_sum(list_transform(a2.emb, x -> x*x))) *
       |       sqrt(list_sum(list_transform(q.qemb, x -> x*x)))) * 1000000)
       |      AS BIGINT) AS cm
       |  FROM r JOIN a2 ON a2.cid = r.cid AND ($corpusPred)
       |  JOIN q ON q.qid = r.qid)
       |SELECT qid, CAST(rn AS BIGINT) AS rank, doc_id, cm AS cos_micro
       |FROM (
       |  SELECT qid, doc_id, cm,
       |    row_number() OVER (PARTITION BY qid ORDER BY cm DESC, doc_id) rn
       |  FROM sc) WHERE rn <= 5""".stripMargin

  /** Seed-assign → 1e-6-grid Lloyd means → re-assign → route → rank,
    * spelled declaratively (the kmeansStepSql/ivfRetrainSql grid and
    * tie rules over the stub embeddings). */
  lazy val crossmodalTrainedSql: String =
    crossmodalTrainedServeSql(CrossmodalProbe, "TRUE")

  /** FILTERED serve through the trained codebook — completes the
    * trained serving matrix (topk / filtered / recall / autoprobe):
    * the attribute predicate applies inside the probed cells BEFORE
    * the top-k gate, and nprobe widens to 3 exactly as in the one-hot
    * [[crossmodalFiltered]]. */
  lazy val crossmodalTrainedFilteredSql: String =
    crossmodalTrainedServeSql(3, "a2.doc_id % 3 = 1")

  /** [[crossmodalFiltered]] re-run through the TRAINED quantizer —
    * the filtered-search discipline (predicate inside the probe,
    * nprobe = 3) must survive a codebook swap unchanged: routing is
    * the trained round-6 grid, serving still prunes to probed cells,
    * and the oracle spells the whole lifecycle + filtered serve
    * relationally. */
  def crossmodalTrainedFiltered(s: SparkSession, d: String): DataFrame = {
    val root = FiniteStream.scratchDir("graft-mm-trainf-")
    try {
      val layout = publishTrainedCrossmodal(s, d, root)
      crossmodalProbeOver(s, d, layout, nprobe = 3,
        extraFilter = col("doc_id") % 3 === 1, vecIdCol = "vec_id",
        roundRoute = true).localCheckpoint()
    } finally FiniteStream.deleteRecursively(root)
  }

  /** The sweep over the trained geometry — shares
    * [[crossmodalTrainedCtesSql]] with the server, then ranks every
    * trained centroid per query (round-6 cosine, cid-asc) and runs
    * the recall sweep over depths 1..[[CrossmodalTrainedK]]. */
  lazy val crossmodalTrainedAutoprobeSql: String =
    s"""WITH $crossmodalTrainedCtesSql,
       |rnk AS (
       |  SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY
       |      round(
       |        list_sum(list_transform(generate_series(1, $CrossmodalCells),
       |          i -> c.cemb[i] * q.qemb[i])) /
       |        (sqrt(list_sum(list_transform(c.cemb, x -> x*x))) *
       |         sqrt(list_sum(list_transform(q.qemb, x -> x*x)))), 6) DESC,
       |      c.cid) AS r
       |  FROM q, carr c),
       |sc AS (
       |  SELECT q.qid, a2.doc_id, a2.cid,
       |    CAST(round(
       |      list_sum(list_transform(generate_series(1, $CrossmodalCells),
       |        i -> a2.emb[i] * q.qemb[i])) /
       |      (sqrt(list_sum(list_transform(a2.emb, x -> x*x))) *
       |       sqrt(list_sum(list_transform(q.qemb, x -> x*x)))) * 1000000)
       |      AS BIGINT) AS cm
       |  FROM a2, q),
       |ex AS (
       |  SELECT qid, doc_id FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cm DESC, doc_id) rn
       |    FROM sc) WHERE rn <= 5),
       |sweep AS (
       |  SELECT unnest(generate_series(1, $CrossmodalTrainedK)) AS np),
       |ap AS (
       |  SELECT qid, np, doc_id FROM (
       |    SELECT s.qid, w.np, s.doc_id,
       |      row_number() OVER (PARTITION BY s.qid, w.np
       |        ORDER BY s.cm DESC, s.doc_id) rn
       |    FROM sc s
       |    JOIN rnk k ON k.qid = s.qid AND k.cid = s.cid
       |    JOIN sweep w ON k.r <= w.np) WHERE rn <= 5),
       |hits AS (SELECT np, COUNT(*) h FROM ap
       |         JOIN ex USING (qid, doc_id) GROUP BY np),
       |rec AS (
       |  SELECT CAST(w.np AS BIGINT) AS nprobe,
       |         CAST(COALESCE(h, 0) * 1000000 // 25 AS BIGINT) AS recall_ppm
       |  FROM sweep w LEFT JOIN hits ON hits.np = w.np),
       |ch AS (SELECT MIN(nprobe) mn FROM rec
       |       WHERE recall_ppm >= $CrossmodalTargetPpm)
       |SELECT nprobe, recall_ppm,
       |  CAST(CASE WHEN recall_ppm >= $CrossmodalTargetPpm
       |       THEN 1 ELSE 0 END AS BIGINT) AS meets_target,
       |  CAST(CASE WHEN nprobe = (SELECT mn FROM ch) THEN 1 ELSE 0 END
       |       AS BIGINT) AS chosen
       |FROM rec""".stripMargin

  /** Measured recall@5 of the TRAINED-codebook retrieval against the
    * exact brute-force top-5 — the [[crossmodalRecall]] gauge re-run
    * for the trained geometry: changing the quantizer changes the
    * recall curve, so the served configuration's number must be
    * measured against the index it actually routes through. */
  def crossmodalTrainedRecall(s: SparkSession, d: String): DataFrame = {
    val q = graft.sources.Tables.documents(s, d)
      .filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), stubEmb(col("text")).as("qemb"))
    val cm = round(SimilarityQueries.dot(col("emb"), col("qemb")) /
      (SimilarityQueries.norm(col("emb")) *
        SimilarityQueries.norm(col("qemb"))) * 1000000).cast(LongType)
    val exact = Relational.topK(
        crossmodalCorpusStored(s, d)
          .select(col("doc_id"), col("emb"))
          .crossJoin(broadcast(q))
          .select(col("qid"), col("doc_id"),
            (cm * lit(4294967296L) - col("doc_id")).as("pk")),
        Seq("qid"), "pk", "doc_id", k = 5, longScores = true)
      .select(col("qid"), col("doc_id"))
    val hits = crossmodalTrained(s, d).select(col("qid"), col("doc_id"))
      .join(exact, Seq("qid", "doc_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("h"))
    q.select(col("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("h"), lit(0L)).as("hits"),
        expr("COALESCE(h, 0L) * 1000000 DIV 5").as("recall_ppm"))
  }

  /** Shares [[crossmodalTrainedSql]] as the probed relation — the
    * crossmodalRecallSql assembly over the trained spelling. */
  lazy val crossmodalTrainedRecallSql: String =
    s"""WITH pr AS (SELECT * FROM ($crossmodalTrainedSql) x),
       |ee AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, $CrossmodalCells),
       |      i -> round((('0x' || substr(md5(text), 2*i-1, 2))::INT)
       |                 / 255.0, 6)) AS emb
       |  FROM documents),
       |cc AS (SELECT doc_id, emb FROM ee WHERE doc_id >= 5),
       |qq AS (SELECT doc_id AS qid, emb AS qemb FROM ee WHERE doc_id < 5),
       |scx AS (
       |  SELECT qq.qid, cc.doc_id,
       |    CAST(round(
       |      list_sum(list_transform(generate_series(1, $CrossmodalCells),
       |        i -> cc.emb[i] * qq.qemb[i])) /
       |      (sqrt(list_sum(list_transform(cc.emb, x -> x*x))) *
       |       sqrt(list_sum(list_transform(qq.qemb, x -> x*x)))) * 1000000)
       |      AS BIGINT) AS cm
       |  FROM cc, qq),
       |ex AS (
       |  SELECT qid, doc_id FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cm DESC, doc_id) rn
       |    FROM scx) WHERE rn <= 5),
       |h AS (SELECT pr.qid, COUNT(*) AS h
       |      FROM pr JOIN ex ON ex.qid = pr.qid AND ex.doc_id = pr.doc_id
       |      GROUP BY pr.qid)
       |SELECT qq.qid,
       |  CAST(COALESCE(h.h, 0) AS BIGINT) AS hits,
       |  CAST(COALESCE(h.h, 0) * 1000000 // 5 AS BIGINT) AS recall_ppm
       |FROM qq LEFT JOIN h ON h.qid = qq.qid""".stripMargin

  /** Recall target for [[crossmodalAutoprobe]] — 95%, the
    * sim_ann_autoprobe discipline. */
  private[graft] val CrossmodalTargetPpm = 950000L

  /** Recall-targeted nprobe auto-tune for the cross-modal index —
    * every index this engine publishes ships its tuner: sweep
    * nprobe = 1..[[CrossmodalCells]], measure recall@5 of the probed
    * retrieval against the exact top-5 for the held-out text queries,
    * elect the minimal depth meeting [[CrossmodalTargetPpm]]. Uses
    * the prefix-merge sweep spelling: each (query, probe-rank) cell
    * reduces to its top-5 once, and per-depth results merge those
    * ≤5-row partial tops —
    * corpus rows are scored once, never replicated per depth. */
  def crossmodalAutoprobe(s: SparkSession, d: String): DataFrame = {
    val layout = crossmodalLayout(s, d)
    val q = graft.sources.Tables.documents(s, d)
      .filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), stubEmb(col("text")).as("qemb"))
    // probe rank of every cell per query — the one-hot router as a
    // pure row expression (value desc, dim asc), exploded to rows
    val rnk = q.select(col("qid"), col("qemb"), posexplode(expr(
        s"""transform(array_sort(transform(sequence(1, $CrossmodalCells),
           |  i -> struct(-element_at(qemb, i) AS negv, i AS dim))),
           |  x -> x.dim)""".stripMargin))
        .as(Seq("p", "cell")))
      .select(col("qid"), col("qemb"), col("cell"),
        (col("p") + 1).cast(LongType).as("r"))
    val cm = round(SimilarityQueries.dot(col("emb"), col("qemb")) /
      (SimilarityQueries.norm(col("emb")) *
        SimilarityQueries.norm(col("qemb"))) * 1000000).cast(LongType)
    val scored = s.read.parquet(layout.vectors)
      .join(broadcast(rnk), Seq("cell"))
      .select(col("qid"), col("r"), col("doc_id"), cm.as("cm"))
    autoprobeSweepFrom(s, scored, CrossmodalCells)
  }

  /** The prefix-merge recall sweep over ANY (qid, r, doc_id, cm)
    * scored relation — shared by the one-hot and trained-codebook
    * tuners (one spelling of the k-bounded selection-monoid merge). `ncells`
    * bounds the swept depths. */
  private def autoprobeSweepFrom(s: SparkSession, scored: DataFrame,
                                 ncells: Int): DataFrame = {
    val packed = scored.withColumn("pk",
      col("cm") * lit(4294967296L) - col("doc_id"))
    val exact = Relational.topK(packed, Seq("qid"), "pk", "doc_id", k = 5,
        longScores = true)
      .select(col("qid"), col("doc_id"))
    val perRank = Relational.topK(packed, Seq("qid", "r"), "pk", "doc_id",
      k = 5, longScores = true)
    val appx = Relational.topK(
        perRank.select(col("qid"), col("pk"), col("doc_id"),
          explode(expr(s"sequence(r, ${ncells}L)")).as("np")),
        Seq("qid", "np"), "pk", "doc_id", k = 5, longScores = true)
      .select(col("qid"), col("np"), col("doc_id"))
    val hits = appx.join(exact, Seq("qid", "doc_id"))
      .groupBy(col("np")).agg(count(lit(1)).as("h"))
    val rec = s.range(1, ncells + 1).select(col("id").as("nprobe"))
      .join(hits, col("nprobe") === col("np"), "left")
      .select(col("nprobe"),
        expr("COALESCE(h, 0L) * 1000000L DIV 25").as("recall_ppm"))
    val chosen = rec.filter(col("recall_ppm") >= CrossmodalTargetPpm)
      .agg(min(col("nprobe")).as("mn"))
    rec.crossJoin(broadcast(chosen))
      .select(col("nprobe"), col("recall_ppm"),
        (col("recall_ppm") >= CrossmodalTargetPpm).cast(LongType)
          .as("meets_target"),
        coalesce((col("nprobe") === col("mn")).cast(LongType), lit(0L))
          .as("chosen"))
  }

  val crossmodalAutoprobeSql: String =
    s"""WITH e AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, $CrossmodalCells),
       |      i -> round((('0x' || substr(md5(text), 2*i-1, 2))::INT)
       |                 / 255.0, 6)) AS emb
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, emb, list_position(emb, list_max(emb)) AS cell
       |  FROM e WHERE doc_id >= 5),
       |q AS (SELECT doc_id AS qid, emb AS qemb FROM e WHERE doc_id < 5),
       |rnk AS (
       |  SELECT qid, cell,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY qv DESC, cell) AS r
       |  FROM (SELECT q.qid, d.i AS cell, q.qemb[d.i] AS qv
       |        FROM q, (SELECT unnest(generate_series(1,
       |          $CrossmodalCells)) i) d) z),
       |sc AS (
       |  SELECT q.qid, c.doc_id, c.cell,
       |    CAST(round(
       |      list_sum(list_transform(generate_series(1, $CrossmodalCells),
       |        i -> c.emb[i] * q.qemb[i])) /
       |      (sqrt(list_sum(list_transform(c.emb, x -> x*x))) *
       |       sqrt(list_sum(list_transform(q.qemb, x -> x*x)))) * 1000000)
       |      AS BIGINT) AS cm
       |  FROM c, q),
       |ex AS (
       |  SELECT qid, doc_id FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cm DESC, doc_id) rn
       |    FROM sc) WHERE rn <= 5),
       |sweep AS (SELECT unnest(generate_series(1, $CrossmodalCells)) AS np),
       |ap AS (
       |  SELECT qid, np, doc_id FROM (
       |    SELECT s.qid, w.np, s.doc_id,
       |      row_number() OVER (PARTITION BY s.qid, w.np
       |        ORDER BY s.cm DESC, s.doc_id) rn
       |    FROM sc s
       |    JOIN rnk k ON k.qid = s.qid AND k.cell = s.cell
       |    JOIN sweep w ON k.r <= w.np) WHERE rn <= 5),
       |hits AS (SELECT np, COUNT(*) h FROM ap
       |         JOIN ex USING (qid, doc_id) GROUP BY np),
       |rec AS (
       |  SELECT CAST(w.np AS BIGINT) AS nprobe,
       |         CAST(COALESCE(h, 0) * 1000000 // 25 AS BIGINT) AS recall_ppm
       |  FROM sweep w LEFT JOIN hits ON hits.np = w.np),
       |ch AS (SELECT MIN(nprobe) mn FROM rec
       |       WHERE recall_ppm >= $CrossmodalTargetPpm)
       |SELECT nprobe, recall_ppm,
       |  CAST(CASE WHEN recall_ppm >= $CrossmodalTargetPpm
       |       THEN 1 ELSE 0 END AS BIGINT) AS meets_target,
       |  CAST(CASE WHEN nprobe = (SELECT mn FROM ch) THEN 1 ELSE 0 END
       |       AS BIGINT) AS chosen
       |FROM rec""".stripMargin

  /** Shares the [[crossmodalTopKSql]] CTE chain so the probed and
    * exact spellings cannot drift. */
  lazy val crossmodalRecallSql: String =
    s"""WITH pr AS (SELECT * FROM ($crossmodalTopKSql) x),
       |e AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, $CrossmodalCells),
       |      i -> round((('0x' || substr(md5(text), 2*i-1, 2))::INT)
       |                 / 255.0, 6)) AS emb
       |  FROM documents),
       |c AS (SELECT doc_id, emb FROM e WHERE doc_id >= 5),
       |q AS (SELECT doc_id AS qid, emb AS qemb FROM e WHERE doc_id < 5),
       |scx AS (
       |  SELECT q.qid, c.doc_id,
       |    CAST(round(
       |      list_sum(list_transform(generate_series(1, $CrossmodalCells),
       |        i -> c.emb[i] * q.qemb[i])) /
       |      (sqrt(list_sum(list_transform(c.emb, x -> x*x))) *
       |       sqrt(list_sum(list_transform(q.qemb, x -> x*x)))) * 1000000)
       |      AS BIGINT) AS cm
       |  FROM c, q),
       |ex AS (
       |  SELECT qid, doc_id FROM (
       |    SELECT qid, doc_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY cm DESC, doc_id) rn
       |    FROM scx) WHERE rn <= 5),
       |h AS (SELECT pr.qid, COUNT(*) AS h
       |      FROM pr JOIN ex ON ex.qid = pr.qid AND ex.doc_id = pr.doc_id
       |      GROUP BY pr.qid)
       |SELECT q.qid,
       |  CAST(COALESCE(h.h, 0) AS BIGINT) AS hits,
       |  CAST(COALESCE(h.h, 0) * 1000000 // 5 AS BIGINT) AS recall_ppm
       |FROM q LEFT JOIN h ON h.qid = q.qid""".stripMargin

  val crossmodalTopKSql: String =
    s"""WITH e AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, $CrossmodalCells),
       |      i -> round((('0x' || substr(md5(text), 2*i-1, 2))::INT)
       |                 / 255.0, 6)) AS emb
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, emb, list_position(emb, list_max(emb)) AS cell
       |  FROM e WHERE doc_id >= 5),
       |q AS (SELECT doc_id AS qid, emb AS qemb FROM e WHERE doc_id < 5),
       |r AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, d.i AS cell,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY q.qemb[d.i] DESC, d.i) AS rn
       |    FROM q, (SELECT unnest(generate_series(1, $CrossmodalCells)) i) d)
       |  WHERE rn <= $CrossmodalProbe),
       |sc AS (
       |  SELECT r.qid, c.doc_id,
       |    CAST(round(
       |      list_sum(list_transform(generate_series(1, $CrossmodalCells),
       |        i -> c.emb[i] * q.qemb[i])) /
       |      (sqrt(list_sum(list_transform(c.emb, x -> x*x))) *
       |       sqrt(list_sum(list_transform(q.qemb, x -> x*x)))) * 1000000)
       |      AS BIGINT) AS cm
       |  FROM r JOIN c ON c.cell = r.cell
       |  JOIN q ON q.qid = r.qid)
       |SELECT qid, CAST(rn AS BIGINT) AS rank, doc_id, cm AS cos_micro
       |FROM (
       |  SELECT qid, doc_id, cm,
       |    row_number() OVER (PARTITION BY qid ORDER BY cm DESC, doc_id) rn
       |  FROM sc) WHERE rn <= 5""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("mm_modality_card", modalityCard, modalityCardSql),
    Entry("mm_resolution_gate", resolutionGate, resolutionGateSql),
    Entry("mm_media_meta", mediaMeta, mediaMetaSql),
    Entry("mm_embed_stub", embedStub, embedStubSql),
    Entry("mm_frame_sample", frameSample, frameSampleSql),
    Entry("mm_phash_neardup", phashNearDup, phashNearDupSql),
    Entry("stream_mm_phash", streamPhashNearDup, streamPhashNearDupSql),
    Entry("mm_pair_neardup", pairNearDup, pairNearDupSql),
    Entry("stream_mm_pair", streamPairNearDup, streamPairNearDupSql),
    Entry("mm_crossmodal_topk", crossmodalTopK, crossmodalTopKSql),
    Entry("stream_mm_crossmodal", streamCrossmodalTopK, crossmodalTopKSql),
    Entry("mm_crossmodal_recall", crossmodalRecall, crossmodalRecallSql),
    Entry("mm_crossmodal_autoprobe", crossmodalAutoprobe,
      crossmodalAutoprobeSql),
    Entry("mm_crossmodal_filtered", crossmodalFiltered, crossmodalFilteredSql),
    Entry("stream_mm_crossmodal_filtered", streamCrossmodalFiltered,
      crossmodalFilteredSql),
    Entry("mm_crossmodal_filtered_recall", crossmodalFilteredRecall,
      crossmodalFilteredRecallSql),
    Entry("mm_crossmodal_delete", crossmodalDelete, crossmodalDeleteSql),
    Entry("mm_crossmodal_trained", crossmodalTrained, crossmodalTrainedSql),
    Entry("mm_crossmodal_trained_filtered", crossmodalTrainedFiltered,
      crossmodalTrainedFilteredSql),
    Entry("stream_mm_crossmodal_trained", streamCrossmodalTrained,
      crossmodalTrainedSql),
    Entry("mm_crossmodal_trained_autoprobe", crossmodalTrainedAutoprobe,
      crossmodalTrainedAutoprobeSql),
    Entry("mm_crossmodal_trained_recall", crossmodalTrainedRecall,
      crossmodalTrainedRecallSql),
    Entry("mm_audio_fp", audioFpNearDup, audioFpNearDupSql),
    Entry("stream_mm_audio_fp", streamAudioFp, streamAudioFpSql),
    Entry("mm_video_neardup", videoNearDup, videoNearDupSql),
    Entry("stream_mm_video", streamVideoFp, streamVideoFpSql))
}
