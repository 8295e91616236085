package graft.queries

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The REAL media-decode path: the catalog's mm_media_meta stubs the
  * decode (the synthetic corpus has no media bytes and the oracle must
  * reproduce it), but the production function must extract true
  * header metadata through the same partition-batched plumbing. JDK
  * ImageIO is a real codec that ships with every JVM, so this is an
  * honest end-to-end decode test: render images in memory, ship them
  * through a binary column, and get their actual dimensions back. */
class MultimodalCodecSpec extends AnyFunSuite with SharedSpark {

  private def render(w: Int, h: Int, format: String): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(java.awt.Color.ORANGE)
    g.fillRect(0, 0, w, h)
    g.dispose()
    val out = new ByteArrayOutputStream()
    assert(ImageIO.write(img, format, out), s"no JVM writer for $format")
    out.toByteArray
  }

  test("real image payloads decode to their true dimensions and format") {
    import spark.implicits._
    val rows = Seq(
      (1L, render(640, 480, "png")),
      (2L, render(32, 64, "png")),
      (3L, render(100, 50, "bmp")),
      (4L, "not an image at all".getBytes("UTF-8")))
    val got = MultimodalQueries
      .imageMeta(rows.toDF("doc_id", "payload").repartition(3),
        "doc_id", "payload")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), Option(r.getString(4))))
      .toMap

    assert(got(1L) == ((640L, 480L, Some("png"))))
    assert(got(2L) == ((32L, 64L, Some("png"))))
    assert(got(3L) == ((100L, 50L, Some("bmp"))))
    // non-image payloads degrade to null-format rows, not task failures
    assert(got(4L) == ((-1L, -1L, None)))
    // n_bytes is the raw payload size for every row
    val sizes = MultimodalQueries
      .imageMeta(rows.toDF("doc_id", "payload"), "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, bytes) => assert(sizes(id) == bytes.length) }
  }

  private def renderWav(sampleRate: Float, channels: Int,
                        nFrames: Int): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(sampleRate, 16, channels, true, false)
    val pcm = new Array[Byte](nFrames * fmt.getFrameSize)
    val in = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("real audio payloads decode to their true rate, channels, and duration") {
    import spark.implicits._
    val rows = Seq(
      (1L, renderWav(16000f, 1, 16000)), // 1.0 s mono
      (2L, renderWav(44100f, 2, 22050)), // 0.5 s stereo
      (3L, "definitely not audio".getBytes("UTF-8")))
    val got = MultimodalQueries
      .audioMeta(rows.toDF("doc_id", "payload").repartition(2),
        "doc_id", "payload")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap

    assert(got(1L) == ((16000.0, 1L, 16000L, 1.0)))
    assert(got(2L) == ((44100.0, 2L, 22050L, 0.5)))
    assert(got(3L) == ((-1.0, -1L, -1L, -1.0))) // degrades, not fails
  }

  /** A textured image whose aHash is structurally non-trivial (a flat
    * fill hashes to all-zero bands): gradient background + blocks. */
  private def renderScene(seed: Int, perturb: Boolean): Array[Byte] = {
    val (w, h) = (160, 120)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val rnd = new scala.util.Random(seed)
    val g = img.createGraphics()
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 255 / w + y * 128 / h) % 256
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    for (_ <- 1 to 12) { // content blocks
      g.setColor(new java.awt.Color(rnd.nextInt(256), rnd.nextInt(256),
        rnd.nextInt(256)))
      g.fillRect(rnd.nextInt(w - 20), rnd.nextInt(h - 20),
        10 + rnd.nextInt(20), 10 + rnd.nextInt(20))
    }
    if (perturb) { // a small local edit: one extra 6x6 block
      g.setColor(java.awt.Color.RED)
      g.fillRect(5, 5, 6, 6)
    }
    g.dispose()
    val out = new ByteArrayOutputStream()
    assert(ImageIO.write(img, "png", out))
    out.toByteArray
  }

  private def hamming(a: org.apache.spark.sql.Row,
                      b: org.apache.spark.sql.Row): Int =
    (1 to 4).map(i =>
      java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))).sum

  test("real aHash: a perturbed copy stays within the hamming gate, a different image falls far outside") {
    import spark.implicits._
    val rows = Seq(
      (1L, renderScene(7, perturb = false)),
      (2L, renderScene(7, perturb = true)),   // near-dup of 1
      (3L, renderScene(99, perturb = false)), // different content
      (4L, "not an image".getBytes("UTF-8"))) // undecodable
    val got = MultimodalQueries
      .imageAHash(rows.toDF("doc_id", "payload").repartition(3),
        "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    // the perturbed copy is a near-dup under the catalog gate (<= 6)
    assert(hamming(got(1L), got(2L)) <= 6,
      s"near-dup too far: ${hamming(got(1L), got(2L))}")
    // a different scene is far outside it
    assert(hamming(got(1L), got(3L)) > 6,
      s"distinct images too close: ${hamming(got(1L), got(3L))}")
    // a non-trivial hash: the base image must set SOME band bits
    assert((1 to 4).exists(i => got(1L).getLong(i) != 0L))
    // undecodable payloads degrade to all-zero bands (never block)
    assert((1 to 4).forall(i => got(4L).getLong(i) == 0L))
    // and carry the EXPLICIT presence flag (ADVICE r18) — absence is
    // a decode-stage fact, not an all-zero-signature inference
    assert(!got(4L).getBoolean(5))
    assert((1L to 3L).forall(id => got(id).getBoolean(5)))
  }

  /** A structured tone: a sum of two square waves (periods p1, p2
    * samples) with a slow amplitude ramp — spectrally non-trivial on
    * the Walsh (sequency) grid, so the fingerprint sets real bits. */
  private def renderTone(p1: Int, p2: Int, perturb: Boolean): Array[Byte] = {
    import javax.sound.sampled._
    val n = 16000
    val fmt = new AudioFormat(16000f, 16, 1, true, false) // mono 16-bit LE
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val sq1 = if ((i / p1) % 2 == 0) 6000 else -6000
      val sq2 = if ((i / p2) % 2 == 0) 2500 else -2500
      val ramp = 1.0 + 0.5 * i / n
      var v = ((sq1 + sq2) * ramp).toInt
      if (perturb) v += (i * 31 % 7 - 3) * 40 // small deterministic noise
      val s = math.max(-32768, math.min(32767, v)).toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val in = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("real audio fingerprint: a perturbed tone stays within the hamming gate, a different tone falls outside") {
    import spark.implicits._
    val rows = Seq(
      (1L, renderTone(80, 23, perturb = false)),
      (2L, renderTone(80, 23, perturb = true)),   // near-dup of 1
      (3L, renderTone(11, 301, perturb = false)), // different spectrum
      (4L, "definitely not audio".getBytes("UTF-8")))
    val got = MultimodalQueries
      .audioFingerprint(rows.toDF("doc_id", "payload").repartition(3),
        "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(hamming(got(1L), got(2L)) <= 6,
      s"near-dup too far: ${hamming(got(1L), got(2L))}")
    assert(hamming(got(1L), got(3L)) > 6,
      s"distinct tones too close: ${hamming(got(1L), got(3L))}")
    assert((1 to 4).exists(i => got(1L).getLong(i) != 0L))
    assert((1 to 4).forall(i => got(4L).getLong(i) == 0L))
  }

  test("real video fingerprint: a one-frame edit stays within the hamming gate, a different sequence never blocks") {
    import spark.implicits._
    // three 5-frame "videos" of real PNG frames: #2 copies #1 with a
    // small edit in frame 2 only (bands 0 and 3 — the shingles not
    // touching frame 2 — stay identical, so the pair still BLOCKS,
    // and the middle-frame diff is counted by the hamming verify);
    // #3 is different content throughout (no consecutive-frame
    // signature shingle can match, so it never becomes a candidate)
    def video(id: Long, seeds: Seq[Int], perturbFrame: Int) =
      seeds.zipWithIndex.map { case (seed, f) =>
        (id, f.toLong, renderScene(seed, perturb = f == perturbFrame))
      }
    val frames = video(1L, Seq(10, 11, 12, 13, 14), -1) ++
      video(2L, Seq(10, 11, 12, 13, 14), 2) ++
      video(3L, Seq(70, 71, 72, 73, 74), -1)
    val bands = MultimodalQueries.videoFingerprint(
      frames.toDF("doc_id", "frame_no", "payload").repartition(3),
      "doc_id", "frame_no", "payload")
    // non-trivial signatures: real frames must set band bits
    assert(bands.filter(bands("band_val") =!= 0L).count() > 0)
    val pairs = MultimodalQueries.bandedNearDup(bands)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)),
      s"one-frame edit failed to block: $pairs")
    assert(pairs((1L, 2L)) <= 6, s"near-dup too far: ${pairs((1L, 2L))}")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      s"distinct sequences blocked: $pairs")
  }

  test("columnar videoFpBands equals an independent scalar recompute of the shingle math") {
    import spark.implicits._
    val texts = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (2L, "one two three four"), // shorter than 5 frames' worth
      (3L, "solo"))               // single token
    val df = texts.toDF("doc_id", "text")
    val colSide = MultimodalQueries.videoFpBands(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5u32(t: String): Long = {
      md.reset()
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    texts.foreach { case (id, text) =>
      val cids = text.trim.split("\\s+").map(t => md5u32(t) % 8)
      val n = cids.length
      val sigs = (0 until 5).map { f =>
        val fr = cids.slice(f * n / 5, (f + 1) * n / 5)
        (0 until 8).map { c =>
          if (fr.count(_ == c) * 8 > fr.length) 1L << c else 0L
        }.sum
      }
      (0 to 3).foreach { j =>
        val want = sigs(j) * 256 + sigs(j + 1)
        assert(colSide((id, j.toLong)) == want,
          s"doc $id band $j: columnar ${colSide((id, j.toLong))} vs scalar $want")
      }
    }
  }

  test("columnar audioFpBands equals the scalar walshBands spelling on the same samples") {
    import spark.implicits._
    // the catalog leg's md5 stand-in samples, recomputed scalar-side:
    // both paths must produce identical band values
    val texts = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (2L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen fifteen sixteen"))
    val df = texts.toDF("doc_id", "text")
    val colSide = MultimodalQueries.audioFpBands(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5u32(t: String): Long = {
      md.reset()
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    texts.foreach { case (id, text) =>
      val samples = text.trim.split("\\s+").map(t => md5u32(t) % 256 - 128)
      val bands = MultimodalQueries.walshBands(samples)
      (0 to 3).foreach { b =>
        assert(colSide((id, b.toLong)) == bands(b),
          s"doc $id band $b: columnar ${colSide((id, b.toLong))} vs scalar ${bands(b)}")
      }
    }
  }
}
