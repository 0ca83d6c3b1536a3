package graft.ops

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite

/** Real-decoder coverage for [[Multimodal]]: actual PNG / GIF bytes
  * through JDK ImageIO, both directly and through the Spark
  * partition-pass entry points, plus the auto-vs-stub selection rules
  * that keep the text-corpus oracle queries byte-stable.
  */
class MultimodalSpec extends AnyFunSuite with graft.GraftSuite {

  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Animated GIF: frames written with the ImageIO sequence writer. */
  private def gifBytes(frames: Seq[Int], w: Int = 4, h: Int = 4): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach { rgb =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  test("imageDecode reads real PNG dimensions and channel means") {
    // pure red 6x3
    val Some((w, h, feat)) = Multimodal.imageDecode(pngBytes(6, 3, 0xff0000))
    assert(w == 6 && h == 3)
    assert(math.abs(feat(0) - 1f) < 1e-6) // mean R
    assert(feat(1) == 0f && feat(2) == 0f) // mean G, B
    // quadrant lumas of a solid image are all equal
    assert(feat.slice(3, 7).distinct.length == 1)
    assert(math.abs(feat(7) - 6f / 9f) < 1e-6) // aspect
  }

  test("imageDecode rejects non-image bytes") {
    assert(Multimodal.imageDecode("not an image at all".getBytes).isEmpty)
    assert(Multimodal.imageDecode(Array.emptyByteArray).isEmpty)
    // image magic followed by garbage must not crash
    val fake = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3)
    assert(Multimodal.imageDecode(fake).isEmpty)
  }

  test("decodeFeatures auto-decodes real images and stubs text in one corpus") {
    import spark.implicits._
    val rows = Seq(
      (1L, pngBytes(10, 5, 0x00ff00)),
      (2L, "plain text payload, long enough to matter".getBytes))
    val media = rows.toDF("media_id", "payload")
    val out = Multimodal.decodeFeatures(spark, media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 10 && out(1L).getInt(2) == 5) // real dims
    val textLen = rows(1)._2.length
    assert(out(2L).getInt(1) == 64 + (textLen % 512)) // stub dims
    assert(out(2L).getLong(3) == textLen.toLong)
  }

  test("stub decoder stays byte-identical under auto for text payloads") {
    import spark.implicits._
    val media = Seq((7L, "some document text".getBytes)).toDF("media_id", "payload")
    val auto = Multimodal.decodeFeatures(spark, media, Multimodal.Auto).collect()
    val stub = Multimodal.decodeFeatures(spark, media, Multimodal.Stub).collect()
    assert(auto.toSeq == stub.toSeq)
  }

  test("resize produces a real PNG thumbnail at target dimensions") {
    import spark.implicits._
    val media = Seq((3L, pngBytes(16, 16, 0x0000ff))).toDF("media_id", "payload")
    val out = Multimodal.resize(spark, media, targetW = 4, targetH = 4).collect()(0)
    assert(out.getInt(1) == 4 && out.getInt(2) == 4)
    val thumb = out.getAs[Array[Byte]]("thumb")
    val img = ImageIO.read(new java.io.ByteArrayInputStream(thumb))
    assert(img.getWidth == 4 && img.getHeight == 4)
    // bilinear rescale of a solid blue stays solid blue
    assert((img.getRGB(2, 2) & 0xffffff) == 0x0000ff)
  }

  test("sampleFrames demuxes an animated GIF, honoring everyN") {
    import spark.implicits._
    val media = Seq((9L, gifBytes(Seq(0xffffff, 0x000000, 0xffffff, 0x000000))))
      .toDF("media_id", "payload")
    val out = Multimodal.sampleFrames(spark, media, everyN = 2).collect()
      .map(r => r.getInt(1) -> r.getSeq[Float](2)).toMap
    assert(out.keySet == Set(0, 2)) // frames 0 and 2 of 4
    // GIF is palettized: white frame luma ~1, near-exact
    assert(out(0).slice(3, 7).forall(_ > 0.9f))
  }

  test("explicit image mode still falls back to the stub for undecodable rows") {
    import spark.implicits._
    val payload = "definitely text".getBytes
    val media = Seq((5L, payload)).toDF("media_id", "payload")
    val out = Multimodal.decodeFeatures(spark, media, Multimodal.Image).collect()(0)
    assert(out.getInt(1) == 64 + (payload.length % 512))
  }

  // --- audio ----------------------------------------------------------

  /** Real PCM WAV bytes via javax.sound.sampled's own writer. */
  private def wavBytes(
      samples: Array[Short],
      sampleRate: Float = 8000f,
      channels: Int = 1): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val fmt = new AudioFormat(sampleRate, 16, channels, true, false)
    val raw = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      raw(2 * i) = (s & 0xff).toByte
      raw(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, samples.length / channels)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("audioDecode reads a real PCM WAV: rate, frames, loudness envelope") {
    // constant-amplitude square wave at half scale: RMS of every
    // window is exactly 0.5
    val square = Array.tabulate(8000)(i =>
      (if (i % 2 == 0) 16384 else -16384).toShort)
    val Some((sr, ch, n, loud)) = Multimodal.audioDecode(wavBytes(square))
    assert(sr == 8000 && ch == 1 && n == 8000L)
    assert(loud.length == 8 && loud.forall(v => math.abs(v - 0.5f) < 1e-4))
  }

  test("audioDecode mixes stereo to mono: opposite channels cancel") {
    // L = +A, R = -A interleaved: the mono mixdown is identically 0
    val interleaved = Array.tabulate(4000)(i =>
      (if (i % 2 == 0) 12000 else -12000).toShort)
    val Some((sr, ch, n, loud)) =
      Multimodal.audioDecode(wavBytes(interleaved, channels = 2))
    assert(sr == 8000 && ch == 2 && n == 2000L)
    assert(loud.forall(_ == 0f))
  }

  test("audioDecode rejects non-WAV bytes; decodeAudio stubs them deterministically") {
    import spark.implicits._
    assert(Multimodal.audioDecode("RIFFxxxx not a wave".getBytes).isEmpty)
    assert(Multimodal.audioDecode(pngBytes(2, 2, 0)).isEmpty)
    val payload = "text payload".getBytes
    val media = Seq((3L, payload)).toDF("media_id", "payload")
    val out = Multimodal.decodeAudio(spark, media).collect()(0)
    assert(out.getInt(1) == 8000 + payload.length % 8000)
    assert(out.getInt(2) == 1 + payload.length % 2)
    assert(out.getLong(3) == payload.length.toLong)
    val feat = out.getSeq[Float](4)
    assert(feat(1) == payload((1 * 5) % payload.length).toFloat / 255f)
  }

  test("sampleClips segments a real WAV into per-clip RMS spans") {
    import spark.implicits._
    // 4096 frames: first 2048 at half scale, last 2048 silent
    val samples = Array.tabulate(4096)(i =>
      (if (i < 2048) { if (i % 2 == 0) 16384 else -16384 } else 0).toShort)
    val media = Seq((7L, wavBytes(samples))).toDF("media_id", "payload")
    val out = Multimodal.sampleClips(spark, media, clipSamples = 2048).collect()
      .map(r => r.getInt(1) -> (r.getLong(2), r.getFloat(3))).toMap
    assert(out.keySet == Set(0, 1))
    assert(out(0)._1 == 2048L && math.abs(out(0)._2 - 0.5f) < 1e-4)
    assert(out(1)._1 == 2048L && out(1)._2 == 0f)
  }

  test("sampleClips stub: whole 64-byte slices with exact integer-sum RMS") {
    import spark.implicits._
    val payload = ("a" * 100).getBytes // one whole clip, 36 bytes dropped
    val media = Seq((8L, payload)).toDF("media_id", "payload")
    val out = Multimodal.sampleClips(spark, media).collect()
    assert(out.length == 1 && out(0).getInt(1) == 0)
    val expected = math.sqrt(97L * 97 * 64 / (65025.0 * 64)).toFloat
    assert(out(0).getFloat(3) == expected)
  }

  test("decodeAudio auto-decodes real WAVs and stubs text in one corpus") {
    import spark.implicits._
    val square = Array.tabulate(1600)(i =>
      (if (i % 2 == 0) 16384 else -16384).toShort)
    val media = Seq(
      (1L, wavBytes(square)),
      (2L, "just words".getBytes)).toDF("media_id", "payload")
    val out = Multimodal.decodeAudio(spark, media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 8000 && out(1L).getLong(3) == 1600L)
    assert(math.abs(out(1L).getSeq[Float](4).head - 0.5f) < 1e-4)
    assert(out(2L).getInt(1) == 8000 + "just words".getBytes.length % 8000)
  }

  test("perceptualHash: real aHash on a half-black/half-white PNG") {
    import spark.implicits._
    // 16x16, left 8 columns black, right 8 white: white cells (grid
    // cols 4-7) sit above the grand mean -> bit pattern 0xF0 per row
    val img = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      img.setRGB(x, y, if (x < 8) 0x000000 else 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val media = Seq((1L, bos.toByteArray)).toDF("media_id", "payload")
    val r = Multimodal.perceptualHash(spark, media).collect().head
    assert(r.getLong(1) == 0xF0F0F0F0L)
    assert(r.getLong(2) == 0xF0F0F0F0L)
  }

  test("perceptualHash stub: byte-cell model on text payloads") {
    import spark.implicits._
    val payload = "abcdz".getBytes
    val media = Seq((1L, payload)).toDF("media_id", "payload")
    val r = Multimodal.perceptualHash(spark, media).collect().head
    val vals = Array.tabulate(64)(i => (payload(i % payload.length) & 0xFF).toLong)
    val mean = vals.sum / 64
    var lo = 0L; var hi = 0L
    for (i <- 0 until 32) if (vals(i) > mean) lo |= 1L << i
    for (i <- 32 until 64) if (vals(i) > mean) hi |= 1L << (i - 32)
    assert(r.getLong(1) == lo && r.getLong(2) == hi)
  }
}
