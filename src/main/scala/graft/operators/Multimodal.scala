package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads travel as opaque
  * BINARY columns with typed metadata structs, and decode / feature-extract /
  * resize / frame-sample run as partition-parallel transforms.
  *
  * The image path is a REAL codec: payloads are PNG byte streams decoded with
  * `javax.imageio.ImageIO` (pure-JVM, no external libraries), metadata comes
  * from the decoded raster, and features are per-channel pixel statistics of
  * the decoded pixels. The audio path is likewise REAL: RIFF/WAVE PCM-16
  * streams parsed and emitted by [[AudioCodec]] (the format is a fixed
  * header over raw little-endian samples — no library needed). The video
  * path is REAL too: animated GIF via [[VideoCodec]] (`javax.imageio`
  * multi-frame read/write with per-frame GraphicControlExtension timing)
  * over a lossless 256-gray palette. True motion codecs (H.264/VP9) need
  * native libraries this container lacks — swap [[VideoCodec]] for a JNI
  * or subprocess decoder without touching any of the plumbing; kinds with
  * no JVM decoder at all go through the documented [[StubCodec]].
  */
object Multimodal {

  // ImageIO's default stream cache is DISK-backed: every encode/decode
  // otherwise creates (and fsyncs) a temp file — measured dominating the
  // 50k-payload gates. Payloads here are in-memory byte arrays; cache in
  // memory. (Global JVM setting, the standard server-side configuration.)
  javax.imageio.ImageIO.setUseCache(false)

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  /** Real image codec: PNG encode/decode via `javax.imageio` plus the
    * feature extraction used by [[decodeAndFeaturize]]. PNG is lossless, so
    * pixel statistics of a decoded image are exactly the statistics of the
    * source pattern — which is what lets the `q_multimodal_decode` gate hold
    * a live cross-engine oracle: DuckDB recomputes the expected pixel sums
    * analytically while Spark routes them through actual encoder+decoder
    * byte streams.
    */
  object ImageCodec {
    def encodePng(img: BufferedImage): Array[Byte] = {
      val bos = new ByteArrayOutputStream(1024)
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Returns null when the payload is not a decodable image. */
    def decode(bytes: Array[Byte]): BufferedImage =
      if (bytes == null || bytes.isEmpty) null
      else ImageIO.read(new ByteArrayInputStream(bytes))

    /** Features of a decoded image: `[sum(all channels), sum(R), sum(G),
      * sum(B), ...histogram]` — the first 4 slots are exact in Float (a
      * 2^24-bounded integral sum), the remainder (up to `dim`) is a
      * luminance histogram with `dim - 4` bins. Deterministic and
      * color-model independent (reads sRGB via `getRGB`).
      */
    def features(img: BufferedImage, dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      val bins = dim - 4
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >>> 16) & 0xff
          val g = (rgb >>> 8) & 0xff
          val b = rgb & 0xff
          if (dim > 0) out(0) += (r + g + b)
          if (dim > 1) out(1) += r
          if (dim > 2) out(2) += g
          if (dim > 3) out(3) += b
          if (bins > 0) {
            val lum = (r + g + b) / 3
            out(4 + math.min(bins - 1, lum * bins / 256)) += 1f
          }
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /** Nearest-neighbor resample to exactly (tw, th): output pixel (x, y)
    * copies source pixel (x*sw div tw, y*sh div th) — integer index
    * arithmetic, so a resized image's pixels are an exact function of
    * the source pattern and any engine can replay a resize
    * analytically (the q_multimodal_resize oracle does). Production
    * pipelines wanting smoothing can swap in Graphics2D bilinear without
    * touching the plumbing; NN is the one resampler with a closed
    * cross-engine form.
    */
  def resizeNearest(img: BufferedImage, tw: Int, th: Int): BufferedImage = {
    require(tw >= 1 && th >= 1, "target dims must be >= 1")
    val out = new BufferedImage(tw, th, BufferedImage.TYPE_INT_RGB)
    val sw = img.getWidth
    val sh = img.getHeight
    var y = 0
    while (y < th) {
      var x = 0
      while (x < tw) {
        out.setRGB(x, y, img.getRGB(x * sw / tw, y * sh / th))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Real audio codec: RIFF/WAVE 16-bit PCM encode/decode with plain
    * ByteBuffer parsing (no libraries — WAV PCM is a 44-byte header over
    * raw little-endian samples). Lossless like PNG, so decoded-sample
    * statistics equal the source formula's statistics exactly — the same
    * property that gives `q_multimodal_audio` a live analytic oracle.
    */
  object AudioCodec {
    final case class Wav(sampleRate: Int, channels: Int, samples: Array[Short]) {
      def frames: Int = samples.length / channels
      def durationMs: Long = frames * 1000L / sampleRate
    }

    def encodeWav(samples: Array[Short], sampleRate: Int, channels: Int): Array[Byte] = {
      require(channels >= 1 && samples.length % channels == 0,
        s"sample count ${samples.length} not a multiple of $channels channels")
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1) // PCM
        .putShort(channels.toShort)
        .putInt(sampleRate)
        .putInt(sampleRate * channels * 2) // byte rate
        .putShort((channels * 2).toShort)  // block align
        .putShort(16)                      // bits per sample
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      var i = 0
      while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
      bb.array()
    }

    /** Returns null when the payload is not a PCM-16 WAV stream. Walks the
      * RIFF chunk list (fmt may be preceded/followed by other chunks).
      */
    def decodeWav(bytes: Array[Byte]): Wav = {
      if (bytes == null || bytes.length < 44) return null
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(): String = {
        val t = new Array[Byte](4); bb.get(t); new String(t, "US-ASCII")
      }
      if (tag() != "RIFF") return null
      bb.getInt // riff size (trust the actual buffer instead)
      if (tag() != "WAVE") return null
      var sampleRate = 0; var channels = 0; var bits = 0; var fmtOk = false
      var samples: Array[Short] = null
      while (bb.remaining() >= 8 && samples == null) {
        val id = tag(); val len = bb.getInt
        if (len < 0 || len > bb.remaining()) return null
        id match {
          case "fmt " =>
            val fmtEnd = bb.position() + len
            val audioFormat = bb.getShort
            channels = bb.getShort
            sampleRate = bb.getInt
            bb.getInt; bb.getShort // byte rate, block align
            bits = bb.getShort
            fmtOk = audioFormat == 1 && bits == 16 && channels >= 1 && sampleRate > 0
            bb.position(fmtEnd + (len & 1))
          case "data" =>
            if (!fmtOk) return null
            val n = len / 2
            val out = new Array[Short](n)
            bb.asShortBuffer().get(out)
            samples = out
          case _ =>
            bb.position(bb.position() + len + (len & 1)) // skip, pad to even
        }
      }
      if (samples == null) null else Wav(sampleRate, channels, samples)
    }

    /** Features of a decoded clip: `[sum(samples), sum(|s|),
      * zero_crossings (strict sign flip), max(|s|), ...amplitude
      * histogram]` — the first three are integral sums bounded well below
      * 2^24 for gate-sized clips, so they are exact in Float.
      */
    def features(w: Wav, dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      val bins = dim - 4
      var prev = 0
      var i = 0
      while (i < w.samples.length) {
        val s = w.samples(i).toInt
        if (dim > 0) out(0) += s
        if (dim > 1) out(1) += math.abs(s)
        if (dim > 2 && i > 0 && prev * s < 0) out(2) += 1f
        if (dim > 3 && math.abs(s) > out(3)) out(3) = math.abs(s).toFloat
        if (bins > 0) out(4 + math.min(bins - 1, math.abs(s) * bins / 32768)) += 1f
        prev = s
        i += 1
      }
      out
    }
  }

  /** Real video codec: animated GIF encode/decode via `javax.imageio` —
    * a genuine multi-frame container with per-frame timing, the one video
    * format the stock JVM can both read and write. Frames are written as
    * full-coverage images over an explicit 256-gray palette, which makes
    * the round-trip LOSSLESS (every gray value is a palette entry — no
    * quantization), so decoded-pixel statistics equal the source
    * formula's statistics exactly and `q_multimodal_video` gets a live
    * analytic oracle like the image and audio gates. A true motion codec
    * (H.264/VP9) needs native libraries this container lacks; the
    * plumbing — payload bytes, per-frame metadata, the decode stage — is
    * identical either way.
    */
  object VideoCodec {
    final case class Video(width: Int, height: Int, delaysCs: Array[Int],
        frames: Array[BufferedImage]) {
      def frameCount: Int = frames.length
      def durationMs: Long = delaysCs.map(_.toLong).sum * 10L
    }

    private lazy val grayPalette: java.awt.image.IndexColorModel = {
      val g = Array.tabulate(256)(_.toByte)
      new java.awt.image.IndexColorModel(8, 256, g, g, g)
    }

    // per-thread codec instances, reset between payloads: plugin lookup +
    // writer/reader construction measured comparable to the actual
    // encode/decode work for thumbnail-sized clips (Spark tasks are
    // thread-confined, so ThreadLocal reuse is safe)
    private val pooledWriter = new ThreadLocal[javax.imageio.ImageWriter] {
      override def initialValue(): javax.imageio.ImageWriter =
        ImageIO.getImageWritersBySuffix("gif").next()
    }
    private val pooledReader = new ThreadLocal[javax.imageio.ImageReader] {
      override def initialValue(): javax.imageio.ImageReader =
        ImageIO.getImageReadersBySuffix("gif").next()
    }

    /** A full-coverage grayscale frame over the lossless 256-gray palette. */
    def grayFrame(width: Int, height: Int)(v: (Int, Int) => Int): BufferedImage = {
      val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
      val raster = img.getRaster
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { raster.setSample(x, y, 0, v(x, y) & 0xff); x += 1 }
        y += 1
      }
      img
    }

    def encodeGif(frames: Seq[BufferedImage], delayCs: Int): Array[Byte] = {
      require(frames.nonEmpty, "need at least one frame")
      val writer = pooledWriter.get()
      val bos = new ByteArrayOutputStream(1024)
      val ios = ImageIO.createImageOutputStream(bos)
      try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      // one metadata object per clip, not per frame: the tree
      // build/merge below is the expensive part of the encode, and a
      // clip's frames share palette/delay (dims live on the image
      // itself). Reuse only while the color model is the SAME instance —
      // a frame with a different palette gets a fresh tree.
      var cachedMeta: javax.imageio.metadata.IIOMetadata = null
      var cachedCm: java.awt.image.ColorModel = null
      frames.foreach { f =>
        if (cachedMeta != null && (cachedCm eq f.getColorModel)) {
          writer.writeToSequence(new javax.imageio.IIOImage(f, null, cachedMeta), null)
        }
        else {
        val meta = writer.getDefaultImageMetadata(
          javax.imageio.ImageTypeSpecifier.createFromRenderedImage(f),
          writer.getDefaultWriteParam)
        val fmt = meta.getNativeMetadataFormatName
        val root = meta.getAsTree(fmt).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        val gce = {
          val existing = root.getElementsByTagName("GraphicControlExtension")
          if (existing.getLength > 0)
            existing.item(0).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
          else {
            val node = new javax.imageio.metadata.IIOMetadataNode("GraphicControlExtension")
            root.appendChild(node); node
          }
        }
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", delayCs.toString)
        gce.setAttribute("transparentColorIndex", "0")
        // write the frame's ACTUAL palette as a local color table: the
        // writer keeps raster indices as-is but would otherwise emit its
        // default web-safe global table, silently recoloring every pixel
        // (indices survived, colors didn't — found by the oracle mismatch)
        val lctName = "LocalColorTable"
        val old = root.getElementsByTagName(lctName)
        (0 until old.getLength).foreach(i => root.removeChild(old.item(i)))
        val lct = new javax.imageio.metadata.IIOMetadataNode(lctName)
        lct.setAttribute("sizeOfLocalColorTable", "256")
        lct.setAttribute("sortFlag", "FALSE")
        val icm = f.getColorModel.asInstanceOf[java.awt.image.IndexColorModel]
        var ci = 0
        while (ci < icm.getMapSize) {
          val e = new javax.imageio.metadata.IIOMetadataNode("ColorTableEntry")
          e.setAttribute("index", ci.toString)
          e.setAttribute("red", icm.getRed(ci).toString)
          e.setAttribute("green", icm.getGreen(ci).toString)
          e.setAttribute("blue", icm.getBlue(ci).toString)
          lct.appendChild(e)
          ci += 1
        }
        root.appendChild(lct)
        meta.setFromTree(fmt, root)
        cachedMeta = meta
        cachedCm = f.getColorModel
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, meta), null)
        }
      }
      writer.endWriteSequence()
      // the finally-reset restores the POOLED instance even when a bad
      // frame aborts mid-sequence — without it the thread-local writer
      // would stay in-sequence and poison every later encode on this
      // executor thread. ios closes there too so an abort doesn't leak
      // the stream object (memory-backed: no fd at stake, see setUseCache).
      } finally {
        try ios.close() catch { case _: java.io.IOException => () }
        writer.reset()
      }
      bos.toByteArray
    }

    /** Returns null when the payload is not a decodable GIF stream. Every
      * frame is read with its own GraphicControlExtension delay (10 ms
      * units, per the GIF89a spec).
      */
    def decodeGif(bytes: Array[Byte]): Video = {
      // magic sniff replaces the per-payload plugin lookup: this decoder
      // reads GIF streams, everything else is "not decodable" by contract
      if (bytes == null || bytes.length < 6 ||
        bytes(0) != 'G' || bytes(1) != 'I' || bytes(2) != 'F') return null
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      val reader = pooledReader.get()
      try {
        reader.setInput(iis, false)
        val n = reader.getNumImages(true)
        if (n <= 0) return null
        val frames = Array.tabulate(n)(reader.read)
        val delays = Array.tabulate(n) { i =>
          val meta = reader.getImageMetadata(i)
          val root = meta.getAsTree(meta.getNativeMetadataFormatName)
            .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
          val gces = root.getElementsByTagName("GraphicControlExtension")
          if (gces.getLength == 0) 0
          else {
            val d = gces.item(0).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
              .getAttribute("delayTime")
            if (d == null || d.isEmpty) 0 else d.toInt
          }
        }
        Video(frames(0).getWidth, frames(0).getHeight, delays, frames)
      } catch { case _: Exception => null }
      finally { reader.reset(); iis.close() }
    }

    /** Features of a decoded clip: `[sum(gray) over all frames,
      * sum(gray) of the first frame, sum(gray) of the last frame,
      * frame count, ...per-frame mean-luminance histogram]` — the sums
      * are 2^24-bounded integral values for gate-sized clips, exact in
      * Float.
      */
    def features(v: Video, dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      val bins = dim - 4
      var i = 0
      while (i < v.frames.length) {
        val f = v.frames(i)
        var frameSum = 0L
        var y = 0
        while (y < f.getHeight) {
          var x = 0
          while (x < f.getWidth) {
            val rgb = f.getRGB(x, y)
            val g = (((rgb >>> 16) & 0xff) + ((rgb >>> 8) & 0xff) + (rgb & 0xff)) / 3
            frameSum += g
            x += 1
          }
          y += 1
        }
        if (dim > 0) out(0) += frameSum
        if (dim > 1 && i == 0) out(1) += frameSum
        if (dim > 2 && i == v.frames.length - 1) out(2) += frameSum
        if (bins > 0) {
          val mean = (frameSum / (f.getWidth.toLong * f.getHeight)).toInt
          out(4 + math.min(bins - 1, mean * bins / 256)) += 1f
        }
        i += 1
      }
      if (dim > 3) out(3) = v.frames.length.toFloat
      out
    }
  }

  /** STUB codec for kinds with no JVM decoder (anything beyond the real
    * image/audio/video codecs): deterministic fake decode deriving
    * metadata and a feature vector from the payload bytes. Replace with a
    * real decoder in production; the plumbing is identical.
    */
  object StubCodec {
    /** ??? in production: exotic-format decode. Deterministic fake here. */
    def decodeMeta(kind: String, bytes: Array[Byte]): (Int, Int, Int, Long) = {
      val h = graft.core.DuckDbHash.hashBytes(bytes)
      val width = 64 + ((h >>> 8) & 0x3ff).toInt   // 64..1087
      val height = 64 + ((h >>> 20) & 0x3ff).toInt
      val channels = 1 + ((h >>> 32) & 3).toInt     // 1..4
      val durationMs = if (kind == "image") 0L else 1000L + ((h >>> 34) & 0xffff)
      (width, height, channels, durationMs)
    }

    /** ??? in production: model embedding / mel features. Deterministic fake. */
    def extractFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
      val rng = new graft.core.Hashing.SplitMix64(graft.core.DuckDbHash.hashBytes(bytes))
      Array.fill(dim)(((rng.next() >>> 11).toDouble / (1L << 53).toDouble).toFloat)
    }
  }

  /** The `(media_id, payload)` stage every synthesizer runs: one payload
    * `encode(id)` per input id. Codec work is CPU-bound and the id-only
    * input is tiny, so the ids are spread across the session's full
    * parallelism first — a small table read as one 128MB-bounded partition
    * would otherwise encode 50k payloads on a single core (measured: the
    * sf1 gates ran single-threaded, 30s instead of ~2s).
    */
  private def synthesize(df: DataFrame, idCol: String)(encode: Long => Array[Byte]): DataFrame = {
    implicit val enc = RowEncoder.encoderFor(StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false))))
    df.select(col(idCol).cast("long"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .mapPartitions(_.map { r => val id = r.getLong(0); Row(id, encode(id)) })
  }

  /** The payload-map stage every decoder runs: projects `(idCol as long,
    * binCol as binary)` and emits `f(id, payload)`'s rows under `outSchema`.
    * A NULL payload reaches `f` as `null` (every codec's `decode*` maps it
    * to "not decodable"). No shuffle; partitioning is inherited.
    */
  private def mapPayloads(df: DataFrame, idCol: String, binCol: String, outSchema: StructType)(
      f: (Long, Array[Byte]) => Iterator[Row]): DataFrame = {
    implicit val enc = RowEncoder.encoderFor(outSchema)
    df.select(col(idCol).cast("long"), col(binCol).cast("binary")).mapPartitions(_.flatMap { r =>
      f(r.getLong(0), if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1))
    })
  }

  /** Deterministic synthetic PNG payloads: one real PNG per input row, with
    * dimensions `8 + id % 9` x `8 + (id / 9) % 9` and RGB pixel values
    * `(id*31 + x*7 + y*13 + channel*101) mod 256`. The formula is plain
    * integer arithmetic so an external engine can recompute every pixel
    * statistic without a codec — while the payload itself is genuine PNG
    * bytes produced by `javax.imageio` (encoder exercised here, decoder in
    * [[decodeAndFeaturize]]).
    */
  def synthesizePngPayloads(df: DataFrame, idCol: String): DataFrame =
    synthesize(df, idCol) { id =>
      val w = (8 + id % 9).toInt
      val h = (8 + (id / 9) % 9).toInt
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          def v(c: Long) = (((id * 31 + x * 7 + y * 13 + c * 101) % 256).toInt)
          img.setRGB(x, y, (v(0) << 16) | (v(1) << 8) | v(2))
          x += 1
        }
        y += 1
      }
      ImageCodec.encodePng(img)
    }

  /** Deterministic synthetic WAV payloads: one real PCM-16 WAV per input
    * row at 8 kHz with `1 + id % 2` channels and `400 + (id % 7) * 100`
    * frames; sample `i` (interleaved index) is `((id*31 + i*17) mod 4001)
    * - 2000`. Plain integer arithmetic, so an external engine recomputes
    * every sample statistic without a codec — while the payload is a
    * genuine RIFF/WAVE stream (encoder exercised here, decoder in
    * [[decodeAndFeaturize]]).
    */
  def synthesizeWavPayloads(df: DataFrame, idCol: String): DataFrame =
    synthesize(df, idCol) { id =>
      val channels = (1 + id % 2).toInt
      val frames = (400 + (id % 7) * 100).toInt
      val samples = new Array[Short](frames * channels)
      var i = 0
      while (i < samples.length) {
        samples(i) = (((id * 31 + i.toLong * 17) % 4001) - 2000).toShort
        i += 1
      }
      AudioCodec.encodeWav(samples, 8000, channels)
    }

  /** Deterministic synthetic animated-GIF payloads: one real GIF clip per
    * input row with `6 + id % 5` x `6 + (id / 5) % 5` frames of
    * `2 + id % 4` frames at `(20 + (id % 5) * 10) * 10` ms per frame
    * (clip durations 400–3000 ms, so frame sampling at a few fps stays
    * non-degenerate); frame `f`'s
    * gray pixel is `(id*31 + f*29 + x*7 + y*13) mod 256`. The palette is
    * the full 256-gray ramp, so the GIF round-trip is lossless and every
    * pixel statistic is recomputable with plain integer arithmetic —
    * while the payload is a genuine GIF89a stream produced by
    * `javax.imageio` (encoder exercised here, decoder in
    * [[decodeAndFeaturize]]).
    */
  def synthesizeGifPayloads(df: DataFrame, idCol: String): DataFrame =
    synthesize(df, idCol) { id =>
      val w = (6 + id % 5).toInt
      val h = (6 + (id / 5) % 5).toInt
      val n = (2 + id % 4).toInt
      val delayCs = (20 + (id % 5) * 10).toInt
      val frames = (0 until n).map { f =>
        VideoCodec.grayFrame(w, h)((x, y) =>
          ((id * 31 + f * 29 + x * 7 + y * 13) % 256).toInt)
      }
      VideoCodec.encodeGif(frames, delayCs)
    }

  /** 64-bit difference hash of one decoded image: nearest-sample it onto
    * a 9×8 grid — sample (gc, gr) reads pixel `(gc·w div 9, gr·h div 8)` —
    * take integer luma `(299·R + 587·G + 114·B) div 1000`, and set bit
    * `gr·8 + gc` iff `s(gc, gr) > s(gc+1, gr)`. Bit 63 lands in the sign
    * bit (two's complement, both engines agree).
    */
  private def dHash(img: BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val s = Array.ofDim[Int](8, 9)
    var gr = 0
    while (gr < 8) {
      var gc = 0
      while (gc < 9) {
        val rgb = img.getRGB(gc * w / 9, gr * h / 8)
        s(gr)(gc) = (((rgb >> 16) & 255) * 299 + ((rgb >> 8) & 255) * 587 +
          (rgb & 255) * 114) / 1000
        gc += 1
      }
      gr += 1
    }
    var hash = 0L
    gr = 0
    while (gr < 8) {
      var gc = 0
      while (gc < 8) {
        if (s(gr)(gc) > s(gr)(gc + 1)) hash |= (1L << (gr * 8 + gc))
        gc += 1
      }
      gr += 1
    }
    hash
  }

  /** Per-frame perceptual hashes of a video payload — [[dHash64]] applied
    * to every decoded frame: the shot-matching primitive for video
    * near-dup (clips sharing frame hashes contain the same footage).
    * Same exact integer spec as dHash64 (gray frames: luma == the gray
    * level, since (299+587+114) div 1000 = 1). Undecodable and NULL
    * payloads emit a single (-1, NULL) row so the id is never silently
    * dropped.
    *
    * Scale shape: one payload-map pass over the scan; output rows =
    * frames, 24 B each; the dedup group-by downstream is hash-keyed.
    */
  def frameDHashes(df: DataFrame, idCol: String, binCol: String): DataFrame =
    mapPayloads(df, idCol, binCol, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("fhash", LongType, nullable = true)))) { (id, bytes) =>
      val clip = VideoCodec.decodeGif(bytes)
      if (clip == null) Iterator.single(Row(id, -1, null))
      else clip.frames.iterator.zipWithIndex.map { case (img, f) => Row(id, f, dHash(img)) }
    }

  /** REAL byte-level image resize: decode each payload, nearest-neighbor
    * resample so the longest side is at most `maxSide` (aspect preserved,
    * `ceil(dim * scale)` targets — the same arithmetic as
    * [[withResizePlan]]), re-encode as PNG. Undecodable payloads pass
    * through unchanged, NULL as NULL. One payload-map pass, no shuffle —
    * the thumbnail/normalize pass of an image-corpus pipeline.
    */
  def resizePayloads(df: DataFrame, idCol: String, binCol: String, maxSide: Int): DataFrame = {
    require(maxSide >= 1, "maxSide must be >= 1")
    mapPayloads(df, idCol, binCol, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true)))) { (id, bytes) =>
      val img = ImageCodec.decode(bytes)
      if (img == null) Iterator.single(Row(id, bytes))
      else {
        val scale = math.min(1.0, maxSide.toDouble / math.max(img.getWidth, img.getHeight))
        // clamp: ceil(dim * (maxSide/dim)) can land one past maxSide
        // when the float product rounds up (e.g. 187 * (3/187) ->
        // 3.0000000000000004 -> ceil 4), breaking the contract
        val tw = math.min(maxSide, math.ceil(img.getWidth * scale).toInt)
        val th = math.min(maxSide, math.ceil(img.getHeight * scale).toInt)
        Iterator.single(Row(id, ImageCodec.encodePng(resizeNearest(img, tw, th))))
      }
    }
  }

  /** 64-bit perceptual difference hash (dHash) of image payloads — the
    * image twin of the text fingerprints: near-identical images (resized,
    * re-encoded, slightly recolored) collide, so exact-groupBy on the
    * hash deduplicates an image corpus and `word_hamming` on the packed
    * value gives a near-dup distance.
    *
    * Exact integer spec (engine-replayable without a codec when pixel
    * values are analytic): see [[dHash]]. Undecodable and NULL payloads
    * yield a NULL hash with (-1, -1) dimensions.
    *
    * Scale shape: one embarrassingly parallel payload-map pass over the
    * scan (same as [[decodeAndFeaturize]]); the output is 20 B a row no
    * matter how large the images are.
    */
  def dHash64(df: DataFrame, idCol: String, binCol: String): DataFrame =
    mapPayloads(df, idCol, binCol, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("dhash", LongType, nullable = true)))) { (id, bytes) =>
      val img = ImageCodec.decode(bytes)
      Iterator.single(
        if (img == null) Row(id, -1, -1, null)
        else Row(id, img.getWidth, img.getHeight, dHash(img)))
    }

  /** 64-bit audio fingerprint over decoded PCM samples — [[dHash64]]'s
    * audio sibling: re-encoded or container-shuffled copies of the same
    * PCM stream collide, so exact-groupBy dedups an audio corpus.
    *
    * Exact integer spec: with N = total interleaved samples, probe the 65
    * positions `p_k = k·N div 65` (k = 0..64) and set bit k iff
    * `s(p_k) > s(p_{k+1})` — the coarse waveform-shape signature, no FFT,
    * replayable in any engine when samples are analytic. Bit 63 lands in
    * the sign bit. Undecodable and NULL payloads yield a NULL fingerprint
    * with (-1, -1) frames and channels.
    *
    * Scale shape: one payload-map pass over the scan, 20 B out/row.
    */
  def audioFingerprint64(df: DataFrame, idCol: String, binCol: String): DataFrame =
    mapPayloads(df, idCol, binCol, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frames", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("afp", LongType, nullable = true)))) { (id, bytes) =>
      val wav = AudioCodec.decodeWav(bytes)
      Iterator.single(
        if (wav == null || wav.samples.length < 2) Row(id, -1, -1, null)
        else {
          val s = wav.samples
          val n = s.length
          var hash = 0L
          var k = 0
          while (k < 64) {
            if (s((k.toLong * n / 65).toInt) > s(((k + 1).toLong * n / 65).toInt))
              hash |= (1L << k)
            k += 1
          }
          Row(id, wav.frames, wav.channels, hash)
        })
    }

  /** Decode a binary payload column into a metadata struct + feature vector.
    *
    * One payload-map pass over the scan; the codec is chosen once per call,
    * not per row. No shuffle is introduced; partitioning is inherited.
    *
    * `kind = "image"` uses the real [[ImageCodec]] (PNG/BMP — whatever
    * `ImageIO` reads); `kind = "audio"` the real [[AudioCodec]] (PCM-16
    * WAV; meta = (width=frame count, height=sample rate, channels,
    * duration_ms)); `kind = "video"` the real [[VideoCodec]] (animated
    * GIF; meta = (width, height, 1, duration from the per-frame delays)).
    * Undecodable and NULL payloads produce zeroed metadata and features
    * rather than failing the task. Other kinds go through the documented
    * [[StubCodec]], which reads a NULL payload as empty.
    */
  def decodeAndFeaturize(df: DataFrame, idCol: String, binCol: String,
      kind: String = "image", featureDim: Int = 64): DataFrame = {
    val featurize: Array[Byte] => Option[(Row, Array[Float])] = kind match {
      case "image" => bytes => Option(ImageCodec.decode(bytes)).map { img =>
        Row(kind, img.getWidth, img.getHeight, img.getColorModel.getNumComponents, 0L) ->
          ImageCodec.features(img, featureDim)
      }
      case "audio" => bytes => Option(AudioCodec.decodeWav(bytes)).map { wav =>
        Row(kind, wav.frames, wav.sampleRate, wav.channels, wav.durationMs) ->
          AudioCodec.features(wav, featureDim)
      }
      case "video" => bytes => Option(VideoCodec.decodeGif(bytes)).map { clip =>
        Row(kind, clip.width, clip.height, 1, clip.durationMs) ->
          VideoCodec.features(clip, featureDim)
      }
      case _ => payload => {
        val bytes = if (payload == null) Array.emptyByteArray else payload
        val (w, h, c, d) = StubCodec.decodeMeta(kind, bytes)
        Some(Row(kind, w, h, c, d) -> StubCodec.extractFeatures(bytes, featureDim))
      }
    }
    mapPayloads(df, idCol, binCol, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("meta", mediaMetaSchema, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))) {
      (id, bytes) =>
        val (meta, features) = featurize(bytes)
          .getOrElse(Row(kind, 0, 0, 0, 0L) -> new Array[Float](featureDim))
        Iterator.single(Row(id, meta, features))
    }
  }

  /** Resize plan: pure metadata transform computing target dims preserving
    * aspect ratio (the byte-level resample is codec work, stubbed).
    */
  def withResizePlan(decoded: DataFrame, maxSide: Int): DataFrame = {
    val w = col("meta.width").cast("double")
    val h = col("meta.height").cast("double")
    val scale = least(lit(1.0), lit(maxSide.toDouble) / greatest(w, h))
    // least-clamp: the float product can round one past maxSide (see
    // resizePayloads) — the plan must honor the contract it documents
    decoded
      .withColumn("target_width", least(lit(maxSide), ceil(w * scale).cast("int")))
      .withColumn("target_height", least(lit(maxSide), ceil(h * scale).cast("int")))
  }

  /** Frame sampling plan for video/audio: one row per sampled frame
    * timestamp at `fps`. explode() keeps it fully parallel.
    */
  def sampleFrames(decoded: DataFrame, fps: Double): DataFrame = {
    val frames = greatest(lit(1L),
      (col("meta.duration_ms") / lit(1000.0) * lit(fps)).cast("long"))
    decoded.withColumn("frame_idx",
        explode(sequence(lit(0L), frames - 1)))
      .withColumn("frame_ts_ms",
        (col("frame_idx") * lit(1000.0) / lit(fps)).cast("long"))
  }
}
