package graft.ops

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** A multimodal media payload: opaque bytes + typed metadata. */
case class MediaItem(
    item_id: Long,
    media_type: String, // image | audio | video | text
    blob: Array[Byte],
    mime: String,
    byte_len: Long)

/** Extracted features for a media item. Image items carry REAL decoded
  * features (width, height, per-channel means — `javax.imageio`, in
  * every JDK) and audio items REAL PCM features (sample rate, channels,
  * frames, mean |sample| — `javax.sound.sampled`, also JDK-builtin).
  * Video items parse the REAL ISO BMFF container (mvhd timescale and
  * duration), and when the track is Motion-JPEG the FRAMES decode for
  * real too ([[Multimodal.explodeFrames]] + the JDK JPEG reader) —
  * only non-JPEG codecs (H.264 etc., absent from this environment)
  * fall back to the documented digest stub. */
case class MediaFeatures(
    item_id: Long,
    media_type: String,
    byte_len: Long,
    sig: String,
    feature: Array[Float])

/** One video frame, sliced out of its container but not yet decoded:
  * the row shape BETWEEN the sample-table explode and the (expensive)
  * pixel decode, so frame-sampling filters run before any decoding. */
case class VideoFrame(
    item_id: Long,
    frame_idx: Int,
    blob: Array[Byte])

/** Decoded per-frame pixel statistics for a video frame. */
case class FrameFeatures(
    item_id: Long,
    frame_idx: Int,
    width: Int,
    height: Int,
    mean_r: Double,
    mean_g: Double,
    mean_b: Double)

/** Header-sniffed media metadata: container format and declared
  * dimensions read from the LEADING BYTES only — no pixel decode.
  * `width`/`height` are None when the format carries none or the blob
  * is unrecognized/truncated (`format = "unknown"` — the corrupt-blob
  * signal a cleaning pass filters on). */
case class MediaHeader(
    item_id: Long,
    format: String,
    width: Option[Int],
    height: Option[Int])

/** A parsed MP4 video track: codec fourcc, declared dimensions, and the
  * per-sample (absolute file offset, byte size) table reconstructed from
  * stsc/stsz/stco (or co64). */
case class Mp4Track(
    codec: String,
    width: Int,
    height: Int,
    samples: Seq[(Long, Int)])

/** Multimodal-column plumbing: treat image/audio/video as opaque `binary`
  * columns with typed metadata, and run decode/feature-extraction as a
  * partition-batched pipeline (`mapPartitions`), the Scala analog of
  * `mapInPandas`: per-partition setup (decoder init) amortized across a
  * batch of rows, constant memory, no driver involvement. */
object Multimodal {

  // ImageIO's default stream cache spills every decode to a temp FILE; the
  // blobs here are already in memory, so disk caching is pure overhead
  // (and a failure mode on read-only executor dirs). Object init runs
  // once per JVM on first use, driver and executors alike.
  ImageIO.setUseCache(false)

  /** Wrap a text column as a binary media column with metadata — the
    * ingestion shape for any opaque payload. Pure column ops. */
  def attachBinary(df: DataFrame, id: String, payload: String): DataFrame =
    df.select(
      col(id).cast("long").as("item_id"),
      lit("text").as("media_type"),
      col(payload).cast("binary").as("blob"),
      lit("text/plain").as("mime"),
      octet_length(col(payload)).cast("long").as("byte_len"))

  /** Deterministic solid-color RGB PNG — generates REAL image blobs from
    * tabular testdata (the environment ships no media files) for specs
    * and oracle queries: a solid fill makes every decoded feature an
    * exact integer function of (w, h, r, g, b), so the full
    * encode→decode→resample→re-encode→decode chain is hash-checkable
    * against a SQL oracle computing the same closed form. */
  def solidPng(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dims: ${w}x$h")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val rgb = (r & 0xff) << 16 | (g & 0xff) << 8 | (b & 0xff)
    img.setRGB(0, 0, w, h, Array.fill(w * h)(rgb), 0, w)
    encodePng(img)
  }

  /** Deterministic horizontal-stripe RGB PNG: column x is the solid gray
    * level `grays(x)` in all three channels. The gradient analog of
    * [[solidPng]]: a perceptual difference hash of such an image is an
    * exact closed form of the gray sequence (PNG is lossless, gray
    * luma is identity when r=g=b), so [[perceptualHash]] gets a
    * cross-engine SQL oracle. */
  def hstripePng(grays: Array[Int], h: Int): Array[Byte] = {
    require(grays.nonEmpty && h > 0, s"bad dims: ${grays.length}x$h")
    val w = grays.length
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val row = grays.map(g => (g & 0xff) << 16 | (g & 0xff) << 8 | (g & 0xff))
    (0 until h).foreach(y => img.setRGB(0, y, w, 1, row, 0, w))
    encodePng(img)
  }

  /** Perceptual difference hash (dHash) of image items — the standard
    * web-scale near-duplicate fingerprint (Krawetz's dHash): decode,
    * resample to (hashW+1)×hashH, grayscale, and set bit `y*hashW + x`
    * iff gray(x+1,y) > gray(x,y). Robust to re-encoding, scaling, and
    * global brightness/contrast shifts — the transformations exact
    * content hashing ([[imageContentDedup]]) is blind to. hashW*hashH
    * must fit the 64-bit output; grayscale is exact integer ITU-R 601
    * luma ((299r+587g+114b)/1000), so equal-channel pixels hash
    * engine-reproducibly. Images already at target size skip the
    * resample (bit-exact closed form for fixture oracles).
    *
    * Scale shape: decode + hash are partition-batched row-local work;
    * only (item_id, dhash) ever shuffles — never pixels. Output:
    * `(item_id, dhash)`, one row per image item. */
  def perceptualHash(items: Dataset[MediaItem], hashW: Int = 8,
                     hashH: Int = 8): DataFrame = {
    import items.sparkSession.implicits._
    require(hashW >= 1 && hashH >= 1 && hashW * hashH <= 64,
      s"dhash bits must fit int64: ${hashW}x$hashH")
    items.mapPartitions { it =>
      it.filter(_.media_type == "image")
        .map(m => (m.item_id, dhashOf(m.blob, hashW, hashH)))
    }.toDF("item_id", "dhash")
  }

  // The jpegWriter lesson applied to DECODE: `ImageIO.read` runs an SPI
  // scan and constructs a fresh ImageReader per call — which dominates a
  // small-image decode the way writer init dominated tiny encodes.
  // Readers are not thread-safe but ARE reusable, so one per executor
  // thread per format, dispatched on the blob's magic bytes (the two
  // formats every fixture and JDK decoder here emits); anything else
  // falls back to the SPI path unchanged.
  private def threadLocalReader(format: String) =
    new ThreadLocal[javax.imageio.ImageReader] {
      override def initialValue(): javax.imageio.ImageReader =
        ImageIO.getImageReadersByFormatName(format).next()
    }
  private val jpegReader = threadLocalReader("jpeg")
  private val pngReader = threadLocalReader("png")

  /** Decode an image blob, reusing the per-thread reader for JPEG/PNG;
    * null if undecodable (the `ImageIO.read` contract). */
  private[graft] def decodeImageBlob(blob: Array[Byte]): BufferedImage = {
    val reader =
      if (blob.length >= 2 && (blob(0) & 0xff) == 0xff &&
          (blob(1) & 0xff) == 0xd8) jpegReader.get()
      else if (blob.length >= 4 && (blob(0) & 0xff) == 0x89 &&
          blob(1) == 'P' && blob(2) == 'N' && blob(3) == 'G') pngReader.get()
      else null
    if (reader == null) ImageIO.read(new ByteArrayInputStream(blob))
    else {
      val ios = new javax.imageio.stream.MemoryCacheImageInputStream(
        new ByteArrayInputStream(blob))
      try {
        reader.setInput(ios, true, true)
        reader.read(0)
      } catch { case _: java.io.IOException => null }
      finally { reader.setInput(null); ios.close() }
    }
  }

  /** Row-local dHash of one encoded image blob — the shared kernel of
    * [[perceptualHash]] and the per-frame video hashes. */
  private[graft] def dhashOf(blob: Array[Byte], hashW: Int, hashH: Int): Long = {
    val w = hashW + 1
    val src = decodeImageBlob(blob)
    require(src != null, "blob is not a decodable image")
    val img =
      if (src.getWidth == w && src.getHeight == hashH) src
      else {
        val out = new BufferedImage(w, hashH, BufferedImage.TYPE_INT_RGB)
        val g2 = out.createGraphics()
        g2.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
          RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g2.drawImage(src, 0, 0, w, hashH, null)
        g2.dispose()
        out
      }
    val px = img.getRGB(0, 0, w, hashH, null, 0, w)
    var bits = 0L
    var y = 0
    while (y < hashH) {
      var x = 0
      while (x < hashW) {
        val a = px(y * w + x)
        val b = px(y * w + x + 1)
        val ga = (299 * ((a >>> 16) & 0xff) + 587 * ((a >>> 8) & 0xff) +
          114 * (a & 0xff)) / 1000
        val gb = (299 * ((b >>> 16) & 0xff) + 587 * ((b >>> 8) & 0xff) +
          114 * (b & 0xff)) / 1000
        if (gb > ga) bits |= 1L << (y * hashW + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  /** Image near-duplicate pairs: [[perceptualHash]] fingerprints joined
    * by [[Dedup.hammingPairs]]' pigeonhole banding — provably every pair
    * within `maxDist` Hamming bits, at bucketed-equi-join cost (never an
    * all-pairs image comparison). The fingerprint table is persisted
    * (tracked in [[Caches]]): it feeds both sides of the self-join, and
    * its recompute would re-decode every image. Output:
    * `(a_id, b_id, hd)`. */
  def imageNearDupPairs(items: Dataset[MediaItem], maxDist: Int,
                        hashW: Int = 8, hashH: Int = 8): DataFrame = {
    val fp = Caches.track(perceptualHash(items, hashW, hashH).persist())
    Dedup.hammingPairs(fp, "item_id", "dhash", hashW * hashH, maxDist)
  }

  /** Incremental image near-dup: an incoming batch checked against the
    * accumulated corpus only ([[Dedup.incrementalHammingPairs]] — the
    * snapshot-growth shape of [[Dedup.incrementalMinHashPairs]]). In
    * production the existing side is a STORED fingerprint table
    * (fingerprints are pure per-image functions, so per-side hashing
    * equals hashing the union); here both sides hash from items so the
    * operator is self-contained. Cost ∝ the incoming batch: only it
    * decodes fresh, only its band keys probe. Output:
    * `(existing_id, incoming_id, hd)`. */
  def incrementalImageNearDupPairs(existing: Dataset[MediaItem],
                                   incoming: Dataset[MediaItem], maxDist: Int,
                                   hashW: Int = 8, hashH: Int = 8): DataFrame =
    Dedup.incrementalHammingPairs(
      perceptualHash(existing, hashW, hashH),
      perceptualHash(incoming, hashW, hashH),
      "item_id", "dhash", hashW * hashH, maxDist)

  private def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def decodeOrFail(item: MediaItem): BufferedImage = {
    val img = decodeImageBlob(item.blob)
    require(img != null,
      s"item ${item.item_id} (${item.mime}): blob is not a decodable image")
    img
  }

  /** REAL image decode: dimensions + per-channel byte means via ImageIO
    * (PNG/JPEG/BMP/GIF readers ship in every JDK — zero dependencies).
    * Feature layout: [width, height, mean_r, mean_g, mean_b]. */
  private def decodeImage(item: MediaItem): MediaFeatures = {
    val img = decodeOrFail(item)
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var sr = 0L; var sg = 0L; var sb = 0L
    var i = 0
    while (i < px.length) {
      val p = px(i)
      sr += (p >>> 16) & 0xff; sg += (p >>> 8) & 0xff; sb += p & 0xff
      i += 1
    }
    val n = (w.toLong * h).toFloat
    MediaFeatures(item.item_id, item.media_type, item.byte_len, md5Hex(item.blob),
      Array(w.toFloat, h.toFloat, sr / n, sg / n, sb / n))
  }

  private def md5Hex(blob: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(blob)
      .map("%02x".format(_)).mkString

  /** Deterministic constant-amplitude 16-bit PCM mono WAV — the audio
    * analog of [[solidPng]]: every decoded feature is an exact closed
    * form of (nFrames, sampleRate, value), so the encode→decode chain is
    * hash-checkable against a SQL oracle. `javax.sound.sampled` ships
    * WAV/AIFF support in every JDK — no codec dependency. */
  def constWav(nFrames: Int, sampleRate: Int, value: Short): Array[Byte] = {
    require(nFrames > 0 && sampleRate > 0, s"bad wav: $nFrames frames @ $sampleRate")
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false) // s16le mono
    val pcm = ByteBuffer.allocate(2 * nFrames)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until nFrames).foreach(_ => pcm.putShort(value))
    val bos = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new ByteArrayInputStream(pcm.array()), fmt, nFrames.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic stepped 16-bit PCM mono WAV: level `levels(i)` held
    * for `framesPerStep` frames — the gradient analog of [[constWav]],
    * giving [[audioFingerprint]] a closed-form cross-engine oracle the
    * way [[hstripePng]] does for images. */
  def stepWav(levels: Array[Short], framesPerStep: Int,
              sampleRate: Int): Array[Byte] = {
    require(levels.nonEmpty && framesPerStep > 0 && sampleRate > 0,
      s"bad wav: ${levels.length} steps × $framesPerStep @ $sampleRate")
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false) // s16le mono
    val n = levels.length * framesPerStep
    val pcm = ByteBuffer.allocate(2 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    levels.foreach(v => (0 until framesPerStep).foreach(_ => pcm.putShort(v)))
    val bos = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new ByteArrayInputStream(pcm.array()), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Perceptual audio fingerprint — the energy-envelope difference hash
    * (the audio analog of [[perceptualHash]]'s dHash): decode PCM, cut
    * the frame sequence into `windows` equal-count windows, and set bit
    * i iff window i+1 has a higher mean |sample| than window i. Loudness
    * ENVELOPE SHAPE survives re-encoding, level scaling, and padding
    * tweaks that break byte hashing. Window means compare by integer
    * cross-multiplication (sumA·nB > sumB·nA) — no float division, so
    * the fingerprint is bit-reproducible in any engine. Same near-dup
    * path as images: feed the `(item_id, afp)` table to
    * [[Dedup.hammingPairs]] / [[Dedup.incrementalHammingPairs]].
    * Output: `(item_id, afp)`, one row per audio item with ≥ `windows`
    * frames. */
  def audioFingerprint(items: Dataset[MediaItem],
                       windows: Int = 65): DataFrame = {
    import items.sparkSession.implicits._
    require(windows >= 2 && windows <= 65,
      s"need 2..65 windows for an int64 fingerprint: $windows")
    items.mapPartitions { it =>
      it.filter(_.media_type == "audio").flatMap { m =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(m.blob))
        try {
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16,
            s"item ${m.item_id}: only 16-bit PCM supported, got $fmt")
          val bytes = ais.readAllBytes()
          val bb = ByteBuffer.wrap(bytes).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          val ch = fmt.getChannels
          val frames = bytes.length / (2 * ch)
          if (frames < windows) Iterator.empty
          else {
            // frame f → window f*windows/frames (exact integer split)
            val sums = new Array[Long](windows)
            val counts = new Array[Long](windows)
            var f = 0
            while (f < frames) {
              var c = 0
              var acc = 0L
              while (c < ch) { acc += math.abs(bb.getShort.toLong); c += 1 }
              val w = (f.toLong * windows / frames).toInt
              sums(w) += acc
              counts(w) += ch
              f += 1
            }
            var bits = 0L
            var i = 0
            while (i < windows - 1) {
              if (sums(i + 1) * counts(i) > sums(i) * counts(i + 1))
                bits |= 1L << i
              i += 1
            }
            Iterator.single((m.item_id, bits))
          }
        } finally ais.close()
      }
    }.toDF("item_id", "afp")
  }

  /** Audio near-duplicate pairs: [[audioFingerprint]] envelopes joined
    * by [[Dedup.hammingPairs]]' pigeonhole banding — the audio member of
    * the near-dup family (text SimHash / image dHash / audio envelope),
    * all sharing one banded-join engine. Output: `(a_id, b_id, hd)`. */
  def audioNearDupPairs(items: Dataset[MediaItem], maxDist: Int,
                        windows: Int = 65): DataFrame = {
    val fp = Caches.track(audioFingerprint(items, windows).persist())
    Dedup.hammingPairs(fp, "item_id", "afp", windows - 1, maxDist)
  }

  /** Per-frame energy rows for activity analysis: the PCM stream cut
    * into fixed `samplesPerFrame`-frame blocks, each emitting
    * `(item_id, frame_idx, sum_abs, n_samples)` — exact integer sums
    * (the trailing partial block keeps its own count, so means stay
    * honest). Decode is partition-batched and row-local; only the
    * 4-column frame rows ever shuffle, never PCM. */
  def audioEnergyFrames(items: Dataset[MediaItem],
                        samplesPerFrame: Int): DataFrame = {
    import items.sparkSession.implicits._
    require(samplesPerFrame >= 1, s"bad samplesPerFrame: $samplesPerFrame")
    items.mapPartitions { it =>
      it.filter(_.media_type == "audio").flatMap { m =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(m.blob))
        try {
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16,
            s"item ${m.item_id}: only 16-bit PCM supported, got $fmt")
          val bytes = ais.readAllBytes()
          val bb = ByteBuffer.wrap(bytes).order(
            if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
            else java.nio.ByteOrder.LITTLE_ENDIAN)
          val ch = fmt.getChannels
          val frames = bytes.length / (2 * ch)
          val nBlocks = (frames + samplesPerFrame - 1) / samplesPerFrame
          val sums = new Array[Long](nBlocks)
          val counts = new Array[Long](nBlocks)
          var f = 0
          while (f < frames) {
            var c = 0
            var acc = 0L
            while (c < ch) { acc += math.abs(bb.getShort.toLong); c += 1 }
            val b = f / samplesPerFrame
            sums(b) += acc
            counts(b) += ch
            f += 1
          }
          (0 until nBlocks).iterator.map(b => (m.item_id, b, sums(b), counts(b)))
        } finally ais.close()
      }
    }.toDF("item_id", "frame_idx", "sum_abs", "n_samples")
  }

  /** VAD-style activity segmentation: frames whose mean |sample| clears
    * `threshold` (integer cross-multiplied: `sum_abs ≥ threshold·n` — no
    * float means), merged into maximal consecutive runs by the
    * gaps-and-islands `frame_idx − row_number()` trick over per-ITEM
    * windows (clip-bounded partitions, the sanctioned shape). The
    * silence-trim / speech-extraction primitive an audio curation pass
    * runs before transcription. Output: one row per active segment,
    * `(item_id, seg_idx, start_frame, end_frame, n_frames)`; fully
    * silent clips emit nothing. */
  def audioActivitySegments(items: Dataset[MediaItem], samplesPerFrame: Int,
                            threshold: Long): DataFrame = {
    require(threshold >= 1, s"bad threshold: $threshold")
    import org.apache.spark.sql.expressions.Window
    val act = audioEnergyFrames(items, samplesPerFrame)
      .filter(col("sum_abs") >= lit(threshold) * col("n_samples"))
    val w1 = Window.partitionBy(col("item_id")).orderBy(col("frame_idx"))
    val segs = act
      .withColumn("__grp", col("frame_idx") - row_number().over(w1))
      .groupBy(col("item_id"), col("__grp"))
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"))
    val w2 = Window.partitionBy(col("item_id")).orderBy(col("start_frame"))
    segs.withColumn("seg_idx", row_number().over(w2).cast("int"))
      .select(col("item_id"), col("seg_idx"), col("start_frame"),
        col("end_frame"), col("n_frames"))
  }

  /** REAL audio decode for WAV/AIFF payloads (JDK-builtin readers):
    * feature layout [sample_rate, channels, n_frames, mean_abs] where
    * mean_abs is the mean absolute 16-bit PCM sample value. */
  private def decodeAudio(item: MediaItem): MediaFeatures = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(item.blob))
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16,
        s"item ${item.item_id}: only 16-bit PCM supported, got $fmt")
      val bytes = ais.readAllBytes()
      val bb = ByteBuffer.wrap(bytes).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      var sumAbs = 0L
      var n = 0
      while (bb.remaining() >= 2) { sumAbs += math.abs(bb.getShort.toLong); n += 1 }
      val frames = n / fmt.getChannels
      MediaFeatures(item.item_id, item.media_type, item.byte_len,
        md5Hex(item.blob),
        Array(fmt.getSampleRate, fmt.getChannels.toFloat, frames.toFloat,
          if (n == 0) 0f else (sumAbs.toDouble / n).toFloat))
    } finally ais.close()
  }

  /** Minimal valid ISO BMFF (MP4) container: `ftyp` + `moov(mvhd)` —
    * length-prefixed boxes per the spec, no media tracks. The video
    * analog of [[solidPng]]/[[constWav]]: container METADATA (timescale,
    * duration) is an exact closed form of the arguments, so the
    * write→parse chain is hash-checkable. Frame DATA would need a codec
    * (none in this environment) — metadata is the honestly-real layer. */
  def minimalMp4(timescale: Int, duration: Long): Array[Byte] = {
    require(timescale > 0 && duration >= 0 && duration <= Int.MaxValue,
      s"bad mp4 meta: timescale=$timescale duration=$duration")
    def box(tpe: String, body: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + body.length) // big-endian default
      bb.putInt(8 + body.length)
      bb.put(tpe.getBytes(StandardCharsets.US_ASCII))
      bb.put(body)
      bb.array()
    }
    val ftyp = box("ftyp", ByteBuffer.allocate(16)
      .put("isom".getBytes(StandardCharsets.US_ASCII)).putInt(512)
      .put("isom".getBytes(StandardCharsets.US_ASCII))
      .put("iso2".getBytes(StandardCharsets.US_ASCII)).array())
    // mvhd version 0: flags(3) creation(4) modification(4) timescale(4)
    // duration(4) rate(4) volume(2) reserved(10) matrix(36) predef(24)
    // next_track_id(4)
    val mvhd = ByteBuffer.allocate(100)
    mvhd.putInt(0)                   // version + flags
    mvhd.putInt(0).putInt(0)         // creation/modification (epoch 1904: 0)
    mvhd.putInt(timescale)
    mvhd.putInt(duration.toInt)
    mvhd.putInt(0x00010000)          // rate 1.0
    mvhd.putShort(0x0100.toShort)    // volume 1.0
    mvhd.position(mvhd.position() + 10) // reserved
    Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
      .foreach(mvhd.putInt)          // identity matrix
    mvhd.position(mvhd.position() + 24) // pre_defined
    mvhd.putInt(2)                   // next_track_id
    ftyp ++ box("moov", box("mvhd", mvhd.array()))
  }

  /** REAL ISO BMFF box walk: top-level boxes → `moov` children → `mvhd`
    * (version 0 or 1) → (timescale, duration). Pure byte arithmetic on
    * the public container format — works on any MP4, not just
    * [[minimalMp4]]'s output. Returns None when no mvhd exists or the
    * structure is malformed. */
  def parseMp4Meta(blob: Array[Byte]): Option[(Int, Long)] = {
    def walk(from: Int, until: Int): Option[(Int, Long)] = {
      var off = from
      while (off + 8 <= until) {
        val bb = ByteBuffer.wrap(blob, off, until - off)
        val size = bb.getInt
        val tpe = new String(blob, off + 4, 4, StandardCharsets.US_ASCII)
        if (size < 8 || off + size > until) return None
        tpe match {
          case "moov" =>
            val r = walk(off + 8, off + size)
            if (r.isDefined) return r
          case "mvhd" =>
            val b = ByteBuffer.wrap(blob, off + 8, size - 8)
            val version = b.get() & 0xff
            b.position(b.position() + 3) // flags
            return if (version == 1) {
              b.getLong; b.getLong     // creation/modification (64-bit)
              val ts = b.getInt
              Some((ts, b.getLong))
            } else {
              b.getInt; b.getInt       // creation/modification (32-bit)
              val ts = b.getInt
              Some((ts, (b.getInt.toLong) & 0xffffffffL))
            }
          case _ => ()
        }
        off += size
      }
      None
    }
    try walk(0, blob.length) catch { case _: RuntimeException => None }
  }

  /** Deterministic solid-gray JPEG at compression quality 1.0. GRAY is
    * the load-bearing choice: measured over all 256 gray levels, the JDK
    * JPEG encode→decode roundtrip is EXACT (Cb=Cr=128 survives the
    * YCbCr transform and the quality-1.0 quantizer), while arbitrary RGB
    * is ±1 per channel — so a gray fixture gives frame decode a
    * closed-form cross-engine oracle the way [[solidPng]] does for
    * images. */
  // ImageWriter construction (SPI lookup + native init) dominates a
  // 16×16 encode; writers are not thread-safe but ARE reusable, so one
  // per executor thread — the per-partition decoder-init discipline,
  // realized as a thread-local because encodes happen inside codegen'd
  // iterators with no partition hook.
  private val jpegWriter = new ThreadLocal[javax.imageio.ImageWriter] {
    override def initialValue(): javax.imageio.ImageWriter =
      ImageIO.getImageWritersByFormatName("jpeg").next()
  }

  def solidJpeg(w: Int, h: Int, gray: Int): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dims: ${w}x$h")
    require(gray >= 0 && gray <= 255, s"bad gray: $gray")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val rgb = gray << 16 | gray << 8 | gray
    img.setRGB(0, 0, w, h, Array.fill(w * h)(rgb), 0, w)
    val writer = jpegWriter.get()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(1.0f)
    val bos = new ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    ios.close()
    bos.toByteArray
  }

  /** Gray column-stripe JPEG at quality 1.0 — the [[hstripePng]] ramp
    * pattern in the codec M-JPEG tracks carry. JPEG decode of arbitrary
    * gray content roundtrips within ±1/channel (measured, see
    * [[solidJpeg]]), so fixtures built on this must keep adjacent-column
    * steps ≥ a few gray levels for sign-exact dHash comparisons. */
  def hstripeJpeg(grays: Array[Int], h: Int): Array[Byte] = {
    require(grays.nonEmpty && h > 0, s"bad dims: ${grays.length}x$h")
    val w = grays.length
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val row = grays.map(g => (g & 0xff) << 16 | (g & 0xff) << 8 | (g & 0xff))
    (0 until h).foreach(y => img.setRGB(0, y, w, 1, row, 0, w))
    val writer = jpegWriter.get()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(1.0f)
    val bos = new ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    ios.close()
    bos.toByteArray
  }

  /** A COMPLETE Motion-JPEG MP4: [[framesMp4]] with the `jpeg` visual
    * sample entry. */
  def mjpegMp4(w: Int, h: Int, timescale: Int, frameDur: Int,
               frames: Seq[Array[Byte]]): Array[Byte] =
    framesMp4("jpeg", w, h, timescale, frameDur, frames)

  /** A PNG-frame MP4 (QuickTime `png ` visual sample entry) — the
    * lossless-frame sibling of [[mjpegMp4]] (r15 verdict item 8): same
    * ISO BMFF structure, frame payloads are real PNG. Every decode path
    * ([[explodeFrames]] → [[decodeImageBlob]]) dispatches per frame on
    * magic bytes, so fingerprints/scene cuts/keyframes work unchanged
    * — and losslessly (no JPEG gray-roundtrip caveat). */
  def pngMp4(w: Int, h: Int, timescale: Int, frameDur: Int,
             frames: Seq[Array[Byte]]): Array[Byte] =
    framesMp4("png ", w, h, timescale, frameDur, frames)

  /** One-frame-codec MP4 with visual sample entry `fourcc`: `ftyp` +
    * `mdat` (the concatenated encoded frames) + `moov` with a real
    * video track — tkhd, mdhd, hdlr(vide), vmhd, dinf, and a full
    * sample table (stsd visual entry, stts, stsc, stsz, stco; one
    * sample per chunk). Every structure is the public ISO BMFF layout,
    * so [[parseMp4Track]] — and any other MP4 reader — can walk it.
    * Frame PIXELS are real encoded images; this is the de-stubbed
    * video fixture. */
  def framesMp4(fourcc: String, w: Int, h: Int, timescale: Int,
                frameDur: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    require(fourcc.length == 4, s"fourcc must be 4 bytes: '$fourcc'")
    require(frames.nonEmpty, "need at least one frame")
    require(timescale > 0 && frameDur > 0, s"bad timing: $timescale/$frameDur")
    def box(tpe: String, body: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + body.length)
      bb.putInt(8 + body.length)
      bb.put(tpe.getBytes(StandardCharsets.US_ASCII))
      bb.put(body)
      bb.array()
    }
    val ftyp = box("ftyp", ByteBuffer.allocate(16)
      .put("isom".getBytes(StandardCharsets.US_ASCII)).putInt(512)
      .put("isom".getBytes(StandardCharsets.US_ASCII))
      .put("iso2".getBytes(StandardCharsets.US_ASCII)).array())
    val mdat = box("mdat", frames.flatten.toArray)
    // absolute sample offsets: mdat payload starts after ftyp + 8-byte header
    val base = ftyp.length + 8L
    val offsets = frames.scanLeft(base)((o, f) => o + f.length).init
    val n = frames.size
    val duration = n.toLong * frameDur

    val mvhd = {
      val b = ByteBuffer.allocate(100)
      b.putInt(0); b.putInt(0).putInt(0)
      b.putInt(timescale); b.putInt(duration.toInt)
      b.putInt(0x00010000); b.putShort(0x0100.toShort)
      b.position(b.position() + 10)
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000).foreach(b.putInt)
      b.position(b.position() + 24)
      b.putInt(2)
      b.array()
    }
    val tkhd = {
      val b = ByteBuffer.allocate(84)
      b.putInt(0x00000007)             // version 0, flags: enabled|in-movie|in-preview
      b.putInt(0).putInt(0)            // creation/modification
      b.putInt(1)                      // track_id
      b.putInt(0)                      // reserved
      b.putInt(duration.toInt)
      b.position(b.position() + 8)     // reserved
      b.putShort(0).putShort(0).putShort(0).putShort(0) // layer/group/volume/reserved
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000).foreach(b.putInt)
      b.putInt(w << 16).putInt(h << 16) // 16.16 fixed
      b.array()
    }
    val mdhd = {
      val b = ByteBuffer.allocate(24)
      b.putInt(0); b.putInt(0).putInt(0)
      b.putInt(timescale); b.putInt(duration.toInt)
      b.putShort(0x55c4.toShort)       // language 'und'
      b.putShort(0)
      b.array()
    }
    val hdlr = {
      val b = ByteBuffer.allocate(25)
      b.putInt(0); b.putInt(0)
      b.put("vide".getBytes(StandardCharsets.US_ASCII))
      b.position(b.position() + 12)
      b.put(0.toByte)                  // empty name
      b.array()
    }
    val vmhd = {
      val b = ByteBuffer.allocate(12)
      b.putInt(0x00000001)             // flags = 1 per spec
      b.array()
    }
    val dref = {
      val b = ByteBuffer.allocate(20)
      b.putInt(0); b.putInt(1)         // 1 entry
      b.putInt(12)                     // url box size
      b.put("url ".getBytes(StandardCharsets.US_ASCII))
      b.putInt(0x00000001)             // flag: media self-contained
      b.array()
    }
    val stsd = {
      val entry = ByteBuffer.allocate(86)
      entry.putInt(86)
      entry.put(fourcc.getBytes(StandardCharsets.US_ASCII))
      entry.position(entry.position() + 6) // reserved
      entry.putShort(1)                // data_reference_index
      entry.position(entry.position() + 16) // predefined/reserved
      entry.putShort(w.toShort).putShort(h.toShort)
      entry.putInt(0x00480000).putInt(0x00480000) // 72 dpi
      entry.putInt(0)                  // reserved
      entry.putShort(1)                // frame_count
      entry.position(entry.position() + 32) // compressor name
      entry.putShort(24)               // depth
      entry.putShort(0xffff.toShort)   // pre_defined = -1
      val b = ByteBuffer.allocate(8 + 86)
      b.putInt(0); b.putInt(1)
      b.put(entry.array())
      b.array()
    }
    val stts = {
      val b = ByteBuffer.allocate(16)
      b.putInt(0); b.putInt(1)
      b.putInt(n).putInt(frameDur)
      b.array()
    }
    val stsc = {
      val b = ByteBuffer.allocate(20)
      b.putInt(0); b.putInt(1)
      b.putInt(1).putInt(1).putInt(1)  // from chunk 1: 1 sample/chunk
      b.array()
    }
    val stsz = {
      val b = ByteBuffer.allocate(12 + 4 * n)
      b.putInt(0); b.putInt(0)         // sample_size 0 → per-sample table
      b.putInt(n)
      frames.foreach(f => b.putInt(f.length))
      b.array()
    }
    val stco = {
      val b = ByteBuffer.allocate(8 + 4 * n)
      b.putInt(0); b.putInt(n)
      offsets.foreach(o => b.putInt(o.toInt))
      b.array()
    }
    val stbl = box("stbl", box("stsd", stsd) ++ box("stts", stts) ++
      box("stsc", stsc) ++ box("stsz", stsz) ++ box("stco", stco))
    val minf = box("minf", box("vmhd", vmhd) ++
      box("dinf", box("dref", dref)) ++ stbl)
    val mdia = box("mdia", box("mdhd", mdhd) ++ box("hdlr", hdlr) ++ minf)
    val trak = box("trak", box("tkhd", tkhd) ++ mdia)
    val moov = box("moov", box("mvhd", mvhd) ++ trak)
    ftyp ++ mdat ++ moov
  }

  /** REAL sample-table walk: moov → trak → mdia → minf → stbl →
    * {stsd, stsz, stsc, stco|co64}, then per-sample absolute offsets
    * reconstructed by the spec's chunk algorithm (stsc runs × stsz
    * sizes accumulated from each stco chunk base). Works on any
    * single-video-track MP4, not just [[mjpegMp4]]'s 1-sample-per-chunk
    * layout. Returns None when no complete sample table exists (e.g.
    * [[minimalMp4]], which has no track at all). */
  def parseMp4Track(blob: Array[Byte]): Option[Mp4Track] = {
    def children(from: Int, until: Int): Seq[(String, Int, Int)] = {
      val out = Seq.newBuilder[(String, Int, Int)]
      var off = from
      while (off + 8 <= until) {
        val size = ByteBuffer.wrap(blob, off, 4).getInt
        if (size < 8 || off + size > until) return out.result()
        out += ((new String(blob, off + 4, 4, StandardCharsets.US_ASCII),
          off + 8, off + size))
        off += size
      }
      out.result()
    }
    def child(boxes: Seq[(String, Int, Int)], tpe: String): Option[(Int, Int)] =
      boxes.collectFirst { case (t, f, u) if t == tpe => (f, u) }
    try {
      val top = children(0, blob.length)
      val (moovF, moovU) = child(top, "moov").getOrElse(return None)
      // first trak whose stbl is complete
      children(moovF, moovU).collect { case ("trak", f, u) => (f, u) }
        .flatMap { case (trakF, trakU) =>
          for {
            (mdiaF, mdiaU) <- child(children(trakF, trakU), "mdia")
            (minfF, minfU) <- child(children(mdiaF, mdiaU), "minf")
            (stblF, stblU) <- child(children(minfF, minfU), "stbl")
            stbl = children(stblF, stblU)
            (stsdF, _) <- child(stbl, "stsd")
            (stszF, _) <- child(stbl, "stsz")
            (stscF, _) <- child(stbl, "stsc")
            co <- child(stbl, "stco").map((_, false))
              .orElse(child(stbl, "co64").map((_, true)))
          } yield {
            // stsd: verflags(4) count(4) entrysize(4) fourcc(4) skip(6+2+16) w(2) h(2)
            val sd = ByteBuffer.wrap(blob, stsdF + 8, 40)
            sd.getInt // entry size
            val fourcc = new String(blob, stsdF + 12, 4, StandardCharsets.US_ASCII)
            val dims = ByteBuffer.wrap(blob, stsdF + 16 + 24, 4)
            val w = dims.getShort & 0xffff
            val h = dims.getShort & 0xffff
            val sz = ByteBuffer.wrap(blob, stszF, blob.length - stszF)
            sz.getInt // verflags
            val fixedSize = sz.getInt
            val nSamples = sz.getInt
            val sizes = Array.tabulate(nSamples)(_ =>
              if (fixedSize != 0) fixedSize else sz.getInt)
            val ((coF, _), isCo64) = co
            val cb = ByteBuffer.wrap(blob, coF, blob.length - coF)
            cb.getInt // verflags
            val nChunks = cb.getInt
            val chunkOffsets = Array.tabulate(nChunks)(_ =>
              if (isCo64) cb.getLong else (cb.getInt.toLong & 0xffffffffL))
            val sc = ByteBuffer.wrap(blob, stscF, blob.length - stscF)
            sc.getInt // verflags
            val nRuns = sc.getInt
            val runs = Array.tabulate(nRuns) { _ =>
              val first = sc.getInt; val per = sc.getInt; sc.getInt // desc idx
              (first, per)
            }
            val samples = Seq.newBuilder[(Long, Int)]
            var sample = 0
            var run = 0
            var chunk = 1
            while (chunk <= nChunks && sample < nSamples) {
              while (run + 1 < runs.length && runs(run + 1)._1 <= chunk) run += 1
              var off = chunkOffsets(chunk - 1)
              var i = 0
              while (i < runs(run)._2 && sample < nSamples) {
                samples += ((off, sizes(sample)))
                off += sizes(sample)
                sample += 1
                i += 1
              }
              chunk += 1
            }
            Mp4Track(fourcc, w, h, samples.result())
          }
        }.headOption.filter(_.samples.nonEmpty)
    } catch { case _: RuntimeException => None }
  }

  /** Explode a video item into its per-frame rows WITHOUT decoding:
    * parse the sample table, slice each sample's bytes. Items with no
    * parseable video track explode to nothing. Row-local (the container
    * blob never shuffles — each output row carries only its own frame's
    * bytes); compose with [[sampleEveryNth]] on `frame_idx` BEFORE
    * [[frameFeatures]] so only the sampled frames ever reach the
    * (expensive) pixel decode. */
  def explodeFrames(items: Dataset[MediaItem]): Dataset[VideoFrame] = {
    import items.sparkSession.implicits._
    items.flatMap { m =>
      parseMp4Track(m.blob).toSeq.flatMap(_.samples.zipWithIndex.collect {
        case ((off, len), i) if off + len <= m.blob.length =>
          VideoFrame(m.item_id, i,
            java.util.Arrays.copyOfRange(m.blob, off.toInt, off.toInt + len))
      })
    }
  }

  /** REAL frame decode (JDK JPEG reader — MJPEG needs no external
    * codec): per-frame dimensions + per-channel byte means, the video
    * analog of [[decodeImage]]. Partition-batched like every decoder
    * here; the reader is reused per thread ([[decodeImageBlob]]). */
  def frameFeatures(frames: Dataset[VideoFrame]): Dataset[FrameFeatures] = {
    import frames.sparkSession.implicits._
    frames.mapPartitions(_.map { f =>
      val img = decodeImageBlob(f.blob)
      require(img != null,
        s"item ${f.item_id} frame ${f.frame_idx}: not a decodable frame")
      val w = img.getWidth
      val h = img.getHeight
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var sr = 0L; var sg = 0L; var sb = 0L
      var i = 0
      while (i < px.length) {
        val p = px(i)
        sr += (p >>> 16) & 0xff; sg += (p >>> 8) & 0xff; sb += p & 0xff
        i += 1
      }
      val n = (w.toLong * h).toDouble
      FrameFeatures(f.item_id, f.frame_idx, w, h, sr / n, sg / n, sb / n)
    })
  }

  /** Per-video perceptual fingerprint — the missing corner of the
    * text/image/audio/video near-dup matrix: sample frames
    * ([[sampleEveryNth]] on `frame_idx`, BEFORE any pixel decode),
    * dHash each sampled frame ([[dhashOf]], the q98 kernel), and
    * temporally pool into one 64-bit signature by PER-BIT MAJORITY
    * vote (bit j set iff strictly more than half the sampled frames
    * set it; ties → 0) — robust to a minority of edited/inserted
    * frames the way dHash is robust to re-encoding. Re-encoded,
    * re-muxed, or frame-rate-halved copies of a video land on the
    * same signature.
    *
    * Scale shape: container parse + frame slice + decode + hash are
    * row-local partition work (the blob never shuffles); the pooling
    * is ONE map-side-combinable groupBy of 64 conditional bit sums.
    * Videos with no parseable track (or no sampled frames) drop.
    * Output: `(item_id, vhash)`. */
  def videoFingerprint(items: Dataset[MediaItem], stride: Int = 2,
                       hashW: Int = 8, hashH: Int = 8): DataFrame = {
    import items.sparkSession.implicits._
    require(stride >= 1, s"stride must be >= 1, got $stride")
    require(hashW >= 1 && hashH >= 1 && hashW * hashH <= 64,
      s"dhash bits must fit int64: ${hashW}x$hashH")
    val frames = sampleEveryNth(explodeFrames(items).toDF, "frame_idx", stride)
      .as[VideoFrame]
    val fh = frames.mapPartitions(_.map(f =>
      (f.item_id, dhashOf(f.blob, hashW, hashH)))).toDF("item_id", "fh")
    val nb = hashW * hashH
    val aggs = (0 until nb).map(j =>
      sum(shiftright(col("fh"), j).bitwiseAND(lit(1L))).as(s"b$j")) :+
      count(lit(1)).as("n")
    val vote = (0 until nb).map(j =>
      when(col(s"b$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _) // distinct bit positions: + never carries ≡ bitwise OR
    fh.groupBy(col("item_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("item_id"), vote.as("vhash"))
  }

  /** Scene-cut detection: consecutive sampled-frame dHash distance —
    * the shot-boundary primitive every video curation pipeline needs
    * (sample one frame per shot, drop static filler, count cuts as a
    * quality/liveliness signal): frames sample and hash exactly as
    * [[videoFingerprint]], then a LAG window PARTITIONED BY video (the
    * sanctioned per-key shape — partitions are per-video frame counts,
    * tiny) emits every sampled position whose dHash is ≥ `minDist`
    * Hamming bits from the previous sampled frame. Pixels never
    * shuffle; only `(item_id, frame_idx, hash)` reaches the window.
    * Output: `(item_id, frame_idx, hd)` — the LATER frame of each
    * cut. */
  def videoSceneCuts(items: Dataset[MediaItem], minDist: Int,
                     stride: Int = 1, hashW: Int = 8,
                     hashH: Int = 8): DataFrame = {
    import items.sparkSession.implicits._
    require(minDist >= 0, s"minDist must be >= 0, got $minDist")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    require(hashW >= 1 && hashH >= 1 && hashW * hashH <= 64,
      s"dhash bits must fit int64: ${hashW}x$hashH")
    val frames = sampleEveryNth(explodeFrames(items).toDF, "frame_idx", stride)
      .as[VideoFrame]
    val fh = frames.mapPartitions(_.map(f =>
      (f.item_id, f.frame_idx, dhashOf(f.blob, hashW, hashH))))
      .toDF("item_id", "frame_idx", "fh")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item_id")).orderBy(col("frame_idx"))
    fh.withColumn("__prev", lag(col("fh"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .withColumn("hd",
        bit_count(col("fh").bitwiseXOR(col("__prev"))).cast("int"))
      .filter(col("hd") >= minDist)
      .select(col("item_id"), col("frame_idx"), col("hd"))
  }

  /** Shot-aware keyframe selection — the curation sampler one step
    * smarter than a fixed stride ([[sampleEveryNth]]): segment each
    * video at its detected scene cuts (the [[videoSceneCuts]] dHash
    * distance, threshold `minDist`) and keep ONE representative frame
    * per shot (its first) — a static shot contributes one frame no
    * matter how long, a rapid montage keeps one per cut. Per-video
    * lag + running-cut-count windows (tiny per-key partitions, the
    * sanctioned shape); pixels never shuffle — only `(item, frame,
    * hash)` rows do. Output: `(item_id, shot, key_frame_idx,
    * n_frames)`. */
  def videoKeyframes(items: Dataset[MediaItem], minDist: Int,
                     stride: Int = 1, hashW: Int = 8,
                     hashH: Int = 8): DataFrame = {
    import items.sparkSession.implicits._
    require(minDist >= 0, s"minDist must be >= 0, got $minDist")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    require(hashW >= 1 && hashH >= 1 && hashW * hashH <= 64,
      s"dhash bits must fit int64: ${hashW}x$hashH")
    val frames = sampleEveryNth(explodeFrames(items).toDF, "frame_idx",
      stride).as[VideoFrame]
    val fh = frames.mapPartitions(_.map(f =>
      (f.item_id, f.frame_idx, dhashOf(f.blob, hashW, hashH))))
      .toDF("item_id", "frame_idx", "fh")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item_id")).orderBy(col("frame_idx"))
    fh.withColumn("__prev", lag(col("fh"), 1).over(w))
      .withColumn("__cut",
        when(col("__prev").isNotNull &&
          bit_count(col("fh").bitwiseXOR(col("__prev"))) >= minDist,
          lit(1L)).otherwise(lit(0L)))
      .withColumn("shot", sum(col("__cut")).over(w))
      .groupBy(col("item_id"), col("shot"))
      .agg(min(col("frame_idx")).cast("long").as("key_frame_idx"),
        count(lit(1)).as("n_frames"))
  }

  /** Video near-duplicate pairs: [[videoFingerprint]] signatures joined
    * by the SHARED pigeonhole Hamming banding ([[Dedup.hammingPairs]] —
    * the one implementation text/image/audio already band through).
    * The fingerprint table is persisted (Caches-tracked): it feeds both
    * sides of the self-join and its recompute would re-decode every
    * sampled frame. Compose with [[Dedup.dedupClusters]] for families.
    * Output: `(a_id, b_id, hd)`. */
  def videoNearDupPairs(items: Dataset[MediaItem], maxDist: Int,
                        stride: Int = 2, hashW: Int = 8,
                        hashH: Int = 8): DataFrame = {
    val fp = Caches.track(
      videoFingerprint(items, stride, hashW, hashH).persist())
    Dedup.hammingPairs(fp, "item_id", "vhash", hashW * hashH, maxDist)
  }

  /** Video decode: container metadata is REAL (ISO BMFF box parse —
    * [[parseMp4Meta]]), and when the track is Motion-JPEG or PNG-frame
    * the first frame's pixels decode for real too (JDK readers, magic
    * byte dispatch): feature layout [timescale, duration, duration_ms]
    * for track-less or other-codec containers, extended with
    * [n_frames, mean_r, mean_g, mean_b] of frame 0 when the sample
    * table is walkable. Non-MP4 payloads fall back to the digest
    * stub. */
  private def decodeVideo(item: MediaItem): MediaFeatures =
    parseMp4Meta(item.blob) match {
      case Some((timescale, duration)) =>
        val meta = Array(timescale.toFloat, duration.toFloat,
          duration.toFloat * 1000f / timescale.toFloat)
        val framed = parseMp4Track(item.blob) match {
          case Some(t) if (t.codec == "jpeg" || t.codec == "png ") &&
              t.samples.nonEmpty &&
              t.samples.head._1 + t.samples.head._2 <= item.blob.length =>
            val (off, len) = t.samples.head
            val img = decodeImageBlob(
              java.util.Arrays.copyOfRange(item.blob, off.toInt, off.toInt + len))
            if (img == null) meta
            else {
              val w = img.getWidth; val h = img.getHeight
              val px = img.getRGB(0, 0, w, h, null, 0, w)
              var sr = 0L; var sg = 0L; var sb = 0L
              var i = 0
              while (i < px.length) {
                val p = px(i)
                sr += (p >>> 16) & 0xff; sg += (p >>> 8) & 0xff; sb += p & 0xff
                i += 1
              }
              val n = (w.toLong * h).toFloat
              meta ++ Array(t.samples.size.toFloat, sr / n, sg / n, sb / n)
            }
          case _ => meta
        }
        MediaFeatures(item.item_id, item.media_type, item.byte_len,
          md5Hex(item.blob), framed)
      case None => decodeStub(item)
    }

  /** STUB decoder for payloads with no parseable structure (non-MP4
    * video; text keeps the same digest shape): deterministic md5 digest
    * + 4 pseudo-features derived from the digest bytes. The
    * partition-batched execution shape is the real contract. */
  private def decodeStub(item: MediaItem): MediaFeatures = {
    val digest = java.security.MessageDigest.getInstance("MD5").digest(item.blob)
    val feats = digest.take(4).map(b => (b & 0xff).toFloat / 255.0f)
    MediaFeatures(item.item_id, item.media_type, item.byte_len,
      md5Hex(item.blob), feats)
  }

  /** Decode + feature-extract, partition-batched. Image items go through
    * the REAL ImageIO decoder and audio items through the REAL
    * `javax.sound.sampled` WAV/AIFF reader; video (the one genuinely
    * codec-less modality here) and text go through the documented stub.
    * Executor-local "decoder init" happens once per partition (the
    * expensive part for real codecs); rows then stream through it without
    * materializing the partition. */
  def extractFeatures(items: Dataset[MediaItem]): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      // per-partition decoder/model initialization would go here
      it.map {
        case m if m.media_type == "image" => decodeImage(m)
        case m if m.media_type == "audio" => decodeAudio(m)
        case m if m.media_type == "video" => decodeVideo(m)
        case m => decodeStub(m)
      }
    }
  }

  /** Frame-sampling shape for video payloads: key frames every `stride`-th
    * item per source — reuses the engine's throttle operator (ST4) on the
    * metadata, demonstrating that multimodal sampling is the same
    * first-per-bucket aggregation as event-rate capping. */
  def sampleEveryNth(df: DataFrame, id: String, stride: Int): DataFrame =
    df.filter(pmod(col(id), lit(stride)) === 0)

  /** Resize, partition-batched like [[extractFeatures]]. Image items are
    * REALLY resampled: ImageIO decode → `Graphics2D` bilinear scale to
    * `targetW`×`targetH` → PNG re-encode (mime becomes image/png).
    * Audio/video/text fall back to the documented stub transform
    * (deterministic truncate/pad to the target's nominal size): video
    * has no codec in this environment, and audio sample-RATE conversion
    * is not guaranteed by the default JDK service providers (decode is —
    * see extractFeatures). The metadata contract is real for every
    * branch: `byte_len` reflects the transformed blob. */
  def resize(items: Dataset[MediaItem], targetW: Int, targetH: Int): Dataset[MediaItem] = {
    import items.sparkSession.implicits._
    require(targetW > 0 && targetH > 0, s"bad target: ${targetW}x$targetH")
    val nominal = targetW * targetH * 3 / 1024 + 1 // stub "encoded" size
    items.mapPartitions { it =>
      // per-partition codec/resampler initialization would go here
      it.map { m =>
        if (m.media_type == "image") {
          val src = decodeOrFail(m)
          val out = new BufferedImage(targetW, targetH, BufferedImage.TYPE_INT_RGB)
          val g2 = out.createGraphics()
          g2.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
            RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g2.drawImage(src, 0, 0, targetW, targetH, null)
          g2.dispose()
          val blob = encodePng(out)
          m.copy(blob = blob, mime = "image/png", byte_len = blob.length.toLong)
        } else {
          val blob = java.util.Arrays.copyOf(m.blob, nominal)
          m.copy(blob = blob, byte_len = blob.length.toLong)
        }
      }
    }
  }

  /** Back-compat name from the all-stub era; image items now resample for
    * real. */
  def resizeStub(items: Dataset[MediaItem], targetW: Int, targetH: Int): Dataset[MediaItem] =
    resize(items, targetW, targetH)

  /** Decode-normalized image dedup — the multimodal analog of
    * [[graft.ops.Dedup.exactDedup]]: byte-level hashing misses
    * duplicates that differ only in encoding or resolution (the common
    * web-crawl case: one image re-encoded at many sizes), so normalize
    * FIRST — real decode → fixed-target resample ([[resize]]) → decoded
    * features — and dedup on the normalized CONTENT. Two blobs with
    * different bytes and different dimensions but the same underlying
    * image land in one family. Output: `(keep_id, n_copies, mean_r,
    * mean_g, mean_b)`, winner = smallest id, one row per family.
    *
    * Scale shape: decode/resample are partition-batched row-local work
    * (the expensive part — exactly what executors parallelize); the
    * dedup is ONE hash-groupBy on the normalized feature scalars with
    * map-side combine. At 100 TB the feature tuple is the only thing
    * that shuffles — never the pixels. */
  def imageContentDedup(items: Dataset[MediaItem], targetW: Int,
                        targetH: Int): DataFrame = {
    import items.sparkSession.implicits._
    require(targetW > 0 && targetH > 0, s"bad target: ${targetW}x$targetH")
    // FUSED normalize+features: decode once, scale in memory, compute the
    // channel means off the scaled raster directly — the composed
    // resize→extractFeatures pipeline decodes every image twice and pays
    // a PNG re-encode purely to hand pixels to the next stage. PNG is
    // lossless, so the features are bit-identical to the composed form
    // (same scaled pixels, same float mean arithmetic as decodeImage).
    val feats = items.mapPartitions { it =>
      it.filter(_.media_type == "image").map { m =>
        val src = decodeOrFail(m)
        val out = new BufferedImage(targetW, targetH, BufferedImage.TYPE_INT_RGB)
        val g2 = out.createGraphics()
        g2.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
          RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g2.drawImage(src, 0, 0, targetW, targetH, null)
        g2.dispose()
        val px = out.getRGB(0, 0, targetW, targetH, null, 0, targetW)
        var sr = 0L; var sg = 0L; var sb = 0L
        var i = 0
        while (i < px.length) {
          val p = px(i)
          sr += (p >>> 16) & 0xff; sg += (p >>> 8) & 0xff; sb += p & 0xff
          i += 1
        }
        val n = (targetW.toLong * targetH).toFloat
        (m.item_id, sr / n, sg / n, sb / n)
      }
    }.toDF("item_id", "mr", "mg", "mb")
    feats
      .select(col("item_id"), col("mr").cast("double").as("mean_r"),
        col("mg").cast("double").as("mean_g"),
        col("mb").cast("double").as("mean_b"))
      .groupBy(col("mean_r"), col("mean_g"), col("mean_b"))
      .agg(min(col("item_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies", "mean_r", "mean_g", "mean_b")
  }

  // ------------------------------------------------------- header sniffing

  /** JPEG dimensions from the segment walk: skip marker segments until a
    * start-of-frame (SOF0-15, minus the DHT/JPG/DAC exceptions), whose
    * payload carries height then width big-endian. Bounds-checked —
    * truncated or malformed streams return None, never throw. */
  private[graft] def jpegDims(b: Array[Byte]): Option[(Int, Int)] = {
    var i = 2
    while (i + 1 < b.length && (b(i) & 0xff) == 0xff) {
      val m = b(i + 1) & 0xff
      if (m == 0xff) i += 1 // fill byte padding before a marker
      else if (m == 0x01 || (m >= 0xd0 && m <= 0xd8)) i += 2 // standalone
      else {
        if (i + 3 >= b.length) return None
        val len = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
        if (len < 2) return None
        val isSof = m >= 0xc0 && m <= 0xcf &&
          m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (i + 8 >= b.length) return None
          val h = ((b(i + 5) & 0xff) << 8) | (b(i + 6) & 0xff)
          val w = ((b(i + 7) & 0xff) << 8) | (b(i + 8) & 0xff)
          return Some((w, h))
        }
        i += 2 + len
      }
    }
    None
  }

  /** Sniff `(format, width, height)` from a blob's LEADING BYTES — PNG
    * IHDR, JPEG SOF walk, GIF logical-screen descriptor, BMP info
    * header; anything else (including truncated headers) is
    * `("unknown", None, None)`. Pure byte arithmetic, no decoder. */
  private[graft] def sniffImageHeader(
      b: Array[Byte]): (String, Option[Int], Option[Int]) = {
    def u(i: Int) = b(i) & 0xff
    def be32(i: Int) = (u(i) << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) | u(i + 3)
    def le16(i: Int) = u(i) | (u(i + 1) << 8)
    def le32(i: Int) = u(i) | (u(i + 1) << 8) | (u(i + 2) << 16) | (u(i + 3) << 24)
    if (b.length >= 24 && u(0) == 0x89 && u(1) == 'P' && u(2) == 'N' &&
        u(3) == 'G' && u(12) == 'I' && u(13) == 'H' && u(14) == 'D' &&
        u(15) == 'R')
      ("png", Some(be32(16)), Some(be32(20)))
    else if (b.length >= 4 && u(0) == 0xff && u(1) == 0xd8)
      jpegDims(b) match {
        case Some((w, h)) => ("jpeg", Some(w), Some(h))
        case None => ("unknown", None, None)
      }
    else if (b.length >= 10 && u(0) == 'G' && u(1) == 'I' && u(2) == 'F' &&
        u(3) == '8' && (u(4) == '7' || u(4) == '9') && u(5) == 'a')
      ("gif", Some(le16(6)), Some(le16(8)))
    else if (b.length >= 26 && u(0) == 'B' && u(1) == 'M')
      ("bmp", Some(le32(18)), Some(le32(22)))
    else ("unknown", None, None)
  }

  /** Header-only image metadata at corpus scale: `(item_id, format,
    * width, height)` from the container header bytes, NO pixel decode —
    * the way to profile (and corruption-gate) a 100 TB image corpus at
    * parquet-scan cost instead of JPEG-decode cost (decode is the
    * dominant term in every real pass here, q96/q59 measured). Rows
    * whose blob doesn't parse come back `format = "unknown"` — the
    * filter a cleaning pass drops or routes to quarantine. Row-local
    * `mapPartitions`, nothing but the 4-column result ever shuffles. */
  def imageHeaderMeta(items: Dataset[MediaItem]): Dataset[MediaHeader] = {
    import items.sparkSession.implicits._
    items.mapPartitions(_.map { m =>
      val (fmt, w, h) = sniffImageHeader(m.blob)
      MediaHeader(m.item_id, fmt, w, h)
    })
  }
}
