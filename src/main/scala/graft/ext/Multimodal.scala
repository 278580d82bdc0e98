package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata, and per-item decode/feature
  * work runs batched per partition. Image decode is REAL — pure-JVM
  * `javax.imageio` header reads for PNG/JPEG/GIF/BMP (the JDK ships the
  * codecs; no external library). Audio/video would slot into the same
  * batch shape with their own codec init.
  *
  * Reference only maps DT_BYTES/DT_IMAGE to a type
  * (Sample dtsx usage; our expr/Compiler.scala handles the cast); this
  * is the processing surface on top.
  */
object Multimodal {

  /** One media item: id + opaque payload + source-declared metadata. */
  final case class MediaItem(media_id: Long, payload: Array[Byte], mime: String)

  /** Decoded features. `ok` = the payload decoded as an image;
    * non-image payloads keep their byte metadata with (0, 0, false). */
  final case class MediaFeatures(media_id: Long, n_bytes: Long, digest: String,
      width: Int, height: Int, ok: Boolean)

  /** Real image decode via `javax.imageio`: reads ONLY the header —
    * getWidth/getHeight on an ImageReader never decodes pixel data, so
    * per-item cost is a few hundred bytes of parsing regardless of
    * image size. Unrecognized payloads → (0, 0, false). */
  def decodeImage(payload: Array[Byte]): (Int, Int, Boolean) = {
    if (payload == null || payload.isEmpty) return (0, 0, false)
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) (0, 0, false)
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          (r.getWidth(0), r.getHeight(0), true)
        } catch { case _: Exception => (0, 0, false) }
        finally r.dispose()
      }
    } finally iis.close()
  }

  /** Deterministic tiny PNG (solid fill) — fixture generator for tests
    * and oracle queries; runs executor-side. */
  def syntheticPng(width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real image resize (pure JVM): decode, scale to fit within
    * (maxW, maxH) preserving aspect ratio, re-encode as PNG. Returns
    * the original payload untouched when it is not a decodable image
    * or already fits. (Video frame-sampling lives in [[sampleFrames]]
    * below, over the GVID demuxer — see the video container note.) */
  def resizeImage(payload: Array[Byte], maxW: Int, maxH: Int): Array[Byte] = {
    val img = try javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    catch { case _: Exception => null }
    if (img == null || (img.getWidth <= maxW && img.getHeight <= maxH)) payload
    else {
      val scale = math.min(maxW.toDouble / img.getWidth,
        maxH.toDouble / img.getHeight)
      val w = math.max(1, (img.getWidth * scale).round.toInt)
      val h = math.max(1, (img.getHeight * scale).round.toInt)
      val out = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }
  }

  /** Batched per-partition resize — same executor-local shape as
    * [[extractFeatures]]; non-image payloads pass through unchanged. */
  def resizeAll(items: Dataset[MediaItem], maxW: Int, maxH: Int): Dataset[MediaItem] = {
    import items.sparkSession.implicits._
    items.mapPartitions(_.map(m =>
      m.copy(payload = resizeImage(m.payload, maxW, maxH))))
  }

  private def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Batched per-partition decode: one codec context per partition (the
    * expensive init a real decoder needs), items streamed through it.
    * This is the Scala analog of a pandas-UDF `mapInPandas` stage —
    * executor-local batches, no driver involvement, no shuffle. */
  def extractFeatures(items: Dataset[MediaItem]): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      // per-partition codec init would go here (ImageIO registry is
      // JVM-global and already warm)
      it.map { m =>
        val (w, h, ok) = decodeImage(m.payload)
        MediaFeatures(m.media_id, m.payload.length.toLong, md5Hex(m.payload), w, h, ok)
      }
    }
  }

  /** Decoded audio stream properties. `duration_ms` uses integer math
    * (frames * 1000 / rate) so it is exactly reproducible by an oracle. */
  final case class AudioFeatures(media_id: Long, sample_rate: Int,
      channels: Int, bits_per_sample: Int, n_frames: Long,
      duration_ms: Long, ok: Boolean)

  /** Real audio header decode via `javax.sound.sampled` (the JDK ships
    * the WAV/AIFF/AU parsers — no external library;
    * `getAudioFileFormat` parses only the header, never sample data). */
  def decodeAudio(payload: Array[Byte]): (Int, Int, Int, Long, Boolean) = {
    if (payload == null || payload.isEmpty) return (0, 0, 0, 0L, false)
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(payload))
      val f = aff.getFormat
      (f.getSampleRate.toInt, f.getChannels, f.getSampleSizeInBits,
        aff.getFrameLength.toLong, true)
    } catch { case _: Exception => (0, 0, 0, 0L, false) }
  }

  /** Deterministic PCM-16 WAV (ramp waveform) — fixture generator for
    * tests and oracle queries; runs executor-side. */
  def syntheticWav(sampleRate: Int, channels: Int, nFrames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, false)
    val data = new Array[Byte](nFrames * channels * 2)
    var i = 0
    while (i < data.length) { data(i) = (i % 251).toByte; i += 1 }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Batched per-partition audio decode — same shape as
    * [[extractFeatures]]. */
  def extractAudioFeatures(items: Dataset[MediaItem]): Dataset[AudioFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions(_.map { m =>
      val (rate, ch, bits, frames, ok) = decodeAudio(m.payload)
      AudioFeatures(m.media_id, rate, ch, bits, frames,
        if (rate > 0) frames * 1000L / rate else 0L, ok)
    })
  }

  /** One fixed-duration audio segment: real header decode supplies the
    * stream geometry, then pure integer math tiles the PCM frames. */
  final case class AudioSegment(media_id: Long, seg_index: Int,
      start_frame: Long, n_seg_frames: Long, n_seg_bytes: Long, ok: Boolean)

  /** Segment each audio item into `segFrames`-frame chunks — the
    * splitting pass an audio-training pipeline runs before feature
    * extraction (Whisper-style fixed windows). Per-partition batched
    * like every decode here; a ceil-division tiling, so the last
    * segment may be short but every frame is covered exactly once;
    * byte counts are exact PCM arithmetic (frames·channels·bits/8).
    * Undecodable payloads yield one ok=false row, preserving the
    * item for error auditing. */
  def segmentAudio(items: Dataset[MediaItem],
      segFrames: Long): Dataset[AudioSegment] = {
    require(segFrames > 0, s"segFrames must be positive: $segFrames")
    import items.sparkSession.implicits._
    items.flatMap { m =>
      val (rate, ch, bits, frames, ok) = decodeAudio(m.payload)
      if (!ok || frames <= 0L)
        // ok carries the decoder verdict: empty-but-decodable audio
        // (ok, frames == 0) stays distinguishable from a corrupt payload.
        Seq(AudioSegment(m.media_id, 0, 0L, 0L, 0L, ok = ok))
      else {
        val n = ((frames + segFrames - 1) / segFrames).toInt
        (0 until n).map { i =>
          val start = i.toLong * segFrames
          val len = math.min(segFrames, frames - start)
          AudioSegment(m.media_id, i, start, len,
            len * ch * (bits / 8), ok = true)
        }
      }
    }
  }

  /** One sampled video frame: container-level index + decoded image
    * dims (header read only, as [[decodeImage]]). */
  final case class FrameFeatures(media_id: Long, frame_index: Long,
      width: Int, height: Int, n_bytes: Long, ok: Boolean)

  // --- video container ------------------------------------------------
  // The JVM ships NO video codecs, so mp4/h264 decode cannot be real
  // here. Instead of a pretend stub, frame plumbing runs against a
  // trivial REAL container this object defines: "GVID" magic, int32
  // frame count, then per frame an int32 length + an image payload
  // (big-endian). The container parse, per-partition batch shape,
  // stride sampling, and per-frame image decode are all real; swapping
  // in an mp4 demuxer replaces only parseVideo/readFrame.

  /** Deterministic container of image frames (see container note). */
  def syntheticVideo(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeBytes("GVID")
    out.writeInt(frames.size)
    frames.foreach { f => out.writeInt(f.length); out.write(f) }
    out.flush()
    bos.toByteArray
  }

  /** Parse a GVID container into (frame_index, frame payload) pairs.
    * Non-GVID payloads yield no frames. Declared counts/lengths are
    * validated against the payload's actual size BEFORE any allocation:
    * a corrupt header claiming 2^31 frames or a petabyte frame must
    * fail as a cheap bounds check, not an executor-OOMing `new
    * Array[Byte](huge)`. */
  def parseVideo(payload: Array[Byte]): Seq[(Long, Array[Byte])] = {
    if (payload == null || payload.length < 8 ||
        new String(payload, 0, 4, "US-ASCII") != "GVID") return Nil
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(payload, 4, payload.length - 4))
    val n = in.readInt()
    // every frame costs >= 4 header bytes, so a well-formed container
    // holds at most (payload - 8) / 4 frames
    if (n < 0 || n.toLong > (payload.length - 8L) / 4L)
      throw new IllegalArgumentException(
        s"corrupt GVID: declared $n frames in a ${payload.length}-byte payload")
    var remaining = payload.length - 8 // after magic + count
    (0L until n.toLong).map { i =>
      val len = in.readInt()
      remaining -= 4
      if (len < 0 || len > remaining)
        throw new IllegalArgumentException(
          s"corrupt GVID: frame $i declares $len bytes, $remaining remain")
      val frame = new Array[Byte](len)
      in.readFully(frame)
      remaining -= len
      (i, frame)
    }
  }

  /** Frame sampling: every `stride`-th frame (0, stride, 2*stride, …)
    * of each container, decoded to image dims — the standard
    * keyframe-ish downsample a training pipeline runs before feature
    * extraction. Batched per partition: one demuxer context per
    * partition, items streamed through; emitting only sampled frames
    * keeps the exploded row count at |items| * ceil(frames/stride). */
  def sampleFrames(items: Dataset[MediaItem], stride: Int): Dataset[FrameFeatures] = {
    require(stride > 0, s"stride must be positive: $stride")
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      // per-partition demuxer init would go here (GVID needs none)
      it.flatMap { m =>
        parseVideo(m.payload).collect {
          case (i, frame) if i % stride == 0 =>
            val (w, h, ok) = decodeImage(frame)
            FrameFeatures(m.media_id, i, w, h, frame.length.toLong, ok)
        }
      }
    }
  }

  /** Wrap any (id, text) frame as fake media items — payload = UTF-8
    * bytes. Stand-in source until a `binaryFile` corpus exists. */
  def asMediaItems(df: DataFrame, idCol: String, textCol: String,
      mime: String = "application/octet-stream"): Dataset[MediaItem] = {
    val spark: SparkSession = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
        col(textCol).cast("binary").as("payload"),
        lit(mime).as("mime"))
      .as[MediaItem]
  }
}
