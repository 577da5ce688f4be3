package graft.multimodal

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

/** REAL video codec for the one container a pure JVM can parse without
  * any codec dependency: YUV4MPEG2 (`.y4m`), the uncompressed frame
  * format every video toolchain (ffmpeg, x264, mjpegtools) reads and
  * writes as its interchange baseline. A Y4M stream is a one-line
  * ASCII header (`YUV4MPEG2 W<w> H<h> F<num>:<den> ... C<colorspace>`)
  * followed by `FRAME`-delimited raw planes — no entropy coding, so
  * decode is exact byte arithmetic and everything downstream
  * (metadata, frame sampling, fingerprints) is an oracle-replayable
  * pure function of the source bytes, the same property that made the
  * WAV/PNG halves honest ([[AudioCodec]], [[ImageCodec]]).
  *
  * This closes the last stubbed modality: [[Multimodal]] routes
  * `kind = "video"` rows here and falls back to the deterministic
  * stub only when the payload isn't a parsable Y4M stream (compressed
  * MP4/WebM genuinely need a codec the JDK doesn't ship — those blobs
  * stay on the total stub path rather than killing a 100 TB job).
  *
  * Everything is per-row pure computation meant to run inside
  * `mapPartitions` on executors: byte-array in, plain data out, no
  * temp files, no native handles.
  */
object VideoCodec {

  /** Decoded-video facts plus the exact-integer luma digest the oracle
    * replays: `nSamples`/`sampleSum` count the LUMA (Y) plane only —
    * one consistent 8-bit sample domain across mono and subsampled
    * colorspaces, and the plane a raster path (resize, pHash,
    * embeddings) actually consumes.
    */
  case class VideoMeta(
      width: Int, height: Int, fpsNum: Int, fpsDen: Int,
      nFrames: Int, nSamples: Long, sampleSum: Long)

  /** A decoded clip: per-frame row-major 8-bit luma rasters. */
  case class VideoClip(
      width: Int, height: Int, fpsNum: Int, fpsDen: Int,
      frames: Array[Array[Byte]])

  private val Magic = "YUV4MPEG2"

  /** Bytes per frame of chroma for a colorspace tag, per luma pixel
    * count `w*h`; None = unsupported tag (falls back to the stub).
    * Supported: mono (no chroma), 4:2:0 (quarter-res U+V — the Y4M
    * default), 4:2:2 (half-res), 4:4:4 (full-res).
    */
  private def chromaBytes(cs: String, w: Int, h: Int): Option[Int] = cs match {
    case "mono" => Some(0)
    case c if c.startsWith("420") || c == "420" => Some((w / 2) * (h / 2) * 2)
    case c if c.startsWith("422") => Some((w / 2) * h * 2)
    case c if c.startsWith("444") => Some(w * h * 2)
    case _ => None
  }

  /** Encode per-frame luma rasters as a canonical mono Y4M stream.
    * Mono Y4M is lossless: [[tryDecode]] returns exactly `frames`
    * back (spec-verified), which is what lets an oracle re-derive
    * every decoded quantity from the source bytes without parsing the
    * container itself.
    */
  def encodeMonoY4m(frames: Array[Array[Byte]], width: Int, height: Int,
      fpsNum: Int, fpsDen: Int = 1): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(fpsNum > 0 && fpsDen > 0, s"bad frame rate $fpsNum:$fpsDen")
    require(frames.nonEmpty, "a clip needs at least one frame")
    frames.foreach(f => require(f.length == width * height,
      s"frame length ${f.length} != ${width}x$height"))
    val bos = new ByteArrayOutputStream()
    bos.write(s"$Magic W$width H$height F$fpsNum:$fpsDen Ip A1:1 Cmono\n"
      .getBytes(StandardCharsets.US_ASCII))
    frames.foreach { f =>
      bos.write("FRAME\n".getBytes(StandardCharsets.US_ASCII))
      bos.write(f)
    }
    bos.toByteArray
  }

  /** `Some(clip)` iff the payload parses as a Y4M stream with a
    * supported colorspace and at least one complete frame; `None`
    * otherwise — the stub-fallback gate. Chroma planes are skipped;
    * luma is returned per frame. A trailing partial frame is treated
    * as corruption (`None`): a truncated 100 TB object should surface
    * as "not decodable", never as a silently shorter clip.
    */
  def tryDecode(payload: Array[Byte]): Option[VideoClip] = {
    // header line: ASCII up to the first \n
    val nl = payload.indexOf('\n'.toByte)
    if (nl <= 0) return None
    val header = new String(payload, 0, nl, StandardCharsets.US_ASCII)
    val parts = header.split(' ')
    if (parts.isEmpty || parts(0) != Magic) return None
    var w = -1; var h = -1; var fn = -1; var fd = -1; var cs = "420jpeg"
    parts.iterator.drop(1).foreach { p =>
      if (p.nonEmpty) p.charAt(0) match {
        case 'W' => w = p.drop(1).toIntOption.getOrElse(-1)
        case 'H' => h = p.drop(1).toIntOption.getOrElse(-1)
        case 'F' => p.drop(1).split(':') match {
          case Array(a, b) =>
            fn = a.toIntOption.getOrElse(-1); fd = b.toIntOption.getOrElse(-1)
          case _ => ()
        }
        case 'C' => cs = p.drop(1)
        case _ => () // I (interlacing), A (aspect), X (extensions): ignored
      }
    }
    if (w <= 0 || h <= 0 || fn <= 0 || fd <= 0) return None
    val chroma = chromaBytes(cs, w, h).getOrElse(return None)
    val lumaLen = w * h
    val frames = Array.newBuilder[Array[Byte]]
    var pos = nl + 1
    while (pos < payload.length) {
      // each frame: "FRAME" [params] "\n" + planes
      val fnl = payload.indexOf('\n'.toByte, pos)
      if (fnl < 0) return None
      val marker = new String(payload, pos, fnl - pos, StandardCharsets.US_ASCII)
      if (!marker.startsWith("FRAME")) return None
      val dataStart = fnl + 1
      if (dataStart + lumaLen + chroma > payload.length) return None
      frames += java.util.Arrays.copyOfRange(payload, dataStart, dataStart + lumaLen)
      pos = dataStart + lumaLen + chroma
    }
    val fs = frames.result()
    if (fs.isEmpty) None
    else Some(VideoClip(w, h, fn, fd, fs))
  }

  /** Real metadata from real decoded luma. */
  def decodeMeta(clip: VideoClip): VideoMeta = {
    var sum = 0L
    var n = 0L
    clip.frames.foreach { f =>
      var i = 0
      while (i < f.length) { sum += (f(i) & 0xff); i += 1 }
      n += f.length
    }
    VideoMeta(clip.width, clip.height, clip.fpsNum, clip.fpsDen,
      clip.frames.length, n, sum)
  }

  /** Every `stride`-th frame (0, stride, 2·stride, …) — the temporal
    * sampling a frame-level encoder or thumbnailer consumes. Always
    * non-empty for a decoded clip (frame 0 qualifies).
    */
  def sampleFrames(clip: VideoClip, stride: Int): Array[Array[Byte]] = {
    require(stride >= 1, s"bad stride $stride")
    clip.frames.zipWithIndex.collect {
      case (f, i) if i % stride == 0 => f
    }
  }

  /** Exact nearest-neighbour raster resize (source pixel
    * `(r·h/h2, c·w/w2)` — pure integer index arithmetic, so specs and
    * oracles replay output samples from input samples directly; the
    * bilinear `Graphics2D` path stays image-side where a reference
    * decoder exists to read the product back).
    */
  def resizeNearest(raster: Array[Byte], w: Int, h: Int,
      w2: Int, h2: Int): Array[Byte] = {
    require(w > 0 && h > 0 && w2 > 0 && h2 > 0, s"bad dims ${w}x$h -> ${w2}x$h2")
    require(raster.length == w * h, s"raster length ${raster.length} != ${w}x$h")
    val out = new Array[Byte](w2 * h2)
    var r = 0
    while (r < h2) {
      val sr = (r.toLong * h / h2).toInt
      var c = 0
      while (c < w2) {
        val sc = (c.toLong * w / w2).toInt
        out(r * w2 + c) = raster(sr * w + sc)
        c += 1
      }
      r += 1
    }
    out
  }

  /** Temporal energy fingerprint over the whole decoded luma sequence
    * — the video slot of the perceptual-hash family. Concatenated
    * frame lumas form one sample stream; [[AudioCodec.energyFingerprint]]
    * supplies the 64-window energy-envelope bits (scene brightness
    * over time is what survives re-encoding and mild noise, the same
    * argument as the audio envelope). Integer-exact end-to-end, so an
    * oracle replays every bit from the source samples.
    */
  def temporalFingerprint(clip: VideoClip, windows: Int = 64): Long = {
    val n = clip.frames.length * clip.width * clip.height
    val samples = new Array[Int](n)
    var k = 0
    clip.frames.foreach { f =>
      var i = 0
      while (i < f.length) { samples(k) = f(i) & 0xff; i += 1; k += 1 }
    }
    AudioCodec.energyFingerprint(samples, windows)
  }
}
