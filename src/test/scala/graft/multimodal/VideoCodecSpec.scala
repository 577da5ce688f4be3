package graft.multimodal

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

class VideoCodecSpec extends AnyFunSuite {

  private def frame(n: Int, seed: Int): Array[Byte] =
    Array.tabulate(n)(i => ((i * 31 + seed * 97 + 5) % 256).toByte)

  test("mono Y4M round-trips frames sample-exact (the lossless contract everything rests on)") {
    val w = 6; val h = 4
    val frames = Array.tabulate(3)(f => frame(w * h, f))
    val y4m = VideoCodec.encodeMonoY4m(frames, w, h, 12)
    assert(new String(y4m, 0, 9, StandardCharsets.US_ASCII) == "YUV4MPEG2")
    val clip = VideoCodec.tryDecode(y4m).get
    assert(clip.width == w && clip.height == h)
    assert(clip.fpsNum == 12 && clip.fpsDen == 1)
    assert(clip.frames.length == 3)
    clip.frames.zip(frames).foreach { case (got, exp) =>
      assert(got.toSeq == exp.toSeq)
    }
  }

  test("tryDecode rejects non-video bytes and truncated streams (the stub-fallback gate)") {
    assert(VideoCodec.tryDecode("just some text payload".getBytes("UTF-8")).isEmpty)
    assert(VideoCodec.tryDecode(Array.empty[Byte]).isEmpty)
    // a WAV is not video
    val wav = AudioCodec.encodePcmWav(Array.fill[Byte](16)(1), 8000)
    assert(VideoCodec.tryDecode(wav).isEmpty)
    // a header with no frames is not a clip
    assert(VideoCodec.tryDecode(
      "YUV4MPEG2 W4 H4 F10:1 Ip A1:1 Cmono\n".getBytes("US-ASCII")).isEmpty)
    // a truncated last frame is corruption, not a shorter clip
    val full = VideoCodec.encodeMonoY4m(Array(frame(16, 0), frame(16, 1)), 4, 4, 10)
    assert(VideoCodec.tryDecode(java.util.Arrays.copyOf(full, full.length - 1)).isEmpty)
    // an unsupported colorspace falls back rather than mis-slicing planes
    val alien = "YUV4MPEG2 W4 H4 F10:1 C410\nFRAME\n".getBytes("US-ASCII") ++ frame(16, 0)
    assert(VideoCodec.tryDecode(alien).isEmpty)
  }

  test("4:2:0 chroma planes are skipped, luma read exactly (the ffmpeg-default layout)") {
    val w = 4; val h = 4
    val y0 = frame(w * h, 0); val y1 = frame(w * h, 1)
    val chroma = (w / 2) * (h / 2) * 2
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n".getBytes("US-ASCII"))
    Seq(y0, y1).foreach { y =>
      bos.write("FRAME\n".getBytes("US-ASCII"))
      bos.write(y); bos.write(Array.fill[Byte](chroma)(99))
    }
    val clip = VideoCodec.tryDecode(bos.toByteArray).get
    assert(clip.frames.length == 2)
    assert(clip.frames(0).toSeq == y0.toSeq && clip.frames(1).toSeq == y1.toSeq)
    // colorspace defaults to 420 when the C tag is absent (Y4M spec)
    val bos2 = new java.io.ByteArrayOutputStream()
    bos2.write(s"YUV4MPEG2 W$w H$h F25:1\n".getBytes("US-ASCII"))
    bos2.write("FRAME\n".getBytes("US-ASCII"))
    bos2.write(y0); bos2.write(Array.fill[Byte](chroma)(0))
    assert(VideoCodec.tryDecode(bos2.toByteArray).get.frames.length == 1)
  }

  test("decodeMeta reports true dims/fps/frames and the exact luma sum") {
    val frames = Array.tabulate(4)(f => frame(12, f))
    val clip = VideoCodec.tryDecode(VideoCodec.encodeMonoY4m(frames, 4, 3, 30)).get
    val m = VideoCodec.decodeMeta(clip)
    assert(m.width == 4 && m.height == 3)
    assert(m.fpsNum == 30 && m.fpsDen == 1)
    assert(m.nFrames == 4)
    assert(m.nSamples == 48L)
    assert(m.sampleSum == frames.flatten.map(b => (b & 0xff).toLong).sum)
  }

  test("sampleFrames takes every stride-th frame, frame 0 always included") {
    val frames = Array.tabulate(5)(f => frame(4, f))
    val clip = VideoCodec.VideoClip(2, 2, 10, 1, frames)
    val s2 = VideoCodec.sampleFrames(clip, 2)
    assert(s2.length == 3)
    assert(s2(0).toSeq == frames(0).toSeq && s2(1).toSeq == frames(2).toSeq
      && s2(2).toSeq == frames(4).toSeq)
    assert(VideoCodec.sampleFrames(clip, 10).length == 1)
    assert(VideoCodec.sampleFrames(clip, 1).length == 5)
  }

  test("resizeNearest is exact integer index arithmetic (hand-checked)") {
    // 4x2 raster, downscale to 2x1: rows 0, cols {0,2}
    val r = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    assert(VideoCodec.resizeNearest(r, 4, 2, 2, 1).toSeq == Seq[Byte](1, 3))
    // upscale 2x1 -> 4x2 replicates source pixels
    val up = VideoCodec.resizeNearest(Array[Byte](10, 20), 2, 1, 4, 2)
    assert(up.toSeq == Seq[Byte](10, 10, 20, 20, 10, 10, 20, 20))
  }

  test("temporalFingerprint equals the audio energy fingerprint over concatenated luma") {
    val frames = Array.tabulate(3)(f => frame(20, f))
    val clip = VideoCodec.VideoClip(5, 4, 10, 1, frames)
    val samples = frames.flatten.map(_ & 0xff)
    assert(VideoCodec.temporalFingerprint(clip)
      == AudioCodec.energyFingerprint(samples))
    // all-zero clip: zero total energy sets every window bit
    val zero = VideoCodec.VideoClip(2, 2, 10, 1, Array(new Array[Byte](4)))
    assert(VideoCodec.temporalFingerprint(zero) == -1L)
  }
}
