package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

class AudioCodecSpec extends AnyFunSuite {

  private def pcm(n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((i * 53 + 7) % 256).toByte)

  test("WAV round-trips PCM sample-exact (the lossless contract everything rests on)") {
    val samples = pcm(1000)
    val wav = AudioCodec.encodePcmWav(samples, 8000)
    // RIFF magic
    assert(wav(0) == 'R'.toByte && wav(1) == 'I'.toByte && wav(2) == 'F'.toByte)
    val (fmt, back) = AudioCodec.tryDecode(wav).get
    assert(fmt.getSampleRate.toInt == 8000)
    assert(fmt.getChannels == 1)
    assert(fmt.getSampleSizeInBits == 8)
    assert(back.toSeq == samples.toSeq)
  }

  test("hand-rolled WAV writer is byte-identical to AudioSystem's (the lock-free swap guard)") {
    import java.io.ByteArrayOutputStream
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    for ((n, rate) <- Seq((1, 4000), (13, 8000), (1000, 12000), (4097, 44100))) {
      val samples = pcm(n)
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED,
        rate.toFloat, 8, 1, 1, rate.toFloat, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(samples), fmt, samples.length.toLong)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      assert(AudioCodec.encodePcmWav(samples, rate).toSeq == bos.toByteArray.toSeq,
        s"n=$n rate=$rate")
    }
  }

  test("the lock-free parse agrees with the registry decoder on registry-written WAVs") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 16-bit stereo signed PCM through the REGISTRY writer, decoded by
    // the hand-rolled parser — format facts and bytes must agree
    val frames = 64
    val raw = Array.tabulate(frames * 4)(i => ((i * 31 + 5) % 256).toByte)
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      16000f, 16, 2, 4, 16000f, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val (f2, p2) = AudioCodec.tryDecode(bos.toByteArray).get
    assert(f2.getSampleRate.toInt == 16000 && f2.getChannels == 2 &&
      f2.getSampleSizeInBits == 16 && !f2.isBigEndian)
    assert(f2.getEncoding == AudioFormat.Encoding.PCM_SIGNED)
    assert(p2.toSeq == raw.toSeq)
  }

  test("tryDecode rejects non-audio bytes (the fake-codec fallback gate)") {
    assert(AudioCodec.tryDecode("just some text payload".getBytes("UTF-8")).isEmpty)
    assert(AudioCodec.tryDecode(Array.empty[Byte]).isEmpty)
    // a PNG is not audio
    val png = ImageCodec.encodeGrayPng(Array.fill[Byte](16)(1), 4, 4)
    assert(AudioCodec.tryDecode(png).isEmpty)
  }

  test("decodeMeta reports true rate/frames and the exact sample sum") {
    val samples = pcm(321)
    val (fmt, raw) = AudioCodec.tryDecode(AudioCodec.encodePcmWav(samples, 12000)).get
    val meta = AudioCodec.decodeMeta(fmt, raw)
    assert(meta.sampleRate == 12000)
    assert(meta.channels == 1)
    assert(meta.nFrames == 321L)
    assert(meta.nSamples == 321L)
    assert(meta.sampleSum == samples.map(_ & 0xff).map(_.toLong).sum)
  }

  test("unsignedSamples re-centers signed 8-bit and folds 16-bit to its top byte") {
    import javax.sound.sampled.AudioFormat
    val signed8 = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 8, 1, 1, 8000f, false)
    assert(AudioCodec.unsignedSamples(signed8, Array[Byte](0, -128, 127)).toSeq
      == Seq(128, 0, 255))
    val signed16le = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, false)
    // little-endian: (lo, hi) pairs; hi byte 0x10 signed -> 0x10 + 128
    assert(AudioCodec.unsignedSamples(signed16le, Array[Byte](0x34, 0x10, 0x00, -1)).toSeq
      == Seq(0x10 + 128, (0xff + 128) & 0xff))
  }

  test("energyFingerprint: deterministic, loudness-envelope-faithful, tiny-edit tolerant") {
    // first half silent-ish, second half loud: low windows 0, high windows 1
    val quietLoud = Array.fill(256)(1) ++ Array.fill(256)(200)
    val fp = AudioCodec.energyFingerprint(quietLoud)
    assert(fp == AudioCodec.energyFingerprint(quietLoud.clone()))
    // windows 0..31 quiet (bit clear), 32..63 loud (bit set)
    assert(fp == ((-1L << 32)))
    // one-sample +1 nudge in the quiet half must not move any bit
    val near = quietLoud.clone(); near(10) += 1
    assert(AudioCodec.energyFingerprint(near) == fp)
    // swapped halves produce the complementary pattern, not a collision
    val loudQuiet = Array.fill(256)(200) ++ Array.fill(256)(1)
    assert(AudioCodec.energyFingerprint(loudQuiet) != fp)
  }

  test("energyFingerprint matches the oracle's integer window grid on a hand-computed case") {
    // n=6, windows=4: k*4/6 -> windows [0,0,1,2,2,3]
    val s = Array(3, 1, 10, 2, 2, 5)
    // energies: w0=9+1=10, w1=100, w2=4+4=8, w3=25; total=143
    // bit set iff e*4 >= 143: w0 40 no, w1 400 yes, w2 32 no, w3 100 no
    assert(AudioCodec.energyFingerprint(s, windows = 4) == 2L)
  }

  test("fingerprint survives a WAV re-encode round trip (the acoustic-dedup property)") {
    val samples = pcm(500)
    val wav1 = AudioCodec.encodePcmWav(samples, 8000)
    val (f1, p1) = AudioCodec.tryDecode(wav1).get
    // re-encode the decoded samples at a fresh rate tag: same waveform bytes
    val wav2 = AudioCodec.encodePcmWav(p1, 16000)
    val (f2, p2) = AudioCodec.tryDecode(wav2).get
    assert(AudioCodec.energyFingerprint(AudioCodec.unsignedSamples(f1, p1))
      == AudioCodec.energyFingerprint(AudioCodec.unsignedSamples(f2, p2)))
  }
}
