package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.multimodal.Multimodal._

class MultimodalSpec extends SparkSpec {

  test("FakeCodec stub decode is deterministic and shape-correct") {
    val payload = "abcdef".getBytes("UTF-8")
    val m1 = FakeCodec.decode("image", payload)
    val m2 = FakeCodec.decode("image", payload)
    assert(m1 === m2)
    assert(m1.nBytes === 6L)
    assert(m1.width === 16 + ('a'.toInt << 4) + 'b'.toInt)
    assert(m1.height === 16 + ('c'.toInt << 4) + 'd'.toInt)
    assert(m1.nFrames === 1)
    assert(m1.sha.length === 32)
  }

  test("resize and frame-sample stubs preserve partition-safe shapes") {
    val payload = Array.fill[Byte](4096)(7)
    assert(FakeCodec.resize(payload, 8, 8).length === 1)
    assert(FakeCodec.resize(payload, 64, 64).length === 64)
    val frames = FakeCodec.sampleFrames(payload, stride = 2)
    assert(frames.length === 2) // slices 0 and 2 of 4
    assert(frames.forall(_.length == 1024))
  }

  test("withMediaMeta decodes one row per input inside mapPartitions") {
    val s = spark
    import s.implicits._
    val ds = Seq(
      MediaRow(1L, "image", "hello".getBytes("UTF-8")),
      MediaRow(2L, "audio", Array.emptyByteArray))
      .toDS().repartition(2)
    val got = withMediaMeta(ds).collect().sortBy(_.media_id)
    assert(got.length === 2)
    assert(got(0).meta.nBytes === 5L)
    assert(got(1).meta.nBytes === 0L)
    assert(got(1).meta.width === 16) // empty payload: all bytes read as 0
  }

  test("mediaEmbeddings: deterministic unit-norm vectors that feed the similarity plane") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val media = Seq(
      MediaRow(1L, "image", "aaaa bbbb".getBytes("UTF-8")),
      MediaRow(2L, "image", "aaaa bbbb".getBytes("UTF-8")), // byte-dup of 1
      MediaRow(3L, "audio", "zzzz completely different payload".getBytes("UTF-8")))
      .toDS().toDF()
    val emb = mediaEmbeddings(s, media, dim = 16)
    val rows = emb.orderBy(col("media_id")).collect()
    assert(rows.length === 3)
    val e1 = rows(0).getSeq[Double](2)
    assert(e1.size === 16)
    assert(math.abs(e1.map(v => v * v).sum - 1.0) < 1e-9) // unit norm
    assert(e1 === rows(1).getSeq[Double](2)) // determinism
    // empty payload: deterministic basis vector, never a zero vector
    // (zero norm would make every downstream cosine NaN)
    val empty = mediaEmbeddings(s,
        Seq(MediaRow(9L, "image", Array.emptyByteArray)).toDS().toDF(), dim = 16)
      .head().getSeq[Double](2)
    assert(empty.head === 1.0 && empty.tail.forall(_ == 0.0))
    // composes with the similarity plane: the byte-dup pair is found
    val corpus = emb.select(col("media_id").as("c_id"),
      col("embedding").as("c_emb"))
    val dups = graft.similarity.Similarity.semDedup(corpus, tau = 0.999, nlist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dups.toSeq === Seq((2L, 1L)))
  }

  test("persisted media embeddings drive the LSH pair join — q80's corpus-scale path") {
    val s = spark
    import s.implicits._
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
      .filter(col("doc_id") % 3 === 0)
    val emb = mediaEmbeddings(s,
      synthesizeFromText(docs, "doc_id", "text"), dim = 16)
      .select(col("media_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => org.apache.spark.sql.functions.round(x, 6)).as("emb"))
    // persist like a real pipeline would (parquet-backed vectors, not
    // row-encoder arrays), then the banded-LSH path over the table
    val dir = scratch("mediaemb") + "/emb"
    emb.write.parquet(dir)
    val stored = spark.read.parquet(dir)
    val exact = graft.similarity.Similarity.cosinePairsExact(
        stored, "media_id", "emb", tau = 0.995)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = graft.similarity.Similarity.cosinePairsLsh(
        stored, "media_id", "emb", tau = 0.995,
        dim = 16, planesPerBand = 4, bands = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh.subsetOf(exact), "LSH produced a non-exact pair or score")
    // near-identical vectors (cos >= 0.995) miss a 4-bit band with
    // prob ~0.06 -> all 24 with prob ~2e-30; assert high recall
    assert(lsh.size >= (exact.size * 0.9).toInt,
      s"LSH recall ${lsh.size}/${exact.size} below expectation")
    assert(exact.nonEmpty)
  }

  test("perceptual fingerprint collapses byte-identical AND near-identical media") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 5
    // 'a' -> 'q' is a same-bucket (97%16 == 113%16) substitution: a
    // perceptually-invisible edit with an identical byte histogram
    val nearDup = base.replaceFirst("lazy", "lqzy")
    assert(nearDup !== base)
    val media = Seq(
      (1L, "image", base.getBytes("UTF-8")),
      (2L, "image", base.getBytes("UTF-8")),   // byte-identical
      (3L, "image", nearDup.getBytes("UTF-8")),// near-identical
      (4L, "image", "0123456789".getBytes("UTF-8"))) // different content
      .toDF("media_id", "kind", "payload")
    val fps = mediaFingerprints(s, media)
    val got = collapseByFingerprint(fps).orderBy(col("survivor_id"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 3L), (4L, 1L)),
      "docs 1/2/3 must share a fingerprint; doc 4 must not")
    // determinism: recomputing yields identical fingerprints
    val f1 = fps.orderBy(col("media_id")).collect().map(_.getLong(1))
    val f2 = mediaFingerprints(s, media).orderBy(col("media_id"))
      .collect().map(_.getLong(1))
    assert(f1.toSeq === f2.toSeq)
  }

  test("synthesizeFromText + mediaMetaTable round-trips byte lengths") {
    val s = spark
    import s.implicits._
    val docs = Seq((7L, "some text body")).toDF("doc_id", "text")
    val got = mediaMetaTable(s, synthesizeFromText(docs, "doc_id", "text")).head()
    assert(got.getLong(0) === 7L)
    assert(got.getString(1) === "audio") // 7 % 3 == 1
    assert(got.getLong(2) === "some text body".length.toLong)
  }

  test("synthesizeMixedMedia: image rows are REAL PNGs that ImageIO decodes to the text bytes") {
    val s = spark
    import s.implicits._
    val text = "real pixels from text bytes, padded with zeros to the last row"
    val docs = Seq((6L, text), (7L, text)).toDF("doc_id", "text")
    val meta = mediaMetaTable(s, synthesizeMixedMedia(docs, "doc_id", "text"))
      .orderBy(col("media_id")).collect()
    // id 6: image. w = 16 + 6 % 17 = 22, h = ceil(len/22)
    val (w, h) = grayImageDims(6L, text.length)
    assert(w === 22 && h === (text.length + 21) / 22)
    val img = meta(0)
    assert(img.getString(1) === "image")
    assert(img.getInt(3) === w && img.getInt(4) === h) // TRUE decoded dims
    assert(img.getInt(5) === 1) // one frame
    assert(img.getLong(7) === w.toLong * h) // n_samples from the raster
    assert(img.getLong(8) === text.getBytes("UTF-8").map(_ & 0xff).map(_.toLong).sum,
      "decoded sample sum must equal the source byte sum (pad adds zero)")
    // PNG payload, not text bytes
    assert(img.getLong(2) !== text.length.toLong, "image payload must be the PNG stream")
    // id 7: audio — stub path, payload = text bytes
    val aud = meta(1)
    assert(aud.getString(1) === "audio")
    assert(aud.getLong(2) === text.length.toLong)
    assert(aud.getLong(8) === img.getLong(8), "stub sample sum = same byte sum")
  }

  test("mediaTransformTable: image rows resize through Graphics2D and re-decode to target dims") {
    val s = spark
    import s.implicits._
    val docs = Seq((3L, "x" * 200), (4L, "y" * 200)).toDF("doc_id", "text")
    val out = mediaTransformTable(s, synthesizeMixedMedia(docs, "doc_id", "text"),
      width = 32, height = 64, stride = 2, frameBytes = 64)
      .orderBy(col("media_id")).collect()
    // id 3 = image: dims read back from the re-decoded product
    assert(out(0).getInt(1) === 32 && out(0).getInt(2) === 64)
    assert(out(0).getLong(3) === 2048L)
    assert(out(0).getInt(4) === 1)
    // id 4 = audio: stub truncation (32*64/64 = 32 bytes) + frame count
    assert(out(1).getLong(3) === 32L)
    assert(out(1).getInt(4) === ((200 + 63) / 64 + 1) / 2)
  }

  test("mediaFingerprints: image rows use the pixel pHash — exact dups and near-dups collide, different content doesn't") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val near = base.replaceFirst("quick", "quicl") // one byte, one level-ish
    val diff = base.toUpperCase // same length, very different samples
    // ids 0 and 17 share id % 17 = 0 -> identical geometry -> identical raster
    val docs = Seq((0L, base), (17L, base), (34L, near), (51L, diff))
      .toDF("doc_id", "text")
    val media = synthesizeGrayImages(docs, "doc_id", "text")
    val fps = mediaFingerprints(s, media).orderBy(col("media_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fps(0L) === fps(17L), "identical text + geometry must collide")
    assert(fps(0L) === fps(34L), "a one-character edit must not move any cell mean across the global mean")
    assert(fps(0L) !== fps(51L), "case-flipped content must not collide")
    // and the Scala value equals ImageCodec applied directly (real decode ran)
    val direct = ImageCodec.perceptualHash(ImageCodec.tryDecode(
      grayImagePayload(0L, base.getBytes("UTF-8"))).get)
    assert(fps(0L) === direct)
  }

  test("synthesizeWavAudio rows decode with the REAL audio codec: rate from id, samples = text bytes") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "hello wav"), (3L, "abc"), (7L, "")).toDF("doc_id", "text")
    val meta = mediaMetaTable(s, synthesizeWavAudio(docs, "doc_id", "text"))
      .orderBy(col("media_id")).collect()
    // id 0: rate 4000, 9 frames, sum of the text bytes
    assert(meta(0).getInt(3) === 4000) // width column carries the sample rate
    assert(meta(0).getInt(4) === 1) // height column carries channels
    assert(meta(0).getLong(7) === 9L)
    assert(meta(0).getLong(8) === "hello wav".getBytes("UTF-8").map(_ & 0xff).map(_.toLong).sum)
    // id 3: rate 4000 + 3*2000
    assert(meta(1).getInt(3) === 10000)
    // id 7: empty text -> one zero pad sample
    assert(meta(2).getInt(3) === 4000 + 2 * 2000)
    assert(meta(2).getLong(7) === 1L && meta(2).getLong(8) === 0L)
  }

  test("audio rows that are NOT valid audio still take the stub path (fallback totality)") {
    val s = spark
    import s.implicits._
    val raw = MediaRow(5L, "audio", "not a riff file".getBytes("UTF-8"))
    val got = withMediaMeta(Seq(raw).toDS()).head()
    assert(got.meta === FakeCodec.decode("audio", raw.payload))
  }

  test("mediaFingerprints: audio rows use the REAL energy fingerprint over decoded samples") {
    val s = spark
    import s.implicits._
    val quietLoud = (Array.fill(256)(10.toByte) ++ Array.fill(256)(200.toByte))
    val wav = AudioCodec.encodePcmWav(quietLoud, 8000)
    val fps = mediaFingerprints(s, Seq(MediaRow(1L, "audio", wav)).toDS().toDF())
      .head().getLong(1)
    val direct = AudioCodec.energyFingerprint(quietLoud.map(_ & 0xff))
    assert(fps === direct)
    assert(fps !== FakeCodec.perceptualHash(wav, 16), "must not be the stub hash")
  }

  test("synthesizeY4mVideo rows decode with the REAL video codec: dims/fps from id, luma = padded text bytes") {
    val s = spark
    import s.implicits._
    val text = "the quick brown fox jumps over the lazy dog"
    // id 7: w = 4+7%5 = 6, h = 4+7%3 = 5, fps = 10+7%5 = 12
    val docs = Seq((7L, text), (3L, "")).toDF("doc_id", "text")
    val media = synthesizeY4mVideo(docs, "doc_id", "text")
    val metas = mediaMetaTable(s, media).collect()
      .map(r => r.getLong(0) -> r).toMap
    val bytes = text.getBytes("UTF-8")
    val nf7 = (bytes.length + 29) / 30 // ceil(44/30) = 2
    assert(metas(7L).getInt(3) === 6 && metas(7L).getInt(4) === 5) // width, height
    assert(metas(7L).getInt(5) === nf7) // n_frames
    assert(metas(7L).getLong(7) === nf7.toLong * 30) // n_samples padded
    assert(metas(7L).getLong(8) === bytes.map(b => (b & 0xff).toLong).sum) // px_sum
    // empty text: one zero frame of w*h = 7*4 = 28? id 3: w = 4+3 = 7, h = 4+0 = 4
    assert(metas(3L).getInt(5) === 1)
    assert(metas(3L).getLong(7) === 28L && metas(3L).getLong(8) === 0L)
    // fps round-trips through the container itself
    val payload = media.filter(col("media_id") === 7L)
      .head().getAs[Array[Byte]]("payload")
    val clip = VideoCodec.tryDecode(payload).get
    assert(clip.fpsNum === 12 && clip.fpsDen === 1)
    assert(clip.frames.flatten.toSeq == java.util.Arrays.copyOf(bytes, nf7 * 30).toSeq)
  }

  test("video rows that are NOT valid Y4M still take the stub path (fallback totality)") {
    val s = spark
    import s.implicits._
    val raw = MediaRow(5L, "video", "not a y4m stream".getBytes("UTF-8"))
    val got = withMediaMeta(Seq(raw).toDS()).head()
    assert(got.meta === FakeCodec.decode("video", raw.payload))
  }

  test("mediaTransformTable: video rows frame-sample and resize through the REAL decode") {
    val s = spark
    import s.implicits._
    // id 0: w = 4, h = 4, frame = 16 bytes; 5 frames worth of text
    val text = "x" * (16 * 5)
    val docs = Seq((0L, text)).toDF("doc_id", "text")
    val media = synthesizeY4mVideo(docs, "doc_id", "text")
    val out = mediaTransformTable(s, media, width = 4, height = 4, stride = 2).head()
    assert(out.getInt(1) === 4 && out.getInt(2) === 4)
    assert(out.getInt(4) === 3, "frames 0,2,4 of 5") // n_frames_sampled
    assert(out.getLong(3) === 3L * 16, "samples read back from resized rasters")
  }

  test("mediaFingerprints: video rows use the REAL temporal fingerprint over decoded luma") {
    val s = spark
    import s.implicits._
    val text = ("a" * 100) ++ ("Z" * 100)
    val docs = Seq((0L, text)).toDF("doc_id", "text") // w=4, h=4
    val media = synthesizeY4mVideo(docs, "doc_id", "text")
    val fp = mediaFingerprints(s, media).head().getLong(1)
    val bytes = text.getBytes("UTF-8")
    val nf = (bytes.length + 15) / 16
    val padded = java.util.Arrays.copyOf(bytes, nf * 16).map(_ & 0xff)
    assert(fp === AudioCodec.energyFingerprint(padded))
    val payload = media.head().getAs[Array[Byte]]("payload")
    assert(fp !== FakeCodec.perceptualHash(payload, 16), "must not be the stub hash")
  }
}
