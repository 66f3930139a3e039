package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark

class MultimodalSpec extends AnyFunSuite with LocalSpark {

  val sf = "/root/testdata/sf0.001"

  test("media binary round-trips the utf-8 text bytes") {
    val r = Multimodal.mediaTable(spark, sf).orderBy("doc_id").head()
    assert(new String(r.getAs[Array[Byte]]("media"), "UTF-8").nonEmpty)
    assert(Set("image/png", "audio/wav", "video/mp4").contains(r.getAs[String]("mime")))
  }

  test("pngMedia emits real decodable PNGs that round-trip the pixel formula") {
    val rows = Multimodal.pngMedia(spark, sf).collect()
    assert(rows.nonEmpty)
    val p = rows.minBy(_.doc_id)
    // PNG magic bytes — these are actual files, not a fake
    assert((p.media(0) & 0xff) == 0x89 && p.media(1) == 'P' &&
      p.media(2) == 'N' && p.media(3) == 'G')
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p.media))
    assert(img.getWidth == 64 + (p.doc_id % 8) * 16)
    assert(img.getHeight == 64 + (p.doc_id % 5) * 16)
    // lossless round-trip: decoded pixels == the closed formula
    for (x <- Seq(0, 7, img.getWidth - 1); y <- Seq(0, 3, img.getHeight - 1)) {
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 0xff) == Multimodal.pixelChannel(p.doc_id, x, y, 0))
      assert(((rgb >> 8) & 0xff) == Multimodal.pixelChannel(p.doc_id, x, y, 1))
      assert((rgb & 0xff) == Multimodal.pixelChannel(p.doc_id, x, y, 2))
    }
  }

  test("real decode + grid pooling is deterministic with grid² rows per image") {
    val a = Multimodal.extractFeatures(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val b = Multimodal.extractFeatures(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(a == b)
    val nPng = Multimodal.pngMedia(spark, sf).count()
    assert(a.size == nPng * 4, "2x2 grid => 4 pooled cells per image")
    assert(a.values.forall { case (r, g, bl) =>
      Seq(r, g, bl).forall(v => v >= 0.0 && v <= 255.0)
    })
  }

  test("wavMedia emits real RIFF/WAV files that round-trip the sample formula") {
    val rows = Multimodal.wavMedia(spark, sf).collect()
    assert(rows.nonEmpty)
    val w = rows.minBy(_.doc_id)
    // RIFF....WAVE container magic — actual files, not a fake
    assert(new String(w.media.take(4), "US-ASCII") == "RIFF")
    assert(new String(w.media.slice(8, 12), "US-ASCII") == "WAVE")
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(w.media))
    val pcm = ais.readAllBytes()
    val n = pcm.length / 2
    assert(n == Multimodal.nSamples(w.doc_id))
    // lossless round-trip: decoded samples == the closed formula
    for (i <- Seq(0, 1, 99, n - 1)) {
      val s = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toInt
      assert(s == Multimodal.sample16(w.doc_id, i), s"sample $i")
    }
  }

  test("audio features: 4 segments per doc, deterministic, amplitudes bounded") {
    val a = Multimodal.audioFeatures(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    val b = Multimodal.audioFeatures(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(a == b)
    val nWav = Multimodal.wavMedia(spark, sf).count()
    assert(a.size == nWav * 4)
    assert(a.values.forall { case (n, mean, mx) =>
      n > 0 && mean >= 0 && mean <= 32768 && mx <= 32768
    })
  }

  test("phash pairs: byte-identical media collide at hamming 0; bounds hold") {
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.01" // sf0.001 has no exact dupes
    val pairs = Multimodal.phashPairs(spark, sf01).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall { r =>
      val h = r.getLong(2); h >= 0 && h <= Multimodal.PhashMaxHamming
    })
    // the sf0.01 fixture's mutated near-dup docs must surface
    assert(pairs.nonEmpty)
    // determinism: a second evaluation yields the identical pair set
    val again = Multimodal.phashPairs(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == pairs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("gifMedia emits real animated GIFs; every gray level survives the round-trip") {
    val rows = Multimodal.gifMedia(spark, sf).collect()
    assert(rows.nonEmpty)
    val g = rows.minBy(_.doc_id)
    // GIF magic bytes — these are actual files, not a fake
    assert(g.media(0) == 'G' && g.media(1) == 'I' && g.media(2) == 'F')
    val rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    rd.setInput(javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(g.media)))
    val (w, h, nf) = Multimodal.gifDims(g.doc_id)
    assert(rd.getNumImages(true) == nf, "frame directory must hold gifDims' count")
    // lossless round-trip on EVERY pixel of every frame — the property
    // the multimodal_frames oracle depends on (256 grays fit GIF's
    // 256-entry palette exactly)
    for (f <- 0 until nf) {
      val img = rd.read(f)
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert((img.getRGB(x, y) & 0xff) == Multimodal.frameGray(g.doc_id, f, x, y))
    }
  }

  test("frame sampling decodes per-doc frame counts from the container directory") {
    val rows = Multimodal.frameSample(spark, sf).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (d, rs) =>
      val (w, h, nf) = Multimodal.gifDims(d)
      assert(rs.length == nf, s"doc $d: expected $nf frames")
      assert(rs.forall(_.getLong(2) == w.toLong * h))
      assert(rs.forall(_.getLong(4) <= 255L))
    }
  }
}
