package graft

import graft.ext.Multimodal

/** Multimodal plumbing: media bundle schema, batched feature extraction,
  * and the resize stub contract.
  */
class MultimodalSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("media bundle carries BINARY content + typed metadata") {
    val m = Multimodal.mediaTable(spark, dir)
    val row = m.head()
    assert(row.meta.mime == "text/plain")
    assert(row.content.length.toLong == row.meta.n_bytes)
    assert(row.meta.sha_prefix.length == 8)
  }

  test("extractFeatures is deterministic and length-consistent") {
    val f1 = Multimodal.extractFeatures(Multimodal.mediaTable(spark, dir))
      .collect().map(f => f.doc_id -> f.feature.toSeq).toMap
    val f2 = Multimodal.extractFeatures(Multimodal.mediaTable(spark, dir))
      .collect().map(f => f.doc_id -> f.feature.toSeq).toMap
    assert(f1 == f2)
    assert(f1.values.forall(_.length == 4))
  }

  test("pngTable emits genuine PNG bytes; decode round-trips the generator exactly") {
    val media = Multimodal.pngTable(spark, dir)
    val sample = media.head(5)
    assert(sample.nonEmpty)
    // real PNG magic, real mime, honest byte accounting
    val magic = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    sample.foreach { r =>
      assert(r.content.take(8).sameElements(magic), s"doc ${r.doc_id}: not a PNG")
      assert(r.meta.mime == "image/png" && r.meta.n_bytes == r.content.length.toLong)
    }
    // decoded pixel stats == the closed-form generator, computed here
    // independently of both the codec and the DuckDB oracle
    val got = Multimodal.decodePngStats(media)
      .collect().map(p => p.doc_id -> p).toMap
    got.values.foreach { p =>
      val id = p.doc_id
      val w = 8 + id % 9
      val h = 8 + id % 7
      val vs = for (x <- 0L until w; y <- 0L until h) yield (id * 31 + x * 7 + y * 13) % 256
      assert(p.width == w && p.height == h && p.n_pixels == w * h, s"doc $id dims")
      assert(p.sum_gray == vs.sum, s"doc $id sum")
      assert(p.n_bright == vs.count(_ >= 128), s"doc $id bright")
    }
    assert(got.nonEmpty)
  }

  test("undecodable bytes fail with the documented IllegalArgumentException") {
    import spark.implicits._
    val junk = Seq(Multimodal.MediaRow(7L, "not a png at all".getBytes("UTF-8"),
      Multimodal.MediaMeta("image/png", 16L, "00000000"))).toDS()
    val e = intercept[Exception](Multimodal.decodePngStats(junk).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage == "doc 7: content is not a decodable image"),
      chain.map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString("\n"))
  }

  test("resizeStub preserves ids and carries requested dimensions") {
    val out = Multimodal.resizeStub(Multimodal.mediaTable(spark, dir), 224, 224)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(f => f.feature(0) == 224.0 && f.feature(1) == 224.0))
    assert(out.map(_.doc_id).distinct.length == out.length)
  }

  test("wavTable emits real RIFF/WAVE bytes; decode == closed-form generator") {
    import spark.implicits._
    val media = Multimodal.wavTable(spark, dir)
    media.take(5).foreach { r =>
      assert(new String(r.content.take(4), "US-ASCII") == "RIFF", s"doc ${r.doc_id}")
      assert(new String(r.content.slice(8, 12), "US-ASCII") == "WAVE")
      assert(r.meta.mime == "audio/wav" && r.meta.n_bytes == r.content.length.toLong)
    }
    val got = Multimodal.decodeWavStats(media).collect()
    assert(got.nonEmpty)
    got.foreach { w =>
      val id = w.doc_id
      val n = 64 + id % 97
      val sr = 8000 * (1 + id % 3)
      val vs = (0L until n).map(i => (id * 131 + i * 17) % 65536 - 32768)
      assert(w.sample_rate == sr && w.n_samples == n, s"doc $id header")
      assert(w.duration_us == n * 1000000L / sr, s"doc $id duration")
      assert(w.sum_abs == vs.map(math.abs).sum, s"doc $id mass")
      assert(w.peak_abs == vs.map(math.abs).max, s"doc $id peak")
      assert(w.n_rail == vs.count(v => v == -32768 || v == 32767), s"doc $id rail")
      assert(w.n_zero_cross ==
        vs.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)), s"doc $id zc")
    }
  }

  test("RIFF walker skips unknown chunks and odd-size pad bytes") {
    import spark.implicits._
    // hand-built WAV: fmt, then an ODD-sized junk LIST chunk (forces the
    // pad-byte rule), then data — a layout AudioSystem never emits, so
    // only a real chunk walker decodes it
    val samples = Array[Short](100, -200, 300, -32768, 32767)
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val junk = "xyz".getBytes("US-ASCII") // odd size 3 -> 1 pad byte
    val dataLen = samples.length * 2
    bos.write("RIFF".getBytes); bos.write(le32(4 + 24 + (8 + 3 + 1) + 8 + dataLen))
    bos.write("WAVE".getBytes)
    bos.write("fmt ".getBytes); bos.write(le32(16))
    bos.write(le16(1)); bos.write(le16(1)); bos.write(le32(8000))
    bos.write(le32(16000)); bos.write(le16(2)); bos.write(le16(16))
    bos.write("LIST".getBytes); bos.write(le32(3)); bos.write(junk); bos.write(0)
    bos.write("data".getBytes); bos.write(le32(dataLen))
    samples.foreach(s => bos.write(le16(s & 0xffff)))
    val row = Multimodal.MediaRow(7L, bos.toByteArray,
      Multimodal.MediaMeta("audio/wav", bos.size().toLong, "deadbeef"))
    val out = Multimodal.decodeWavStats(Seq(row).toDS()).collect()(0)
    assert(out.n_samples == 5 && out.sample_rate == 8000)
    assert(out.peak_abs == 32768 && out.n_rail == 2)
    assert(out.n_zero_cross == 4)
    assert(out.sum_abs == 100L + 200 + 300 + 32768 + 32767)
  }

  test("gifTable emits real multi-frame GIF bytes; sampled frame stats == closed form") {
    val dir = "/root/testdata/sf0.001"
    val media = Multimodal.gifTable(spark, dir)
    // genuine GIF container bytes
    val first = media.orderBy("doc_id").head()
    assert(new String(first.content.take(6), "US-ASCII").startsWith("GIF8"))
    assert(first.meta.mime == "image/gif")
    // every sampled frame's stats equal the generating closed form
    val got = Multimodal.decodeGifFrameStats(media).collect()
      .map(s => (s.doc_id, s.frame_idx) -> s).toMap
    assert(got.nonEmpty)
    got.values.foreach { s =>
      val id = s.doc_id
      assert(s.width == 8 + id % 5 && s.height == 8 + id % 3)
      assert(s.n_frames == 2 + id % 4)
      assert(s.frame_idx % 2 == 0) // temporal sampling: every 2nd frame
      var sum = 0L; var bright = 0L
      for (y <- 0L until s.height; x <- 0L until s.width) {
        val v = (id * 31 + s.frame_idx * 59 + x * 7 + y * 13) % 256
        sum += v
        if (v >= 128) bright += 1
      }
      assert(s.sum_gray == sum && s.n_bright == bright, s"doc $id frame ${s.frame_idx}")
    }
    // step = 1 decodes EVERY stored frame
    val all = Multimodal.decodeGifFrameStats(media, step = 1).collect()
    val perDoc = all.groupBy(_.doc_id)
    perDoc.foreach { case (id, fs) =>
      assert(fs.length == 2 + id % 4 && fs.map(_.frame_idx).sorted.toSeq ==
        (0L until (2 + id % 4)).toSeq)
    }
  }

  test("non-RIFF and non-PCM content fail loudly, naming the doc") {
    import spark.implicits._
    val bad = Multimodal.MediaRow(3L, "not audio at all".getBytes,
      Multimodal.MediaMeta("audio/wav", 16L, "deadbeef"))
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeWavStats(Seq(bad).toDS()).collect()
    }
    assert(e.getMessage.contains("RIFF") || e.getCause != null)
  }
}
