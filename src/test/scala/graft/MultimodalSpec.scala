package graft

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {

  private lazy val media = Multimodal.fromDocuments(spark, "/root/testdata/sf0.001")

  test("media table: binary payload + typed metadata, 3 kinds") {
    val rows = media.collect()
    assert(rows.length == 500)
    assert(rows.map(_.kind).toSet == Set("image", "audio", "video"))
    assert(rows.forall(_.payload.nonEmpty))
  }

  test("feature extraction: histogram conserves byte count") {
    val f = Multimodal.extractFeatures(media).collect()
    assert(f.length == 500)
    assert(f.forall(x => x.hist0 + x.hist1 + x.hist2 + x.hist3 == x.n_bytes))
    assert(f.forall(x => x.mean_byte >= 0 && x.mean_byte <= 255))
  }

  test("resize bounds payload to w*h and rewrites metadata") {
    val r = Multimodal.resize(media, 8, 4).collect()
    assert(r.forall(m => m.payload.length <= 32 && m.width == 8 && m.height == 4))
  }

  test("frame sampling explodes video payloads only, every 2nd frame") {
    val frames = Multimodal.sampleFrames(media, every = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.frame_idx % 2 == 0))
    val vids = media.filter(_.kind == "video").collect().map(m => m.media_id -> m.n_frames).toMap
    val byMedia = frames.groupBy(_.media_id)
    assert(byMedia.keySet.subsetOf(vids.keySet))
    byMedia.foreach { case (id, fs) =>
      assert(fs.length == (vids(id) + 1) / 2)
    }
  }

  test("real PNG codec round-trip: ImageIO decode reproduces the generative pixels") {
    val withPng = Multimodal.withPngPayload(media)
    // payloads for images are now genuine PNGs (magic bytes)
    val png = withPng.filter(_.kind == "image").take(3)
    assert(png.nonEmpty)
    png.foreach { m =>
      val p = m.payload
      assert((p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G',
        s"media ${m.media_id}: payload is not PNG")
    }
    val feats = Multimodal.decodeImageFeatures(withPng).collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      assert(f.px00 == Multimodal.pixelAt(f.media_id, 0, 0))
      assert(f.px_last == Multimodal.pixelAt(f.media_id, f.width - 1, f.height - 1))
      assert(f.hist0 + f.hist1 + f.hist2 + f.hist3 == f.n_pixels)
      val expSum = (for (y <- 0 until f.height; x <- 0 until f.width)
        yield Multimodal.pixelAt(f.media_id, x, y).toLong).sum
      assert(f.mean_px == expSum.toDouble / f.n_pixels,
        s"media ${f.media_id}: decoded mean differs from formula")
    }
  }

  test("real WAV codec round-trip: AudioSystem decode reproduces the generative samples") {
    val withWav = Multimodal.withWavPayload(media).filter(_.kind == "audio").cache()
    withWav.take(20).foreach { m =>
      val p = m.payload
      assert(p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E',
        s"media ${m.media_id}: payload is not RIFF/WAVE")
    }
    val feats = Multimodal.decodeAudioFeatures(withWav).collect()
    withWav.unpersist(blocking = true)
    assert(feats.nonEmpty)
    feats.foreach { f =>
      val n = f.n_samples
      assert(n % Multimodal.AudioFrameSamples == 0 && n > 0)
      val exp = (0 until n).map(Multimodal.sampleAt(f.media_id, _))
      assert(f.s0 == exp.head && f.s_last == exp.last,
        s"media ${f.media_id}: positional samples differ through the codec")
      assert(f.sum_s == exp.map(_.toLong).sum)
      assert(f.min_s == exp.min && f.max_s == exp.max)
      assert(f.n_zero_cross ==
        exp.sliding(2).count(w => w(0) * w(1) < 0))
    }
  }

  test("payload encoders leave every other media kind byte-identical") {
    val before = media.collect().map(m => m.media_id -> m).toMap
    for ((kind, encoded) <- Seq("image" -> Multimodal.withPngPayload(media),
        "audio" -> Multimodal.withWavPayload(media))) {
      val after = encoded.collect()
      assert(after.map(_.media_id).sorted.toSeq == before.keys.toSeq.sorted, kind)
      after.filter(_.kind != kind).foreach { m =>
        val b = before(m.media_id)
        assert(m.payload.sameElements(b.payload) && m.copy(payload = b.payload) == b,
          s"$kind encoder changed ${m.kind} media ${m.media_id}")
      }
      assert(after.exists(m => m.kind == kind && !m.payload.sameElements(before(m.media_id).payload)),
        s"$kind encoder rewrote no $kind payload")
    }
  }
}
