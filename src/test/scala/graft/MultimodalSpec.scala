package graft

import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {

  test("binary pipeline carries payload + typed metadata with deterministic features") {
    val rows = Multimodal.binaryPipeline(sf).collect()
    assert(rows.length == sf.documents.count())
    rows.foreach { r =>
      assert(r.getInt(1) > 0)                       // n_bytes
      assert(r.getString(4).stripPrefix("[").stripSuffix("]")
        .split(",").length == 4)                    // features shape (JSON)
    }
    // deterministic: same input → same features
    val again = Multimodal.binaryPipeline(sf).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("batched decode processes records in bounded batches") {
    val decoded = Multimodal.decodeImages(sf)
    val rows = decoded.collect()
    assert(rows.length == sf.documents.count())
    // batch ids are small (bounded batches), dims are in the stub range
    rows.foreach { r =>
      assert(r.getInt(1) >= 64 && r.getInt(1) < 64 + 512) // width
      assert(r.getInt(3) == 3)                            // channels
      assert(r.getLong(4) >= 0)                           // batch_id
    }
    val maxBatch = rows.map(_.getLong(4)).max
    assert(maxBatch <= rows.length / 64 + 1)
  }

  test("the decode seam carries real bytes: javax.imageio decodes generated PNGs") {
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO
    import spark.implicits._
    def png(w: Int, h: Int, tpe: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, tpe)
      (0 until w).foreach(x =>
        (0 until h).foreach(y => img.setRGB(x, y, (x * 31 + y) << 8)))
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, png(5, 7, BufferedImage.TYPE_INT_RGB)),
      (2L, png(3, 3, BufferedImage.TYPE_4BYTE_ABGR)),
      (3L, png(128, 2, BufferedImage.TYPE_INT_RGB)))
      .toDF("doc_id", "payload")
    // the SAME seam the registered stub query runs through, but with the
    // real JDK codec: actual raster dims and channel counts come back
    val got = Multimodal.decodeRows(media, Multimodal.imageIoDecoder)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3))))
      .toMap
    assert(got(1L) == ((5, 7, 3)))
    assert(got(2L) == ((3, 3, 4)))   // alpha channel survives the round-trip
    assert(got(3L) == ((128, 2, 3)))
  }

  test("the audio seam parses real WAV bytes: header fields and PCM energy") {
    import spark.implicits._
    // hand-assembled RIFF/WAVE: 16-bit PCM with an ODD-sized junk chunk
    // before `data` so the parser proves it WALKS chunks (not offsets)
    // AND honours RIFF word alignment (odd chunks carry a pad byte not
    // counted in their size field)
    def wav(rate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val junkBody = "bytes!!"        // 7 bytes — odd on purpose
      val pad = junkBody.length & 1
      val riffLen = 4 + (8 + 16) + (8 + junkBody.length + pad) + (8 + dataLen)
      val bb = java.nio.ByteBuffer.allocate(8 + riffLen + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(riffLen)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(channels.toShort).putInt(rate)
        .putInt(rate * channels * 2).putShort((channels * 2).toShort)
        .putShort(16)
      bb.put("JUNK".getBytes("US-ASCII"))
        .putInt(junkBody.length).put(junkBody.getBytes("US-ASCII"))
      if (pad == 1) bb.put(0.toByte)  // the alignment pad byte
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      java.util.Arrays.copyOf(bb.array(), bb.position())
    }
    // 440 Hz sine, amplitude 0.5, 0.25 s mono @ 8 kHz → RMS ≈ 0.5/√2
    val mono = Array.tabulate(2000)(i =>
      (0.5 * math.sin(2 * math.Pi * 440 * i / 8000.0) * 32767).toShort)
    // stereo silence + full-scale square on one channel
    val stereo = Array.tabulate(800)(i =>
      if (i % 2 == 0) (if ((i / 2) % 2 == 0) 16384 else -16384).toShort
      else 0.toShort)
    val media = Seq(
      (1L, wav(8000, 1, mono)),
      (2L, wav(44100, 2, stereo)))
      .toDF("doc_id", "payload")
    val got = Multimodal.decodeRows(media, Multimodal.wavDecoder)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
          r.getDouble(5), r.getDouble(6))))
      .toMap
    val (rate1, ch1, bits1, n1, dur1, rms1) = got(1L)
    assert(rate1 == 8000 && ch1 == 1 && bits1 == 16 && n1 == 2000)
    assert(math.abs(dur1 - 250.0) < 1e-9)
    assert(math.abs(rms1 - 0.5 / math.sqrt(2)) < 0.01,
      s"sine RMS $rms1 should be ~${0.5 / math.sqrt(2)}")
    val (rate2, ch2, _, n2, _, rms2) = got(2L)
    assert(rate2 == 44100 && ch2 == 2 && n2 == 400)
    // half the interleaved samples are ±0.5 full scale, half silent:
    // RMS over all channel samples = 0.5/√2 as well
    assert(math.abs(rms2 - 16384.0 / 32768.0 / math.sqrt(2)) < 1e-6)
  }

  /** A RIFF/WAVE container from (chunk id, declared size, body) triples;
    * the declared size may disagree with the body on purpose.
    */
  private def riff(chunks: (String, Int, Array[Byte])*): Array[Byte] = {
    val body = chunks.map(_._3.length + 8).sum
    val bb = java.nio.ByteBuffer.allocate(12 + body)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + body)
      .put("WAVE".getBytes("US-ASCII"))
    chunks.foreach { case (id, size, data) =>
      bb.put(id.getBytes("US-ASCII")).putInt(size).put(data)
    }
    bb.array()
  }

  /** A 16-byte PCM `fmt ` chunk body, 16 bits per sample. */
  private def fmt(channels: Int, rate: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(1).putShort(channels.toShort).putInt(rate)
      .putInt(rate * channels * 2).putShort((channels * 2).toShort)
      .putShort(16).array()

  test("wav parser fails by name on a negative chunk size instead of looping") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // size field 0xFFFFFFF8 reads as -8: the next chunk would start at
    // this chunk's own header again
    val payload = riff(("JUNK", 0xFFFFFFF8, new Array[Byte](24)))
    assert(payload.length == 44)
    val parsed = Future(scala.util.Try(
      Multimodal.wavPcm(Multimodal.MediaRecord(1L, payload))))
    val err = Await.result(parsed, 10.seconds).failed.get
    assert(err.isInstanceOf[IllegalArgumentException])
    assert(err.getMessage.contains("doc 1: chunk 'JUNK' size -8"), err.getMessage)
  }

  test("wav parser fails by name on a truncated data chunk and on zero channels") {
    val truncated = riff(("fmt ", 16, fmt(1, 8000)), ("data", 1000, new Array[Byte](8)))
    val e1 = intercept[IllegalArgumentException](
      Multimodal.wavPcm(Multimodal.MediaRecord(2L, truncated)))
    assert(e1.getMessage.contains("doc 2: chunk 'data' size 1000"), e1.getMessage)
    val oversized = riff(("JUNK", 64, new Array[Byte](4)),
      ("fmt ", 16, fmt(1, 8000)), ("data", 8, new Array[Byte](8)))
    val e2 = intercept[IllegalArgumentException](
      Multimodal.wavPcm(Multimodal.MediaRecord(3L, oversized)))
    assert(e2.getMessage.contains("doc 3: chunk 'JUNK' size 64"), e2.getMessage)
    val silent = riff(("fmt ", 16, fmt(0, 8000)), ("data", 8, new Array[Byte](8)))
    val e3 = intercept[IllegalArgumentException](
      Multimodal.wavDecoder(Multimodal.MediaRecord(4L, silent), 0L))
    assert(e3.getMessage.contains("doc 4: fmt declares 0 channels"), e3.getMessage)
  }

  test("non-image bytes through the image seam fail with the named decode error") {
    import spark.implicits._
    val media = Seq((9L, "plain text, not an image".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val err = intercept[Exception](
      Multimodal.decodeRows(media, Multimodal.imageIoDecoder).collect())
    val messages = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
    assert(messages.exists(_.contains("payload of doc 9 is not a decodable image")),
      messages.mkString(" | "))
  }

  test("resize composes on the decoded schema and bounds the long side") {
    val resized = Multimodal.resize(Multimodal.decodeImages(sf), maxSide = 128)
    resized.collect().foreach { r =>
      val w = r.getAs[Int]("out_w"); val h = r.getAs[Int]("out_h")
      assert(w <= 128 && h <= 128)
      assert(w > 0 && h > 0)
    }
  }

  test("frame sampling explodes every k-th frame with stable hashes") {
    val frames = Multimodal.sampleFrames(sf, everyK = 5)
    val rows = frames.collect()
    assert(rows.nonEmpty)
    rows.foreach { r => assert(r.getInt(1) % 5 == 0) }
    val again = Multimodal.sampleFrames(sf, everyK = 5).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("ahash dedup replays the 16-byte fingerprint and groups consistently") {
    val docs = sf.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def ahash(text: String): Long = {
      val n = text.length
      val bytes = (0 to 15).map(i => text.charAt((i * (n - 1)) / 15).toInt)
      val mean = bytes.sum / 16
      bytes.zipWithIndex.map { case (b, i) => if (b >= mean) 1L << i else 0L }.sum
    }
    val expHash = docs.map { case (id, t) => id -> ahash(t) }.toMap
    val groups = expHash.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val byHashMin = expHash.toSeq.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val rows = Multimodal.dedupAhash(sf).collect()
    assert(rows.length == docs.length)
    rows.foreach { r =>
      val (id, h) = (r.getLong(0), r.getLong(1))
      assert(h == expHash(id))
      assert(r.getLong(2) == groups(h))
      assert(r.getLong(3) == byHashMin(h))
      assert(r.getBoolean(4) == (groups(h) > 1))
    }
    // the 16-bit space must actually collide at this corpus size
    assert(rows.exists(_.getBoolean(4)) && rows.exists(!_.getBoolean(4)))
  }

  test("decode_wav runs the real parser over synthesized containers and matches the integer replay") {
    val got = Multimodal.decodeWav(sf).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    val nDocs = sf.documents.count()
    assert(got.size == nDocs.toInt && nDocs > 0)
    got.foreach { case (id, (rate, ch, bits, n, dur, rms)) =>
      val expRate = 8000 + (id % 4).toInt * 4000
      val expN = 64 + (id % 64).toInt
      assert(rate == expRate, s"doc $id rate")
      assert(ch == 1 && bits == 16)
      assert(n == expN, s"doc $id n_samples")
      assert(dur == expN * 1000.0 / expRate, s"doc $id duration")
      // exact integer energy replay — must be BIT-equal (that exactness
      // is what makes the DuckDB oracle able to replay the decode)
      var acc = 0L
      var i = 0
      while (i < expN) {
        val v = ((id * 7919 + i.toLong * 104729) % 65536) - 32768
        acc += v * v; i += 1
      }
      assert(rms == math.sqrt(acc.toDouble / expN) / 32768.0, s"doc $id rms")
    }
    // the synthesized container must exercise the full chunk walk: a
    // malformed byte stream (JUNK chunk dropped pad handling etc.) would
    // have thrown inside wavDecoder — also prove the blob really is
    // RIFF/WAVE by decoding one directly
    val one = Multimodal.wavDecoder(
      Multimodal.MediaRecord(7L, Multimodal.synthWav(7L)), 0L)
    assert(one.sample_rate == 8000 + (7 % 4) * 4000 && one.n_samples == 64 + 7 % 64)
  }

  test("audio vad matches an integer frame-energy replay through the real parser") {
    val got = Multimodal.audioVad(sf).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
      .toMap
    assert(got.size == sf.documents.count().toInt && got.nonEmpty)
    got.foreach { case (id, (nFrames, nActive, nSegments, frac)) =>
      val n = 64 + (id % 64).toInt
      val samples = (0 until n).map(i =>
        ((id * 7919 + i.toLong * 104729) % 65536) - 32768)
      val frames = samples.grouped(Multimodal.VadFrame).toSeq
      val act = frames.map(f =>
        f.map(v => v * v).sum >= Multimodal.VadMeanSq * f.length)
      val expSegs = act.zip(false +: act).count { case (a, p) => a && !p }
      assert(nFrames == frames.length, s"doc $id n_frames")
      assert(nActive == act.count(identity), s"doc $id n_active")
      assert(nSegments == expSegs, s"doc $id n_segments")
      assert(frac == act.count(identity).toDouble / frames.length, s"doc $id frac")
    }
    // the threshold must actually separate: both voiced and unvoiced
    // frames exist somewhere in the corpus
    assert(got.values.exists(_._2 > 0) &&
      got.values.exists(v => v._2 < v._1))
    // and some doc has >1 segment (the gaps-islands fold is exercised)
    assert(got.values.exists(_._3 > 1))
  }

  test("image stats replay the pixel formula channel-for-channel") {
    val got = Multimodal.imageStats(sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getInt(6), r.getInt(7)))
      .toMap
    assert(got.size == sf.documents.count().toInt && got.nonEmpty)
    got.foreach { case (id, (w, h, rs, gs, bs, lmin, lmax)) =>
      assert(w == 8 + (id % 9).toInt && h == 8 + ((id * 3) % 9).toInt)
      var (ers, egs, ebs) = (0L, 0L, 0L)
      var (elmin, elmax) = (Int.MaxValue, Int.MinValue)
      for (y <- 0 until h; x <- 0 until w) {
        val r = ((id + 7 * x + 13 * y) % 256).toInt
        val g = ((2 * id + 11 * x + 3 * y) % 256).toInt
        val b = ((3 * id + 5 * x + 17 * y) % 256).toInt
        ers += r; egs += g; ebs += b
        elmin = math.min(elmin, r + g + b); elmax = math.max(elmax, r + g + b)
      }
      assert((rs, gs, bs, lmin, lmax) == ((ers, egs, ebs, elmin, elmax)), s"doc $id")
    }
  }

  test("decode_png round-trips the real codec: decoded raster equals the pixel formula") {
    val got = Multimodal.decodePng(sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      .toMap
    assert(got.size == sf.documents.count().toInt)
    got.foreach { case (id, (w, h, ch, sum)) =>
      val (ew, eh) = (8 + (id % 9).toInt, 8 + ((id * 3) % 9).toInt)
      assert(w == ew && h == eh && ch == 3, s"doc $id dims")
      var exp = 0L
      for (y <- 0 until eh; x <- 0 until ew)
        exp += (id + 7 * x + 13 * y) % 256 +
          (2 * id + 11 * x + 3 * y) % 256 + (3 * id + 5 * x + 17 * y) % 256
      assert(sum == exp, s"doc $id rgb_sum: lossless decode must replay exactly")
    }
    // the payload really is PNG: magic bytes + decodable standalone
    val png = Multimodal.synthPng(3L)
    assert(png.take(8).toSeq == Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
  }

  test("decode_jpeg runs the real lossy codec: dims exact, luma mean in band, deterministic") {
    val got = Multimodal.decodeJpeg(sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))))
      .toMap
    assert(got.size == sf.documents.count().toInt)
    got.foreach { case (id, (w, h, ch, lumaMilli)) =>
      val (ew, eh) = (16 + (id % 17).toInt, 16 + ((id * 5) % 17).toInt)
      assert(w == ew && h == eh && ch == 3, s"doc $id dims/channels")
      // lossy band: decoded mean luma within 2 luma units (2000 milli)
      // of the synthesis raster's mean — gradients survive DCT well
      val src = Multimodal.synthJpegRaster(id)
      val expected = Multimodal.lumaMilliSum(src) / (ew.toLong * eh)
      assert(math.abs(lumaMilli - expected) <= 2000,
        s"doc $id luma: decoded $lumaMilli vs source $expected")
    }
    // the payload really is JPEG: SOI + JFIF/EXIF marker, decodable standalone
    val jpg = Multimodal.synthJpeg(3L)
    assert((jpg(0) & 0xFF) == 0xFF && (jpg(1) & 0xFF) == 0xD8, "JPEG SOI magic")
    // determinism: the encode→decode pipeline is replayable
    val again = Multimodal.decodeJpeg(sf).collect().map(_.toString).sorted
    assert(again.sameElements(Multimodal.decodeJpeg(sf).collect().map(_.toString).sorted))
  }

  test("scene_cuts_real decodes every GIF frame and replays cuts from the scene formula") {
    val got = Multimodal.sceneCutsReal(sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1 else r.getInt(3), r.getLong(4))))
      .toMap
    assert(got.size == sf.documents.count().toInt)
    got.foreach { case (id, (nf, nc, fci, lt)) =>
      val (w, h) = (4 + (id % 5).toInt, 4 + ((id * 3) % 5).toInt)
      val enf = 4 + (id % 5).toInt
      val seg = 2 + (id % 3).toInt
      def luma(f: Int): Long = {
        val s = f / seg
        ((id * 31 + s * 97) % 256 + (id * 17 + s * 53) % 256 +
          (id * 7 + s * 29) % 256) * w * h
      }
      val lumas = (0 until enf).map(luma)
      val cuts = (1 until enf).filter(f => lumas(f) != lumas(f - 1))
      assert(nf == enf.toLong, s"doc $id n_frames $nf vs $enf")
      assert(nc == cuts.length.toLong, s"doc $id n_cuts")
      assert(fci == cuts.headOption.getOrElse(-1), s"doc $id first_cut_idx")
      assert(lt == lumas.sum, s"doc $id luma_total: lossless GIF must replay")
    }
    // both outcomes present: clips with cuts and single-scene clips
    assert(got.values.exists(_._2 > 0) && got.values.exists(_._2 == 0))
    // the payload really is an animated GIF: magic + >1 frame standalone
    val gif = Multimodal.synthGif(5L)
    assert(new String(gif.take(6), "US-ASCII") == "GIF89a")
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(gif))
    reader.setInput(iis)
    assert(reader.getNumImages(true) == 4 + (5L % 5).toInt)
    reader.dispose(); iis.close()
  }

  test("dhash bits replay from the pixel formula without the codec") {
    val got = Multimodal.dhashReal(sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    assert(got.size == sf.documents.count().toInt)
    got.foreach { case (id, (w, h, hash)) =>
      assert(w == 8 + (id % 9).toInt && h == 8 + ((id * 3) % 9).toInt)
      // formula-only replay of the 9x8 luma area resample + gradient bits
      val num = Array.ofDim[Long](8, 9)
      for (j <- 0 until 8; i <- 0 until 9) {
        var s = 0L
        for (y <- 0 until h; x <- 0 until w) {
          val oy = math.min((y + 1).toLong * 8, (j + 1).toLong * h) -
            math.max(y.toLong * 8, j.toLong * h)
          val ox = math.min((x + 1).toLong * 9, (i + 1).toLong * w) -
            math.max(x.toLong * 9, i.toLong * w)
          if (ox > 0 && oy > 0) {
            val lum = 299L * ((id + 7 * x + 13 * y) % 256) +
              587L * ((2 * id + 11 * x + 3 * y) % 256) +
              114L * ((3 * id + 5 * x + 17 * y) % 256)
            s += lum * ox * oy
          }
        }
        num(j)(i) = s
      }
      var exp = 0L
      for (j <- 0 until 8; i <- 0 until 8) {
        val k = j * 8 + i
        if (k < 63 && num(j)(i + 1) > num(j)(i)) exp |= (1L << k)
      }
      assert(hash == exp, s"doc $id dhash")
    }
    // not degenerate: hashes differ across docs
    assert(got.values.map(_._3).toSet.size > 1)
  }

  test("audio fingerprint bits replay from the sample formula without the parser") {
    val got = Multimodal.audioFingerprint(sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got.size == sf.documents.count().toInt)
    got.foreach { case (id, (nFrames, fp)) =>
      val n = 64 + (id % 64).toInt
      assert(nFrames == (n + 1) / 2)
      val e = (0 until nFrames).map { f =>
        (f * 2 until math.min(f * 2 + 2, n)).map { j =>
          val v = ((id * 7919 + j.toLong * 104729) % 65536) - 32768
          v * v
        }.sum
      }
      var exp = 0L
      for (k <- 0 until math.min(nFrames - 1, 63))
        if (e(k + 1) > e(k)) exp |= (1L << k)
      assert(fp == exp, s"doc $id fingerprint")
    }
    assert(got.values.map(_._2).toSet.size > 1)
  }

  test("dhash pair mining equals brute-force hamming enumeration") {
    val fps = Multimodal.dhashReal(sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val ids = fps.keys.toSeq.sorted
    val expect = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      h = java.lang.Long.bitCount(fps(ids(i)) ^ fps(ids(j)))
      if h <= 3
    } yield (ids(i), ids(j), h.toLong)).toSet
    val got = Multimodal.dedupDhash(sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect, s"got ${got.size} pairs, expected ${expect.size}")
    assert(got.nonEmpty) // the synthetic corpus does contain near-dups
  }
  test("blur detect replays variance-of-Laplacian from the pixel formula") {
    val rows = graft.operators.Multimodal.blurDetect(sf).collect()
    assert(rows.length == sf.documents.count())
    var blurry = 0
    rows.take(40).foreach { r =>
      val (id, w, h) = (r.getLong(0), r.getInt(1), r.getInt(2))
      assert(w == 8 + (id % 9) && h == 8 + (id * 3) % 9)
      def lum(x: Int, y: Int): Long =
        (id + 7 * x + 13 * y) % 256 + (2 * id + 11 * x + 3 * y) % 256 +
          (3 * id + 5 * x + 17 * y) % 256
      val ls = for (y <- 1 until h - 1; x <- 1 until w - 1)
        yield 4 * lum(x, y) - lum(x - 1, y) - lum(x + 1, y) -
          lum(x, y - 1) - lum(x, y + 1)
      assert(r.getLong(3) == ls.size)
      assert(r.getLong(4) == ls.sum)
      assert(r.getLong(5) == ls.map(l => l * l).sum)
      val n = ls.size.toDouble
      val v = (ls.size * ls.map(l => l * l).sum - ls.sum * ls.sum).toDouble / (n * n)
      assert(math.abs(r.getDouble(6) - v) < 1e-6)
      assert(r.getBoolean(7) == (r.getDouble(6) < 30000.0))
      if (r.getBoolean(7)) blurry += 1
    }
    // the threshold actually separates the corpus
    assert(rows.count(_.getBoolean(7)) > 0)
    assert(rows.count(!_.getBoolean(7)) > 0)
  }
  test("clipping detect replays the rail count from the sample formula") {
    val rows = graft.operators.Multimodal.clippingDetect(sf).collect()
    assert(rows.length == sf.documents.count())
    var flagged = 0
    rows.take(60).foreach { r =>
      val (id, n) = (r.getLong(0), r.getInt(1))
      assert(n == 64 + id % 64)
      val vs = (0 until n).map(j => ((id * 7919 + j * 104729L) % 65536) - 32768)
      assert(r.getLong(2) == vs.count(v => v >= 32767 - 1024 || v <= -32768 + 1024))
      assert(r.getLong(3) == vs.map(math.abs).max)
      assert(math.abs(r.getDouble(4) - r.getLong(2).toDouble / n) < 1e-12)
      assert(r.getBoolean(5) == (r.getDouble(4) >= 0.05))
      if (r.getBoolean(5)) flagged += 1
    }
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)))
  }
  test("dominant color replays the modal 9-bit bucket per raster") {
    val rows = graft.operators.Multimodal.dominantColor(sf).collect()
    assert(rows.length == sf.documents.count())
    rows.take(40).foreach { r =>
      val (id, bucket, cnt, n) = (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))
      val (w, h) = ((8 + id % 9).toInt, (8 + id * 3 % 9).toInt)
      assert(n == w.toLong * h)
      val counts = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
      for (y <- 0 until h; x <- 0 until w) {
        val rr = ((id + 7 * x + 13 * y) % 256).toInt / 32
        val gg = ((2 * id + 11 * x + 3 * y) % 256).toInt / 32
        val bb = ((3 * id + 5 * x + 17 * y) % 256).toInt / 32
        counts(rr * 64 + gg * 8 + bb) += 1
      }
      val best = counts.toSeq.minBy { case (b, c) => (-c, b) }
      assert(bucket == best._1 && cnt == best._2, s"doc $id")
      assert(math.abs(r.getDouble(4) - cnt.toDouble / n) < 1e-12)
    }
  }

  test("aspect buckets: argmin assignment replays and populations sum") {
    val rows = graft.operators.Multimodal.aspectBuckets(sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val targets = Seq(("1:1", 1, 1), ("4:3", 4, 3), ("3:4", 3, 4),
      ("16:9", 16, 9), ("9:16", 9, 16))
    val n = sf.documents.count()
    assert(rows.values.map(_._1).sum == n)
    // replay the assignment from the dim formula
    val exp = (0L until n).map { id =>
      val (w, h) = ((8 + id % 9).toInt, (8 + id * 3 % 9).toInt)
      val costs = targets.map { case (_, bw, bh) => math.abs(w * bh - h * bw) }
      val b = targets(costs.indexOf(costs.min))._1
      (b, w.toLong * 1000000 / h)
    }
    exp.groupBy(_._1).foreach { case (b, as) =>
      val (cnt, mn, mx) = rows(b)
      assert(cnt == as.length, s"bucket $b count")
      assert(mn == as.map(_._2).min && mx == as.map(_._2).max, s"bucket $b range")
    }
    assert(rows.keySet == exp.map(_._1).toSet)
  }

  test("letterbox recovers the planted border geometry from decoded pixels") {
    val rows = graft.operators.Multimodal.letterbox(sf).collect()
    assert(rows.length == sf.documents.count())
    rows.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = ((8 + id % 9).toInt, (8 + id * 3 % 9).toInt)
      val (tb, bb) = ((id % 4).toInt, ((id * 5 + 1) % 4).toInt)
      val (lb, rb) = (((id * 3) % 4).toInt, ((id * 7 + 2) % 4).toInt)
      assert(r.getInt(1) == w && r.getInt(2) == h, s"doc $id dims")
      assert(r.getInt(3) == tb && r.getInt(4) == bb, s"doc $id h-bars")
      assert(r.getInt(5) == lb && r.getInt(6) == rb, s"doc $id v-bars")
      assert(r.getBoolean(7) == (tb > 0 && bb > 0), s"doc $id letterbox flag")
      assert(r.getBoolean(8) == (lb > 0 && rb > 0), s"doc $id pillarbox flag")
    }
    // the synthesis exercises all classes
    assert(rows.exists(_.getBoolean(7)) && rows.exists(!_.getBoolean(7)))
    assert(rows.exists(_.getBoolean(8)) && rows.exists(!_.getBoolean(8)))
  }
}
