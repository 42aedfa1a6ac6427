package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

/** Binary-column plumbing: schema, determinism, partition-batch shape. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media table exposes binary payload + typed metadata") {
    val m = Multimodal.mediaTable(spark, sf)
    val sch = m.schema.map(f => f.name -> f.dataType.simpleString).toMap
    assert(sch("payload") == "binary")
    assert(sch("n_bytes") == "bigint")
    assert(m.count() > 0)
  }

  test("decode features is deterministic and complete") {
    val a = Multimodal.decodeFeatures(spark, sf).collect()
    val b = Multimodal.decodeFeatures(spark, sf).collect()
    assert(a.sameElements(b), "stub decode must be deterministic")
    assert(a.length == Tables.documents(spark, sf).count())
    assert(a.forall(r => r.getAs[Int]("width") >= 64 &&
      r.getAs[Double]("mean_luma") >= 0 && r.getAs[Double]("mean_luma") <= 1))
  }

  test("batched decode matches per-row stub decode exactly") {
    // parity: the batch boundary must not change any feature value
    val batched = Multimodal.decodeFeatures(spark, sf, batchSize = 7).collect()
    val expected = Multimodal.mediaTable(spark, sf)
      .select("doc_id", "payload").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Multimodal.decodeStub(r.getAs[Array[Byte]]("payload"))).toMap
    assert(batched.length == expected.size)
    batched.foreach { r =>
      val f = expected(r.getAs[Long]("doc_id"))
      assert(r.getAs[Int]("width") == f.width &&
        r.getAs[Int]("height") == f.height &&
        r.getAs[Int]("n_frames") == f.nFrames &&
        r.getAs[Double]("mean_luma") == f.meanLuma)
    }
  }

  test("decode batches respect size bound and fill every non-final batch") {
    val bs = 16
    val trace = Multimodal.decodeBatchTrace(spark, sf, batchSize = bs)
      .persist()
    try {
      // every doc decoded exactly once
      assert(trace.count() == Tables.documents(spark, sf).count())
      assert(trace.select("doc_id").distinct().count() == trace.count())
      // no batch exceeds the bound
      assert(trace.filter($"batch_size" > bs).count() == 0)
      // within a partition only the LAST batch may be short — i.e. every
      // batch with a successor is exactly full (the amortization claim)
      val perPart = trace.groupBy($"partition_id")
        .agg(max($"batch_ord").as("last_ord")).withColumnRenamed("partition_id", "pid")
      val short = trace.join(perPart, $"partition_id" === $"pid")
        .filter($"batch_ord" < $"last_ord" && $"batch_size" =!= bs)
      assert(short.count() == 0, "a non-final batch was not full")
      // batch_size is consistent with the actual member count
      val mismatch = trace.groupBy($"partition_id", $"batch_ord", $"batch_size")
        .count().filter($"count" =!= $"batch_size")
      assert(mismatch.count() == 0)
    } finally { trace.unpersist(); () }
  }

  test("resize plan preserves aspect ratio and never upscales") {
    val f = Multimodal.decodeFeatures(spark, sf)
    val r = Multimodal.resizePlan(f, 256, 256).collect()
    r.foreach { row =>
      val (w, h) = (row.getAs[Int]("width"), row.getAs[Int]("height"))
      val (ow, oh) = (row.getAs[Int]("out_w"), row.getAs[Int]("out_h"))
      assert(ow <= 256 && oh <= 256 && ow >= 1 && oh >= 1)
      assert(ow <= w && oh <= h, "no upscaling")
      // aspect preserved within integer-floor tolerance
      assert(math.abs(ow.toDouble / w - oh.toDouble / h) < 0.05)
    }
  }

  test("frame sample plan explodes work units per frame stride") {
    val f = Multimodal.decodeFeatures(spark, sf)
    val plan = Multimodal.frameSamplePlan(f, everyN = 2)
    val expected = f.select(sum(ceil($"n_frames" / 2.0))).as[Long].head()
    assert(plan.count() == expected)
  }

  test("m03 closed-form frame count equals the composed rollup row-for-row") {
    // r18 optimization pin: framePlan computes n_sampled_frames as
    // floor((n_frames-1)/everyN)+1 in the SAME projection as the resize
    // geometry (one decode pass, no explode/join). This must equal the
    // pre-optimization composition — resizePlan ⋈ frameSamplePlan-rollup —
    // exactly, on every row.
    val f = Multimodal.decodeFeatures(spark, sf)
    val frames = Multimodal.frameSamplePlan(f, everyN = 2)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_sampled_frames"))
    val composed = Multimodal.resizePlan(f).join(frames, Seq("doc_id"))
      .orderBy($"doc_id").collect()
    val got = Multimodal.framePlan(spark, sf).collect()
    assert(got.length == composed.length)
    got.zip(composed).foreach { case (g, c) =>
      assert(g.getAs[Long]("doc_id") == c.getAs[Long]("doc_id"))
      assert(g.getAs[Long]("n_sampled_frames") ==
        c.getAs[Long]("n_sampled_frames"),
        s"doc ${g.getAs[Long]("doc_id")}: closed form " +
          s"${g.getAs[Long]("n_sampled_frames")} != exploded count " +
          s"${c.getAs[Long]("n_sampled_frames")}")
      assert(g.getAs[Double]("scale") == c.getAs[Double]("scale") &&
        g.getAs[Int]("out_w") == c.getAs[Int]("out_w") &&
        g.getAs[Int]("out_h") == c.getAs[Int]("out_h"))
    }
  }

  test("m05 decode pack covers every asset once within byte budgets") {
    val budget = 2048L
    val media = Multimodal.mediaTable(spark, sf)
    val packed = Multimodal.decodePackOf(media, budget).collect()
    // exactly-once coverage
    assert(packed.map(_.getAs[Long]("n_assets")).sum == media.count())
    packed.foreach { r =>
      val (bytes, maxAsset) =
        (r.getAs[Long]("batch_bytes"), r.getAs[Long]("max_asset_bytes"))
      // a batch closes when cum-before crosses the budget, so it can
      // overshoot by strictly less than its largest member
      assert(bytes < budget + maxAsset,
        s"batch of $bytes B exceeds budget+max ($budget+$maxAsset)")
    }
    // batch ordinals are contiguous from 0 within each (kind, shard)
    packed.groupBy(r => (r.getString(0), r.getInt(1))).foreach {
      case (_, rows) =>
        val ords = rows.map(_.getAs[Long]("batch_ord")).sorted
        assert(ords.head == 0L &&
          ords.sameElements(0L until ords.length.toLong))
    }
  }

  /** Deterministic pseudo-random payload for the phash tests. */
  private def payloadOf(seed: Int, n: Int): Array[Byte] = {
    val a = new Array[Byte](n)
    var h = seed.toLong * 0x9E3779B97F4A7C15L
    var i = 0
    while (i < n) {
      h = h * 6364136223846793005L + 1442695040888963407L
      a(i) = (h >>> 32).toByte
      i += 1
    }
    a
  }

  private def mediaRowsOf(rows: Seq[(Long, String, Array[Byte])]) = {
    val s = spark
    import s.implicits._
    rows.map { case (id, kind, p) =>
      (id, kind, p, p.length.toLong,
        java.security.MessageDigest.getInstance("SHA-256").digest(p)
          .map("%02x".format(_)).mkString)
    }.toDF("doc_id", "kind", "payload", "n_bytes", "content_hash")
  }

  /** `base` with 64 bytes flipped at even stride — a ~1.5% edit, the
    * "re-encoded mirror" scale of change (hamming 6 of 64 under the
    * stub; a 1-byte edit lands at hamming 0: the vote margins absorb it,
    * which is the similarity-preservation working as designed).
    */
  private def editedOf(base: Array[Byte]): Array[Byte] = {
    val near = base.clone()
    (0 until 64).foreach { j =>
      val idx = (j * base.length / 64 + 5) % base.length
      near(idx) = (near(idx) ^ 0x5A).toByte
    }
    near
  }

  test("phash stub is similarity-preserving over payload bytes") {
    val base = payloadOf(1, 4096)
    val near = editedOf(base)
    val far = payloadOf(2, 4096)
    val (hb, hn, hf) =
      (Multimodal.phashStub(base), Multimodal.phashStub(near),
        Multimodal.phashStub(far))
    val dNear = java.lang.Long.bitCount(hb ^ hn)
    val dFar = java.lang.Long.bitCount(hb ^ hf)
    assert(dNear <= 8, s"1-byte edit moved $dNear bits")
    assert(dFar >= 16, s"unrelated payloads only $dFar bits apart")
  }

  test("m06 phash near-dup: planted pairs found, kinds isolated, " +
      "unrelated payloads not merged") {
    val base = payloadOf(1, 4096)
    val near = editedOf(base)
    val media = mediaRowsOf(Seq(
      (1L, "image", base),           // base asset
      (2L, "image", near),           // lightly edited mirror -> pair (1,2)
      (3L, "image", base.clone()),   // byte-identical repost -> hamming 0
      (4L, "audio", base.clone()),   // same bytes, other kind -> NO pair
      (5L, "image", payloadOf(2, 4096)))) // unrelated -> NO pair
    val pairs = Multimodal.phashNearDupOf(media).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[String]("kind"), r.getAs[Int]("hamming"))).toMap
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"expected exactly the planted trio, got ${pairs.keySet}")
    assert(pairs((1L, 3L)) == (("image", 0)), "identical payloads at 0")
    assert(pairs((1L, 2L))._2 > 0 && pairs((1L, 2L))._2 <= 8)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "cross-kind byte-collision must never pair")
  }

  test("m07 media canonical keeps one survivor per phash cluster and " +
      "leaves singletons alone") {
    val base = payloadOf(1, 4096)
    val media = mediaRowsOf(Seq(
      (1L, "image", base),
      (2L, "image", editedOf(base)),     // near-dup of 1
      (3L, "image", base.clone()),       // exact dup of 1
      (4L, "audio", base.clone()),       // other kind -> singleton
      (5L, "image", payloadOf(2, 4096)))) // unrelated -> singleton
    val out = Multimodal.mediaCanonicalOf(media).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_canonical")))
      .toMap
    assert(out.size == 5, "every asset gets a verdict row")
    // the {1,2,3} cluster keeps exactly one survivor: equal sizes tie
    // down to the lowest doc_id
    assert(out(1L) == ((1L, true)) && out(2L) == ((1L, false)) &&
      out(3L) == ((1L, false)), out.toString)
    assert(out(4L) == ((4L, true)) && out(5L) == ((5L, true)),
      "singletons are their own canonical")
  }

  /** A deterministic synthetic photo-ish image: smooth 2-D gradient with
    * a bright block — enough luma structure that the dHash has real
    * gradient signs in every row.
    */
  private def syntheticImage(seed: Int, w: Int = 64, h: Int = 48) = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 255 / w + seed * 37) % 256
      val g = (y * 255 / h + seed * 11) % 256
      val b = if (x / 8 % 2 == seed % 2) 220 else 40
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    img
  }

  private def encodeImage(img: java.awt.image.BufferedImage,
      format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  test("image decode: a header declaring more than the pixel cap decodes to None") {
    // a valid PNG just over the cap (1-bit, so its raster is only 4 MB):
    // it decodes without the cap, so None here shows the cap is read
    val side = math.ceil(math.sqrt(Multimodal.MaxImagePixels.toDouble)).toInt + 1
    val overCap = encodeImage(new java.awt.image.BufferedImage(
      side, side, java.awt.image.BufferedImage.TYPE_BYTE_BINARY), "png")
    assert(overCap.length < 64 * 1024)
    assert(Multimodal.decodeImage(overCap).isEmpty)
    // a small PNG whose IHDR declares 60000 × 60000 (the pixel data stays
    // 64 × 48): rejected from the header, before any raster is allocated
    val huge = encodeImage(syntheticImage(1), "png")
    java.nio.ByteBuffer.wrap(huge, 16, 8).putInt(60000).putInt(60000)
    val crc = new java.util.zip.CRC32
    crc.update(huge, 12, 17) // chunk type + 13-byte IHDR data
    java.nio.ByteBuffer.wrap(huge, 29, 4).putInt(crc.getValue.toInt)
    assert(Multimodal.decodeImage(huge).isEmpty)
  }

  test("real image decode: true dims + mean luma from pixels") {
    val png = encodeImage(syntheticImage(1), "png")
    val Some((f, _)) = Multimodal.decodeImage(png)
    assert(f.width == 64 && f.height == 48 && f.nFrames == 1)
    assert(f.meanLuma > 0.1 && f.meanLuma < 0.9,
      s"gradient image mean luma ${f.meanLuma} implausible")
    // non-image bytes fall back to the stub family
    assert(Multimodal.decodeImage(payloadOf(3, 512)).isEmpty)
    // the batched pipeline surfaces the REAL dims, not stub pseudo-dims
    val media = mediaRowsOf(Seq((1L, "image", png)))
    val row = Multimodal.decodeFeaturesOf(media).collect().head
    assert(row.getAs[Int]("width") == 64 && row.getAs[Int]("height") == 48)
  }

  test("m06 recovers a RE-ENCODED image mirror (PNG vs BMP, same pixels)") {
    val img = syntheticImage(1)
    val png = encodeImage(img, "png")
    val bmp = encodeImage(img, "bmp")
    assert(!java.util.Arrays.equals(png, bmp),
      "the two encodings must differ at the byte level")
    val media = mediaRowsOf(Seq(
      (1L, "image", png),                           // original
      (2L, "image", bmp),                           // re-encoded mirror
      (3L, "image", encodeImage(syntheticImage(2), "png")), // unrelated image
      (4L, "image", payloadOf(9, 4096))))           // non-image payload
    val pairs = Multimodal.phashNearDupOf(media).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Int]("hamming")).toMap
    assert(pairs.contains((1L, 2L)),
      s"re-encoded mirror not recovered; pairs ${pairs.keySet}")
    assert(pairs((1L, 2L)) <= 2,
      s"same pixels should land ~0 bits apart, got ${pairs((1L, 2L))}")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      "different images must not pair")
  }

  /** Deterministic PCM WAV bytes: `waveform(t)` sampled at `rate` Hz for
    * `seconds`, 16-bit signed little-endian mono, written through the
    * real javax.sound.sampled encoder (so the decode path parses a true
    * RIFF/WAVE container, not a hand-rolled one).
    */
  private def syntheticWav(waveform: Double => Double, rate: Float,
      seconds: Double = 0.5): Array[Byte] = {
    val n = (rate * seconds).toInt
    val raw = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val t = i.toDouble / rate
      val v = (waveform(t) * 30000).toInt.max(-32768).min(32767)
      raw(2 * i) = (v & 0xFF).toByte
      raw(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  // amplitude-modulated tone: a distinctive energy contour for the
  // envelope fingerprint (a constant-amplitude tone has a flat envelope
  // whose gradient signs are noise)
  private val toneA: Double => Double =
    t => math.sin(2 * math.Pi * 440 * t) * (0.2 + 0.8 * math.abs(math.sin(2 * math.Pi * 3 * t)))
  private val toneB: Double => Double =
    t => math.sin(2 * math.Pi * 220 * t) * (0.2 + 0.8 * math.abs(math.cos(2 * math.Pi * 7 * t)))

  test("real audio decode: WAV rate/channels/duration/level from samples") {
    val wav = syntheticWav(toneA, 8000f)
    val Some((f, _)) = Multimodal.decodeAudio(wav)
    assert(f.width == 8000, s"sample rate ${f.width}")
    assert(f.height == 1, "mono")
    assert(math.abs(f.nFrames - 500) <= 1, s"duration ${f.nFrames} ms")
    assert(f.meanLuma > 0.05 && f.meanLuma < 1.0, s"RMS ${f.meanLuma}")
    // non-WAV bytes fall through to the stub family
    assert(Multimodal.decodeAudio(payloadOf(3, 512)).isEmpty)
    assert(Multimodal.decodeAudio(encodeImage(syntheticImage(1), "png")).isEmpty)
  }

  test("m06 recovers a RESAMPLED audio mirror (8k vs 16k PCM, same signal)") {
    val a8 = syntheticWav(toneA, 8000f)
    val a16 = syntheticWav(toneA, 16000f) // same content, re-sampled
    assert(!java.util.Arrays.equals(a8, a16),
      "the two encodings must differ at the byte level")
    val media = mediaRowsOf(Seq(
      (1L, "audio", a8),                       // original
      (2L, "audio", a16),                      // resampled re-encode
      (3L, "audio", syntheticWav(toneB, 8000f)), // unrelated audio
      (4L, "audio", payloadOf(9, 4096))))      // non-audio payload
    val pairs = Multimodal.phashNearDupOf(media).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Int]("hamming")).toMap
    assert(pairs.contains((1L, 2L)),
      s"resampled mirror not recovered; pairs ${pairs.keySet}")
    // a few bits flip where the envelope gradient is near zero (the sign
    // comparison is noise-sensitive exactly there); well inside m06's
    // maxHamming=8 and far from an unrelated signal's ~32
    assert(pairs((1L, 2L)) <= 4,
      s"same energy contour should land a few bits apart, got ${pairs((1L, 2L))}")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      "different audio must not pair")
  }

  test("m06 bucket cap prunes floods into the dropped-bucket report") {
    val flood = payloadOf(7, 2048)
    val media = mediaRowsOf(
      (1L to 70L).map(i => (i, "image", flood.clone())))
    assert(Multimodal.phashNearDupOf(media, maxBucket = 64).count() == 0,
      "an oversized bucket must not reach the pair join")
    val dropped = Multimodal.phashDroppedBuckets(media, maxBucket = 64)
      .collect()
    assert(dropped.length == 4, "all 4 bands of the flood bucket reported")
    assert(dropped.forall(_.getAs[Long]("bucket_n") == 70L))
  }

  test("MediaCodec SPI: m01/m06 contracts run through an injected fake " +
      "codec — operators never hard-wire a decoder") {
    import graft.multimodal.{MediaCodec, MediaFeatures}
    // fake "codec": features + fingerprint from the FIRST payload byte
    // only — deliberately disjoint from the default chain's semantics so
    // the assertions below can only pass if the injection took effect
    class FirstByteCodec extends MediaCodec {
      def decode(p: Array[Byte]): Option[(MediaFeatures, Long)] =
        Some((MediaFeatures(1000 + (p(0) & 0xFF), 500, 3,
          (p(0) & 0xFF) / 255.0), (p(0) & 0xFF).toLong))
    }
    val fake = new FirstByteCodec
    val a = payloadOf(1, 2048); val b = payloadOf(2, 2048)
    b(0) = a(0) // unrelated bytes, same first byte
    val c = payloadOf(3, 2048)
    c(0) = (a(0) + 1).toByte
    val media = mediaRowsOf(Seq(
      (1L, "image", a), (2L, "image", b), (3L, "image", c)))

    // m01 through the fake: every feature is the fake's, proving the
    // decode stage (schema, batching, row pairing) is codec-agnostic
    val feats = Multimodal.decodeFeaturesOf(media, batchSize = 2, codec = fake)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("width"), r.getAs[Int]("height"),
          r.getAs[Int]("n_frames"))).toMap
    assert(feats(1L) == ((1000 + (a(0) & 0xFF), 500, 3)))
    assert(feats(3L) == ((1000 + (c(0) & 0xFF), 500, 3)))

    // m06 through the fake: docs 1,2 share a fingerprint (same first
    // byte) and MUST pair at hamming 0; under the DEFAULT byte-gram stub
    // these unrelated payloads never pair — the difference is the proof
    val fakePairs = Multimodal.phashNearDupOf(media, codec = fake).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Int]("hamming")).toMap
    assert(fakePairs.contains((1L, 2L)) && fakePairs((1L, 2L)) == 0,
      s"fake codec's equal fingerprints must pair: $fakePairs")
    val defaultPairs = Multimodal.phashNearDupOf(media).collect()
    assert(!defaultPairs.exists(r => r.getAs[Long]("doc_a") == 1L &&
      r.getAs[Long]("doc_b") == 2L),
      "default codec must NOT pair the unrelated payloads — injection " +
        "must actually change the decode")
  }

  test("MediaCodec.Chain keeps the one-call-per-batch shape for member " +
      "codecs (a GPU/FFI codec must not degrade to per-payload calls)") {
    import graft.multimodal.{MediaCodec, MediaFeatures}
    class CountingCodec extends MediaCodec {
      var batchCalls = 0
      var scalarCalls = 0
      def decode(p: Array[Byte]): Option[(MediaFeatures, Long)] = {
        scalarCalls += 1; None
      }
      override def decodeBatch(
          ps: Array[Array[Byte]]): Array[Option[(MediaFeatures, Long)]] = {
        batchCalls += 1; ps.map(_ => None)
      }
    }
    val counting = new CountingCodec
    val chain = MediaCodec.Chain(Seq(counting, MediaCodec.ByteStub))
    val batch = Array.tabulate(5)(i => Array[Byte](i.toByte, 1, 2, 3, 4))
    val out = chain.decodeBatch(batch)
    assert(counting.batchCalls == 1 && counting.scalarCalls == 0,
      s"member codec saw ${counting.batchCalls} batch / " +
        s"${counting.scalarCalls} scalar calls — batch shape lost")
    assert(out.length == 5 && out.forall(_.isDefined),
      "declined payloads must fall through to the total stub")
  }
}
