package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import scala.util.control.NonFatal

/** Decoded media features. IMAGE payloads decode for real (javax.imageio
  * — PNG/JPEG/BMP/GIF pixel dims, mean luma, pixel-grid dHash); audio /
  * video codec libraries are absent in this container, so those kinds
  * fall back to a deterministic byte-derived stub. The Spark-side
  * plumbing (schema, batch iteration, partitioning) is identical for
  * both branches.
  */
case class MediaFeatures(width: Int, height: Int, nFrames: Int, meanLuma: Double)

case class MediaRecord(doc_id: Long, kind: String, payload: Array[Byte],
    n_bytes: Long, content_hash: String)

/** Multimodal column handling (SURVEY.md §2 m01).
  *
  * Media (image/audio/video) are opaque `binary` columns plus typed
  * metadata — the layout a 100 TB multimodal corpus uses (payload bytes in
  * parquet, features computed once, downstream queries touch only metadata
  * thanks to column pruning).
  *
  * Decode runs per-partition over an iterator (the Scala analog of
  * `mapInPandas` batch UDFs): one decoder init per partition, streaming
  * through rows without materializing the partition.
  */
object Multimodal {

  /** Magic-byte sniff: true if the payload starts like a PNG / JPEG /
    * BMP / GIF container — the cheap gate that keeps ImageIO parse
    * attempts (exception-priced) off text/audio payloads.
    */
  private[multimodal] def looksLikeImage(p: Array[Byte]): Boolean =
    p.length >= 4 && (
      (p(0) == 0x89.toByte && p(1) == 0x50 && p(2) == 0x4E && p(3) == 0x47) ||
      (p(0) == 0xFF.toByte && p(1) == 0xD8.toByte && p(2) == 0xFF.toByte) ||
      (p(0) == 0x42 && p(1) == 0x4D) ||
      (p(0) == 0x47 && p(1) == 0x49 && p(2) == 0x46))

  /** Mean-luma grid of a decoded image plus the EXACT global pixel mean:
    * cell (gx, gy) averages Rec.601 luma over the pixel block that maps
    * into it (area averaging — deterministic, unlike Graphics2D rescale
    * hints). The global mean accumulates over every pixel directly
    * (ADVICE r13: when width/height aren't multiples of the grid, cells
    * cover unequal pixel counts, so averaging the CELL means would bias
    * the reported mean luma). Row-bulk getRGB keeps the per-pixel cost
    * to arithmetic.
    */
  private def lumaGrid(img: java.awt.image.BufferedImage,
      gw: Int, gh: Int): (Array[Double], Double) = {
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Double](gw * gh)
    val counts = new Array[Long](gw * gh)
    var totalSum = 0.0
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      val gy = (y.toLong * gh / h).toInt
      var x = 0
      while (x < w) {
        val gx = (x.toLong * gw / w).toInt
        val rgb = row(x)
        val luma = 0.299 * ((rgb >> 16) & 0xFF) +
          0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
        sums(gy * gw + gx) += luma
        counts(gy * gw + gx) += 1
        totalSum += luma
        x += 1
      }
      y += 1
    }
    val out = new Array[Double](gw * gh)
    var i = 0
    while (i < out.length) {
      out(i) = if (counts(i) == 0) 0.0 else sums(i) / counts(i)
      i += 1
    }
    (out, totalSum / (w.toLong * h))
  }

  /** REAL image decode (javax.imageio — pure-JVM, headless-safe): true
    * pixel dimensions, mean luma, and a 64-bit difference hash (dHash:
    * sign of the horizontal luma gradient over a 9×8 area-averaged
    * grid). dHash depends only on PIXELS, so two encodings of the same
    * image (PNG vs BMP, or a re-compressed mirror) land 0–few bits
    * apart — the recall property m06's byte-gram stub could not give
    * for re-ENCODED (rather than byte-edited) mirrors. Returns None for
    * payloads that aren't decodable images (audio/video/text), and for
    * headers declaring more than [[MaxImagePixels]]; both fall back to
    * the deterministic stub family.
    */
  def decodeImage(payload: Array[Byte]): Option[(MediaFeatures, Long)] = {
    if (!looksLikeImage(payload)) return None
    val img =
      try readImageCapped(payload)
      catch { case NonFatal(_) => null }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0) return None
    val gw = 9; val gh = 8
    val (grid, mean) = lumaGrid(img, gw, gh)
    var bits = 0L
    var y = 0
    while (y < gh) {
      var x = 0
      while (x < 8) {
        if (grid(y * gw + x + 1) > grid(y * gw + x))
          bits |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    Some((MediaFeatures(img.getWidth, img.getHeight, 1, mean / 255.0), bits))
  }

  /** The largest raster [[decodeImage]] decodes (2^25 px, 128 MB as
    * packed ARGB). The reader allocates the whole raster before reading
    * any pixel data, so a crafted header declaring a huge image would
    * otherwise end the task with an OutOfMemoryError.
    */
  private[graft] val MaxImagePixels: Long = 1L << 25

  /** `ImageIO.read`, except that the declared dimensions are read from
    * the header first and an image over [[MaxImagePixels]] is null.
    */
  private def readImageCapped(
      payload: Array[Byte]): java.awt.image.BufferedImage = {
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    if (in == null) return null
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) return null
      val reader = readers.next()
      try {
        reader.setInput(in, true, true)
        if (reader.getWidth(0).toLong * reader.getHeight(0) > MaxImagePixels) null
        else reader.read(0)
      } finally reader.dispose()
    } finally in.close()
  }

  /** RIFF/WAVE magic sniff — the cheap gate before a real WAV parse. */
  private[multimodal] def looksLikeWav(p: Array[Byte]): Boolean =
    p.length >= 12 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

  /** REAL audio decode for WAV/PCM payloads (javax.sound.sampled — pure
    * JVM, no codec libs needed): sample rate, channel count, duration,
    * overall RMS level, and a 64-bit energy-envelope dHash — the signal
    * is mono-mixed, split into 65 equal-RELATIVE-time windows, and bit i
    * is the sign of the RMS gradient between windows i and i+1. Window
    * boundaries are relative positions, so the fingerprint depends on
    * the CONTENT's energy contour, not the sample rate — a resampled
    * re-encode of the same audio (disjoint bytes, different rate) lands
    * 0–few bits apart, the recall property the byte-gram stub cannot
    * give (MultimodalSpec pins it with a planted resampled mirror).
    *
    * MediaFeatures mapping for audio: width = sample rate (Hz), height =
    * channels, nFrames = duration in ms, meanLuma = overall RMS in
    * [0, 1]. Returns None for non-WAV or compressed payloads (those fall
    * to the byte-derived stub — the documented remaining gap is
    * compressed audio + video codecs, absent in this container).
    */
  def decodeAudio(payload: Array[Byte]): Option[(MediaFeatures, Long)] = {
    if (!looksLikeWav(payload)) return None
    try {
      val ais = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      val enc = fmt.getEncoding
      val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
      val unsigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
      val bits = fmt.getSampleSizeInBits
      if (!(signed || unsigned) || (bits != 8 && bits != 16)) return None
      val raw = ais.readAllBytes()
      val channels = fmt.getChannels
      val bytesPerSample = bits / 8
      val frameBytes = bytesPerSample * channels
      val nFrames = raw.length / frameBytes
      if (nFrames == 0) return None
      // mono-mix to [-1, 1]
      val mono = new Array[Double](nFrames)
      val big = fmt.isBigEndian
      var f = 0
      while (f < nFrames) {
        var acc = 0.0
        var c = 0
        while (c < channels) {
          val o = f * frameBytes + c * bytesPerSample
          val v =
            if (bits == 8) {
              if (signed) raw(o).toDouble / 128.0
              else ((raw(o) & 0xFF) - 128).toDouble / 128.0
            } else {
              val lo = if (big) raw(o + 1) else raw(o)
              val hi = if (big) raw(o) else raw(o + 1)
              ((hi.toInt << 8) | (lo & 0xFF)).toShort.toDouble / 32768.0
            }
          acc += v
          c += 1
        }
        mono(f) = acc / channels
        f += 1
      }
      // 65 equal-relative-time RMS windows -> 64 gradient-sign bits
      val nWin = 65
      val rms = new Array[Double](nWin)
      var w = 0
      while (w < nWin) {
        val start = (w.toLong * nFrames / nWin).toInt
        val end = math.max(((w + 1).toLong * nFrames / nWin).toInt, start + 1)
        var ss = 0.0
        var i = start
        while (i < end && i < nFrames) { ss += mono(i) * mono(i); i += 1 }
        rms(w) = math.sqrt(ss / math.max(end - start, 1))
        w += 1
      }
      var fp = 0L
      var b = 0
      while (b < 64) {
        if (rms(b + 1) > rms(b)) fp |= (1L << b)
        b += 1
      }
      var totalSs = 0.0
      var i = 0
      while (i < nFrames) { totalSs += mono(i) * mono(i); i += 1 }
      val durationMs = (nFrames.toLong * 1000 / fmt.getSampleRate.toLong).toInt
      Some((MediaFeatures(fmt.getSampleRate.toInt, channels, durationMs,
        math.sqrt(totalSs / nFrames)), fp))
    } catch { case NonFatal(_) => None }
  }

  /** Unified per-payload decode through the [[MediaCodec]] SPI: the
    * default chain tries real image decode, then real WAV/PCM audio,
    * then the deterministic byte stub (compressed audio/video codecs
    * absent in this container — their branch of the default chain is the
    * remaining stub). Inject a different codec to swap decoders without
    * touching operator code.
    */
  def decodePayload(payload: Array[Byte],
      codec: MediaCodec = MediaCodec.default): (MediaFeatures, Long) =
    codec.decode(payload)
      .getOrElse((decodeStub(payload), phashStub(payload)))

  /** Batch form of [[decodePayload]] — ONE call per batch of payloads,
    * the mapInPandas/Arrow record-batch shape where a real pipeline
    * amortizes codec/FFI setup; features and fingerprint come out of the
    * same payload read. Payloads the codec declines fall to the total
    * byte stub so the operator stays total per row.
    */
  def decodeBatch(payloads: Array[Array[Byte]],
      codec: MediaCodec = MediaCodec.default): Array[(MediaFeatures, Long)] =
    codec.decodeBatch(payloads).zip(payloads).map {
      case (Some(r), _) => r
      case (None, p) => (decodeStub(p), phashStub(p))
    }

  /** STUB decoder — deterministic fake for NON-IMAGE payloads (audio /
    * video codec libs not in this container). Derives stable
    * pseudo-features from the payload bytes; swap the body for a real
    * codec in production. Image payloads never reach this — see
    * [[decodeImage]].
    */
  def decodeStub(payload: Array[Byte]): MediaFeatures = {
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    val w = 64 + math.floorMod(h, 1024).toInt
    MediaFeatures(
      width = w,
      height = 64 + math.floorMod(h >> 10, 1024).toInt,
      nFrames = 1 + math.floorMod(h >> 20, 32).toInt,
      meanLuma = math.floorMod(h >> 25, 256).toDouble / 255.0)
  }

  /** Build a binary media table from `documents` (payload = utf8 bytes;
    * in production this column arrives from the object store).
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    mediaTableOf(Tables.documents(s, dir))

  /** Core of [[mediaTable]] over any (doc_id, text) frame. */
  def mediaTableOf(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    // A doc with NULL content has no media record (the object store has
    // nothing to fetch) — without this, the typed decode path's
    // non-nullable payload field turns one scraped null row into a
    // stage-level crash for the whole m-family (found by the
    // GenAdversarial corpus gate).
    documents.filter($"text".isNotNull).select(
      $"doc_id",
      when($"doc_id" % 3 === 0, "image")
        .when($"doc_id" % 3 === 1, "audio")
        .otherwise("video").as("kind"),
      encode($"text", "UTF-8").as("payload"),
      length(encode($"text", "UTF-8")).cast("long").as("n_bytes"),
      sha2($"text", 256).as("content_hash"))
  }

  /** Vectorized STUB decode: ONE call per batch of payloads — where a
    * real pipeline hands the whole batch to the codec/accelerator in one
    * FFI crossing (the mapInPandas/Arrow record-batch shape). The stub
    * maps the scalar fake over the array; the batch SIGNATURE is the
    * production-shaped part.
    */
  def decodeBatchStub(payloads: Array[Array[Byte]]): Array[MediaFeatures] =
    payloads.map(decodeStub)

  /** m01: decode/feature-extract over the binary column, batched per
    * partition. Output keeps doc identity + typed feature struct.
    *
    * Batch shape: within each partition, payloads cross the decode
    * boundary in fixed-size batches (`grouped` keeps the iterator
    * streaming — at most batchSize payloads live at once), so per-call
    * codec/FFI overhead amortizes over batchSize rows and per-call
    * memory is bounded by batchSize × payload, independent of partition
    * size. One decoder init per partition would precede the loop.
    */
  def decodeFeatures(s: SparkSession, dir: String,
      batchSize: Int = 64): DataFrame =
    decodeFeaturesOf(mediaTable(s, dir), batchSize)

  /** Core of [[decodeFeatures]] over any media-record frame. The codec
    * instance ships in the task closure — one SPI, any decoder.
    */
  def decodeFeaturesOf(mediaDf: DataFrame, batchSize: Int = 64,
      codec: MediaCodec = MediaCodec.default): DataFrame =
    decodeFeaturesUnsorted(mediaDf, batchSize, codec).orderBy("doc_id")

  /** [[decodeFeaturesOf]] WITHOUT the m01 output contract's global sort —
    * the composition form: a consumer that aggregates or joins the
    * features (m03) destroys row order immediately, so the sort exchange
    * is pure cost there. m01 keeps the sorted wrapper.
    */
  def decodeFeaturesUnsorted(mediaDf: DataFrame, batchSize: Int = 64,
      codec: MediaCodec = MediaCodec.default): DataFrame = {
    val s = mediaDf.sparkSession
    import s.implicits._
    val media: Dataset[MediaRecord] = mediaDf.as[MediaRecord]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val feats = decodeBatch(batch.map(_.payload).toArray, codec)
        batch.iterator.zip(feats.iterator).map { case (r, (f, _)) =>
          (r.doc_id, r.kind, r.n_bytes, r.content_hash,
            f.width, f.height, f.nFrames, f.meanLuma)
        }
      }
    }.toDF("doc_id", "kind", "n_bytes", "content_hash",
        "width", "height", "n_frames", "mean_luma")
  }

  /** Batch-boundary trace for specs/probes: which (partition, batch)
    * each doc's decode ran in and how full that batch was — the
    * work-scheduling evidence for the batched path (every batch ≤
    * batchSize; every partition fills all batches but its last).
    */
  def decodeBatchTrace(s: SparkSession, dir: String,
      batchSize: Int = 64): DataFrame = {
    import s.implicits._
    val media: Dataset[MediaRecord] = mediaTable(s, dir).as[MediaRecord]
    media.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      it.grouped(batchSize).zipWithIndex.flatMap { case (batch, ord) =>
        batch.map(r => (r.doc_id, pid, ord, batch.size))
      }
    }.toDF("doc_id", "partition_id", "batch_ord", "batch_size")
  }

  /** Frame sampling shape: explode n_frames into (doc_id, frame_idx) work
    * units, repartitioned for even decode load — the scale pattern for
    * video corpora where one row can be hours of footage.
    */
  def frameSamplePlan(features: DataFrame, everyN: Int = 2): DataFrame = {
    import features.sparkSession.implicits._
    features.select($"doc_id",
        explode(sequence(lit(0), $"n_frames" - 1, lit(everyN))).as("frame_idx"))
      .repartition($"doc_id")
  }

  /** Resize plan: aspect-preserving fit into a target box — pure column
    * arithmetic over the feature table (the actual pixel work happens in
    * the decode stage; the plan computes the target geometry every
    * image-pipeline needs before batching decode work by output size).
    */
  def resizePlan(features: DataFrame, maxW: Int = 256, maxH: Int = 256): DataFrame =
    features.select(resizeColumns(maxW, maxH): _*)

  /** The [[resizePlan]] projection as columns, so a composing query (m03)
    * can append further per-doc columns in the SAME projection instead of
    * self-joining two projections of the decode frame (which recomputes
    * the decode on both join sides — Catalyst does no cross-join-side CSE).
    */
  private def resizeColumns(maxW: Int, maxH: Int): Seq[org.apache.spark.sql.Column] = {
    val scale = least(
      lit(maxW.toDouble) / col("width"),
      lit(maxH.toDouble) / col("height"),
      lit(1.0))
    Seq(col("doc_id"), col("width"), col("height"),
      round(scale, 6).as("scale"),
      greatest(floor(col("width") * scale), lit(1)).cast("int").as("out_w"),
      greatest(floor(col("height") * scale), lit(1)).cast("int").as("out_h"))
  }

  /** m02: per-kind asset statistics over the binary media table — the
    * metadata rollup (bytes, distinct payloads) that runs on a multimodal
    * corpus without ever decoding; column pruning keeps the payload bytes
    * out of the scan.
    */
  def mediaStats(s: SparkSession, dir: String): DataFrame =
    mediaStatsOf(mediaTable(s, dir))

  /** Core of [[mediaStats]] over any media-record frame (e.g. the
    * generated binary media table). */
  def mediaStatsOf(mediaDf: DataFrame): DataFrame = {
    val s = mediaDf.sparkSession
    import s.implicits._
    mediaDf
      .groupBy($"kind")
      .agg(count(lit(1)).as("n_assets"),
        sum($"n_bytes").as("total_bytes"),
        countDistinct($"content_hash").as("n_distinct_payloads"))
      .orderBy($"kind")
  }

  val mediaStatsSql: String =
    """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
      |            WHEN doc_id % 3 = 1 THEN 'audio'
      |            ELSE 'video' END AS kind,
      |  count(*) AS n_assets,
      |  sum(octet_length(encode(text)))::BIGINT AS total_bytes,
      |  count(DISTINCT sha256(text)) AS n_distinct_payloads
      |FROM documents
      |WHERE text IS NOT NULL
      |GROUP BY 1
      |ORDER BY kind""".stripMargin

  /** m04: payload-level exact-dedup accounting — a multimodal corpus
    * carries the same bytes under many ids (mirrored assets, re-posts);
    * hash-dedup of the payload column is the first storage win at 100 TB,
    * and this rollup quantifies it per kind BEFORE anyone moves bytes:
    * asset count, distinct payloads, duplicate assets, raw vs deduped
    * storage. Two partial-agg shuffles — (kind, hash) then kind — over the
    * payload-pruned metadata columns only.
    */
  def payloadDedupStats(s: SparkSession, dir: String): DataFrame =
    payloadDedupStatsOf(mediaTable(s, dir))

  /** Core of [[payloadDedupStats]] over any media-record frame. */
  def payloadDedupStatsOf(mediaDf: DataFrame): DataFrame = {
    val s = mediaDf.sparkSession
    import s.implicits._
    mediaDf
      .groupBy($"kind", $"content_hash")
      // identical payload → identical size; max() just picks that value
      .agg(count(lit(1)).as("n"), max($"n_bytes").as("bytes"))
      .groupBy($"kind")
      .agg(sum($"n").as("n_assets"),
        count(lit(1)).as("n_unique_payloads"),
        (sum($"n") - count(lit(1))).as("n_dup_assets"),
        sum($"n" * $"bytes").as("bytes_total"),
        sum(($"n" - 1) * $"bytes").as("bytes_saved"))
      .orderBy($"kind")
  }

  val payloadDedupStatsSql: String =
    """WITH m AS (
      |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio'
      |              ELSE 'video' END AS kind,
      |    sha256(text) AS content_hash,
      |    octet_length(encode(text))::BIGINT AS n_bytes
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (
      |  SELECT kind, content_hash, count(*) AS n, max(n_bytes) AS bytes
      |  FROM m GROUP BY kind, content_hash)
      |SELECT kind, sum(n)::BIGINT AS n_assets, count(*) AS n_unique_payloads,
      |  (sum(n) - count(*))::BIGINT AS n_dup_assets,
      |  sum(n * bytes)::BIGINT AS bytes_total,
      |  sum((n - 1) * bytes)::BIGINT AS bytes_saved
      |FROM g GROUP BY kind
      |ORDER BY kind""".stripMargin

  /** m03: the decode-downstream work plan — resize geometry per asset plus
    * the sampled-frame work-unit count (frameSamplePlan collapsed to a
    * per-doc rollup). One decode pass feeds both; rows-only (the stub
    * decode is not SQL-expressible), plumbing pinned by MultimodalSpec.
    */
  def framePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE unsorted decode pass (was: decodeFeatures — whose m01 contract
    // ends in a global orderBy — consumed TWICE, once under resizePlan
    // and once under frameSamplePlan, so the payload decode and its sort
    // both ran 2x per query), and the sampled-frame count in CLOSED FORM:
    // |sequence(0, n_frames-1, everyN)| = floor((n_frames-1)/everyN) + 1
    // for n_frames >= 1 (every codec in the SPI returns >= 1 frame; the
    // explode-and-count form crashes outright on n_frames < 1, so the
    // closed form is total where the old one was defined). That removes
    // the explode + repartition + groupBy + self-join — m03 is now decode
    // + project + the output sort. MultimodalSpec pins this equal to the
    // composed frameSamplePlan rollup row-for-row.
    val f = decodeFeaturesUnsorted(mediaTable(s, dir))
    val everyN = 2
    f.select(resizeColumns(256, 256) :+
        (floor(($"n_frames" - 1) / everyN) + 1).cast("long")
          .as("n_sampled_frames"): _*)
      .orderBy($"doc_id")
  }

  /** m05: decode-batch packing — assign every asset to a fixed-byte-budget
    * decode work unit (the unit a GPU/codec pool consumes), per (kind,
    * shard): kind because decoders differ, shard because the batch
    * sequence within a kind must not be one serial chain. Unlike p02's
    * token stream, decode batches are independent work units, so no
    * cross-shard global offset pass is needed — one prefix-sum window per
    * (kind, shard) group and a partial-aggregatable rollup. `shards`
    * scales the window parallelism; like d11's planes it must grow with
    * the corpus (work-unit groups ≈ kinds × shards).
    */
  def decodePack(s: SparkSession, dir: String,
      budgetBytes: Long = 2048, shards: Int = 8): DataFrame =
    decodePackOf(mediaTable(s, dir), budgetBytes, shards)

  /** Core of [[decodePack]] over any media-record frame. */
  def decodePackOf(mediaDf: DataFrame,
      budgetBytes: Long = 2048, shards: Int = 8): DataFrame = {
    val s = mediaDf.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val sharded = mediaDf.select($"doc_id", $"kind", $"n_bytes",
      graft.pipeline.DocumentPipeline.packShard(shards).as("shard"))
    val w = Window.partitionBy($"kind", $"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    sharded
      .withColumn("before", coalesce(sum($"n_bytes").over(w), lit(0L)))
      .withColumn("batch_ord", floor($"before" / budgetBytes).cast("long"))
      .groupBy($"kind", $"shard", $"batch_ord")
      .agg(count(lit(1)).as("n_assets"),
        sum($"n_bytes").as("batch_bytes"),
        max($"n_bytes").as("max_asset_bytes"))
      .orderBy($"kind", $"shard", $"batch_ord")
  }

  val decodePackSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio'
      |         ELSE 'video' END AS kind,
      |    octet_length(encode(text))::BIGINT AS n_bytes,
      |    (('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 8)::INT AS shard
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (
      |  SELECT *, coalesce(sum(n_bytes) OVER (
      |    PARTITION BY kind, shard ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      |  FROM m)
      |SELECT kind, shard, (before // 2048)::BIGINT AS batch_ord,
      |  count(*) AS n_assets, sum(n_bytes)::BIGINT AS batch_bytes,
      |  max(n_bytes) AS max_asset_bytes
      |FROM c
      |GROUP BY kind, shard, batch_ord
      |ORDER BY kind, shard, batch_ord""".stripMargin

  /** 64-bit perceptual-hash STUB: SimHash over sliding byte 4-grams of
    * the payload — a similarity-preserving fingerprint (small payload
    * edits flip few bits) standing in for a real perceptual hash (DCT
    * pHash of decoded pixels / chroma-print of audio; codec libs absent
    * in this container). The similarity-preserving property over payload
    * BYTES is real and spec-tested; production swaps the gram source
    * (pixels for images, spectral frames for audio), not the pipeline.
    */
  def phashStub(payload: Array[Byte]): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i + 3 < payload.length) {
      val g = (payload(i) & 0xFFL) | ((payload(i + 1) & 0xFFL) << 8) |
        ((payload(i + 2) & 0xFFL) << 16) | ((payload(i + 3) & 0xFFL) << 24)
      // splitmix64 finalizer — spreads each gram over all 64 vote lanes
      var h = g * 0x9E3779B97F4A7C15L
      h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
      h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
      h = h ^ (h >>> 31)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  /** Perceptual hashes out of the batched decode stage: (doc_id, kind,
    * phash). Same partition-streaming batch shape as [[decodeFeaturesOf]]
    * — in production the phash comes out of the SAME decode pass as the
    * features (one payload read), which is why it lives here and not in
    * a separate scan.
    */
  def decodePhashOf(mediaDf: DataFrame, batchSize: Int = 64,
      codec: MediaCodec = MediaCodec.default): DataFrame = {
    val s = mediaDf.sparkSession
    import s.implicits._
    val media: Dataset[MediaRecord] = mediaDf.as[MediaRecord]
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val hs = decodeBatch(batch.map(_.payload).toArray, codec)
        batch.iterator.zip(hs.iterator)
          .map { case (r, (_, ph)) => (r.doc_id, r.kind, ph) }
      }
    }.toDF("doc_id", "kind", "phash")
  }

  /** Phash fingerprints exploded into 4 × 16-bit band buckets keyed by
    * kind (image/audio/video hashes live in different spaces — a
    * cross-kind bit collision is never a near-dup). Shared by the pair
    * generator and the dropped-bucket diagnostic.
    */
  private def phashBanded(mediaDf: DataFrame, batchSize: Int,
      codec: MediaCodec = MediaCodec.default): DataFrame = {
    val s = mediaDf.sparkSession
    import s.implicits._
    decodePhashOf(mediaDf, batchSize, codec)
      .select($"doc_id", $"kind", $"phash",
        posexplode(transform(sequence(lit(0), lit(3)),
          b => call_function("shiftrightunsigned", $"phash", b * 16)
            .bitwiseAND(0xFFFFL))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_bits")
  }

  /** m06: perceptual-hash near-dup over binary payloads — the near-dup
    * counterpart of m04's exact payload dedup (re-encoded / lightly
    * edited mirrors of the same asset share no content_hash but sit a
    * few phash bits apart). d03's SimHash LSH recipe applied to the
    * decode stage's fingerprint: band the 64-bit phash 4 × 16 bits,
    * bucket-join candidates per (kind, band, band_bits), verify by exact
    * hamming distance ≤ `maxHamming` (4 bands guarantee recall for
    * hamming ≤ 3; wider radii are probabilistic, as in production).
    *
    * Scale shape: the banding shuffle carries (doc_id, kind, 8-byte
    * fingerprint) — never payload bytes; the (kind, band, band_bits) key
    * space is 3 × 4 × 2^16 ≈ 786k buckets, so the bucket-size cap
    * (2..maxBucket, the minhashPairs guard) bounds the self-join
    * quadratically at any corpus size, with [[phashDroppedBuckets]]
    * reporting what the cap pruned (byte-identical mirror floods belong
    * to m04's exact pass upstream). Rows-only: the stub hash is not
    * SQL-expressible; MultimodalSpec pins planted near-dup recovery,
    * kind isolation, and the cap.
    */
  def phashNearDup(s: SparkSession, dir: String): DataFrame =
    phashNearDupOf(mediaTable(s, dir))

  /** Core of [[phashNearDup]] over any media-record frame. */
  def phashNearDupOf(mediaDf: DataFrame, maxHamming: Int = 8,
      maxBucket: Int = 64, batchSize: Int = 64,
      codec: MediaCodec = MediaCodec.default): DataFrame =
    phashNearDupPairs(mediaDf, maxHamming, maxBucket, batchSize, codec)
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[phashNearDupOf]] WITHOUT the m06 output contract's global sort —
    * the composition form (m07 feeds the pairs straight into connected
    * components, which destroys order immediately; the sort exchange is
    * pure cost there).
    */
  private def phashNearDupPairs(mediaDf: DataFrame, maxHamming: Int,
      maxBucket: Int, batchSize: Int, codec: MediaCodec): DataFrame = {
    val s = mediaDf.sparkSession
    import s.implicits._
    val bucketed = phashBanded(mediaDf, batchSize, codec)
      .withColumn("bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy($"kind", $"band", $"band_bits")))
      .filter($"bucket_n" >= 2 && $"bucket_n" <= maxBucket)
    val a = bucketed.select($"kind", $"band", $"band_bits",
      $"doc_id".as("doc_a"), $"phash".as("ph_a"))
    val b = bucketed.select($"kind", $"band", $"band_bits",
      $"doc_id".as("doc_b"), $"phash".as("ph_b"))
    a.join(b, Seq("kind", "band", "band_bits"))
      .filter($"doc_a" < $"doc_b")
      .select($"kind", $"doc_a", $"doc_b",
        bit_count($"ph_a".bitwiseXOR($"ph_b")).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter($"hamming" <= maxHamming)
  }

  /** Observability for m06's bucket cap — the (kind, band, band_bits)
    * buckets the pair generator prunes as oversized, with populations
    * (the simhashDroppedBuckets contract for the media table).
    */
  def phashDroppedBuckets(mediaDf: DataFrame, maxBucket: Int = 64,
      batchSize: Int = 64): DataFrame = {
    val s = mediaDf.sparkSession
    import s.implicits._
    phashBanded(mediaDf, batchSize)
      .groupBy($"kind", $"band", $"band_bits")
      .agg(count(lit(1)).as("bucket_n"))
      .filter($"bucket_n" > maxBucket)
      .orderBy($"kind", $"band", $"band_bits")
  }

  /** m07: the media-dedup END STATE — one canonical asset per phash
    * near-dup cluster, the d07/d09 composition applied to binary media:
    * m06's verified pairs feed the shared min-label
    * `Dedup.connectedComponents`, the survivor is the cluster's LARGEST
    * asset (max n_bytes, lowest-doc_id tie-break — re-encodes shrink
    * bytes, so the biggest member is the least-degraded original), and
    * every asset gets a verdict row (assets with no near-dup are their
    * own canonical). This is what a storage-dedup pass actually executes:
    * keep `is_canonical`, rewrite references for the rest.
    *
    * Scale shape: everything downstream of the pair stage runs on the
    * PAIR graph (near-dup-mass-sized, not corpus-sized); the survivor
    * pick is one partial-aggregatable max_by per cluster joined back on
    * the cluster id. Rows-only (stub hash), MultimodalSpec pins the
    * planted cluster's survivor and singleton behavior.
    */
  def mediaCanonical(s: SparkSession, dir: String): DataFrame =
    mediaCanonicalOf(mediaTable(s, dir))

  /** Core of [[mediaCanonical]] over any media-record frame. */
  def mediaCanonicalOf(mediaDf: DataFrame, maxHamming: Int = 8,
      maxBucket: Int = 64, codec: MediaCodec = MediaCodec.default): DataFrame = {
    val s = mediaDf.sparkSession
    import s.implicits._
    val pairs = phashNearDupPairs(mediaDf, maxHamming, maxBucket,
        batchSize = 64, codec = codec)
      .select($"doc_a", $"doc_b")
    val cc = graft.operators.Dedup.connectedComponents(pairs)
    val clustered = mediaDf.select($"doc_id", $"kind", $"n_bytes")
      .join(cc, Seq("doc_id"), "left")
      .select($"doc_id", $"kind", $"n_bytes",
        coalesce($"cluster_id", $"doc_id").as("cluster_id"))
    val survivors = clustered.groupBy($"cluster_id")
      .agg(expr("max_by(doc_id, struct(n_bytes, -doc_id))").as("canonical_id"))
    clustered.join(survivors, Seq("cluster_id"))
      .select($"doc_id", $"kind", $"cluster_id",
        ($"doc_id" === $"canonical_id").as("is_canonical"))
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m07_media_canonical" -> (mediaCanonical _),
    "m06_phash_neardup" -> (phashNearDup _),
    "m01_multimodal_meta" ->
      ((s: SparkSession, d: String) => decodeFeatures(s, d)),
    "m02_media_stats" -> (mediaStats _),
    "m03_frame_resize_plan" -> (framePlan _),
    "m04_payload_dedup" -> (payloadDedupStats _),
    "m05_decode_pack" -> ((s: SparkSession, d: String) => decodePack(s, d)))

  // m01/m03/m06's stub decode → no SQL oracle; plumbing verified in
  // MultimodalSpec (m06: planted near-dup recovery, kind isolation, cap).
  val oracles: Map[String, String] = Map(
    "m02_media_stats" -> mediaStatsSql,
    "m04_payload_dedup" -> payloadDedupStatsSql,
    "m05_decode_pack" -> decodePackSql)
}
