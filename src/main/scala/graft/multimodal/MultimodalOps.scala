package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column support (SURVEY.md §2.9): image/audio/video
  * payloads ride as opaque `BinaryType` columns with typed metadata;
  * decode / feature-extraction / frame-sampling are per-row
  * transformations that scale as narrow projections (no shuffle, no
  * driver involvement) over a 100 TB media table.
  *
  * The image path is a REAL codec: payloads are genuine PNG files
  * (encoded with `javax.imageio.ImageIO`, the JDK's built-in
  * PNG/JPEG/BMP/GIF/TIFF codec suite) and `decodePngs` decodes them
  * back on the executors — width/height and per-band pixel sums come
  * from the decoded raster, not from metadata. Fixture payloads are
  * synthesized from hash-derived parameters (a gradient image:
  * r = cr+x, g = cg+y, b = cb), so the DuckDB oracle can compute the
  * expected decode output in closed form while the Spark side still
  * exercises encode → bytes → decode end to end: a green CORRECTNESS
  * row proves the codec round-trip, pixel for pixel.
  *
  * Video remains container-metadata only (`n_frames`) — the JDK ships
  * no video codec; frame sampling operates on the metadata column the
  * way it would on a demuxer's header read.
  */
object MultimodalOps {

  // Never spill decode scratch to disk files on executors.
  ImageIO.setUseCache(false)

  private val P = 2147483647L

  private def h31(c: Column): Column =
    conv(substring(md5(c), 1, 14), 16, 10).cast("long") % P

  /** Salted 31-bit parameter hash over the document text — the same
    * md5-prefix chain the DuckDB oracle inlines, so both engines derive
    * identical synthesis parameters.
    */
  private def ph(text: Column, salt: String): Column =
    h31(concat(md5(text), lit("_" + salt)))

  /** Deterministic gradient image: r(x,y) = cr+x, g(x,y) = cg+y,
    * b(x,y) = cb, PNG-encoded. With w,h ≤ 112 and cr,cg ≤ 143 no band
    * value exceeds 254, so there is no wrap and every band sum has a
    * closed form the oracle can compute.
    */
  def synthPng(w: Int, h: Int, cr: Int, cg: Int, cb: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        px(y * w + x) = ((cr + x) << 16) | ((cg + y) << 8) | cb
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real decode of one payload: dimensions and per-band pixel sums
    * read from the decoded raster.
    */
  def decodePng(bytes: Array[Byte]): (Long, Long, Long, Long, Long) = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var sr = 0L; var sg = 0L; var sb = 0L
    var i = 0
    while (i < px.length) {
      val rgb = px(i)
      sr += (rgb >> 16) & 0xFF
      sg += (rgb >> 8) & 0xFF
      sb += rgb & 0xFF
      i += 1
    }
    (w.toLong, h.toLong, sr, sg, sb)
  }

  private val encodePngUdf =
    udf((w: Int, h: Int, cr: Int, cg: Int, cb: Int) => synthPng(w, h, cr, cg, cb))

  /** The media fixture: one real PNG per document, parameters derived
    * from the salted hash chain (w,h ∈ [16,112], cr,cg ∈ [0,143],
    * cb ∈ [0,255]); `n_frames` is container metadata for the video
    * kind. Encoding runs on the executors as a narrow projection.
    */
  /** Spread the docs projection across the session's parallelism
    * before the ms-per-row codec passes (r18, guide §2.5/§6): at
    * bench scale documents.parquet is a few MB = ONE scan split, so
    * every ImageIO/audio encode+decode fixture ran as a single task
    * (measured 9.5 s single-task for the video table at sf0.1 — the
    * whole first-rep cost of mm_video_near_dup). Hash-partitioned on
    * doc_id — deterministic placement; count = defaultParallelism
    * (scale-adaptive, not a local constant). At production scale the
    * input has native splits and this exchange of the raw doc rows is
    * a small fraction of the codec pass it feeds.
    */
  private def spreadDocs(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      col("doc_id"))

  def mediaTable(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(graft.tables.Tables.documents(s, dir))
    val t = col("text")
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      (h31(t) % 216L + 24L).as("n_frames"),
      col("source"),
      encodePngUdf(
        (ph(t, "w") % 97L + 16L).cast("int"),
        (ph(t, "h") % 97L + 16L).cast("int"),
        (ph(t, "r") % 144L).cast("int"),
        (ph(t, "g") % 144L).cast("int"),
        (ph(t, "b") % 256L).cast("int")).as("bytes"))
  }

  /** Batched real decode in the `mapPartitions` shape — the iterator is
    * consumed in batches of `batchSize` payloads (amortizing codec
    * buffers per batch, the same batch contract as `mapInPandas`), and
    * each input row gains (width, height, sum_r, sum_g, sum_b) decoded
    * from the actual PNG raster. Carried columns pass through, so the
    * decode composes as a narrow projection — no shuffle, no driver.
    */
  def decodePngs(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(media.schema.fields ++ Seq(
      StructField("width", LongType), StructField("height", LongType),
      StructField("sum_r", LongType), StructField("sum_g", LongType),
      StructField("sum_b", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val bytesIdx = media.schema.fieldIndex("bytes")
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val (w, h, sr, sg, sb) = decodePng(r.getAs[Array[Byte]](bytesIdx))
          Row.fromSeq(r.toSeq ++ Seq(w, h, sr, sg, sb))
        }
      }
    }(enc)
  }

  /** Deterministic 8×8 BLOCK-PATTERN image for the perceptual-dedup
    * tier: cell (i,j) of an 8×8 grid is bright (200) iff bit
    * `i·8 + j` of `key` is set (bits ≥ 60 always dark — the key is a
    * 60-bit md5 prefix, so four cells anchor the global mean below
    * the bright level), rendered at `w`×`h` with floor cell
    * boundaries (`i = y·8 div h`, `j = x·8 div w`) and PNG-encoded.
    * The SAME pattern key rendered at two different sizes is a true
    * resized/re-encoded duplicate: different pixel counts and band
    * sums (the exact-copy statistic tier misses it), identical block
    * structure (the perceptual hash catches it).
    */
  def synthPattern(w: Int, h: Int, key: Long): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val i = y * 8 / h
      var x = 0
      while (x < w) {
        val k = i * 8 + x * 8 / w
        val v = if (k < 60 && ((key >> k) & 1L) == 1L) 200 else 40
        px(y * w + x) = (v << 16) | (v << 8) | v
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 8×8 average-hash of one decoded raster — the perceptual
    * signature (aHash): partition the image into an 8×8 grid with
    * floor boundaries, and set bit `i·8 + j` iff cell (i,j)'s mean
    * brightness exceeds the global mean. Everything stays INTEGER:
    * brightness is the band sum r+g+b (no /3), and the mean
    * comparison is cross-multiplied (`cellSum·(w·h) > totalSum·nPix`)
    * so the hash is engine-exact — no float resampling, no epsilon.
    * Resize/re-encode invariant for block-structured content by
    * construction (each grid cell's mean is the block value at any
    * resolution). Long-safe: cellSum ≤ 3·255·2^26, w·h ≤ 2^26 would
    * overflow only past ~150 megapixels per cell — far beyond PNG
    * practice.
    */
  def ahashPng(bytes: Array[Byte]): (Long, Long, Long, Long) = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    val cellSum = new Array[Long](64)
    val cellN = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      val i = y * 8 / h
      var x = 0
      while (x < w) {
        val rgb = px(y * w + x)
        val s3 = ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
        val k = i * 8 + x * 8 / w
        cellSum(k) += s3
        cellN(k) += 1
        total += s3
        x += 1
      }
      y += 1
    }
    val wh = w.toLong * h
    var hash = 0L
    var k = 0
    while (k < 64) {
      if (cellN(k) > 0 && cellSum(k) * wh > total * cellN(k))
        hash |= 1L << k
      k += 1
    }
    (w.toLong, h.toLong, total, hash)
  }

  private val encodePatternUdf =
    udf((w: Int, h: Int, key: Long) => synthPattern(w, h, key))

  /** The perceptual-dedup fixture: documents 2k and 2k+1 share one
    * pattern key (the salted md5 prefix of `media_id div 2` — 15 hex
    * chars = 60 bits, BIGINT-safe on both engines) but render at
    * per-document sizes, so consecutive doc pairs are resized
    * re-encodes of the same scene — the duplicate class global pixel
    * statistics cannot bucket.
    */
  def perceptualTable(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(graft.tables.Tables.documents(s, dir))
    val t = col("text")
    val key = conv(substring(md5(concat(
        floor(col("doc_id") / 2).cast("long").cast("string"), lit("#pkey"))),
      1, 15), 16, 10).cast("long")
    docs.select(
      col("doc_id").as("media_id"),
      encodePatternUdf(
        (ph(t, "pw") % 97L + 16L).cast("int"),
        (ph(t, "ph") % 97L + 16L).cast("int"),
        key).as("bytes"))
  }

  /** The VIDEO frame-sequence fixture (VERDICT r15 item 3 — the
    * [[synthPattern]] fixture generalized to clips): documents 2k and
    * 2k+1 share one CLIP — frame f's 60-bit pattern key is the salted
    * md5 prefix of `(media_id div 2) # vclip # <content frame>` — but
    * render at per-document sizes AND per-document frame counts (4-6;
    * a pair member may carry a truncated tail), so consecutive doc
    * pairs are true resized/re-encoded clips: different pixel counts,
    * band sums, and possibly lengths (container metadata misses
    * them), identical block structure per content-aligned frame (the
    * per-frame perceptual hash catches them).
    *
    * r17 (VERDICT r16 item 2): the ODD pair member is additionally
    * HEAD-TRUNCATED by a per-pair offset `voffOf(pair_id) ∈ {0,1,2}`
    * — its stored frame f holds content frame `f + off`, the most
    * common real re-encode transformation (trimmed intros, dropped
    * leading frames). ~2/3 of pairs get off > 0, so an exact-index
    * aligner scores zero banded hits on them by construction; the
    * offset-voting matcher must recover `delta = −off` to catch them.
    * One row per (clip, frame) with a REAL PNG payload; still no
    * video codec involved — exactly the demuxer-output posture
    * SURVEY §8 scopes (a real pipeline's ffmpeg stage lands frame
    * rasters in this same shape).
    */
  def videoFrameTable(s: SparkSession, dir: String): DataFrame = {
    val docs = spreadDocs(graft.tables.Tables.documents(s, dir))
    val t = col("text")
    val nf = (ph(t, "vf") % 3L + 4L).cast("int")
    docs.select(
        col("doc_id").as("media_id"),
        floor(col("doc_id") / 2).cast("long").as("pair_id"),
        (ph(t, "pw") % 97L + 16L).cast("int").as("w"),
        (ph(t, "ph") % 97L + 16L).cast("int").as("h"),
        explode(sequence(lit(0), nf - 1)).as("frame_idx"))
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        encodePatternUdf(col("w"), col("h"),
          conv(substring(md5(concat(col("pair_id").cast("string"),
              lit("#vclip#"),
              (col("frame_idx") +
                when(col("media_id") % 2 === 1, voffOf(col("pair_id")))
                  .otherwise(lit(0L))).cast("string"))),
            1, 15), 16, 10).cast("long")).as("bytes"))
  }

  /** Per-pair head-truncation offset ∈ {0,1,2} for the odd member of
    * a planted video pair — the same salted-md5-prefix chain as every
    * other fixture parameter, so the DuckDB oracle derives it in
    * closed form.
    */
  def voffOf(pairId: Column): Column =
    conv(substring(md5(concat(pairId.cast("string"), lit("#voff"))),
      1, 15), 16, 10).cast("long") % 3

  /** Batched real decode + perceptual hash in the [[decodePngs]]
    * `mapPartitions` shape: each row gains (width, height, sum3,
    * ahash) computed from the decoded raster in the same pass — the
    * signature costs one extra array walk while the pixels are hot,
    * not a second decode.
    */
  def ahashPngs(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(media.schema.fields ++ Seq(
      StructField("width", LongType), StructField("height", LongType),
      StructField("sum3", LongType), StructField("ahash", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val bytesIdx = media.schema.fieldIndex("bytes")
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val (w, h, s3, a) = ahashPng(r.getAs[Array[Byte]](bytesIdx))
          Row.fromSeq(r.toSeq ++ Seq(w, h, s3, a))
        }
      }
    }(enc)
  }

  /** Deterministic PCM16 mono WAV at 16 kHz: `nBlocks` repetitions of
    * the 256-sample ramp s(t) = base + (t mod 256). With |base| ≤
    * 16000 no sample wraps, so every decoded statistic has a closed
    * form. A REAL container: RIFF/WAVE header + little-endian PCM via
    * `javax.sound.sampled.AudioSystem` — the JDK's audio codec.
    */
  def synthWav(nBlocks: Int, base: Int): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val n = nBlocks * 256
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val s = base + (t % 256)
      pcm(2 * t) = (s & 0xFF).toByte
      pcm(2 * t + 1) = ((s >> 8) & 0xFF).toByte
      t += 1
    }
    val fmt = new AudioFormat(16000f, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Real decode of one WAV payload: (n_samples, sample_rate, sum,
    * sum of squares, min, max) read from the decoded PCM frames.
    */
  def decodeWav(bytes: Array[Byte]): (Long, Long, Long, Long, Long, Long) = {
    import javax.sound.sampled.AudioSystem
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    val rate = ais.getFormat.getSampleRate.toLong
    val pcm = ais.readAllBytes()
    val n = pcm.length / 2
    var sum = 0L; var sumSq = 0L
    var mn = Long.MaxValue; var mx = Long.MinValue
    var t = 0
    while (t < n) {
      val s = ((pcm(2 * t) & 0xFF) | (pcm(2 * t + 1) << 8)).toShort.toLong
      sum += s; sumSq += s * s
      if (s < mn) mn = s
      if (s > mx) mx = s
      t += 1
    }
    (n.toLong, rate, sum, sumSq, mn, mx)
  }

  /** Integer MEAN-REMOVED autocorrelation (autocovariance) of one
    * decoded WAV at the given lags, kept division-free and exact:
    *
    *   cov(L) = (n−L)·Σ s_t·s_{t+L} − (Σ_{t<n−L} s_t)·(Σ_{t≥L} s_t)
    *
    * The DC offset cancels algebraically — critical: RAW
    * autocorrelation is dominated by (n−L)·c² for a loud DC-offset
    * signal, which grows with SHORTER lags and mispicks the period
    * (the classic pitch-detection pitfall; the first spec draft
    * caught exactly this on high-|c| fixtures). Magnitudes:
    * (n−L)·ΣR ≤ 2.3e17, (Σ)(Σ) ≤ 2.2e17 — Long-safe.
    */
  def wavAutocov(bytes: Array[Byte], lags: Array[Int]): Array[Long] = {
    import javax.sound.sampled.AudioSystem
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    val pcm = ais.readAllBytes()
    val n = pcm.length / 2
    val s = new Array[Long](n)
    var t = 0
    while (t < n) {
      s(t) = ((pcm(2 * t) & 0xFF) | (pcm(2 * t + 1) << 8)).toShort.toLong
      t += 1
    }
    lags.map { l =>
      var r = 0L; var s1 = 0L; var s2 = 0L
      var i = 0
      val end = n - l
      while (i < end) {
        r += s(i) * s(i + l)
        s1 += s(i)
        s2 += s(i + l)
        i += 1
      }
      (end.toLong * r) - s1 * s2
    }
  }

  /** [[decodeWavs]]-shaped batched pass appending the per-lag
    * autocovariance array (index i ↔ lags(i)).
    */
  def wavAutocovs(media: DataFrame, lags: Seq[Int],
                  batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(media.schema.fields :+
      StructField("acf_arr", ArrayType(LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val bytesIdx = media.schema.fieldIndex("bytes")
    val lagArr = lags.toArray
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val acf = wavAutocov(r.getAs[Array[Byte]](bytesIdx), lagArr)
          Row.fromSeq(r.toSeq :+ acf.toSeq)
        }
      }
    }(enc)
  }

  private val encodeWavUdf =
    udf((nBlocks: Int, base: Int) => synthWav(nBlocks, base))

  /** The audio fixture: one real 16 kHz PCM16 WAV per document
    * (parameters from the salted hash chain: 16..112 blocks of 256
    * samples, base amplitude in [-16000, 16000]).
    */
  def audioTable(s: SparkSession, dir: String): DataFrame = {
    // NOT spread (r18 A/B): WAV synth+decode is cheap integer/array
    // work — the exchange cost exceeded the parallelism win
    // (mm_audio_decode 2.29 -> 3.41 s, mm_audio_pitch 2.17 -> 2.92 s
    // with the spread; both reverted). The ImageIO PNG tables keep it.
    val docs = graft.tables.Tables.documents(s, dir)
    val t = col("text")
    docs.select(
      col("doc_id").as("media_id"),
      encodeWavUdf(
        (ph(t, "an") % 97L + 16L).cast("int"),
        (ph(t, "ac") % 32001L - 16000L).cast("int")).as("bytes"))
  }

  /** Batched real WAV decode in the same `mapPartitions` shape as
    * [[decodePngs]], appending the decoded sample statistics.
    */
  def decodeWavs(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(media.schema.fields ++ Seq(
      StructField("n_samples", LongType), StructField("sample_rate", LongType),
      StructField("sum_amp", LongType), StructField("sum_sq", LongType),
      StructField("min_amp", LongType), StructField("max_amp", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val bytesIdx = media.schema.fieldIndex("bytes")
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val (n, rate, sum, sumSq, mn, mx) = decodeWav(r.getAs[Array[Byte]](bytesIdx))
          Row.fromSeq(r.toSeq ++ Seq(n, rate, sum, sumSq, mn, mx))
        }
      }
    }(enc)
  }

  /** Renders one clip WAV for the audio near-dup fixture: 64 windows
    * of 16 ms, window w a full-scale ±`amps(w)` square wave (every
    * sample's magnitude IS the window amplitude, so the per-window
    * MEAN energy is amps(w)² exactly — rate-independent). A REAL
    * RIFF/WAVE container via `javax.sound.sampled`, like [[synthWav]].
    */
  def synthClipWav(rate: Int, amps: Array[Int]): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val nw = rate * 2 / 125 // samples per 16 ms window
    val n = amps.length * nw
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val a = amps(t / nw)
      val s = if (t % 2 == 0) a else -a
      pcm(2 * t) = (s & 0xFF).toByte
      pcm(2 * t + 1) = ((s >> 8) & 0xFF).toByte
      t += 1
    }
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private val encodeClipWavUdf =
    udf((rate: Int, amps: Seq[Long]) =>
      synthClipWav(rate, amps.map(_.toInt).toArray))

  /** The audio NEAR-DUP fixture (VERDICT r16 item 4 — the third media
    * type's perceptual tier, completing the image/video/audio dedup
    * triad): documents 2k and 2k+1 share one CLIP — 64 windows of
    * 16 ms whose amplitude levels come from the salted md5 chain
    * `md5(pair_id # awin # w)` — but the ODD member is a RE-ENCODE
    * the container/statistic tier misses: per `atrOf(pair_id)` either
    * gain-scaled (same rate and length, every amplitude × g ∈
    * {1/2, 3/4, 5/4} — exact integers, amplitudes are multiples of
    * 160) or resampled to 8 kHz (same duration, half the samples).
    * Per-window mean energy scales uniformly under both, so the
    * energy-DELTA-SIGN fingerprint ([[afingerWavs]]) is invariant
    * while n_samples / sample_rate / Σ-energy all diverge.
    */
  def audioClipTable(s: SparkSession, dir: String): DataFrame = {
    // NOT spread (r18 A/B): WAV synth+decode is cheap integer/array
    // work — the exchange cost exceeded the parallelism win
    // (mm_audio_decode 2.29 -> 3.41 s, mm_audio_pitch 2.17 -> 2.92 s
    // with the spread; both reverted). The ImageIO PNG tables keep it.
    val docs = graft.tables.Tables.documents(s, dir)
    val pairId = floor(col("doc_id") / 2).cast("long")
    val trc = atrOf(pairId) // 0 = gain re-encode, 1 = resample
    val odd = col("doc_id") % 2 === 1
    // gain index ∈ {0,1,2} → (1/2, 3/4, 5/4); identity for evens and
    // resampled odds
    val gi = conv(substring(md5(concat(pairId.cast("string"), lit("#ag"))),
      1, 1), 16, 10).cast("long") % 3
    val gNum = when(odd && trc === 0,
      when(gi === 0, 1L).when(gi === 1, 3L).otherwise(5L)).otherwise(1L)
    val gDen = when(odd && trc === 0,
      when(gi === 0, 2L).when(gi === 1, 4L).otherwise(4L)).otherwise(1L)
    val rate = when(odd && trc === 1, 8000).otherwise(16000).cast("int")
    // the gain division is exact by construction (amplitudes are
    // multiples of 160, denominators ∈ {1,2,4}), so the cast back to
    // long after Spark's double `/` loses nothing
    val amps = transform(sequence(lit(0), lit(63)), w =>
      ((conv(substring(md5(concat(pairId.cast("string"), lit("#awin#"),
        w.cast("string"))), 1, 1), 16, 10).cast("long") + 5L) * 160L *
        gNum / gDen).cast("long"))
    docs.select(col("doc_id").as("media_id"),
      encodeClipWavUdf(rate, amps).as("bytes"))
  }

  /** Per-pair audio transformation class ∈ {0 = gain, 1 = resample}
    * for the odd member — the salted-md5 chain again, so the oracle
    * derives it in closed form.
    */
  def atrOf(pairId: Column): Column =
    conv(substring(md5(concat(pairId.cast("string"), lit("#atr"))),
      1, 1), 16, 10).cast("long") % 2

  /** The energy-delta-sign audio fingerprint (a chromaprint-style
    * simplification) of one decoded WAV: split the PCM into 16 ms
    * windows (rate·2/125 samples — rate-proportional, so the window
    * GRID is time-aligned across sample rates), sum-of-squares energy
    * per window, fingerprint bit w = [E(w+1) > E(w)] for w < 63.
    * Uniform gain scales every window energy by g² and resampling
    * scales it by the window length — both ORDER-preserving, so the
    * fingerprint survives the re-encodes that break every container
    * statistic. 63 bits (windows beyond 64 ignored) keeps the value
    * positive in a BIGINT on both engines.
    */
  def afingerWav(bytes: Array[Byte]): (Long, Long, Long, Long) = {
    import javax.sound.sampled.AudioSystem
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    val rate = ais.getFormat.getSampleRate.toLong
    val pcm = ais.readAllBytes()
    val n = pcm.length / 2
    val nw = (rate * 2 / 125).toInt
    val nWin = math.min(n / nw, 64)
    val e = new Array[Long](nWin)
    var w = 0
    while (w < nWin) {
      var ss = 0L
      var t = w * nw
      val end = t + nw
      while (t < end) {
        val s = ((pcm(2 * t) & 0xFF) | (pcm(2 * t + 1) << 8)).toShort.toLong
        ss += s * s
        t += 1
      }
      e(w) = ss
      w += 1
    }
    var fp = 0L
    var ss = 0L
    w = 0
    while (w < nWin - 1) {
      if (e(w + 1) > e(w)) fp |= 1L << w
      ss += e(w)
      w += 1
    }
    if (nWin > 0) ss += e(nWin - 1)
    (n.toLong, rate, ss, fp)
  }

  /** [[decodeWavs]]-shaped batched pass appending (n_samples,
    * sample_rate, ss_total, afp) from [[afingerWav]].
    */
  def afingerWavs(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val outSchema = StructType(media.schema.fields ++ Seq(
      StructField("n_samples", LongType), StructField("sample_rate", LongType),
      StructField("ss_total", LongType), StructField("afp", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val bytesIdx = media.schema.fieldIndex("bytes")
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val (n, rate, ss, fp) = afingerWav(r.getAs[Array[Byte]](bytesIdx))
          Row.fromSeq(r.toSeq ++ Seq(n, rate, ss, fp))
        }
      }
    }(enc)
  }

  /** Frame sampling for video payloads: every `step`-th frame index of
    * the container frame count — pure array generation, exploded by the
    * caller.
    */
  def sampleFrames(nFrames: Column, step: Int): Column =
    sequence(lit(0), nFrames.cast("long") - 1L, lit(step.toLong))

  /** Aspect-preserving resize to fit a `target`×`target` box (the
    * standard vision-model preprocessing step): the longer edge
    * becomes `target`, the shorter scales proportionally (min 1 px).
    * Pure INTEGER arithmetic (`w·target DIV max(w,h)`) so the computed
    * geometry is engine-exact — pixel resampling itself would ride the
    * same `decodePngs` mapPartitions path.
    */
  def resizeDims(width: Column, height: Column, target: Int): Column = {
    val longEdge = greatest(width.cast("long"), height.cast("long"))
    // floor((edge·target)/longEdge) in double is exact here: operands
    // are integers ≤ 1920·224 (exactly representable) and the true
    // quotient is ≥ 1/1920 away from any other integer — far beyond
    // one ulp, so the floor cannot misround.
    def fit(edge: Column) =
      greatest(lit(1L),
        floor(edge.cast("long") * target / longEdge).cast("long"))
    struct(fit(width).as("out_w"), fit(height).as("out_h"))
  }
}
