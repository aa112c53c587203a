package graft.multimodal

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns — images/audio/video as opaque `binary` columns with
  * typed metadata (the north-star training-data-pipeline mandate).
  *
  * The Spark-side plumbing is real: fixed schemas, typed Datasets,
  * partition-preserving `mapPartitions` with explicit batch shape (the
  * Scala analogue of an iterator-of-batches Pandas UDF — each underlying
  * codec call amortizes over `batchSize` records, mirroring how a
  * vectorized UDF receives Arrow batches). The IMAGE leg is a real codec:
  * [[ImageIoCodec]] decodes PNG/GIF/BMP through the in-JDK
  * `javax.imageio` and emits exact integer pixel-channel aggregates. The
  * AUDIO leg is real for RIFF/WAVE PCM16 payloads: [[WavCodec]] is a
  * hand-rolled chunk walker over the public RIFF container (PCM needs no
  * codec library). Compressed audio and video remain stubbed
  * ([[StubCodec]] derives a deterministic feature vector from the raw
  * bytes — this container has no compressed-codec libraries); swap
  * [[MediaCodec]] for a full implementation in production and nothing
  * else changes.
  */
object Multimodal {

  /** One-time per-JVM ImageIO setting, referenced at the top of every
    * encode/decode task closure (lazy → executed once per executor JVM):
    * the DEFAULT ImageInputStream/ImageOutputStream is DISK-cached — one
    * temp file created and deleted per decode, plus file-creation lock
    * contention across task threads. On 32 decode threads this
    * serialized the mm_image_* operators hard enough to measure as a
    * phantom super-linear scaling exponent on a constant-size 8×8 corpus
    * (the r11 SCALING.md audit's first real catch). Memory-cached
    * streams are the only sane setting for byte-array payloads at any
    * scale — a 100 TB image pipeline must never touch local disk per
    * record. */
  lazy val imageIoMemCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Typed metadata carried alongside the opaque payload. */
  final case class MediaMeta(
      mime: String,
      width: Int,
      height: Int,
      sample_rate: Int,
      duration_ms: Long)

  /** One media object: id + kind (image|audio|video) + raw bytes + meta. */
  final case class MediaRecord(
      media_id: Long,
      kind: String,
      bytes: Array[Byte],
      meta: MediaMeta)

  final case class MediaFeatures(media_id: Long, kind: String, features: Array[Float])

  final case class MediaFrame(media_id: Long, frame_idx: Int, frame_ms: Long, bytes: Array[Byte])

  /** The pluggable decode boundary. A production impl wraps a real codec
    * (e.g. javacv / TwelveMonkeys); the default is a deterministic fake so
    * the pipeline is testable offline. */
  trait MediaCodec extends Serializable {
    def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures]
    def resize(rec: MediaRecord, w: Int, h: Int): MediaRecord
    def sampleFrames(rec: MediaRecord, everyMs: Long): Seq[MediaFrame]
  }

  /** STUB codec — deterministic, no external libs. Features are a 16-dim
    * rolling-hash profile of the payload; resize rewrites meta and
    * truncates the payload proportionally; frame sampling cuts the payload
    * into equal windows. Replace with a real codec for production.
    *
    * Numeric discipline (same as [[graft.Qh]]): the whole decode is exact
    * 64-bit integer arithmetic — per-dim Long accumulators of
    * `(prefixHash % 1000)`, with ONE terminal float division per dim.
    * Accumulators stay < 2^24 for any sane payload, so `toFloat` is exact
    * and the only IEEE op is the division — bit-identical to the DuckDB
    * oracle mirror (see the `mm_decode_features` query). */
  object StubCodec extends MediaCodec {
    val Dim = 16
    /** Exact per-dim Long accumulators — the integer "milli-features"
      * (`features(j) == accMillis(bytes)(j).toFloat / 1000f`). Exposed so
      * the oracle gate can compare INTEGERS: a `list<float>` result column
      * is unhashable on the comparison side, and reconstructing the
      * integer from the float (`round(f*1000)`) is only exact while the
      * accumulator stays under ~2^23 — sharing the accumulator is exact
      * unconditionally. Parity with [[decodeBatch]] is spec-asserted. */
    def accMillis(bytes: Array[Byte]): Array[Long] = {
      val acc = new Array[Long](Dim)
      var h = 17L
      var i = 0
      while (i < bytes.length) {
        h = (h * 31 + (bytes(i) & 0xff)) % 1000003L
        acc(i % Dim) += h % 1000L
        i += 1
      }
      acc
    }
    override def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
      batch.map { r =>
        val acc = accMillis(r.bytes)
        val f = new Array[Float](Dim)
        var j = 0
        while (j < Dim) { f(j) = acc(j).toFloat / 1000f; j += 1 }
        MediaFeatures(r.media_id, r.kind, f)
      }
    override def resize(r: MediaRecord, w: Int, h: Int): MediaRecord = {
      val scale = math.min(1.0,
        (w.toLong * h).toDouble / math.max(1.0, (r.meta.width.toLong * r.meta.height).toDouble))
      r.copy(
        bytes = r.bytes.take(math.max(1, (r.bytes.length * scale).toInt)),
        meta = r.meta.copy(width = w, height = h))
    }
    override def sampleFrames(r: MediaRecord, everyMs: Long): Seq[MediaFrame] = {
      val n = math.max(1, (r.meta.duration_ms / math.max(1, everyMs)).toInt)
      val win = math.max(1, r.bytes.length / n)
      (0 until n).map(i =>
        MediaFrame(r.media_id, i, i * everyMs, r.bytes.slice(i * win, (i + 1) * win)))
    }
  }

  /** REAL image codec over the in-JDK `javax.imageio` (PNG/GIF/BMP
    * decode — zero dependencies beyond the JDK). The image half of the
    * media boundary is genuinely decoded: features are exact integer
    * pixel-channel aggregates in [[StubCodec]]'s milli discipline
    * (per-dim Long accumulators, one terminal /1000f per dim — exact
    * `toFloat` while accumulators stay < 2^24, i.e. any image up to
    * ~64×64 at full channel range; the planted-PNG spec stays far
    * inside). Non-image kinds and undecodable payloads fall back to the
    * stub — audio/video remain the HONESTLY stubbed boundary (no codec
    * libs in this container), exactly as documented.
    *
    * Feature map (dim → accumulator/1000):
    *  0 width, 1 height, 2 pixel count (each ×1000 → exact),
    *  3 ΣR, 4 ΣG, 5 ΣB, 6 ΣA (channel sums, 0..255 per pixel),
    *  7 Σ luma where luma = (299R+587G+114B) div 1000 (integer),
    *  8 count(luma ≥ 128) ×1000, 9 min luma ×1000, 10 max luma ×1000,
    *  11 Σ luma over the left half (x < w div 2),
    *  12 Σ luma over the top half (y < h div 2),
    *  13 count(A = 255) ×1000,
    *  14 PolyHash of the row-major (R,G,B) byte stream mod 1000003,
    *  15 PolyHash of the row-major A byte stream mod 1000003.
    * Deterministic by construction: row-major traversal of getRGB. */
  object ImageIoCodec extends MediaCodec {
    val Dim = StubCodec.Dim

    private def decode(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
      Multimodal.imageIoMemCache
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: java.io.IOException => None }
    }

    /** Exact integer milli-accumulators of a decoded image (the
      * [[StubCodec.accMillis]] analogue; spec-pinned vs hand-computed
      * planted pixels). */
    def pixelAccMillis(img: java.awt.image.BufferedImage): Array[Long] = {
      val acc = new Array[Long](Dim)
      val w = img.getWidth
      val h = img.getHeight
      acc(0) = w.toLong * 1000L
      acc(1) = h.toLong * 1000L
      acc(2) = w.toLong * h * 1000L
      var minL = 255L
      var maxL = 0L
      var hRgb = 17L
      var hA = 17L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val argb = img.getRGB(x, y)
          val a = (argb >>> 24) & 0xff
          val r = (argb >>> 16) & 0xff
          val g = (argb >>> 8) & 0xff
          val b = argb & 0xff
          acc(3) += r; acc(4) += g; acc(5) += b; acc(6) += a
          val luma = (299L * r + 587L * g + 114L * b) / 1000L
          acc(7) += luma
          if (luma >= 128L) acc(8) += 1000L
          if (luma < minL) minL = luma
          if (luma > maxL) maxL = luma
          if (x < w / 2) acc(11) += luma
          if (y < h / 2) acc(12) += luma
          if (a == 255) acc(13) += 1000L
          hRgb = (((hRgb * 31 + r) * 31 + g) * 31 + b) % 1000003L
          hA = (hA * 31 + a) % 1000003L
          x += 1
        }
        y += 1
      }
      acc(9) = minL * 1000L
      acc(10) = maxL * 1000L
      acc(14) = hRgb
      acc(15) = hA
      acc
    }

    override def decodeBatch(batch: Seq[MediaRecord]): Seq[MediaFeatures] =
      batch.map { r =>
        val real = if (r.kind == "image") decode(r.bytes) else None
        real match {
          case Some(img) =>
            val acc = pixelAccMillis(img)
            val f = new Array[Float](Dim)
            var j = 0
            while (j < Dim) { f(j) = acc(j).toFloat / 1000f; j += 1 }
            MediaFeatures(r.media_id, r.kind, f)
          case None => StubCodec.decodeBatch(Seq(r)).head
        }
      }

    /** Real nearest-neighbor resize + deterministic JDK PNG re-encode.
      * NN is chosen over AWT's rendering-hint interpolation because its
      * pixel mapping `src = dst * srcDim div dstDim` is exact integer
      * arithmetic — bit-identical across JVMs. */
    override def resize(r: MediaRecord, w: Int, h: Int): MediaRecord =
      (if (r.kind == "image") decode(r.bytes) else None) match {
        case Some(img) =>
          val out = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              out.setRGB(x, y, img.getRGB(
                (x.toLong * img.getWidth / w).toInt,
                (y.toLong * img.getHeight / h).toInt))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          Multimodal.imageIoMemCache
          javax.imageio.ImageIO.write(out, "png", bos)
          r.copy(bytes = bos.toByteArray, meta = r.meta.copy(width = w, height = h))
        case None => StubCodec.resize(r, w, h)
      }

    /** Frames are a video/audio concept — delegate to the stub (those
      * kinds are the documented stub boundary). */
    override def sampleFrames(r: MediaRecord, everyMs: Long): Seq[MediaFrame] =
      StubCodec.sampleFrames(r, everyMs)
  }

  /** REAL audio codec for RIFF/WAVE PCM16 mono payloads — a hand-rolled
    * chunk walker over the public RIFF container format (PCM needs no
    * codec library, so the audio half of the media boundary is genuinely
    * decodable offline, exactly as `javax.imageio` made the image half).
    * Compressed audio (MP3/AAC/…) stays behind [[StubCodec]] — THAT is
    * the honest remaining stub, not WAV.
    *
    * Decoder discipline: strict but spec-compliant — chunks are walked in
    * order with the RIFF even-byte padding rule applied, unknown chunks
    * (LIST, junk, …) are skipped, and anything malformed (bad magic,
    * truncated chunk, non-PCM format tag, non-mono, non-16-bit, odd data
    * length, fmt missing before data) returns None so callers fall back
    * loudly instead of mis-parsing garbage as silence. */
  object WavCodec {
    /** Canonical 44-byte-header RIFF/WAVE PCM16 mono encoder. */
    def encodePcm16(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort)            // audio format: PCM
        .putShort(1.toShort)            // channels: mono
        .putInt(sampleRate)
        .putInt(sampleRate * 2)         // byte rate
        .putShort(2.toShort)            // block align
        .putShort(16.toShort)           // bits per sample
      buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(buf.putShort)
      buf.array()
    }

    /** Chunk-walking PCM16-mono decoder: (sampleRate, samples), or None
      * on any malformation. */
    def decodePcm16(bytes: Array[Byte]): Option[(Int, Array[Short])] = {
      if (bytes.length < 12) return None
      val buf = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag4(): String = {
        val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
      }
      if (tag4() != "RIFF") return None
      buf.getInt // declared RIFF payload size — not trusted, chunks are walked
      if (tag4() != "WAVE") return None
      var rate = -1
      var data: Array[Short] = null
      while (buf.remaining >= 8) {
        val id = tag4()
        val len = buf.getInt
        if (len < 0 || len > buf.remaining) return None
        id match {
          case "fmt " =>
            if (len < 16) return None
            val p = buf.position()
            val fmt = buf.getShort; val ch = buf.getShort
            val sr = buf.getInt
            buf.getInt; buf.getShort // byte rate, block align (derived)
            val bits = buf.getShort
            if (fmt != 1 || ch != 1 || bits != 16 || sr <= 0) return None
            rate = sr
            buf.position(p + len)
          case "data" =>
            if (rate < 0 || len % 2 != 0) return None
            val out = new Array[Short](len / 2)
            var i = 0
            while (i < out.length) { out(i) = buf.getShort; i += 1 }
            data = out
          case _ => buf.position(buf.position() + len)
        }
        if (len % 2 == 1 && buf.remaining >= 1) buf.get // RIFF pad byte
      }
      if (rate < 0 || data == null) None else Some((rate, data))
    }
  }

  /** Exact integer waveform features of one decoded PCM stream — the
    * audio analogue of [[ImageIoCodec.pixelAccMillis]]'s discipline: all
    * Long arithmetic, no floats anywhere. `pcm_hash` is the Qh poly fold
    * over the +32768-biased samples (bias keeps every term non-negative,
    * so the identical `%` in DuckDB needs no pmod dance). */
  final case class AudioFeatures(
      media_id: Long, n_samples: Long, sample_rate: Long, peak_abs: Long,
      sum_abs: Long, energy: Long, zero_cross: Long, pcm_hash: Long)

  def audioFeatures(mediaId: Long, rate: Int, pcm: Array[Short]): AudioFeatures = {
    var peak = 0L; var sAbs = 0L; var en = 0L; var zc = 0L; var h = 17L
    var i = 0
    while (i < pcm.length) {
      val s = pcm(i).toLong
      val a = math.abs(s)
      if (a > peak) peak = a
      sAbs += a
      en += s * s
      if (i > 0 && ((pcm(i - 1) < 0) != (s < 0))) zc += 1
      h = (h * 31 + (s + 32768L)) % 1000003L
      i += 1
    }
    AudioFeatures(mediaId, pcm.length.toLong, rate.toLong, peak, sAbs, en, zc, h)
  }

  /** Reference-shaped batch size: one codec call per `batchSize` records
    * (the HF/OpenAI enrichments batch 10/100; vectorized UDFs batch by
    * Arrow chunk — same amortization idea). */
  val DefaultBatchSize = 32

  /** Decode → fixed-size feature vectors. Partition-preserving; one
    * `decodeBatch` call per `batchSize` records per partition. */
  def decodeFeatures(ds: Dataset[MediaRecord], codec: MediaCodec = StubCodec,
      batchSize: Int = DefaultBatchSize): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(batchSize).flatMap(g => codec.decodeBatch(g)))
  }

  /** Integer projection of [[decodeFeatures]] for the oracle gate: one row
    * per (media_id, dim) carrying the exact pre-division accumulator
    * (`feat_milli * 1e-3 == features(dim)`). Same batched mapPartitions
    * shape as [[decodeFeatures]]; exists because a `array<float>` column
    * cannot be hashed by the comparison harness. The float-list Dataset
    * API is unchanged — this is gate plumbing, not a second decode. */
  def decodeFeatureMillis(ds: Dataset[MediaRecord]): Dataset[(Long, String, Int, Long)] = {
    import ds.sparkSession.implicits._
    // Per-record pass, no grouped() façade: the integer projection calls
    // the stub accumulator directly (the BATCHED decode boundary lives in
    // decodeFeatures; MultimodalSpec asserts this projection ==
    // decodeFeatures' floats * 1000 exactly).
    ds.mapPartitions(_.flatMap { r =>
      val acc = StubCodec.accMillis(r.bytes)
      acc.indices.map(j => (r.media_id, r.kind, j, acc(j)))
    })
  }

  /** Resize every image payload; non-images pass through untouched. */
  def resizeImages(ds: Dataset[MediaRecord], w: Int, h: Int,
      codec: MediaCodec = StubCodec): Dataset[MediaRecord] = {
    import ds.sparkSession.implicits._
    ds.map(r => if (r.kind == "image") codec.resize(r, w, h) else r)
  }

  /** Explode videos/audio into sampled frames (flatMap — output may be
    * larger than input; partitioning of the input is preserved). */
  def sampleFrames(ds: Dataset[MediaRecord], everyMs: Long,
      codec: MediaCodec = StubCodec): Dataset[MediaFrame] = {
    import ds.sparkSession.implicits._
    ds.flatMap(r => codec.sampleFrames(r, everyMs))
  }

  /** Deterministic synthetic media corpus derived from the `documents`
    * table — the offline stand-in for a real binary-column source.
    *
    * Payload = one byte per UTF-16 unit, the unit's low 7 bits. NOT
    * `getBytes("UTF-8")`: the DuckDB oracles walk CHARACTERS (`ascii(c)
    * & 127` mirrors the clamp exactly for the whole BMP), while UTF-8
    * would emit multiple bytes per non-ASCII char and silently diverge
    * the moment the generated corpus stops being pure ASCII. */
  def syntheticMedia(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .map { case (id, text, n) =>
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        val payload = new Array[Byte](text.length)
        var i = 0
        while (i < text.length) { payload(i) = (text.charAt(i) & 0x7f).toByte; i += 1 }
        MediaRecord(id, kind, payload,
          MediaMeta(s"application/x-$kind", (n % 640).toInt + 16, 480, 16000, n * 10))
      }
  }

  /** Deterministic synthetic AUDIO corpus: the `audio`-kind documents
    * (doc_id ≡ 1 mod 3) carry a REAL RIFF/WAVE PCM16 payload whose
    * samples come from a closed-form integer recurrence —
    * `s_i = ((doc_id·7919 + i·104729) mod 20011) − 10005` over
    * `n = (n_chars mod 200) + 16` samples at `8000 + (doc_id mod 8)·1000`
    * Hz. The formula lives ONLY here and in the oracle: the registered
    * query must recover the features by PARSING THE BYTES, so an
    * encode/decode disagreement (endianness, header arithmetic, padding)
    * breaks the gate instead of cancelling out. */
  def syntheticWav(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .filter(col("doc_id") % 3 === 1)
      .as[(Long, Long)]
      .map { case (id, nChars) =>
        val n = (nChars % 200L).toInt + 16
        val rate = 8000 + (id % 8L).toInt * 1000
        val pcm = new Array[Short](n)
        var i = 0
        while (i < n) {
          pcm(i) = (((id * 7919L + i * 104729L) % 20011L) - 10005L).toShort
          i += 1
        }
        MediaRecord(id, "audio", WavCodec.encodePcm16(pcm, rate),
          MediaMeta("audio/wav", 0, 0, rate, n * 1000L / rate))
      }
  }

  /** Deterministic synthetic PNG corpus: the `image`-kind documents
    * (doc_id ≡ 0 mod 3) carry a REAL 8×8 grayscale image whose pixels
    * come from a closed-form recurrence — `g(j) = (gid·2654435761 +
    * j·40503) mod 256` over row-major j = y·8+x, with `gid = doc_id
    * div 6` so consecutive image ids (0,3), (6,9), … SHARE pixel
    * content: planted near-dup pairs for the aHash grouping to find.
    * The CONTAINER cycles png → bmp → gif by image ordinal
    * `(doc_id div 3) % 3` — all three are lossless for a ≤256-color
    * grayscale payload (GIF's palette holds every gray exactly), so one
    * closed-form pixel oracle gates the decode of all three in-JDK
    * readers, and each planted near-dup pair spans TWO formats
    * (png≡bmp, gif≡png, …): the hash grouping is proven
    * container-independent. JPEG is deliberately NOT in the oracle
    * cycle — DCT quantization is lossy, so no closed-form pixel oracle
    * can gate it; its decode path is spec-gated with a tolerance
    * instead (AHashSpec). As with [[syntheticWav]], the formula lives
    * only here and in the oracle — the registered query must recover
    * pixels by DECODING THE CONTAINER. */
  def syntheticImages(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.Tables(spark, dir, "documents")
      .select(col("doc_id"))
      .filter(col("doc_id") % 3 === 0)
      .as[Long]
      .map { id =>
        val gid = id / 6L
        val img = new java.awt.image.BufferedImage(
          8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var j = 0
        while (j < 64) {
          val g = ((gid * 2654435761L + j * 40503L) % 256L).toInt
          img.setRGB(j % 8, j / 8, (g << 16) | (g << 8) | g)
          j += 1
        }
        val fmt = ((id / 3L) % 3L) match {
          case 0L => "png"
          case 1L => "bmp"
          case _  => "gif"
        }
        val bos = new java.io.ByteArrayOutputStream()
        Multimodal.imageIoMemCache
        javax.imageio.ImageIO.write(img, fmt, bos)
        MediaRecord(id, "image", bos.toByteArray,
          MediaMeta(s"image/$fmt", 8, 8, 0, 0L))
      }
  }

  /** Average-hash of one real-decoded image: luma per pixel (row-major),
    * corpus-free mean threshold, 64 bits split into two signed-safe
    * 32-bit halves. The perceptual-dedup fingerprint (aHash) — two
    * images share (hi, lo) iff every pixel sits on the same side of its
    * image's own mean. All integer arithmetic. */
  final case class ImageAHash(
      media_id: Long, w: Long, h: Long, mean_g: Long,
      ahash_hi: Long, ahash_lo: Long)

  def imageAHash(ds: Dataset[MediaRecord],
      batchSize: Int = DefaultBatchSize): Dataset[ImageAHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(batchSize).flatMap(_.map { r =>
      Multimodal.imageIoMemCache
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.bytes))
        catch { case _: java.io.IOException => null }
      if (img == null) ImageAHash(r.media_id, -1L, -1L, -1L, -1L, -1L)
      else {
        val w = img.getWidth; val h = img.getHeight
        val n = w * h
        val lum = new Array[Long](n)
        var j = 0
        while (j < n) {
          val argb = img.getRGB(j % w, j / w)
          val rC = (argb >>> 16) & 0xff
          val gC = (argb >>> 8) & 0xff
          val bC = argb & 0xff
          lum(j) = (299L * rC + 587L * gC + 114L * bC) / 1000L
          j += 1
        }
        val mean = lum.sum / n
        var hi = 0L; var lo = 0L
        j = 0
        while (j < math.min(n, 64)) {
          if (lum(j) >= mean) {
            if (j < 32) lo |= 1L << j else hi |= 1L << (j - 32)
          }
          j += 1
        }
        ImageAHash(r.media_id, w.toLong, h.toLong, mean, hi, lo)
      }
    }))
  }

  import graft.QueryDef

  /** Oracle-gated multimodal queries. [[StubCodec]] is exact integer
    * arithmetic, so both the decode and the frame explosion have full
    * DuckDB mirrors: the binary-column PIPELINE (schema, batched decode,
    * frame explode) is verified end to end even though the codec is the
    * documented offline stub.
    *
    * The decode oracle mirrors the rolling hash algebraically: with
    * p = 1000003 and inv31 = 31^(p-2) mod p = 193549,
    *   h_i = (17·31^(i+1) + 31^i · Σ_{j≤i} b_j·inv31^j) mod p
    * turns the sequential fold into a windowed prefix sum over
    * position-joined power tables (one tiny recursive CTE). */
  /** GZIP-compressed text payloads of every document — the at-rest
    * reality of a 100 TB corpus (web crawls ship gzip/zstd; the JDK
    * carries a REAL gzip codec, so this boundary is genuinely decoded,
    * like the PNG/BMP/GIF and WAV halves). The compressed BYTES are a
    * deflate-implementation detail (level, header flags) and never
    * appear in any gated output; the contract is the roundtrip — the
    * registered query must recover the text by INFLATING the payload
    * and compute features from the DECODED text only, which the oracle
    * recomputes from the plain table. */
  def syntheticGzipDocs(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        gz.close()
        MediaRecord(id, "text", bos.toByteArray,
          MediaMeta("application/gzip", 0, 0, 0, 0L))
      }
  }

  /** Decoded-text features of one gzip payload: char count, exact
    * token count (separator count + 1 — the `len(string_split(…))`
    * definition, trailing separators included), and the 58-bit
    * [[graft.Qh.strHashWide]] polynomial digest proving the decoded
    * BYTES, not just their shape. A payload that fails the inflate
    * yields the loud (ok=false, -1, …) sentinel — corrupt members of a
    * 100 TB archive must be counted, never silently dropped. */
  final case class GzipTextFeatures(media_id: Long, ok: Boolean,
      n_chars: Long, n_tok: Long, fp: Long)

  def gunzipFeatures(ds: Dataset[MediaRecord],
      batchSize: Int = DefaultBatchSize): Dataset[GzipTextFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(batchSize).flatMap(_.iterator.map { r =>
      val txt =
        try {
          val in = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(r.bytes))
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          in.close()
          Some(new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
        } catch { case _: java.io.IOException => None }
      txt match {
        case Some(t) =>
          // Fold over Unicode CODE POINTS, not UTF-16 units: the DuckDB
          // oracle counts codepoints (length()) and hashes ascii() per
          // split character, which is the codepoint — verified to return
          // e.g. 128512 for a non-BMP emoji. A charAt fold (the BMP-only
          // PolyHash58 convention) silently diverges on any supplementary-
          // plane character in crawled text; this digest is oracle-exact
          // for ALL Unicode. The WinHashP construction stays exact:
          // 31·(P−1) + 0x10FFFF < 2^63−1 (the proof's headroom past 31·P
          // is ~2.0e6; the max codepoint is 1114111).
          var h = 0L
          var nCp = 0L
          var i = 0
          while (i < t.length) {
            val cp = t.codePointAt(i)
            h = (h * 31 + cp) % graft.Qh.WinHashP
            nCp += 1
            i += Character.charCount(cp)
          }
          GzipTextFeatures(r.media_id, ok = true, nCp,
            t.count(_ == ' ').toLong + 1L, h)
        case None => GzipTextFeatures(r.media_id, ok = false, -1L, -1L, -1L)
      }
    }))
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "mm_decode_features" -> QueryDef(
      (s, d) => {
        decodeFeatureMillis(syntheticMedia(s, d))
          .toDF("media_id", "kind", "dim", "feat_milli")
          .orderBy("media_id", "dim")
      },
      Some("""WITH RECURSIVE pw(i, p31, pinv) AS (
             |  SELECT 0, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
             |  UNION ALL
             |  SELECT i + 1, (p31 * 31) % 1000003, (pinv * 193549) % 1000003
             |  FROM pw WHERE i <= (SELECT max(length(text)) FROM documents)
             |),
             |b AS (
             |  SELECT doc_id,
             |    CAST(ascii(substring(text, CAST(pos AS INT) + 1, 1)) & 127 AS BIGINT) AS byte,
             |    pos
             |  FROM (SELECT doc_id, text, unnest(range(0, length(text))) AS pos
             |        FROM documents WHERE length(text) > 0)
             |),
             |s AS (
             |  SELECT b.doc_id, b.pos,
             |    sum((b.byte * pw.pinv) % 1000003)
             |      OVER (PARTITION BY b.doc_id ORDER BY b.pos) % 1000003 AS sp
             |  FROM b JOIN pw ON pw.i = b.pos
             |),
             |h AS (
             |  SELECT s.doc_id, s.pos, (17 * p1.p31 + p0.p31 * s.sp) % 1000003 AS hv
             |  FROM s JOIN pw p0 ON p0.i = s.pos JOIN pw p1 ON p1.i = s.pos + 1
             |),
             |g AS (
             |  SELECT doc_id, CAST(pos % 16 AS INT) AS dim, sum(hv % 1000) AS sg
             |  FROM h GROUP BY 1, 2
             |),
             |grid AS (
             |  SELECT doc_id, unnest(range(0, 16)) AS dim FROM documents
             |),
             |fv AS (
             |  SELECT grid.doc_id, grid.dim, COALESCE(g.sg, 0) AS sg
             |  FROM grid LEFT JOIN g ON g.doc_id = grid.doc_id AND g.dim = grid.dim
             |)
             |SELECT doc_id AS media_id,
             |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
             |    ELSE 'video' END AS kind,
             |  CAST(dim AS INT) AS dim, CAST(sg AS BIGINT) AS feat_milli
             |FROM fv ORDER BY media_id, dim""".stripMargin),
      doc = "Batched binary-column decode to fixed-dim features via the " +
        "deterministic stub codec; DuckDB mirror of the full rolling hash. " +
        "Gated as exploded exact integers (feat_milli = features*1000)"),

    "mm_frame_sample" -> QueryDef(
      (s, d) => {
        sampleFrames(syntheticMedia(s, d), 1000L).toDF()
          .select(col("media_id"), col("frame_idx"), col("frame_ms"),
            length(col("bytes")).as("nbytes"))
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH m AS (
             |  SELECT doc_id, length(text) AS len,
             |    greatest(1, divide(n_chars * 10, 1000)) AS n
             |  FROM documents
             |),
             |f AS (
             |  SELECT doc_id, len, n, greatest(1, divide(len, n)) AS win,
             |    unnest(range(0, n)) AS fi
             |  FROM m
             |)
             |SELECT doc_id AS media_id, CAST(fi AS INT) AS frame_idx,
             |  fi * 1000 AS frame_ms,
             |  CAST(greatest(0, least(len, (fi + 1) * win) - least(len, fi * win)) AS INT) AS nbytes
             |FROM f ORDER BY media_id, frame_idx""".stripMargin),
      doc = "Frame-sampling explosion of video/audio payloads into equal " +
        "byte windows; output size is data-dependent (flatMap)"),

    // REAL audio decode: generate RIFF/WAVE PCM16 payloads (closed-form
    // integer waveform), then recover exact integer waveform features by
    // PARSING THE CONTAINER BYTES through WavCodec — header walk, LE
    // shorts, padding rule all genuinely exercised; the oracle computes
    // the same features from the generating recurrence, so the gate
    // proves encode∘decode = id plus the feature arithmetic. A payload
    // that fails to parse surfaces as a loud error row (media_id, -1, …)
    // rather than silently dropping — decode failures must be visible.
    // Scale shape: pure batched mapPartitions (the multimodal boundary
    // pattern); output is one row per audio object.
    "mm_audio_features" -> QueryDef(
      (s, d) => {
        import s.implicits._
        decodeAudio(syntheticWav(s, d)).toDF()
          .orderBy("media_id")
      },
      Some("""WITH RECURSIVE pw(i, p31, pinv) AS (
             |  SELECT 0, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
             |  UNION ALL
             |  SELECT i + 1, (p31 * 31) % 1000003, (pinv * 193549) % 1000003
             |  FROM pw WHERE i <= (SELECT max((n_chars % 200) + 16)
             |                      FROM documents WHERE doc_id % 3 = 1)
             |),
             |a AS (SELECT doc_id, (n_chars % 200) + 16 AS n
             |      FROM documents WHERE doc_id % 3 = 1),
             |v AS (SELECT doc_id, n, i,
             |        ((doc_id * 7919 + i * 104729) % 20011) - 10005 AS s
             |      FROM (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
             |            FROM a)),
             |z AS (SELECT doc_id, n, i, s,
             |        lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS ps
             |      FROM v),
             |g AS (SELECT z.doc_id, z.n,
             |        max(abs(z.s)) AS peak_abs,
             |        sum(abs(z.s)) AS sum_abs,
             |        sum(z.s * z.s) AS energy,
             |        sum(CASE WHEN z.ps IS NOT NULL AND ((z.ps < 0) <> (z.s < 0))
             |            THEN 1 ELSE 0 END) AS zero_cross,
             |        sum(((z.s + 32768) * pw.pinv) % 1000003) % 1000003 AS sp
             |      FROM z JOIN pw ON pw.i = z.i
             |      GROUP BY z.doc_id, z.n)
             |SELECT g.doc_id AS media_id,
             |  CAST(g.n AS BIGINT) AS n_samples,
             |  CAST(8000 + (g.doc_id % 8) * 1000 AS BIGINT) AS sample_rate,
             |  CAST(g.peak_abs AS BIGINT) AS peak_abs,
             |  CAST(g.sum_abs AS BIGINT) AS sum_abs,
             |  CAST(g.energy AS BIGINT) AS energy,
             |  CAST(g.zero_cross AS BIGINT) AS zero_cross,
             |  CAST((17 * pn.p31 + pn1.p31 * g.sp) % 1000003 AS BIGINT) AS pcm_hash
             |FROM g JOIN pw pn ON pn.i = g.n JOIN pw pn1 ON pn1.i = g.n - 1
             |ORDER BY media_id""".stripMargin),
      doc = "REAL RIFF/WAVE PCM16 decode via the hand-rolled chunk " +
        "walker; exact integer waveform features (peak/energy/zero-" +
        "crossings/poly hash) gated against the closed-form oracle"),

    // REAL image near-dup detection end-to-end: generate a MIXED-FORMAT
    // 8×8 grayscale corpus (png/bmp/gif cycling per image; closed-form
    // pixels; consecutive image ids share content — planted duplicate
    // pairs that now SPAN formats), decode through the in-JDK ImageIO
    // readers, compute the perceptual average-hash, and count
    // hash-bucket sizes — the visual analog of dedup_exact's
    // fingerprint groupBy. The oracle recomputes everything from the
    // generating recurrence, so the gate proves all three containers'
    // encode∘decode roundtrips AND the hash arithmetic — and because
    // the planted pairs cross formats, n_same > 1 proves the perceptual
    // bucket is container-independent. Scale shape: batched
    // mapPartitions decode + a window count partitioned by the HASH
    // (the dedup bucket key) — at 100 TB the bucket count is the same
    // fingerprint-keyed shuffle every exact-dedup pass uses.
    "mm_image_ahash" -> QueryDef(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val recs = syntheticImages(s, d)
        val fmt = recs.toDF().select(col("media_id"), col("meta.mime").as("format"))
        imageAHash(recs).toDF()
          .join(fmt, Seq("media_id"))
          .withColumn("n_same",
            count(lit(1)).over(Window.partitionBy("ahash_hi", "ahash_lo")))
          .orderBy("media_id")
      },
      Some("""WITH im AS (SELECT doc_id, divide(doc_id, 6) AS gid,
             |          'image/' || CASE divide(doc_id, 3) % 3 WHEN 0 THEN 'png'
             |            WHEN 1 THEN 'bmp' ELSE 'gif' END AS format
             |          FROM documents WHERE doc_id % 3 = 0),
             |px AS (SELECT doc_id, j,
             |        (gid * 2654435761 + j * 40503) % 256 AS g
             |      FROM (SELECT doc_id, gid,
             |              unnest(generate_series(0, 63)) AS j FROM im)),
             |m AS (SELECT doc_id, divide(sum(g), 64) AS mean_g
             |      FROM px GROUP BY doc_id),
             |h AS (SELECT px.doc_id, m.mean_g,
             |        CAST(sum(CASE WHEN px.j >= 32 AND px.g >= m.mean_g
             |          THEN CAST(pow(2, px.j - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS ahash_hi,
             |        CAST(sum(CASE WHEN px.j < 32 AND px.g >= m.mean_g
             |          THEN CAST(pow(2, px.j) AS BIGINT) ELSE 0 END) AS BIGINT) AS ahash_lo
             |      FROM px JOIN m ON px.doc_id = m.doc_id
             |      GROUP BY px.doc_id, m.mean_g)
             |SELECT h.doc_id AS media_id, CAST(8 AS BIGINT) AS w,
             |  CAST(8 AS BIGINT) AS h, CAST(mean_g AS BIGINT) AS mean_g,
             |  ahash_hi, ahash_lo, im.format AS format,
             |  count(*) OVER (PARTITION BY ahash_hi, ahash_lo) AS n_same
             |FROM h JOIN im ON im.doc_id = h.doc_id ORDER BY media_id""".stripMargin),
      doc = "perceptual average-hash near-dup over a REAL mixed-format " +
        "(png/bmp/gif) decoded 8×8 corpus: planted duplicate pairs span " +
        "containers yet resolve to shared (hi, lo) buckets; closed-form " +
        "oracle proves all three roundtrips"),

    // Scene-cut detection over the sampled frame stream: per video, an
    // exact integer frame signature (mean clamped-byte intensity in
    // milli units — the deterministic stand-in for a pixel-histogram
    // distance, same honest-stub discipline as StubCodec), a
    // media-partitioned lag window over frame order, and a cut wherever
    // the signature jumps ≥ 2000 milli. The Spark plumbing is the real
    // deliverable: flatMap frame explosion (data-dependent output), a
    // per-media window (parallel — media_id partitions, never global),
    // and a bounded per-media rollup. The oracle recomputes frames AND
    // signatures from the generating text via the same substring
    // windows, so the byte-slicing arithmetic of sampleFrames is gated
    // too (mm_frame_sample gates only the window LENGTHS). Swap the
    // signature map for a real histogram-delta UDF when codec libs
    // exist; every stage downstream of the map is already the 100 TB
    // plan.
    "mm_scene_cut" -> QueryDef(
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val frames = sampleFrames(
            syntheticMedia(s, d).filter(_.kind == "video"), 1000L)
          .map(f => (f.media_id, f.frame_idx, f.bytes.length.toLong,
            f.bytes.foldLeft(0L)((a, b) => a + (b & 0x7f))))
          .toDF("media_id", "frame_idx", "nbytes", "sig")
        val w = Window.partitionBy("media_id").orderBy("frame_idx")
        frames.filter(col("nbytes") > 0L)
          .withColumn("avg_milli", expr("sig * 1000 div nbytes"))
          .withColumn("delta",
            abs(col("avg_milli") - lag(col("avg_milli"), 1).over(w)))
          .groupBy("media_id")
          .agg(count(lit(1)).as("n_frames"),
            sum(when(col("delta").isNotNull, 1L).otherwise(0L)).as("n_scored"),
            sum(when(col("delta") >= 2000L, 1L).otherwise(0L)).as("n_cuts"),
            coalesce(max(col("delta")), lit(0L)).as("max_delta_milli"))
          .orderBy("media_id")
      },
      Some("""WITH m AS (SELECT doc_id, text, length(text) AS len,
             |    greatest(1, divide(n_chars * 10, 1000)) AS n
             |  FROM documents WHERE doc_id % 3 = 2),
             |f AS (SELECT doc_id, text, len, n, greatest(1, divide(len, n)) AS win,
             |    unnest(range(0, n)) AS fi FROM m),
             |g AS (SELECT doc_id, fi,
             |    least(len, (fi + 1) * win) - least(len, fi * win) AS nbytes,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(string_split(substring(text,
             |        CAST(fi * win + 1 AS INT),
             |        CAST(least(len, (fi + 1) * win) - least(len, fi * win) AS INT)), ''),
             |        c -> CAST(ascii(c) & 127 AS BIGINT))), (h, c) -> h + c) AS sig
             |  FROM f),
             |sg AS (SELECT doc_id, fi, divide(sig * 1000, nbytes) AS avg_milli
             |  FROM g WHERE nbytes > 0),
             |l AS (SELECT doc_id, abs(avg_milli -
             |    lag(avg_milli) OVER (PARTITION BY doc_id ORDER BY fi)) AS delta
             |  FROM sg)
             |SELECT doc_id AS media_id, CAST(count(*) AS BIGINT) AS n_frames,
             |  CAST(sum(CASE WHEN delta IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
             |  CAST(sum(CASE WHEN delta >= 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
             |  CAST(coalesce(max(delta), 0) AS BIGINT) AS max_delta_milli
             |FROM l GROUP BY 1 ORDER BY media_id""".stripMargin),
      doc = "scene-cut detection on the sampled frame stream: exact " +
        "integer frame signatures, media-partitioned lag deltas, " +
        "cuts at >= 2000 milli jumps — gates sampleFrames' byte " +
        "slicing content, not just window lengths"),

    // Voice-activity detection over the REAL decoded PCM stream: fixed
    // 32-sample energy windows (last window partial, thresholded by its
    // OWN length), then a gaps-and-islands pass for the longest active
    // run — the clip-segmentation primitive an audio curation pipeline
    // runs before transcription ("is there speech, and in how long a
    // stretch?"). The decode is the genuine WavCodec chunk walk (header
    // arithmetic gated, not stubbed); windows/islands are ordinary
    // media-partitioned Spark windows — parallel at any corpus scale;
    // the oracle recomputes everything from the generating recurrence,
    // so encode∘decode∘window∘threshold∘islands is proven end-to-end.
    // All integer: energies are Σs² ≤ 32·32768² per window.
    "mm_audio_vad" -> QueryDef(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = audioEnergyWindows(syntheticWav(s, d))
          .toDF("media_id", "win_idx", "n_in_win", "energy")
          .withColumn("active",
            when(col("energy") >= col("n_in_win") * 33400000L, 1L).otherwise(0L))
        val wOrd = Window.partitionBy("media_id").orderBy("win_idx")
        val runs = w
          .withColumn("inact_cum", sum(lit(1L) - col("active")).over(wOrd))
          .filter(col("active") === 1L)
          .groupBy("media_id", "inact_cum").agg(count(lit(1)).as("run"))
          .groupBy("media_id").agg(max(col("run")).as("max_run"))
        w.groupBy("media_id")
          .agg(count(lit(1)).as("n_win"), sum(col("active")).as("n_active"),
            sum(col("energy")).as("total_energy"))
          .join(runs, Seq("media_id"), "left")
          .withColumn("max_run", coalesce(col("max_run"), lit(0L)))
          .withColumn("active_ppm", expr("n_active * 1000000 div n_win"))
          .select(col("media_id"), col("n_win"), col("n_active"),
            col("active_ppm"), col("max_run"), col("total_energy"))
          .orderBy("media_id")
      },
      Some("""WITH a AS (SELECT doc_id, (n_chars % 200) + 16 AS n
             |  FROM documents WHERE doc_id % 3 = 1),
             |v AS (SELECT doc_id, divide(i, 32) AS wi,
             |    ((doc_id * 7919 + i * 104729) % 20011) - 10005 AS s
             |  FROM (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
             |        FROM a)),
             |w AS (SELECT doc_id, wi, CAST(count(*) AS BIGINT) AS n_in_win,
             |    CAST(sum(s * s) AS BIGINT) AS energy
             |  FROM v GROUP BY 1, 2),
             |f AS (SELECT doc_id, wi, energy,
             |    CASE WHEN energy >= n_in_win * 33400000 THEN 1 ELSE 0 END AS active
             |  FROM w),
             |c AS (SELECT doc_id, wi, active,
             |    sum(1 - active) OVER (PARTITION BY doc_id ORDER BY wi
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS inact_cum
             |  FROM f),
             |runs AS (SELECT doc_id, CAST(max(run) AS BIGINT) AS max_run FROM (
             |    SELECT doc_id, inact_cum, count(*) AS run FROM c
             |    WHERE active = 1 GROUP BY 1, 2) GROUP BY 1),
             |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_win,
             |    CAST(sum(active) AS BIGINT) AS n_active,
             |    CAST(sum(energy) AS BIGINT) AS total_energy
             |  FROM f GROUP BY 1)
             |SELECT g.doc_id AS media_id, n_win, n_active,
             |  CAST(divide(n_active * 1000000, n_win) AS BIGINT) AS active_ppm,
             |  CAST(coalesce(max_run, 0) AS BIGINT) AS max_run, total_energy
             |FROM g LEFT JOIN runs ON runs.doc_id = g.doc_id
             |ORDER BY media_id""".stripMargin),
      doc = "energy-window VAD over real-decoded PCM: 32-sample exact " +
        "integer energies, per-length threshold, gaps-and-islands " +
        "longest active run — closed-form oracle proves the full chain"),

    // Image-quality QA over the REAL mixed-format (png/bmp/gif) decoded
    // corpus: mean luma (exposure), min-max contrast, and the
    // horizontal gradient mass (the classic integer sharpness proxy —
    // blurred images have small neighbor deltas) with dark/flat verdict
    // flags — the visual analog of text_quality's Gopher gates, run
    // before an image corpus is worth embedding. All exact integers
    // (the planted grayscale makes luma = g exactly, so the oracle
    // recomputes everything from the generating recurrence and all
    // three container roundtrips stay load-bearing). Batched
    // mapPartitions decode, loud (-1) sentinel on failure.
    "mm_image_qa" -> QueryDef(
      (s, d) => {
        val recs = syntheticImages(s, d)
        val fmt = recs.toDF().select(col("media_id"), col("meta.mime").as("format"))
        imageQa(recs).toDF()
          .join(fmt, Seq("media_id"))
          .withColumn("grad_milli", expr("grad_sum * 1000 div (w * h - h)"))
          .withColumn("is_dark", col("mean_luma_milli") < 80000L)
          .withColumn("is_flat", col("contrast") < 32L)
          .orderBy("media_id")
      },
      Some("""WITH im AS (SELECT doc_id, divide(doc_id, 6) AS gid,
             |          'image/' || CASE divide(doc_id, 3) % 3 WHEN 0 THEN 'png'
             |            WHEN 1 THEN 'bmp' ELSE 'gif' END AS format
             |          FROM documents WHERE doc_id % 3 = 0),
             |px AS (SELECT doc_id, j,
             |        (gid * 2654435761 + j * 40503) % 256 AS g
             |      FROM (SELECT doc_id, gid,
             |              unnest(generate_series(0, 63)) AS j FROM im)),
             |gr AS (SELECT doc_id, j, g,
             |        lag(g) OVER (PARTITION BY doc_id ORDER BY j) AS pg
             |      FROM px),
             |a AS (SELECT doc_id, CAST(sum(g) AS BIGINT) AS sg,
             |        CAST(max(g) - min(g) AS BIGINT) AS contrast,
             |        CAST(sum(CASE WHEN j % 8 <> 0 THEN abs(g - pg) ELSE 0 END) AS BIGINT) AS grad_sum
             |      FROM gr GROUP BY 1)
             |SELECT a.doc_id AS media_id, CAST(8 AS BIGINT) AS w, CAST(8 AS BIGINT) AS h,
             |  CAST(divide(sg * 1000, 64) AS BIGINT) AS mean_luma_milli,
             |  contrast, grad_sum, im.format AS format,
             |  CAST(divide(grad_sum * 1000, 56) AS BIGINT) AS grad_milli,
             |  divide(sg * 1000, 64) < 80000 AS is_dark,
             |  contrast < 32 AS is_flat
             |FROM a JOIN im ON im.doc_id = a.doc_id ORDER BY media_id""".stripMargin),
      doc = "image QA gates over real mixed-format (png/bmp/gif) " +
        "decode: exact integer exposure/contrast/sharpness-gradient " +
        "metrics with dark/flat flags — closed-form oracle proves all " +
        "three decodes + metric arithmetic"),

    // Compressed-payload ingestion end-to-end: every document travels
    // as a REAL gzip binary column (JDK Deflater at write, JDK Inflater
    // at read — the at-rest format of web-scale corpora), and the
    // registered query recovers char/token counts plus the 58-bit
    // polynomial digest FROM THE INFLATED TEXT. The oracle recomputes
    // all three from the plain table, so a pass proves the
    // compress∘decompress roundtrip is byte-exact on every document —
    // the digest makes a silent corruption of any single byte visible.
    // Scale shape: batched mapPartitions inflate (the codec/FFI
    // boundary pattern shared with PNG/WAV), then pure column math —
    // one scan, no shuffle at all until the output sort.
    "mm_text_gzip" -> QueryDef(
      (s, d) => {
        gunzipFeatures(syntheticGzipDocs(s, d)).toDF()
          .orderBy("media_id")
      },
      Some(s"""SELECT doc_id AS media_id, TRUE AS ok,
             |  CAST(length(text) AS BIGINT) AS n_chars,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             |  ${graft.Qh.strHashWideSql("text")} AS fp
             |FROM documents ORDER BY media_id""".stripMargin),
      doc = "gzip-compressed text ingestion: real JDK inflate in batched " +
        "mapPartitions, decoded-text char/token counts + 58-bit digest " +
        "gated against the plain table — byte-exact roundtrip proof"))

  /** Per-window PCM energies of real-decoded audio (fixed `winLen`
    * samples, last window partial): (media_id, win_idx, n_in_win,
    * Σ s²). Batched mapPartitions like [[decodeAudio]]; a payload that
    * fails the chunk walk yields the loud sentinel (media_id, -1, 0,
    * -1) — decode failures must be visible, never dropped. */
  def audioEnergyWindows(ds: Dataset[MediaRecord], winLen: Int = 32,
      batchSize: Int = DefaultBatchSize): Dataset[(Long, Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(batchSize).flatMap(_.iterator.flatMap { r =>
      WavCodec.decodePcm16(r.bytes) match {
        case Some((_, pcm)) =>
          pcm.grouped(winLen).zipWithIndex.map { case (w, wi) =>
            (r.media_id, wi.toLong, w.length.toLong,
              w.foldLeft(0L)((a, s) => a + s.toLong * s.toLong))
          }
        case None => Iterator.single((r.media_id, -1L, 0L, -1L))
      }
    }))
  }

  /** Image-quality metrics of one real-decoded image: exact integer
    * mean-luma numerator, min-max contrast, and row-major horizontal
    * gradient mass (Σ |luma(x,y) − luma(x−1,y)|). Decode failure or a
    * non-image kind yields the loud (-1, …) sentinel row. */
  final case class ImageQa(media_id: Long, w: Long, h: Long,
      mean_luma_milli: Long, contrast: Long, grad_sum: Long)

  def imageQa(ds: Dataset[MediaRecord],
      batchSize: Int = DefaultBatchSize): Dataset[ImageQa] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(batchSize).flatMap(_.iterator.map { r =>
      Multimodal.imageIoMemCache
      val img =
        if (r.kind == "image")
          try Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.bytes)))
          catch { case _: java.io.IOException => None }
        else None
      img match {
        case Some(im) =>
          val (w, h) = (im.getWidth, im.getHeight)
          var sum = 0L; var minL = 255L; var maxL = 0L; var grad = 0L
          var y = 0
          while (y < h) {
            var x = 0
            var prev = -1L
            while (x < w) {
              val argb = im.getRGB(x, y)
              val luma = (299L * ((argb >>> 16) & 0xff) +
                587L * ((argb >>> 8) & 0xff) + 114L * (argb & 0xff)) / 1000L
              sum += luma
              if (luma < minL) minL = luma
              if (luma > maxL) maxL = luma
              if (prev >= 0L) grad += math.abs(luma - prev)
              prev = luma
              x += 1
            }
            y += 1
          }
          ImageQa(r.media_id, w.toLong, h.toLong,
            sum * 1000L / (w.toLong * h), maxL - minL, grad)
        case None => ImageQa(r.media_id, -1L, -1L, -1L, -1L, -1L)
      }
    }))
  }

  /** Batched real-WAV decode → exact integer waveform features. A record
    * whose payload fails the chunk walk yields the sentinel row
    * (media_id, −1, …) — never dropped, never stub-faked: a real decode
    * boundary reports its failures. */
  def decodeAudio(ds: Dataset[MediaRecord],
      batchSize: Int = DefaultBatchSize): Dataset[AudioFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.grouped(batchSize).flatMap(_.map { r =>
      WavCodec.decodePcm16(r.bytes) match {
        case Some((rate, pcm)) => audioFeatures(r.media_id, rate, pcm)
        case None => AudioFeatures(r.media_id, -1L, -1L, -1L, -1L, -1L, -1L, -1L)
      }
    }))
  }
}
