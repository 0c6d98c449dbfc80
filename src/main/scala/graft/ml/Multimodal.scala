package graft.ml

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing for training-data pipelines: image /
  * audio / video as opaque `binary` columns plus typed metadata,
  * processed in partition-local batches.
  *
  * The Spark-side contract (schema, partitioning, batch shape) is real
  * and tested. Decode is two-tier: [[HeaderCodec]] is a REAL pure-JVM
  * container-header parser (PNG IHDR, JPEG SOFn, GIF logical screen
  * descriptor → true width/height/format, from the published container
  * specs); payloads it doesn't recognize fall back to [[DecodeStub]],
  * which derives deterministic fake dimensions/features from the bytes
  * (this container has no full codec libraries — pixel decode, audio
  * frames). Swapping in a full codec changes only the function body,
  * never the plan shape: decode stays a narrow per-partition map (no
  * shuffle), feature vectors flow into [[Similarity]] unchanged.
  */
object Multimodal {

  /** One media asset: opaque payload + envelope metadata. */
  case class MediaRow(
      media_id: Long,
      mime: String,
      payload: Array[Byte],
      source: String)

  /** Decoded/typed metadata a real codec would produce. */
  case class MediaMeta(
      media_id: Long,
      mime: String,
      n_bytes: Int,
      width: Int,
      height: Int,
      n_frames: Int,
      duration_ms: Long)

  /** Extracted per-asset feature vector (embedding-shaped so it feeds
    * the [[Similarity]] operators directly). */
  case class MediaFeature(media_id: Long, embedding: Array[Float])

  /** Real container-header decode, pure JVM (no codec libraries):
    * extracts true (format, width, height) from the published header
    * layouts of the three ubiquitous image containers. Anything it
    * does not positively identify returns None and flows to the
    * [[DecodeStub]] fallback — a truncated or lying payload must never
    * throw inside an executor task. */
  object HeaderCodec {

    private def be32(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
        ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    private def be16(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    private def le16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

    /** PNG: 8-byte signature, then the IHDR chunk (always first):
      * 4-byte length, "IHDR", width/height as big-endian u32. */
    private def png(b: Array[Byte]): Option[(String, Int, Int)] =
      if (b.length >= 24 &&
          (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
          (b(4) & 0xff) == 0x0d && (b(5) & 0xff) == 0x0a &&
          (b(6) & 0xff) == 0x1a && (b(7) & 0xff) == 0x0a &&
          b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        Some(("png", be32(b, 16), be32(b, 20)))
      else None

    /** JPEG: FF D8 then marker segments; the frame header (SOF0-15,
      * minus DHT/JPG/DAC which share the Cx range) carries
      * [len][precision][height][width]. Walks segment lengths; bails
      * (None) on any malformed structure. */
    private def jpeg(b: Array[Byte]): Option[(String, Int, Int)] = {
      if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
        return None
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xff) != 0xff) return None
        // fill bytes: consecutive FFs pad before a marker
        while (i + 1 < b.length && (b(i + 1) & 0xff) == 0xff) i += 1
        if (i + 3 >= b.length) return None
        val marker = b(i + 1) & 0xff
        if (marker == 0xd9 || marker == 0xda) return None // EOI / SOS: no frame header seen
        val len = be16(b, i + 2)
        if (len < 2 || i + 2 + len > b.length) return None
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          if (len < 7) return None
          return Some(("jpeg", be16(b, i + 7), be16(b, i + 5)))
        }
        i += 2 + len
      }
      None
    }

    /** GIF: "GIF87a"/"GIF89a" then the logical screen descriptor's
      * little-endian u16 width/height. */
    private def gif(b: Array[Byte]): Option[(String, Int, Int)] =
      if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
          b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
        Some(("gif", le16(b, 6), le16(b, 8)))
      else None

    /** (format, width, height) if the payload starts with a recognized
      * image container header. */
    def imageHeader(b: Array[Byte]): Option[(String, Int, Int)] =
      try png(b).orElse(jpeg(b)).orElse(gif(b))
      catch { case _: IndexOutOfBoundsException => None }

    /** Full decode: real header metadata when recognized (the detected
      * format overrides the envelope mime — headers don't lie,
      * envelopes do), stub pseudo-decode otherwise. Audio WAV decode is
      * REAL end-to-end ([[AudioCodec]]): header fields from the RIFF
      * chunks, duration from the data-chunk length. */
    def decode(r: MediaRow): MediaMeta =
      imageHeader(r.payload) match {
        case Some((fmt, w, h)) =>
          MediaMeta(r.media_id, s"image/$fmt", r.payload.length,
            width = w, height = h, n_frames = 1, duration_ms = 0L)
        case None => AudioCodec.decode(r).getOrElse(DecodeStub.decode(r))
      }
  }

  /** REAL audio decode for the one container the JVM handles natively:
    * RIFF/WAVE PCM via the JDK's javax.sound.sampled (java.desktop) —
    * no external codec library. Header metadata (channels, sample
    * rate, bit depth, duration) comes from a manual RIFF chunk walk
    * (the published container layout: "RIFF"…"WAVE", "fmt " chunk
    * le16/le32 fields, "data" chunk length), and feature extraction
    * DECODES THE ACTUAL SAMPLES through AudioSystem into an RMS energy
    * envelope — a genuine audio feature, embedding-shaped so it flows
    * into [[Similarity]] exactly like the stub vectors. Anything
    * non-WAV (or malformed) returns None and falls through to
    * [[DecodeStub]]; a lying payload must never throw in an executor. */
  object AudioCodec {

    private def le16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

    final case class WavHeader(channels: Int, sampleRate: Int,
        bitsPerSample: Int, dataBytes: Long) {
      def frames: Long =
        if (channels == 0 || bitsPerSample == 0) 0L
        else dataBytes / (channels.toLong * (bitsPerSample / 8).max(1))
      def durationMs: Long =
        if (sampleRate == 0) 0L else frames * 1000L / sampleRate
    }

    /** RIFF chunk walk: "RIFF"<sz>"WAVE", then aligned (id, le32 size)
      * chunks; "fmt " yields the format fields, "data" the payload
      * length. None unless both chunks parse and the format is PCM or
      * IEEE float (codes 1 / 3 — what javax.sound decodes too). */
    def wavHeader(b: Array[Byte]): Option[WavHeader] = {
      if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
          b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
      var i = 12
      var fmt: Option[(Int, Int, Int, Int)] = None // code, channels, rate, bits
      var dataLen: Option[Long] = None
      try {
        while (i + 8 <= b.length && (fmt.isEmpty || dataLen.isEmpty)) {
          val id = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
          val size = le32(b, i + 4)
          if (id == "fmt " && size >= 16 && i + 8 + 16 <= b.length)
            fmt = Some((le16(b, i + 8), le16(b, i + 10),
              le32(b, i + 12).toInt, le16(b, i + 22)))
          if (id == "data") dataLen = Some(size)
          // chunks are word-aligned: odd sizes carry a pad byte.
          // Advance in LONG space: a lying 32-bit size near 2^32
          // truncated through toInt went negative, and `i += 8 - 8`
          // could leave i STATIONARY — an infinite loop inside an
          // executor task, strictly worse than the throw this walk
          // exists to avoid. le32 is non-negative, so the long step
          // is always >= 8 (guaranteed progress); anything stepping
          // past Int.MaxValue is a lying header on a <2 GiB payload.
          val next = i.toLong + 8L + size + (size % 2)
          if (next > Int.MaxValue.toLong) return None
          i = next.toInt
        }
      } catch { case _: IndexOutOfBoundsException => return None }
      for {
        (code, ch, rate, bits) <- fmt
        dl <- dataLen
        if (code == 1 || code == 3) && ch > 0 && rate > 0 && bits > 0
      } yield WavHeader(ch, rate, bits, dl)
    }

    /** Minimal 16-bit PCM mono WAV writer — the synthesis half of the
      * audio fixtures (q127, AudioSpec): samples clamp to int16 and
      * land little-endian after a canonical 44-byte RIFF header.
      * Round-trips through [[wavHeader]], [[energyEnvelope]] and
      * [[windowEnergySums]]. */
    def pcmWav(samples: Array[Int], sampleRate: Int = 8000): Array[Byte] = {
      val dataBytes = samples.length * 2
      val out = java.nio.ByteBuffer.allocate(44 + dataBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(sampleRate).putInt(sampleRate * 2)
        .putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataBytes)
      samples.foreach(s =>
        out.putShort(s.max(Short.MinValue).min(Short.MaxValue).toShort))
      out.array()
    }

    /** EXACT integer window-energy vector over a 16-bit PCM MONO WAV:
      * element w = Σ s_i² over the samples whose window is w under the
      * [[energyEnvelope]] rule w = i·dim/n (integer division) — pure
      * long arithmetic on the raw little-endian samples, byte-parsed
      * with the same RIFF chunk walk as [[wavHeader]]. This is the
      * integer-exact core energyEnvelope peak-normalizes into floats:
      * floats cannot carry a cross-engine-exact oracle, these longs
      * can (q127 — the q71 exactness discipline applied to audio).
      * None for anything that isn't PCM(1) 16-bit mono, or with a
      * data chunk lying about its length. */
    def windowEnergySums(b: Array[Byte], dim: Int): Option[Array[Long]] = {
      require(dim > 0, s"dim must be positive, got $dim")
      if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
          b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
      var i = 12
      var fmt: Option[(Int, Int, Int)] = None // code, channels, bits
      var data: Option[(Int, Int)] = None // offset, bytes
      try {
        while (i + 8 <= b.length && (fmt.isEmpty || data.isEmpty)) {
          val id = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
          val size = le32(b, i + 4)
          if (id == "fmt " && size >= 16 && i + 8 + 16 <= b.length)
            fmt = Some((le16(b, i + 8), le16(b, i + 10), le16(b, i + 22)))
          if (id == "data") data = Some((i + 8, size.toInt))
          val next = i.toLong + 8L + size + (size % 2)
          if (next > Int.MaxValue.toLong) return None
          i = next.toInt
        }
      } catch { case _: IndexOutOfBoundsException => return None }
      (fmt, data) match {
        case (Some((1, 1, 16)), Some((off, len)))
            if len >= 2 && off + len <= b.length =>
          val n = len / 2
          val acc = new Array[Long](dim)
          var k = 0
          while (k < n) {
            val lo = b(off + 2 * k) & 0xff
            val hi = b(off + 2 * k + 1)
            val s = ((hi << 8) | lo).toShort.toLong
            acc((k.toLong * dim / n).toInt.min(dim - 1)) += s * s
            k += 1
          }
          Some(acc)
        case _ => None
      }
    }

    def decode(r: MediaRow): Option[MediaMeta] =
      wavHeader(r.payload).map { h =>
        MediaMeta(r.media_id, "audio/wav", r.payload.length,
          width = 0, height = 0,
          // n_frames = PCM frames (samples per channel) — the audio
          // analog of the video frame count
          n_frames = h.frames.min(Int.MaxValue).toInt,
          duration_ms = h.durationMs)
      }

    /** REAL feature extraction: decode the PCM samples with
      * javax.sound's AudioSystem and compute a `dim`-window RMS energy
      * envelope, peak-normalized — the classic first audio feature
      * (how loudness evolves over the clip). Mono-mixes multi-channel
      * input. None for anything AudioSystem can't decode. */
    def energyEnvelope(payload: Array[Byte], dim: Int = 16): Option[Array[Float]] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val f = in.getFormat
          if (f.getSampleSizeInBits != 16 &&
              f.getSampleSizeInBits != 8) return None
          val bytes = in.readAllBytes()
          val bytesPerSample = f.getSampleSizeInBits / 8
          val frameBytes = bytesPerSample * f.getChannels
          val nFrames = bytes.length / frameBytes.max(1)
          if (nFrames == 0) return None
          val env = new Array[Double](dim)
          val counts = new Array[Long](dim)
          var fr = 0
          while (fr < nFrames) {
            // mono mix of this frame
            var acc = 0.0
            var c = 0
            while (c < f.getChannels) {
              val off = fr * frameBytes + c * bytesPerSample
              val s =
                if (bytesPerSample == 2) {
                  val lo = bytes(off + (if (f.isBigEndian) 1 else 0)) & 0xff
                  val hi = bytes(off + (if (f.isBigEndian) 0 else 1))
                  ((hi << 8) | lo).toShort / 32768.0
                } else // 8-bit WAV PCM is unsigned
                  ((bytes(off) & 0xff) - 128) / 128.0
              acc += s
              c += 1
            }
            val sample = acc / f.getChannels
            val w = (fr.toLong * dim / nFrames).toInt.min(dim - 1)
            env(w) += sample * sample
            counts(w) += 1
            fr += 1
          }
          val rms = env.indices.map(i =>
            if (counts(i) == 0) 0.0 else math.sqrt(env(i) / counts(i)))
          val peak = rms.max
          Some(rms.map(v => if (peak == 0) 0f else (v / peak).toFloat).toArray)
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** STUB codec: deterministic pseudo-decode from the payload bytes,
    * the fallback for containers [[HeaderCodec]] doesn't parse (full
    * pixel/audio decode needs codec libraries this container lacks) —
    * the call site and batch shape are identical. */
  object DecodeStub {
    def decode(r: MediaRow): MediaMeta = {
      val n = r.payload.length
      val h = java.util.Arrays.hashCode(r.payload)
      MediaMeta(r.media_id, r.mime, n,
        width = 64 + math.floorMod(h, 512),
        height = 64 + math.floorMod(h / 512, 512),
        n_frames = if (r.mime.startsWith("video")) 1 + math.floorMod(h, 240) else 1,
        duration_ms = if (r.mime.startsWith("image")) 0L else math.floorMod(h.toLong, 30000L))
    }

    /** Fake feature extraction: a 16-dim float vector from a rolling
      * byte hash — stands in for a CNN/audio embedding. */
    def features(r: MediaRow, dim: Int = 16): MediaFeature = {
      val v = new Array[Float](dim)
      var acc = 1125899906842597L
      var i = 0
      while (i < r.payload.length) {
        acc = 31L * acc + (r.payload(i) & 0xff)
        if (i % 7 == 0) v(math.floorMod(acc, dim.toLong).toInt) += (acc % 1000L) / 1000f
        i += 1
      }
      MediaFeature(r.media_id, v)
    }
  }

  /** Synthesize a media table from the documents corpus (utf-8 payload
    * bytes) so the plumbing is exercisable without real assets. */
  def fakeMediaTable(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
        (col("doc_id") % 3 + 1).cast("int")).as("mime"),
      encode(col("text"), "utf-8").as("payload"),
      col("source"))
      .as[MediaRow]
  }

  /** Decode stage: partition-local batched map — the Scala analog of a
    * `mapInPandas` decode UDF. Batch shape = one iterator per parquet
    * row-group-sized partition; no shuffle, codegen resumes after.
    * Real header decode for PNG/JPEG/GIF payloads, stub fallback for
    * the rest ([[HeaderCodec.decode]]). */
  def decodeMeta(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(HeaderCodec.decode))
  }

  /** Feature-extract stage, same batch shape as [[decodeMeta]]: WAV
    * payloads get the REAL decoded-sample energy envelope
    * ([[AudioCodec.energyEnvelope]]); everything else the stub vector.
    * Either way one narrow per-partition map, dim-stable output. */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 16): Dataset[MediaFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      AudioCodec.energyEnvelope(r.payload, dim)
        .map(MediaFeature(r.media_id, _))
        .getOrElse(DecodeStub.features(r, dim))
    })
  }

  /** Frame sampling plan: every `stride`-th frame index per video —
    * pure relational explode, the real frame decode would map over
    * (media_id, frame_idx) with the payload joined back in. */
  def frameSamplePlan(meta: Dataset[MediaMeta], stride: Int): DataFrame =
    meta.toDF()
      .filter(col("n_frames") > 1)
      .select(col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))

  /** Perceptual image hashing over REAL decoded pixels (r12) — the
    * multimodal member of the dedup family: aHash (average hash) and
    * dHash (gradient hash), the published perceptual-dedup recipes
    * (downscale → grayscale → threshold → 64-bit signature; two
    * re-encodes/resizes of the same picture land within a few bits,
    * unrelated pictures ~32 bits apart). Decode is the JDK's pure-JVM
    * `javax.imageio` (PNG/JPEG/GIF/BMP — no external codec library),
    * so unlike [[DecodeStub]] this path reads actual pixels
    * end-to-end. Anything ImageIO cannot decode returns None and is
    * simply absent from the signature table — a truncated or lying
    * payload must never throw inside an executor task. */
  object PerceptualHash {

    /** `gw`×`gh` box-averaged luminance grid (BT.601 weights) — the
      * downscale step. Every source pixel lands in exactly one box,
      * so the grid is exact for any image size (no resampling kernel
      * to disagree about); row-major, values 0..255. */
    def grayGrid(img: java.awt.image.BufferedImage, gw: Int, gh: Int): Array[Double] = {
      val w = img.getWidth
      val h = img.getHeight
      val sum = new Array[Double](gw * gh)
      val cnt = new Array[Int](gw * gh)
      var y = 0
      while (y < h) {
        val gy = ((y.toLong * gh) / h).toInt.min(gh - 1)
        var x = 0
        while (x < w) {
          val gx = ((x.toLong * gw) / w).toInt.min(gw - 1)
          val rgb = img.getRGB(x, y)
          val lum = 0.299 * ((rgb >> 16) & 0xff) +
            0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
          sum(gy * gw + gx) += lum
          cnt(gy * gw + gx) += 1
          x += 1
        }
        y += 1
      }
      Array.tabulate(gw * gh)(i => if (cnt(i) == 0) 0.0 else sum(i) / cnt(i))
    }

    /** aHash bit rule: '1' where the cell is >= the grid mean. Bit
      * strings (not packed longs) are the repo-wide signature format —
      * they flow through the codegen'd [[graft.plans.BitHamming]]
      * exactly like the q33 simhash signatures. */
    def aHashBits(grid: Array[Double]): String = {
      val mean = grid.sum / grid.length
      val sb = new java.lang.StringBuilder(grid.length)
      grid.foreach(v => sb.append(if (v >= mean) '1' else '0'))
      sb.toString
    }

    /** dHash bit rule over a (gw+1)×gh grid: '1' where a cell is
      * brighter going right — per published recipe, row-wise gradient
      * signs, gw bits per row. */
    def dHashBits(grid: Array[Double], gw: Int): String = {
      val cols = gw + 1
      val rows = grid.length / cols
      val sb = new java.lang.StringBuilder(gw * rows)
      var r = 0
      while (r < rows) {
        var c = 0
        while (c < gw) {
          sb.append(if (grid(r * cols + c) < grid(r * cols + c + 1)) '1' else '0')
          c += 1
        }
        r += 1
      }
      sb.toString
    }

    /** Decode + both signatures: (ahash 64 bits from an 8×8 grid,
      * dhash 64 bits from a 9×8 grid). None when ImageIO cannot
      * positively decode the payload. */
    def ofImage(payload: Array[Byte]): Option[(String, String)] =
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
        else Some((
          aHashBits(grayGrid(img, 8, 8)),
          dHashBits(grayGrid(img, 9, 8), gw = 8)))
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Per-image perceptual signatures. */
  case class ImageSig(media_id: Long, ahash: String, dhash: String)

  /** Signature stage: same narrow partition-local batch shape as
    * [[decodeMeta]] — payloads that decode emit one row, the rest are
    * dropped (the caller's media table keeps them; only the dedup
    * family ignores what it cannot see). No shuffle; at 100 TB the
    * decode cost is embarrassingly parallel and the output is ~16
    * bytes/asset of signature, the table the pair join actually
    * reads. */
  def imageSignatures(media: Dataset[MediaRow]): Dataset[ImageSig] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap(r =>
      PerceptualHash.ofImage(r.payload).map { case (a, d) =>
        ImageSig(r.media_id, a, d) }))
  }

  /** Near-duplicate pairs among equal-length bit-string signatures:
    * banded hamming-LSH candidate generation + codegen
    * [[graft.plans.BitHamming]] verify — `(id_a, id_b, hamming)` with
    * hamming <= maxDist, a < b. EXACT by pigeonhole: the signature is
    * split into `bands` equal substrings and two signatures within
    * hamming distance bands-1 must agree on at least one whole band,
    * so the (band_idx, band_key) equi-join generates every qualifying
    * pair — `require(bands > maxDist)` enforces the precondition
    * instead of silently under-recalling. Scale shape: candidates are
    * bounded by band-bucket population (the q34/BandIndex blocking
    * pattern), never all-pairs; the join carries the two 64-char
    * signatures only, and the verify is one codegen'd byte-compare
    * loop per candidate. */
  def hammingNearDupPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxDist: Int, bands: Int): DataFrame = {
    require(bands > maxDist,
      s"pigeonhole exactness needs bands > maxDist, got $bands <= $maxDist")
    // same per-row banding precondition as the stored-index form
    // (SigIndex.checkedSig, r12 advice): a length not divisible by
    // `bands` truncates tail bits out of every band key, and
    // len < bands degenerates the candidate join to all-pairs
    val s = sigs.select(col(idCol).as("_id"),
      SigIndex.checkedSig(col(sigCol), bands).as("_sig"))
    val bandLen = (length(col("_sig")) / bands).cast("int")
    val banded = s
      .select(col("_id"), col("_sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          i => col("_sig").substr(i * bandLen + 1, bandLen))))
      .select(col("_id"), col("_sig"), col("pos").as("band"),
        col("col").as("key"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        col("a._sig").as("sig_a"), col("b._sig").as("sig_b"))
      .distinct() // a pair sharing several bands is one candidate
    cand
      .withColumn("hamming",
        graft.plans.BitHamming(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** The aHash bit rule in Column space over an INTEGER grid, exact
    * integer compare (the q71 emission contract — no float mean):
    * bit_i = grid[i] * N >= total. `total` is taken as a separate
    * column so callers project it once instead of re-summing the grid
    * per lambda element (the higher-order-function re-evaluation trap,
    * CLAUDE.md). Shared semantics with [[PerceptualHash.aHashBits]]:
    * for integer-valued grids the two agree bit-for-bit (mean
    * division by a power-of-two cell count is exact in double), which
    * MlSpec pins differentially — the q119 oracle gates this rule +
    * the banded pair math end-to-end in DuckDB. */
  def aHashBitsCol(grid: org.apache.spark.sql.Column,
      total: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws("",
      transform(grid, v =>
        when(v * size(grid) >= total, lit("1")).otherwise(lit("0"))))
}
