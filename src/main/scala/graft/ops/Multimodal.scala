package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns for a training-data pipeline: image/audio/video
  * payloads ride as opaque `binary` columns beside typed metadata;
  * decode / resize / frame-sample / feature-extract run as partition-wise
  * batch maps (`mapPartitions` over typed Datasets — the JVM analog of
  * arrow-batched Python UDFs: one iterator per partition, codec state
  * reused across the whole batch, never per-row setup).
  *
  * Decode runs behind the [[Codec]] contract with TWO implementations:
  * [[StubCodec]], a deterministic byte-hash fake (the oracle-gated twin
  * — reproducible by any engine, which is what lets the x5 registry
  * entries carry DuckDB oracles), and [[ImageIoCodec]], a REAL decoder
  * on the JDK's own javax.imageio (PNG/BMP, zero dependencies,
  * headless-safe). Schema, partitioning, operator signatures and batch
  * shape are codec-independent and tested against both; audio/video
  * codecs (ffmpeg bindings) slot in the same way.
  *
  * Scale: payload bytes never shuffle except where the plan says so —
  * decode/resize/extract are narrow maps; metadata-only queries prune
  * the binary column at the scan (tested in MultimodalSpec).
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  case class Media(media_id: Long, kind: String, bytes: Array[Byte],
      width: Int, height: Int, n_frames: Int)

  /** Decoded frame: pixel plane + provenance. */
  case class Frame(media_id: Long, frame_no: Int, width: Int, height: Int,
      pixels: Array[Byte])

  /** Extracted feature vector per media item. */
  case class MediaFeature(media_id: Long, kind: String,
      feature: Array[Float])

  /** A decoded single-channel plane with its TRUE dimensions. A real
    * codec reads width/height out of the payload; the stub trusts the
    * declared metadata — the contract covers both. */
  case class Plane(width: Int, height: Int, pixels: Array[Byte])

  /** The codec contract [[decodeFrames]] / [[extractFeatures]] run
    * behind: payload bytes in, grayscale plane out. Implementations are
    * Serializable objects shipped in the task closure; per-partition
    * mutable state (stream readers, native handles) belongs inside
    * `mapPartitions`, constructed once per iterator — see decodeFrames.
    * Swapping the codec changes PIXELS, not the operator plumbing:
    * schema, partitioning, and batch shape are codec-independent. */
  trait Codec extends Serializable {
    /** Decode one payload into a grayscale plane. `declaredWidth` /
      * `declaredHeight` are the metadata-column dims — a hint the stub
      * honors and a real codec ignores in favor of the payload's own
      * header. Must throw (not return garbage) on undecodable bytes. */
    def decodePlane(bytes: Array[Byte], declaredWidth: Int,
        declaredHeight: Int): Plane
  }

  /** Deterministic stand-in for a real codec. Every output is a pure
    * function of (bytes, dims) so tests are reproducible. */
  object StubCodec extends Codec {
    override def decodePlane(bytes: Array[Byte], declaredWidth: Int,
        declaredHeight: Int): Plane =
      Plane(declaredWidth, declaredHeight,
        decode(bytes, declaredWidth, declaredHeight))

    /** STUB decode: fake pixel plane seeded by a rolling byte hash. */
    def decode(bytes: Array[Byte], width: Int, height: Int): Array[Byte] =
      decodeSeeded(bytes, width, height, None)

    /** [[decode]] of `bytes :+ seed` WITHOUT materializing the copy:
      * the rolling hash folds the trailing seed byte after the payload
      * loop — bit-identical output, and the frame-sampling generator
      * no longer allocates a payload-sized array per emitted frame. */
    def decodeSeeded(bytes: Array[Byte], width: Int, height: Int,
        seed: Option[Byte]): Array[Byte] = {
      val out = new Array[Byte](width * height)
      var h = 1125899906842597L
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      seed.foreach(b => h = 31 * h + b)
      i = 0
      while (i < out.length) { h = h * 6364136223846793005L + 1442695040888963407L
        out(i) = (h >>> 56).toByte; i += 1 }
      out
    }

    /** Nearest-neighbor resize on a decoded plane — real arithmetic,
      * works unchanged on real pixels. */
    def resize(pixels: Array[Byte], w: Int, h: Int, outW: Int,
        outH: Int): Array[Byte] = {
      val out = new Array[Byte](outW * outH)
      var y = 0
      while (y < outH) {
        val sy = y * h / outH
        var x = 0
        while (x < outW) { out(y * outW + x) = pixels(sy * w + x * w / outW)
          x += 1 }
        y += 1
      }
      out
    }

    /** STUB feature extraction: 8-dim moment-style summary of the
      * plane (mean/extremes/quadrant means) — deterministic, and the
      * right output shape for the downstream similarity operators. */
    def features(pixels: Array[Byte]): Array[Float] = {
      if (pixels.isEmpty) return new Array[Float](8)
      val q = math.max(pixels.length / 4, 1)
      val sums = new Array[Long](4)
      var mn = 255; var mx = 0; var total = 0L
      var i = 0
      while (i < pixels.length) {
        val v = pixels(i) & 0xff
        total += v; mn = math.min(mn, v); mx = math.max(mx, v)
        sums(math.min(i / q, 3)) += v
        i += 1
      }
      Array(total.toFloat / pixels.length, mn.toFloat, mx.toFloat,
        (mx - mn).toFloat,
        sums(0).toFloat / q, sums(1).toFloat / q,
        sums(2).toFloat / q, sums(3).toFloat / q)
    }
  }

  /** REAL codec: the JDK's own `javax.imageio.ImageIO` (PNG/BMP here —
    * the formats MultimodalSpec exercises; the JDK registry also ships
    * GIF/JPEG readers that resolve through the same call, untested in
    * this repo. Zero new dependencies, headless-safe: pure raster
    * decode, no display). Dimensions come from the payload's header,
    * NOT the metadata columns; pixels are ITU-R 601 luma of the decoded
    * RGB. Deterministic: same bytes → same plane, on any JVM that ships
    * the standard PNG reader. This is the "real-world swap" the stub's
    * contract promises — [[decodeFrames]]/[[extractFeatures]] run it
    * unchanged (MultimodalSpec drives decode→resize→features→top-k on
    * real PNG payloads through it). Priced (round 15, local[8], warm,
    * 4000 64×48 PNGs through decodeFrames): ~14k imgs/s vs the stub's
    * ~22k — real PNG inflate+luma costs ~1.5× the LCG fake at this
    * plane size, i.e. ~1.8k imgs/s/core, scan-parallel at cluster
    * scale like every other narrow map here. Scaling point (round 16,
    * local[32] media rows, CHANGELOG, SURVEY §7.4b): 40k→200k PNGs
    * decode in 1.3→10.2 s (~29k→20k imgs/s; the throughput dip is
    * encoder/GC cost of full-pixel Frame output rows, not decode —
    * the features path with small output rows scales 0.6→2.2 s,
    * near-linear). */
  object ImageIoCodec extends Codec {
    override def decodePlane(bytes: Array[Byte], declaredWidth: Int,
        declaredHeight: Int): Plane = {
      // Explicit MEMORY-cache stream: ImageIO.read(InputStream) defaults
      // to a FileCacheImageInputStream — a temp file in java.io.tmpdir
      // PER DECODE (per-image disk I/O inside a hot narrow map, and a
      // hard failure on executors with an unwritable tmpdir). The
      // payload is already a byte array; cache it in memory.
      // ImageIO.read(ImageInputStream) closes the stream itself.
      val img = javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes)))
      require(img != null,
        s"undecodable payload (${bytes.length} bytes): no ImageIO reader")
      val w = img.getWidth; val h = img.getHeight
      // bulk getRGB — one array copy per image, not a per-pixel call
      val rgb = img.getRGB(0, 0, w, h, null, 0, w)
      val out = new Array[Byte](w * h)
      var i = 0
      while (i < out.length) {
        val p = rgb(i)
        out(i) = ((((p >> 16) & 0xff) * 299 + ((p >> 8) & 0xff) * 587 +
          (p & 0xff) * 114) / 1000).toByte
        i += 1
      }
      Plane(w, h, out)
    }
  }

  /** A deterministic media table derived from `documents` — text bytes
    * as payload, dims derived from length. Stands in for a real
    * (id, bytes, meta) parquet/blob-store table. */
  def mediaFromDocuments(docs: DataFrame): Dataset[Media] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        col("text").cast("binary").as("bytes"),
        (col("n_chars") % 64 + 1).cast("int").as("width"),
        (col("n_chars") % 48 + 1).cast("int").as("height"),
        (col("doc_id") % 7 + 1).cast("int").as("n_frames"))
      .as[Media]
  }

  /** Decode every item to frame 0 — one codec per PARTITION, reused
    * across its whole iterator (the batch shape that matters when the
    * real codec costs ~100ms to construct). Frame dims are the CODEC's
    * (real codecs read them from the payload header). */
  def decodeFrames(media: Dataset[Media],
      codec: Codec = StubCodec): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition codec state (native handles, readers) goes HERE,
      // once per iterator; the Codec object itself is a shared singleton
      it.map { m =>
        val p = codec.decodePlane(m.bytes, m.width, m.height)
        Frame(m.media_id, 0, p.width, p.height, p.pixels)
      }
    }
  }

  /** Frame-sample videos: emit n_frames frames per item (generator
    * shape — one input row, many output rows). */
  def sampleFrames(media: Dataset[Media], maxFrames: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      (0 until math.min(m.n_frames, maxFrames)).iterator.map(f =>
        Frame(m.media_id, f, m.width, m.height,
          StubCodec.decodeSeeded(m.bytes, m.width, m.height,
            Some(f.toByte))))
    }
  }

  /** Resize decoded frames to a fixed plane. */
  def resizeFrames(frames: Dataset[Frame], outW: Int,
      outH: Int): Dataset[Frame] = {
    import frames.sparkSession.implicits._
    frames.mapPartitions(_.map(f => Frame(f.media_id, f.frame_no, outW, outH,
      StubCodec.resize(f.pixels, f.width, f.height, outW, outH))))
  }

  /** Feature-extract per media item: decode → fixed-dim Array[Float],
    * ready for the Similarity operators (cosine top-k / near-dup). The
    * moment summary ([[StubCodec.features]]) is plain plane arithmetic —
    * codec-independent, so it runs unchanged on real decoded pixels. */
  def extractFeatures(media: Dataset[Media],
      codec: Codec = StubCodec): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      MediaFeature(m.media_id, m.kind,
        StubCodec.features(
          codec.decodePlane(m.bytes, m.width, m.height).pixels))
    })
  }

  /** [[extractFeatures]] with a PORTABLE stub: 8 integer-valued dims
    * from the payload's md5 (16-bit windows of the digest), instead of
    * the LCG plane summary — deterministic like the LCG stub, but
    * reproducible by any engine with md5 over the same bytes, which is
    * what lets x5_media_features carry a full DuckDB oracle. The
    * Spark-side plumbing is identical and REAL: binary column in, one
    * codec ("digest") constructed per PARTITION and reused across its
    * iterator — the batch shape a ~100ms-construction real codec
    * needs — typed Dataset[MediaFeature] out. */
  def extractFeaturesPortable(media: Dataset[Media]): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.map { m =>
        val d = digest.digest(m.bytes)
        val f = Array.tabulate(8)(j =>
          (((d(2 * j) & 0xff) << 8) | (d(2 * j + 1) & 0xff)).toFloat)
        MediaFeature(m.media_id, m.kind, f)
      }
    }
  }

  /** Metadata-only projection — must NOT read payload bytes at the scan
    * (column pruning on the binary column; asserted in MultimodalSpec). */
  def metadata(media: Dataset[Media]): DataFrame =
    media.toDF().select(col("media_id"), col("kind"),
      col("width"), col("height"), col("n_frames"))
}
