package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Multimodal-column plumbing (SURVEY §2.9): media payloads as opaque
  * `binary` columns with a typed metadata struct, plus partition-wise
  * decode / resize / frame-sample stages.
  *
  * The decode path is REAL: fixtures are deterministic pixel grids
  * (`pixel(d,x,y) = (31·d + 7·x + 13·y) mod 256`, [[ImageFixture]])
  * encoded to actual PNG / BMP bytes with the JDK's `javax.imageio`
  * writer, and every downstream stage decodes those bytes back to pixels
  * with `ImageIO.read` before computing anything. Both formats are
  * lossless for the 24-bit grayscale-as-RGB grids used here, so the
  * DuckDB oracle can verify the whole encode→decode→aggregate chain by
  * replaying the pixel formula — any codec corruption, channel swap, or
  * row-order bug changes the hashes.
  *
  * Video is real too: [[VideoFixture]] writes one animated GIF per
  * document (full frames, 8-bit gray — lossless in GIF's 256-entry
  * palette) and [[GifFrameDecoder]] walks the container frame-by-frame
  * with the JDK GIF `ImageReader`, so temporal frame sampling (q112)
  * operates on a genuinely multi-frame decoded container.
  *
  * [[FakeDecoder]] remains only as the documented fallback for payload
  * formats the JDK cannot decode (webp, modern video codecs): it computes
  * byte statistics without decoding, preserving pipeline shape. A spec
  * proves the real and formula paths agree pixel-for-pixel on every
  * fixture.
  *
  * Scale notes: payloads stay opaque binary end-to-end (no base64 round
  * trips); encode and decode run inside `mapPartitions` so per-partition
  * initialization (a real native codec context) amortizes across the
  * batch; outputs are fixed-width numeric columns. The pixel grids are
  * deliberately small (≤ 15×13) so the oracle replay stays cheap — the
  * plan shape is size-independent.
  */
object Multimodal extends graft.QueryModule {

  // ---------------------------------------------------------------------
  // Image fixtures: deterministic pixels, real codecs
  // ---------------------------------------------------------------------

  /** An encoded media asset: real PNG/BMP bytes + typed metadata (the
    * reference keeps all metadata as flat typed columns after flattening,
    * `data_extractor.py:40-57` — same convention here). */
  case class ImageAsset(
      doc_id: Long,
      payload: Array[Byte],
      format: String,
      width: Int,
      height: Int)

  /** A decoded image: row-major 8-bit gray values. */
  case class PixelImage(width: Int, height: Int, gray: Array[Int])

  /** Deterministic image fixtures. `pixel` is the single source of truth
    * for the grid content; the DuckDB oracle replays the same formula, so
    * the decoded output of the real codec round-trip is fully verifiable. */
  object ImageFixture {
    /** Gray value at (x, y) for document `d` — pure integer, ≥ 0. */
    def pixel(d: Long, x: Int, y: Int): Int =
      ((31L * d + 7L * x + 13L * y) % 256L).toInt

    /** Fixture dimensions derived from document metadata (small on
      * purpose: the oracle replays every pixel). */
    def dims(nChars: Long): (Int, Int) =
      (8 + (nChars % 8).toInt, 8 + (nChars % 6).toInt)

    /** Alternate PNG and BMP — both JDK-writable and lossless here. */
    def format(docId: Long): String = if (docId % 2 == 0) "png" else "bmp"

    def grid(d: Long, w: Int, h: Int): PixelImage = {
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { px(y * w + x) = pixel(d, x, y); x += 1 }
        y += 1
      }
      PixelImage(w, h, px)
    }

    /** Real encode: gray stored as 24-bit RGB (r=g=b) so both PNG and BMP
      * round-trip the exact values. Bulk setRGB — the per-pixel call
      * pays a color-model conversion per invocation. */
    def encode(img: PixelImage, fmt: String): Array[Byte] = {
      val bi = new BufferedImage(img.width, img.height, BufferedImage.TYPE_INT_RGB)
      val rgb = new Array[Int](img.gray.length)
      var i = 0
      while (i < rgb.length) {
        val g = img.gray(i)
        rgb(i) = (g << 16) | (g << 8) | g
        i += 1
      }
      bi.setRGB(0, 0, img.width, img.height, rgb, 0, img.width)
      val bos = new ByteArrayOutputStream()
      if (!ImageIO.write(bi, fmt, bos))
        throw new IllegalArgumentException(s"no JDK writer for format: $fmt")
      bos.toByteArray
    }
  }

  /** Real decode via `javax.imageio`. Returns None when no registered
    * reader handles the payload (e.g. webp) — callers fall back to
    * [[FakeDecoder]] byte statistics for those. */
  object ImageIoDecoder {
    def decode(payload: Array[Byte]): Option[PixelImage] = {
      val bi = ImageIO.read(new ByteArrayInputStream(payload))
      if (bi == null) None
      else {
        val w = bi.getWidth
        val h = bi.getHeight
        // bulk getRGB — one raster read instead of w·h color-model calls
        val px = bi.getRGB(0, 0, w, h, null, 0, w)
        var i = 0
        while (i < px.length) { px(i) = px(i) & 0xff; i += 1 }
        Some(PixelImage(w, h, px))
      }
    }
  }

  /** Build the image-asset table: one deterministic PNG/BMP per document,
    * encoded with the real JDK codec inside `mapPartitions`. The encoded
    * table is a corpus artifact, not a per-query temporary — q33/q50/q51
    * all start from it, so it is built once per (corpus dir, content
    * version) via [[SignatureStage]] and shared, exactly like the dedup
    * family's shingle tables. At 100 TB the encode pass is the dominant
    * cost of the family; staging turns three passes into one. */
  def imageAssets(spark: SparkSession, dir: String): Dataset[ImageAsset] = {
    import spark.implicits._
    // fanout on BOTH sides of the stage: the build so the one-time
    // encode pass uses every core, and the staged READ because small
    // staged files pack back into few scan partitions
    // (files.maxPartitionBytes packs by size) while the decode passes
    // downstream are the family's dominant per-row cost (Tables.fanout)
    Tables.fanout(spark, SignatureStage.stage(spark, dir, "image_assets") {
      Tables.fanout(spark, Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars")))
        .as[(Long, Long)]
        .mapPartitions { it =>
          // one codec context per partition; ImageIO registry lookup and
          // stream allocation amortize across the batch
          it.map { case (docId, nChars) =>
            val (w, h) = ImageFixture.dims(nChars)
            val fmt = ImageFixture.format(docId)
            val bytes = ImageFixture.encode(ImageFixture.grid(docId, w, h), fmt)
            ImageAsset(docId, bytes, fmt, w, h)
          }
        }.toDF()
    }.as[ImageAsset])
  }

  case class DecodedImage(
      doc_id: Long,
      format: String,
      width: Int,
      height: Int,
      n_pixels: Long,
      sum_gray: Long)

  /** Partition-wise REAL decode: `ImageIO.read` on the payload bytes,
    * stats from the decoded raster. Fails loudly if a generated payload
    * doesn't decode — silent fallback would mask codec breakage. */
  def decodeImages(assets: Dataset[ImageAsset]): Dataset[DecodedImage] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val img = ImageIoDecoder.decode(a.payload).getOrElse(
          throw new IllegalStateException(s"payload for doc ${a.doc_id} (${a.format}) did not decode"))
        DecodedImage(a.doc_id, a.format, img.width, img.height,
          img.gray.length.toLong, img.gray.foldLeft(0L)(_ + _))
      }
    }
  }

  case class ResizedImage(
      doc_id: Long,
      format: String,
      out_w: Int,
      out_h: Int,
      n_pixels: Long,
      out_pixels: Long,
      sum_sampled: Long)

  /** Decode + nearest-neighbor resize into a `box`×`box` target with one
    * integer scale denominator: out(x, y) = in(x·den, y·den) on the REAL
    * decoded raster. Integer geometry → oracle-exact. */
  def resizeImages(assets: Dataset[ImageAsset], box: Int = 8): Dataset[ResizedImage] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val img = ImageIoDecoder.decode(a.payload).getOrElse(
          throw new IllegalStateException(s"payload for doc ${a.doc_id} (${a.format}) did not decode"))
        val den = math.max(1, (math.max(img.width, img.height) + box - 1) / box)
        val outW = math.max(1, img.width / den)
        val outH = math.max(1, img.height / den)
        var sum = 0L
        var y = 0
        while (y < outH) {
          var x = 0
          while (x < outW) { sum += img.gray(y * den * img.width + x * den); x += 1 }
          y += 1
        }
        ResizedImage(a.doc_id, a.format, outW, outH,
          img.gray.length.toLong, outW.toLong * outH, sum)
      }
    }
  }

  /** A perceptually-hashed image: dHash gradient bits over the decoded
    * raster, split into two 32-bit halves (rows 0-3 → `h_lo`, rows 4-7 →
    * `h_hi`) so neither engine's int64 sign bit is ever touched. */
  case class DHashedImage(doc_id: Long, h_hi: Long, h_lo: Long)

  /** Difference-hash (dHash, the classic perceptual image fingerprint —
    * same family as pHash/PDQ) over the REAL decoded raster:
    * nearest-neighbor sample onto a 9×8 grid with integer floor
    * geometry (sx = x·w div 9, sy = y·h div 8 — size-invariant, so
    * re-encodes and integer rescales of the same content collide), then
    * one bit per horizontal gradient: bit(x,y) = [p(x+1,y) > p(x,y)].
    * Map-only, per-partition codec amortization, 16 bytes of
    * fingerprint per image regardless of resolution — the shape that
    * fingerprints a 100 TB image corpus in one pass. */
  /** The dHash bit computation over a decoded raster — shared by the
    * batch fingerprint stage and the incremental maintenance path so
    * the two can never drift. Returns (h_hi, h_lo). */
  private def dhashBits(img: PixelImage): (Long, Long) = {
    def p(x: Int, y: Int): Int =
      img.gray((y * img.height / 8) * img.width + (x * img.width / 9))
    var lo = 0L
    var hi = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (p(x + 1, y) > p(x, y)) {
          if (y < 4) lo |= 1L << (y * 8 + x)
          else hi |= 1L << ((y - 4) * 8 + x)
        }
        x += 1
      }
      y += 1
    }
    (hi, lo)
  }

  def dHashImages(assets: Dataset[ImageAsset]): Dataset[DHashedImage] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val img = ImageIoDecoder.decode(a.payload).getOrElse(
          throw new IllegalStateException(s"payload for doc ${a.doc_id} (${a.format}) did not decode"))
        val (hi, lo) = dhashBits(img)
        DHashedImage(a.doc_id, hi, lo)
      }
    }
  }

  /** dHash fingerprints for a documents-shaped SNAPSHOT frame, with
    * image geometry derived from the LIVE text length (not the carried
    * `n_chars` column) — so an edited document's image genuinely
    * changes across snapshot versions and a stale carried fingerprint
    * is a value error the oracle catches. Full real codec round-trip
    * per row, map-only. */
  private[operators] def dhashOfDocs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        it.map { case (docId, len) =>
          val (w, h) = ImageFixture.dims(len)
          val bytes = ImageFixture.encode(
            ImageFixture.grid(docId, w, h), ImageFixture.format(docId))
          val img = ImageIoDecoder.decode(bytes).getOrElse(
            throw new IllegalStateException(s"payload for doc $docId did not decode"))
          val (hi, lo) = dhashBits(img)
          (docId, hi, lo)
        }
      }.toDF("doc_id", "h_hi", "h_lo")
  }

  /** dHash fingerprints from a documents-shaped frame's METADATA
    * geometry (doc_id, n_chars) — the q139/q246 asset convention, for
    * callers that resolve from a session table rather than the staged
    * asset artifact ([[dhashOfDocs]] is the SNAPSHOT variant keyed on
    * live text length). Full real codec round-trip per row, map-only. */
  private[graft] def dhashOfMeta(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("n_chars").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        it.map { case (docId, nChars) =>
          val (w, h) = ImageFixture.dims(nChars)
          val bytes = ImageFixture.encode(
            ImageFixture.grid(docId, w, h), ImageFixture.format(docId))
          val img = ImageIoDecoder.decode(bytes).getOrElse(
            throw new IllegalStateException(s"payload for doc $docId did not decode"))
          val (hi, lo) = dhashBits(img)
          (docId, hi, lo)
        }
      }.toDF("doc_id", "h_hi", "h_lo")
  }

  /** INCREMENTAL maintenance of the image-fingerprint table across a
    * corpus recrawl — [[graft.operators.Corpus.incrementalSigs]]'
    * change-sized story applied to the multimodal family's expensive
    * artifact: re-decode and re-hash ONLY the added/changed documents'
    * payloads, carry every unchanged fingerprint forward untouched,
    * drop removed/changed docs' old rows. At 100 TB a recrawl touching
    * 0.1% of payloads costs 0.1% of the codec work, not a re-decode of
    * the archive. The diff is broadcast (change-sized); the carried
    * side is a map-only anti-join over the existing fingerprint table. */
  def incrementalDhash(prev: DataFrame, v1: DataFrame, v2: DataFrame): DataFrame = {
    val d = broadcast(Corpus.diff(v1, v2))
    val kept = prev
      .join(d.filter(col("status").isin("removed", "changed")),
        Seq("doc_id"), "left_anti")
    val fresh = dhashOfDocs(
      v2.join(d.filter(col("status").isin("added", "changed")), Seq("doc_id"))
        .select(v2.columns.map(col): _*))
    kept.unionByName(fresh)
  }

  /** q149 — [[incrementalDhash]] across the growth-snapshot pair (the
    * growth rule changes text LENGTH, hence image geometry, hence the
    * hash — carrying a changed doc's stale fingerprint is caught). The
    * oracle is the DIRECT v2 rebuild: incremental maintenance must land
    * exactly on it. */
  def q149IncrementalDhash(spark: SparkSession, dir: String): DataFrame = {
    val v1 = SnapshotFixture.table(spark, dir, "documents_v1_growth")
    val v2 = SnapshotFixture.table(spark, dir, "documents_v2")
    incrementalDhash(dhashOfDocs(v1), v1, v2).orderBy("doc_id")
  }

  case class FrameSample(
      doc_id: Long,
      n_frames: Long,
      n_sampled: Long,
      sampled_px: Long,
      sample_fp: Long)

  /** Decode + frame sampling: rows of the decoded raster are the frames
    * (the video analogue over a still fixture); keep every `stride`-th
    * row and fingerprint the kept pixels with the rolling
    * (acc·31 + v) mod 1e9+7 fold — content-exact, any off-by-one in row
    * boundaries or sample positions changes the value. */
  def sampleFrames(assets: Dataset[ImageAsset], stride: Int = 4): Dataset[FrameSample] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val img = ImageIoDecoder.decode(a.payload).getOrElse(
          throw new IllegalStateException(s"payload for doc ${a.doc_id} (${a.format}) did not decode"))
        var fp = 0L
        var sampledPx = 0L
        var nSampled = 0L
        var y = 0
        while (y < img.height) {
          nSampled += 1
          var x = 0
          while (x < img.width) {
            fp = (fp * 31 + img.gray(y * img.width + x)) % 1000000007L
            sampledPx += 1
            x += 1
          }
          y += stride
        }
        FrameSample(a.doc_id, img.height.toLong, nSampled, sampledPx, fp)
      }
    }
  }

  // ---------------------------------------------------------------------
  // Video: real multi-frame container (animated GIF) via javax.imageio
  // ---------------------------------------------------------------------

  /** An encoded multi-frame asset: real animated-GIF bytes + metadata. */
  case class VideoAsset(
      doc_id: Long,
      payload: Array[Byte],
      width: Int,
      height: Int,
      n_frames: Int)

  /** Deterministic multi-frame fixtures: frame `f` of document `d` is the
    * image-family grid shifted by 41·f, so every frame differs and any
    * frame-index mix-up changes the fingerprint. The JDK's GIF writer is
    * lossless for 8-bit gray (256-entry palette), so the real container
    * round-trips the exact values — spec-proved frame-for-frame. */
  object VideoFixture {
    def pixel(d: Long, f: Int, x: Int, y: Int): Int =
      ((31L * d + 7L * x + 13L * y + 41L * f) % 256L).toInt

    /** Frame count derived from document metadata (small on purpose: the
      * oracle replays every pixel of every frame). */
    def nFrames(nChars: Long): Int = 4 + (nChars % 5).toInt

    /** Real encode: one animated GIF per document, frames written with
      * `writeToSequence`. The writer is passed in so one instance (and
      * its palette machinery) amortizes across a partition. */
    def encode(wr: javax.imageio.ImageWriter, d: Long, w: Int, h: Int,
        nf: Int): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      try {
        wr.setOutput(ios)
        wr.prepareWriteSequence(null)
        var f = 0
        while (f < nf) {
          val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
          val raster = bi.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { raster.setSample(x, y, 0, pixel(d, f, x, y)); x += 1 }
            y += 1
          }
          wr.writeToSequence(new javax.imageio.IIOImage(bi, null, null), null)
          f += 1
        }
        wr.endWriteSequence()
      } finally ios.close()
      bos.toByteArray
    }
  }

  /** Real multi-frame decode: the GIF `ImageReader` walks the container
    * frame by frame (`getNumImages` / `read(i)`); each frame comes back
    * as a full raster because the fixtures write full frames. */
  object GifFrameDecoder {
    def decode(rd: javax.imageio.ImageReader, payload: Array[Byte]): Array[PixelImage] = {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
      try {
        rd.setInput(iis)
        val n = rd.getNumImages(true)
        Array.tabulate(n) { f =>
          val bi = rd.read(f)
          val w = bi.getWidth
          val h = bi.getHeight
          val px = bi.getRGB(0, 0, w, h, null, 0, w)
          var i = 0
          while (i < px.length) { px(i) = px(i) & 0xff; i += 1 }
          PixelImage(w, h, px)
        }
      } finally { rd.setInput(null); iis.close() }
    }
  }

  /** Build the video-asset table: one deterministic animated GIF per
    * document; SignatureStage-shared like [[imageAssets]] so the encode
    * pass runs once per (corpus dir, content version). */
  def videoAssets(spark: SparkSession, dir: String): Dataset[VideoAsset] = {
    import spark.implicits._
    // fanout both sides — the [[imageAssets]] rationale
    Tables.fanout(spark, SignatureStage.stage(spark, dir, "video_assets") {
      Tables.fanout(spark, Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars")))
        .as[(Long, Long)]
        .mapPartitions { it =>
          // one GIF writer per partition: registry lookup + palette
          // machinery amortize across the batch
          val wr = ImageIO.getImageWritersByFormatName("gif").next()
          it.map { case (docId, nChars) =>
            val (w, h) = ImageFixture.dims(nChars)
            val nf = VideoFixture.nFrames(nChars)
            VideoAsset(docId, VideoFixture.encode(wr, docId, w, h, nf), w, h, nf)
          }
        }.toDF()
    }.as[VideoAsset])
  }

  case class VideoSample(
      doc_id: Long,
      n_frames: Long,
      n_sampled: Long,
      total_gray: Long,
      sample_fp: Long)

  /** Decode + temporal frame sampling over the REAL container: every
    * `stride`-th decoded frame is kept; per-frame pixel sums feed a
    * rolling (acc·31 + s) mod 1e9+7 fingerprint — any dropped frame,
    * index shift, or palette loss changes the value. */
  def sampleVideo(assets: Dataset[VideoAsset], stride: Int = 2): Dataset[VideoSample] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // one GIF reader per partition (mirrors the writer amortization)
      val rd = ImageIO.getImageReadersByFormatName("gif").next()
      it.map { a =>
        val frames = GifFrameDecoder.decode(rd, a.payload)
        require(frames.length == a.n_frames,
          s"doc ${a.doc_id}: container has ${frames.length} frames, expected ${a.n_frames}")
        var total = 0L
        var fp = 0L
        var nSampled = 0L
        var f = 0
        while (f < frames.length) {
          var s = 0L
          val px = frames(f).gray
          var i = 0
          while (i < px.length) { s += px(i); i += 1 }
          total += s
          if (f % stride == 0) {
            fp = (fp * 31 + s) % 1000000007L
            nSampled += 1
          }
          f += 1
        }
        VideoSample(a.doc_id, frames.length.toLong, nSampled, total, fp)
      }
    }
  }

  case class VideoFingerprint(doc_id: Long, n_frames: Long, grad_bits: Long)

  /** Perceptual video fingerprint — the temporal analogue of [[dhashBits]]
    * and [[Audio.fingerprintAudio]]: per-frame pixel sums over the REAL
    * GIF-decoded rasters, one gradient bit per adjacent frame pair
    * (`bit f` set iff `sum[f+1] > sum[f]`). Brightness-monotone edits
    * preserve the bits; the key is 16 bytes per asset at any
    * resolution/length, so clustering shuffles fingerprints, never
    * payloads. */
  def fingerprintVideo(assets: Dataset[VideoAsset]): Dataset[VideoFingerprint] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val rd = ImageIO.getImageReadersByFormatName("gif").next()
      it.map { a =>
        val frames = GifFrameDecoder.decode(rd, a.payload)
        val sums = frames.map { fr =>
          var s = 0L
          var i = 0
          while (i < fr.gray.length) { s += fr.gray(i); i += 1 }
          s
        }
        var bits = 0L
        var f = 0
        // cap at 64 gradient bits — Java long shifts wrap mod 64, so a
        // clip with >65 frames would corrupt earlier bits (oracle
        // mirrors the cap); same guard as Audio.fingerprintAudio
        val nBits = math.min(sums.length - 1, 64)
        while (f < nBits) {
          if (sums(f + 1) > sums(f)) bits |= 1L << f
          f += 1
        }
        VideoFingerprint(a.doc_id, frames.length.toLong, bits)
      }
    }
  }

  // ---------------------------------------------------------------------
  // Fallback for non-JDK formats (webp, video): byte stats, no decode
  // ---------------------------------------------------------------------

  /** A media asset whose payload the JDK cannot decode. */
  case class MediaAsset(
      doc_id: Long,
      payload: Array[Byte],
      format: String,
      width: Long,
      height: Long)

  case class MediaFeatures(
      doc_id: Long,
      format: String,
      n_bytes: Long,
      mean_byte: Double,
      feature: Array[Float])

  /** FALLBACK decoder for formats `javax.imageio` has no reader for:
    * deterministic byte statistics + a fixed-width pseudo-embedding,
    * preserving the pipeline shape (schema, batch, feature width) without
    * decoding. The real path is [[ImageIoDecoder]]; this engages only
    * when it returns None. */
  object FakeDecoder {
    val FeatureDim = 8
    def decode(a: MediaAsset): MediaFeatures = {
      val bytes = a.payload
      val mean = if (bytes.isEmpty) 0.0 else bytes.map(_ & 0xff).map(_.toLong).sum.toDouble / bytes.length
      val feat = Array.tabulate(FeatureDim) { i =>
        var acc = 0L
        var j = i
        while (j < bytes.length) { acc += (bytes(j) & 0xff); j += FeatureDim }
        (acc % 1000).toFloat / 1000f
      }
      MediaFeatures(a.doc_id, a.format, bytes.length.toLong, mean, feat)
    }
  }

  /** Opaque-payload asset table for the metadata face (q32): payload =
    * UTF-8 bytes of the text (format tag includes webp — the case the JDK
    * cannot decode), metadata derived deterministically so the oracle can
    * recompute it. */
  def assets(spark: SparkSession, dir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        element_at(array(lit("png"), lit("jpeg"), lit("webp")),
          (col("doc_id") % 3 + 1).cast("int")).as("format"),
        (lit(64) + (col("n_chars") % 64) * lit(16)).cast("long").as("width"),
        (lit(64) + (col("n_chars") % 48) * lit(16)).cast("long").as("height"))
      .as[MediaAsset]
  }

  /** Partition-wise fallback decode over non-JDK formats. */
  def decodeAll(assets: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map(FakeDecoder.decode))
  }

  // ---------------------------------------------------------------------
  // Queries
  // ---------------------------------------------------------------------

  /** q32 — multimodal metadata projection: the oracle-checkable face of
    * the opaque-payload table (payload size + derived metadata).
    * Exercises the binary column end-to-end independent of any codec. */
  def q32MultimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    assets(spark, dir).toDF()
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        col("format"), col("width"), col("height"))
      .orderBy("doc_id")
  }

  /** q33 — decoded-pixel roll-up per format: encodes real PNG/BMP, decodes
    * with `ImageIO.read`, aggregates the decoded rasters. All-integer
    * except the final mean, an exact int64/int64 division both engines
    * compute identically in binary64. */
  def q33DecodeStats(spark: SparkSession, dir: String): DataFrame = {
    decodeImages(imageAssets(spark, dir)).toDF()
      .groupBy("format")
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("n_pixels")).as("total_pixels"),
        sum(col("sum_gray")).as("sum_gray"))
      .select(col("format"), col("n_assets"), col("total_pixels"), col("sum_gray"),
        (col("sum_gray").cast("double") / col("total_pixels")).as("avg_gray"))
      .orderBy("format")
  }

  /** q50 — real decode + nearest-neighbor resize: per-asset output
    * geometry and sampled-pixel stats from the decoded raster. */
  def q50Resize(spark: SparkSession, dir: String): DataFrame = {
    resizeImages(imageAssets(spark, dir)).toDF()
      .select(col("doc_id"), col("format"),
        col("out_w").cast("long").as("out_w"), col("out_h").cast("long").as("out_h"),
        col("n_pixels"), col("out_pixels"), col("sum_sampled"),
        (col("sum_sampled").cast("double") / col("out_pixels")).as("mean_sampled"))
      .orderBy("doc_id")
  }

  /** q51 — real decode + frame sampling (rows as frames, every 4th kept):
    * counts + rolling fingerprint of the sampled pixels. */
  def q51FrameSample(spark: SparkSession, dir: String): DataFrame = {
    sampleFrames(imageAssets(spark, dir)).toDF()
      .orderBy("doc_id")
  }

  /** q112 — REAL multi-frame container decode + temporal sampling: one
    * animated GIF per document, decoded frame-by-frame with the JDK GIF
    * reader; every 2nd frame sampled, per-frame pixel sums fingerprinted.
    * The oracle replays `(31d + 7x + 13y + 41f) mod 256` over every frame
    * — hash-verifying the whole multi-frame encode→decode chain. */
  def q112VideoFrames(spark: SparkSession, dir: String): DataFrame = {
    sampleVideo(videoAssets(spark, dir)).toDF()
      .orderBy("doc_id")
  }

  /** q139 — PERCEPTUAL IMAGE DEDUP: [[dHashImages]] fingerprints from
    * the real codec chain, then exact-hash duplicate clusters
    * (hash-groupBy — the q24 move on the perceptual fingerprint, and
    * the missing modality next to the text (q24-q28) and embedding
    * (q31/q49) dedup families). Output: each cluster of ≥2 perceptually
    * identical images with its size and keeper (min doc_id, the q38
    * election rule). Near-dup at Hamming ≤ t rides the SAME fingerprint
    * through q28's 16-bit banding — the fingerprint, not the pairing
    * policy, is the expensive part at 100 TB. Oracle: the generating
    * formula replayed through the identical sample/gradient/bit-pack
    * arithmetic — any codec, geometry, or bit-order drift breaks the
    * hash. */
  def q139ImageDhash(spark: SparkSession, dir: String): DataFrame = {
    dHashImages(imageAssets(spark, dir)).toDF()
      .groupBy("h_hi", "h_lo")
      .agg(count(lit(1)).as("n_images"), min(col("doc_id")).as("keeper_doc"))
      .filter(col("n_images") >= 2)
      .orderBy("h_hi", "h_lo")
  }

  /** q158 — PERCEPTUAL VIDEO DEDUP: [[fingerprintVideo]] temporal
    * gradient fingerprints from the real multi-frame codec chain, then
    * exact-fingerprint clusters ≥ 2 with q38 keeper election — closing
    * the per-modality dedup family (text q24-q28, embeddings q31/q49,
    * images q139, audio q153). Cluster key = (n_frames, grad_bits):
    * same length class AND same brightness contour over time. Oracle:
    * the frame-sum formula replayed through the identical gradient/bit
    * arithmetic — any frame drop, reorder, or palette loss in the
    * decode chain breaks the hash. */
  def q158VideoFpDedup(spark: SparkSession, dir: String): DataFrame = {
    fingerprintVideo(videoAssets(spark, dir)).toDF()
      .groupBy("n_frames", "grad_bits")
      .agg(count(lit(1)).as("n_assets"), min(col("doc_id")).as("keeper_doc"))
      .filter(col("n_assets") >= 2)
      .orderBy("n_frames", "grad_bits")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q158_video_fp_dedup" -> (q158VideoFpDedup _),
    "q139_image_dhash"    -> (q139ImageDhash _),
    "q149_incremental_dhash" -> (q149IncrementalDhash _),
    "q32_multimodal_meta" -> (q32MultimodalMeta _),
    "q33_decode_stats"    -> (q33DecodeStats _),
    "q50_resize"          -> (q50Resize _),
    "q51_frame_sample"    -> (q51FrameSample _),
    "q112_video_frames"   -> (q112VideoFrames _))

  /** The dHash bit replay as a SQL SELECT body over a relation carrying
    * (doc_id, w, h): the pixel formula through the identical 9×8
    * floor-sample + gradient + 32-bit-half bit packing — shared by the
    * q139/q149 oracles and [[Audit]]'s q246 cross-modal audit so the
    * three replays cannot drift apart. */
  private[operators] val dhashReplaySelect: String =
    """SELECT doc_id,
      |  CAST(list_sum(flatten(list_transform(range(4, 8), y ->
      |    list_transform(range(0, 8), x ->
      |      CASE WHEN (31 * doc_id + 7 * (((x + 1) * w) // 9) + 13 * ((y * h) // 8)) % 256
      |              >  (31 * doc_id + 7 * ((x * w) // 9)       + 13 * ((y * h) // 8)) % 256
      |           THEN CAST(1 AS BIGINT) << CAST((y - 4) * 8 + x AS INTEGER)
      |           ELSE CAST(0 AS BIGINT) END)))) AS BIGINT) AS h_hi,
      |  CAST(list_sum(flatten(list_transform(range(0, 4), y ->
      |    list_transform(range(0, 8), x ->
      |      CASE WHEN (31 * doc_id + 7 * (((x + 1) * w) // 9) + 13 * ((y * h) // 8)) % 256
      |              >  (31 * doc_id + 7 * ((x * w) // 9)       + 13 * ((y * h) // 8)) % 256
      |           THEN CAST(1 AS BIGINT) << CAST(y * 8 + x AS INTEGER)
      |           ELSE CAST(0 AS BIGINT) END)))) AS BIGINT) AS h_lo""".stripMargin

  // The q33/q50/q51 oracles replay ImageFixture.pixel over the derived
  // dimensions — verifying the real encode→decode round trip end-to-end:
  // the engine's numbers come from ImageIO-decoded rasters, the oracle's
  // from the generating formula; they agree only if the codecs are exact.
  val oracles: Map[String, String] = Map(
    // q158: per-frame pixel sums from the generating formula, temporal
    // gradient bits, exact-fingerprint clusters with keeper election.
    "q158_video_fp_dedup" ->
      """WITH a AS (
        |  SELECT doc_id, 8 + (n_chars % 8) AS w, 8 + (n_chars % 6) AS h,
        |         4 + (n_chars % 5) AS nf
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, nf,
        |    list_transform(range(0, nf), f ->
        |      list_sum(flatten(list_transform(range(0, h), y ->
        |        list_transform(range(0, w), x ->
        |          CAST((31 * doc_id + 7 * x + 13 * y + 41 * f) % 256 AS BIGINT)))))) AS fs
        |  FROM a),
        |fp AS (
        |  SELECT doc_id, nf,
        |    coalesce(list_sum(list_transform(range(0, least(nf - 1, 64)), f ->
        |      CASE WHEN fs[f + 2] > fs[f + 1] THEN CAST(1 AS BIGINT) << CAST(f AS INTEGER)
        |           ELSE CAST(0 AS BIGINT) END)), 0) AS bits
        |  FROM s)
        |SELECT CAST(nf AS BIGINT) AS n_frames, CAST(bits AS BIGINT) AS grad_bits,
        |  count(*) AS n_assets, min(doc_id) AS keeper_doc
        |FROM fp GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY n_frames, grad_bits""".stripMargin,
    // q149: the DIRECT v2 fingerprint rebuild — v2 membership by the
    // snapshot rule, geometry from the live text length; a stale
    // carried fingerprint (changed doc, old dims) breaks the hash.
    "q149_incremental_dhash" ->
      s"""WITH a AS (
         |  SELECT doc_id, 8 + (length(text) % 8) AS w, 8 + (length(text) % 6) AS h
         |  FROM documents
         |  WHERE doc_id % ${Corpus.DroppedFromV1Mod} <> ${Corpus.DroppedFromV1Rem})
         |$dhashReplaySelect
         |FROM a ORDER BY doc_id""".stripMargin,
    // q139: the dHash bits replayed from the pixel formula through the
    // identical 9×8 floor-sample + gradient + 32-bit-half bit packing.
    "q139_image_dhash" ->
      s"""WITH a AS (
         |  SELECT doc_id, 8 + (n_chars % 8) AS w, 8 + (n_chars % 6) AS h
         |  FROM documents),
         |b AS (
         |$dhashReplaySelect
         |  FROM a)
         |SELECT h_hi, h_lo, count(*) AS n_images, min(doc_id) AS keeper_doc
         |FROM b GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY h_hi, h_lo""".stripMargin,
    "q32_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
        |  CAST(64 + (n_chars % 64) * 16 AS BIGINT) AS width,
        |  CAST(64 + (n_chars % 48) * 16 AS BIGINT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q33_decode_stats" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |    8 + (n_chars % 8) AS w, 8 + (n_chars % 6) AS h
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, format, w * h AS n_px,
        |    list_sum(flatten(list_transform(range(0, h), y ->
        |      list_transform(range(0, w), x -> (31 * doc_id + 7 * x + 13 * y) % 256)))) AS sum_gray
        |  FROM a)
        |SELECT format, count(*) AS n_assets,
        |  CAST(sum(n_px) AS BIGINT) AS total_pixels,
        |  CAST(sum(sum_gray) AS BIGINT) AS sum_gray,
        |  CAST(sum(sum_gray) AS DOUBLE) / sum(n_px) AS avg_gray
        |FROM s GROUP BY format ORDER BY format""".stripMargin,
    "q50_resize" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |    8 + (n_chars % 8) AS w, 8 + (n_chars % 6) AS h
        |  FROM documents),
        |d AS (SELECT *, greatest(1, (greatest(w, h) + 7) // 8) AS den FROM a),
        |s AS (SELECT doc_id, format, w, h, den,
        |    greatest(1, w // den) AS out_w, greatest(1, h // den) AS out_h FROM d),
        |t AS (
        |  SELECT doc_id, format, out_w, out_h, w * h AS n_pixels, out_w * out_h AS out_pixels,
        |    list_sum(flatten(list_transform(range(0, out_h), y ->
        |      list_transform(range(0, out_w), x ->
        |        (31 * doc_id + 7 * (x * den) + 13 * (y * den)) % 256)))) AS sum_sampled
        |  FROM s)
        |SELECT doc_id, format, CAST(out_w AS BIGINT) AS out_w, CAST(out_h AS BIGINT) AS out_h,
        |  CAST(n_pixels AS BIGINT) AS n_pixels, CAST(out_pixels AS BIGINT) AS out_pixels,
        |  CAST(sum_sampled AS BIGINT) AS sum_sampled,
        |  CAST(sum_sampled AS DOUBLE) / out_pixels AS mean_sampled
        |FROM t ORDER BY doc_id""".stripMargin,
    "q112_video_frames" ->
      """WITH a AS (
        |  SELECT doc_id, 8 + (n_chars % 8) AS w, 8 + (n_chars % 6) AS h,
        |         4 + (n_chars % 5) AS nf
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, w, h, nf,
        |    list_transform(range(0, nf), f ->
        |      list_sum(flatten(list_transform(range(0, h), y ->
        |        list_transform(range(0, w), x ->
        |          (31 * doc_id + 7 * x + 13 * y + 41 * f) % 256))))) AS frame_sums
        |  FROM a),
        |t AS (
        |  SELECT doc_id, nf, frame_sums,
        |    list_transform(range(0, nf, 2), f -> frame_sums[f + 1]) AS sampled
        |  FROM s)
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(len(sampled) AS BIGINT) AS n_sampled,
        |  CAST(list_sum(frame_sums) AS BIGINT) AS total_gray,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), sampled),
        |    (acc, b) -> (acc * 31 + b) % 1000000007) AS BIGINT) AS sample_fp
        |FROM t ORDER BY doc_id""".stripMargin,
    "q51_frame_sample" ->
      """WITH a AS (
        |  SELECT doc_id, 8 + (n_chars % 8) AS w, 8 + (n_chars % 6) AS h
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, h AS n_frames, len(range(0, h, 4)) AS n_sampled,
        |    flatten(list_transform(range(0, h, 4), y ->
        |      list_transform(range(0, w), x ->
        |        CAST((31 * doc_id + 7 * x + 13 * y) % 256 AS BIGINT)))) AS sampled
        |  FROM a)
        |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames, CAST(n_sampled AS BIGINT) AS n_sampled,
        |  CAST(len(sampled) AS BIGINT) AS sampled_px,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), sampled),
        |    (acc, b) -> (acc * 31 + b) % 1000000007) AS sample_fp
        |FROM s ORDER BY doc_id""".stripMargin)
}
