package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Audio-column plumbing (SURVEY §2.9, the audio face of the multimodal
  * family): PCM payloads as opaque `binary` WAV bytes with typed metadata,
  * plus partition-wise decode / feature-extract stages — the same
  * conventions as [[Multimodal]]'s image path, with the JDK's
  * `javax.sound.sampled` as the real codec.
  *
  * The codec path is REAL: fixtures are deterministic 16-bit PCM waveforms
  * (`sample(d, i) = (37·d + 17·i) mod 4096 − 2048`, [[AudioFixture]])
  * encoded to actual RIFF/WAVE bytes with `AudioSystem.write` and decoded
  * back with `AudioSystem.getAudioInputStream` before any statistic is
  * computed. PCM is lossless, so the DuckDB oracle verifies the whole
  * encode→decode→aggregate chain by replaying the sample formula — an
  * endianness swap, a header-length bug, or a channel miscount changes the
  * hashes.
  *
  * Scale notes (mirrors the image family): payloads stay opaque binary
  * end-to-end; encode/decode run inside `mapPartitions` so codec-context
  * setup amortizes per partition; the encoded asset table is built once
  * per (corpus dir, content version) via [[SignatureStage]] and shared by
  * every audio query; waveforms are deliberately short (≤ 640 samples) so
  * the oracle replay stays cheap — the plan shape is length-independent.
  */
object Audio extends graft.QueryModule {

  /** An encoded audio asset: real WAV bytes + typed metadata. */
  case class AudioAsset(
      doc_id: Long,
      payload: Array[Byte],
      sample_rate: Int,
      n_samples: Int)

  /** Deterministic PCM fixtures. `sample` is the single source of truth
    * for the waveform; the DuckDB oracle replays the same formula. */
  object AudioFixture {
    /** Signed 16-bit sample at index `i` for document `d` — pure integer,
      * range [−2048, 2047]. */
    def sample(d: Long, i: Int): Int =
      ((37L * d + 17L * i) % 4096L).toInt - 2048

    /** Waveform length derived from document metadata (short on purpose:
      * the oracle replays every sample). Always a multiple of 4, ≥ 256. */
    def nSamples(nChars: Long): Int = 256 + (nChars % 97).toInt * 4

    /** Alternate 8 kHz / 16 kHz so the rate survives the WAV header
      * round-trip observably. */
    def rate(docId: Long): Int = if (docId % 2 == 0) 8000 else 16000

    def waveform(d: Long, n: Int): Array[Int] = Array.tabulate(n)(sample(d, _))

    /** Real encode: mono signed 16-bit little-endian PCM wrapped as
      * RIFF/WAVE by the JDK writer. */
    def encode(samples: Array[Int], rate: Int): Array[Byte] = {
      val data = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        val s = samples(i)
        data(2 * i) = (s & 0xff).toByte
        data(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
      val ais = new AudioInputStream(
        new ByteArrayInputStream(data), fmt, samples.length.toLong)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
  }

  /** A decoded waveform: sample rate from the parsed header, samples from
    * the PCM body. */
  case class Waveform(sampleRate: Int, samples: Array[Int])

  /** Real decode via `javax.sound.sampled`: parse the RIFF/WAVE header,
    * stream the PCM body, reassemble little-endian int16 samples. */
  object WavDecoder {
    def decode(payload: Array[Byte]): Waveform = {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      try {
        val f = ais.getFormat
        require(f.getSampleSizeInBits == 16 && f.getChannels == 1 && !f.isBigEndian,
          s"unexpected decoded format: $f")
        val body = ais.readAllBytes()
        val n = body.length / 2
        val samples = new Array[Int](n)
        var i = 0
        while (i < n) {
          samples(i) = (((body(2 * i + 1) & 0xff) << 8) | (body(2 * i) & 0xff)).toShort.toInt
          i += 1
        }
        Waveform(f.getSampleRate.toInt, samples)
      } finally ais.close()
    }
  }

  /** Build the audio-asset table: one deterministic WAV per document,
    * encoded with the real JDK codec inside `mapPartitions`; built once
    * per (corpus dir, content version) via [[SignatureStage]] and shared
    * by q110/q111 — at 100 TB the encode pass dominates the family, so
    * three passes become one (the [[Multimodal.imageAssets]] lever). */
  def audioAssets(spark: SparkSession, dir: String): Dataset[AudioAsset] = {
    import spark.implicits._
    // fanout both sides — the [[Multimodal.imageAssets]] rationale
    Tables.fanout(spark, SignatureStage.stage(spark, dir, "audio_assets") {
      Tables.fanout(spark, Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars")))
        .as[(Long, Long)]
        .mapPartitions { it =>
          it.map { case (docId, nChars) =>
            val n = AudioFixture.nSamples(nChars)
            val rate = AudioFixture.rate(docId)
            val bytes = AudioFixture.encode(AudioFixture.waveform(docId, n), rate)
            AudioAsset(docId, bytes, rate, n)
          }
        }.toDF()
    }.as[AudioAsset])
  }

  case class DecodedAudio(
      doc_id: Long,
      sample_rate: Int,
      n_samples: Long,
      sum_abs: Long,
      zero_crossings: Long)

  /** Partition-wise REAL decode: header-parsed rate + per-sample stats
    * (absolute-amplitude mass, sign changes). Fails loudly if a generated
    * payload doesn't decode — silent fallback would mask codec breakage. */
  def decodeAudio(assets: Dataset[AudioAsset]): Dataset[DecodedAudio] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val w = WavDecoder.decode(a.payload)
        var sumAbs = 0L
        var zc = 0L
        var i = 0
        while (i < w.samples.length) {
          sumAbs += math.abs(w.samples(i))
          if (i > 0 && (w.samples(i - 1) < 0) != (w.samples(i) < 0)) zc += 1
          i += 1
        }
        DecodedAudio(a.doc_id, w.sampleRate, w.samples.length.toLong, sumAbs, zc)
      }
    }
  }

  case class AudioFrames(
      doc_id: Long,
      n_samples: Long,
      n_frames: Long,
      total_energy: Long,
      energy_fp: Long)

  /** Decode + fixed-width framing: `frame`-sample windows (complete frames
    * only), per-frame energy Σ s², and a rolling (acc·31 + e) mod 1e9+7
    * fingerprint over the frame energies — content-exact, any off-by-one
    * in frame boundaries changes the value (the audio analogue of
    * [[Multimodal.sampleFrames]]). */
  def frameAudio(assets: Dataset[AudioAsset], frame: Int = 64): Dataset[AudioFrames] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val w = WavDecoder.decode(a.payload)
        val nFrames = w.samples.length / frame
        var total = 0L
        var fp = 0L
        var f = 0
        while (f < nFrames) {
          var e = 0L
          var i = f * frame
          val end = i + frame
          while (i < end) { val s = w.samples(i).toLong; e += s * s; i += 1 }
          total += e
          fp = (fp * 31 + e) % 1000000007L
          f += 1
        }
        AudioFrames(a.doc_id, w.samples.length.toLong, nFrames.toLong, total, fp)
      }
    }
  }

  case class AudioFingerprint(doc_id: Long, n_frames: Long, grad_bits: Long)

  /** Perceptual audio fingerprint — the dHash idea ([[Multimodal]]'s
    * q139) applied to the decoded waveform: frame the PCM into
    * `frame`-sample windows, take per-frame energy Σ s², and keep one
    * GRADIENT bit per adjacent frame pair (`bit f` set iff
    * `e[f+1] > e[f]`). Amplitude-invariant up to monotone energy
    * transforms (gain changes preserve the comparison), content-exact
    * through the real WAV encode→decode chain, and 16 bytes per asset
    * regardless of duration — the cheap pre-cluster key a 100 TB audio
    * corpus groups on before any expensive acoustic comparison. */
  def fingerprintAudio(assets: Dataset[AudioAsset], frame: Int = 64): Dataset[AudioFingerprint] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val w = WavDecoder.decode(a.payload)
        val nFrames = w.samples.length / frame
        val e = new Array[Long](nFrames)
        var f = 0
        while (f < nFrames) {
          var acc = 0L
          var i = f * frame
          val end = i + frame
          while (i < end) { val s = w.samples(i).toLong; acc += s * s; i += 1 }
          e(f) = acc
          f += 1
        }
        var bits = 0L
        f = 0
        // one 64-bit word holds at most 64 gradient bits; Java long
        // shifts take the count mod 64, so an asset with >65 frames
        // would silently wrap and corrupt earlier bits — cap the loop
        // (the oracle mirrors the same cap)
        val nBits = math.min(nFrames - 1, 64)
        while (f < nBits) {
          if (e(f + 1) > e(f)) bits |= 1L << f
          f += 1
        }
        AudioFingerprint(a.doc_id, nFrames.toLong, bits)
      }
    }
  }

  // ---------------------------------------------------------------------
  // Queries
  // ---------------------------------------------------------------------

  /** q110 — decoded-waveform roll-up per sample rate: encodes real WAV,
    * decodes with `javax.sound.sampled`, aggregates the decoded samples.
    * All-integer except the final mean, an exact int64/int64 division
    * both engines compute identically in binary64. */
  def q110AudioStats(spark: SparkSession, dir: String): DataFrame = {
    decodeAudio(audioAssets(spark, dir)).toDF()
      .groupBy("sample_rate")
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("n_samples")).as("total_samples"),
        sum(col("sum_abs")).as("sum_abs"),
        sum(col("zero_crossings")).as("zero_crossings"))
      .select(
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_assets"), col("total_samples"), col("sum_abs"), col("zero_crossings"),
        (col("sum_abs").cast("double") / col("total_samples")).as("avg_abs"))
      .orderBy("sample_rate")
  }

  /** q111 — real decode + 64-sample framing: per-asset frame counts,
    * total energy and the rolling energy fingerprint. */
  def q111AudioFrames(spark: SparkSession, dir: String): DataFrame = {
    frameAudio(audioAssets(spark, dir)).toDF()
      .orderBy("doc_id")
  }

  /** q153 — PERCEPTUAL AUDIO DEDUP: [[fingerprintAudio]] gradient
    * fingerprints from the real codec chain, then exact-fingerprint
    * duplicate clusters with q38 keeper election (min doc_id) — the
    * audio member of the per-modality dedup family (text q24-q28,
    * embeddings q31/q49, images q139). The cluster key is
    * (n_frames, grad_bits): same duration class AND same energy
    * contour. Fingerprinting is map-only (16 bytes/asset at any
    * duration); the groupBy shuffles only the fingerprints, never the
    * payloads — the shape that holds when the corpus is 100 TB of
    * audio. Hamming near-dup rides q28's banding on the same bits.
    * Oracle: the generating waveform formula replayed through the
    * identical frame/energy/gradient arithmetic — a codec, framing, or
    * bit-order drift breaks the hash. */
  def q153AudioFpDedup(spark: SparkSession, dir: String): DataFrame = {
    fingerprintAudio(audioAssets(spark, dir)).toDF()
      .groupBy("n_frames", "grad_bits")
      .agg(count(lit(1)).as("n_assets"), min(col("doc_id")).as("keeper_doc"))
      .filter(col("n_assets") >= 2)
      .orderBy("n_frames", "grad_bits")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q110_audio_stats"  -> (q110AudioStats _),
    "q111_audio_frames" -> (q111AudioFrames _),
    "q153_audio_fp_dedup" -> (q153AudioFpDedup _))

  // The oracles replay AudioFixture.sample over the derived lengths —
  // verifying the real WAV encode→decode round trip end-to-end: the
  // engine's numbers come from codec-decoded PCM, the oracle's from the
  // generating formula; they agree only if the codec chain is exact.
  val oracles: Map[String, String] = Map(
    // q153: frame energies from the sample formula, gradient bits,
    // exact-fingerprint clusters ≥ 2 with min-doc keeper election.
    "q153_audio_fp_dedup" ->
      """WITH a AS (
        |  SELECT doc_id, 256 + (n_chars % 97) * 4 AS n FROM documents),
        |s AS (
        |  SELECT doc_id, n // 64 AS nf,
        |    list_transform(range(0, n // 64), f ->
        |      list_sum(list_transform(range(f * 64, f * 64 + 64), i ->
        |        CAST(((37 * doc_id + 17 * i) % 4096 - 2048) AS BIGINT) *
        |          ((37 * doc_id + 17 * i) % 4096 - 2048)))) AS e
        |  FROM a),
        |fp AS (
        |  SELECT doc_id, nf,
        |    coalesce(list_sum(list_transform(range(0, least(nf - 1, 64)), f ->
        |      CASE WHEN e[f + 2] > e[f + 1] THEN CAST(1 AS BIGINT) << CAST(f AS INTEGER)
        |           ELSE CAST(0 AS BIGINT) END)), 0) AS bits
        |  FROM s)
        |SELECT CAST(nf AS BIGINT) AS n_frames, CAST(bits AS BIGINT) AS grad_bits,
        |  count(*) AS n_assets, min(doc_id) AS keeper_doc
        |FROM fp GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY n_frames, grad_bits""".stripMargin,
    "q110_audio_stats" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS rate,
        |    256 + (n_chars % 97) * 4 AS n
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, rate, n,
        |    list_transform(range(0, n), i -> (37 * doc_id + 17 * i) % 4096 - 2048) AS smp
        |  FROM a),
        |t AS (
        |  SELECT doc_id, rate, n,
        |    list_sum(list_transform(smp, v -> abs(v))) AS sum_abs,
        |    len(list_filter(range(1, n), i -> (smp[i] < 0) != (smp[i + 1] < 0))) AS zc
        |  FROM s)
        |SELECT CAST(rate AS BIGINT) AS sample_rate, count(*) AS n_assets,
        |  CAST(sum(n) AS BIGINT) AS total_samples,
        |  CAST(sum(sum_abs) AS BIGINT) AS sum_abs,
        |  CAST(sum(zc) AS BIGINT) AS zero_crossings,
        |  CAST(sum(sum_abs) AS DOUBLE) / sum(n) AS avg_abs
        |FROM t GROUP BY rate ORDER BY sample_rate""".stripMargin,
    "q111_audio_frames" ->
      """WITH a AS (
        |  SELECT doc_id, 256 + (n_chars % 97) * 4 AS n FROM documents),
        |s AS (
        |  SELECT doc_id, n, n // 64 AS n_frames,
        |    list_transform(range(0, n), i -> (37 * doc_id + 17 * i) % 4096 - 2048) AS smp
        |  FROM a),
        |e AS (
        |  SELECT doc_id, n, n_frames,
        |    list_transform(range(0, n_frames), f ->
        |      list_sum(list_transform(range(f * 64, f * 64 + 64), i ->
        |        smp[i + 1] * smp[i + 1]))) AS energies
        |  FROM s)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(list_sum(energies) AS BIGINT) AS total_energy,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), energies),
        |    (acc, b) -> (acc * 31 + b) % 1000000007) AS BIGINT) AS energy_fp
        |FROM e ORDER BY doc_id""".stripMargin)
}
