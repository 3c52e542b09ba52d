package graft.fixtures

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic WAV fixture for the multimodal audio decode path
  * (m6): 16-bit signed little-endian mono PCM whose sample function is
  * pure arithmetic — `sample(i) = (i·37 + seed·101) mod 4001 − 2000` —
  * so the DuckDB oracle can compute every expected duration / energy /
  * zero-crossing / peak analytically from (n, rate, seed), while Spark
  * must recover the same facts by DECODING the actual WAV container
  * (javax.sound.sampled — the JDK-stdlib RIFF/WAVE codec, pure JVM).
  * Encoding goes through `AudioSystem.write` (the same codec family,
  * exercised in the opposite direction), mirroring how the PNG fixture
  * uses ImageIO both ways; generation and decode share no code beyond
  * the sample formula's documentation.
  */
object Audio {

  /** (doc_id, n_samples, sample_rate, seed) — lengths from 1 sample to
    * a few thousand, rates spanning telephony to CD (the decoder must
    * read the rate from the container, not assume it).
    */
  val specs: Seq[(Long, Int, Int, Int)] = Seq(
    (1L, 400, 8000, 3), (2L, 1000, 16000, 7), (3L, 2205, 44100, 11),
    (4L, 3200, 16000, 19), (5L, 1, 8000, 0), (6L, 997, 22050, 255),
    (7L, 64, 48000, 128), (8L, 2400, 24000, 64), (9L, 513, 11025, 200),
    (10L, 1600, 8000, 90), (11L, 777, 32000, 42), (12L, 4000, 44100, 170))

  /** The sample formula: values in [−2000, 2000], sign-alternating
    * often enough that zero-crossing counts are non-trivial. All
    * operands non-negative before the subtraction, so Scala `%` and
    * SQL `%` agree (both truncated division; no negative-modulo trap).
    */
  def sample(i: Int, seed: Int): Int = (i * 37 + seed * 101) % 4001 - 2000

  /** Encode one spec'd clip to WAV bytes via the JDK codec: raw PCM
    * shorts → little-endian byte stream → `AudioSystem.write(…, WAVE)`
    * builds the RIFF container. 16-bit PCM is lossless, so the decode
    * side must see the exact generated samples.
    */
  def encodeWav(nSamples: Int, rate: Int, seed: Int): Array[Byte] = {
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val s = sample(i, seed)
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  case class SpecRow(doc_id: Long, n: Int, rate: Int, seed: Int)
  case class PayloadRow(doc_id: Long, payload: Array[Byte])

  /** The fixture as a payload table (doc_id, payload: binary) —
    * encoded ON EXECUTORS via a typed map (payload bytes never transit
    * the driver; at scale this map is an object-store scan instead).
    */
  def wavPayloads(s: SparkSession): DataFrame = {
    import s.implicits._
    s.createDataset(s.sparkContext.parallelize(
        specs.map(t => SpecRow(t._1, t._2, t._3, t._4)), 4))
      .map(r => PayloadRow(r.doc_id, encodeWav(r.n, r.rate, r.seed)))
      .toDF()
  }

  /** The m6 oracle: DuckDB recomputes duration, sum-of-squares energy,
    * zero crossings and peak amplitude from the generation parameters
    * alone — a VALUES table of specs and a range(maxN) expansion of
    * the sample formula. Zero crossings avoid a window function: the
    * previous sample is recomputed directly from the closed form at
    * i−1. The engine-side numbers come from decoding real RIFF/WAVE
    * bytes; agreement proves the audio codec path is load-bearing.
    */
  def oracleSql: String = {
    val values = specs
      .map(t => s"(${t._1}, ${t._2}, ${t._3}, ${t._4})").mkString(", ")
    val maxN = specs.map(_._2).max
    s"""WITH clips(clip_id, n, rate, seed) AS (VALUES $values),
       |idx AS (SELECT i FROM range(0, $maxN) t(i)),
       |smp AS (
       |  SELECT clip_id, n, rate, i,
       |    (i * 37 + seed * 101) % 4001 - 2000 AS s,
       |    CASE WHEN i > 0
       |      THEN ((i - 1) * 37 + seed * 101) % 4001 - 2000 END AS prev
       |  FROM clips, idx WHERE idx.i < n
       |)
       |SELECT clip_id AS doc_id,
       |  CAST(rate AS BIGINT) AS sample_rate,
       |  CAST(n AS BIGINT) AS n_samples,
       |  CAST(SUM(s * s) AS BIGINT) AS sum_sq,
       |  CAST(SUM(CASE WHEN prev * s < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS zero_crossings,
       |  CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs
       |FROM smp GROUP BY clip_id, rate, n ORDER BY doc_id""".stripMargin
  }

  /** The m7 oracle: per-WINDOW features replayed analytically —
    * `i // win` buckets the sample index into analysis windows (the
    * tail partial window appears naturally), and each window's sample
    * count / sum-of-squares / peak is recomputed from the closed-form
    * sample function. The engine side must produce identical rows
    * after decoding the real WAV container and slicing the PCM stream.
    */
  def windowOracleSql(win: Int): String = {
    val values = specs
      .map(t => s"(${t._1}, ${t._2}, ${t._3}, ${t._4})").mkString(", ")
    val maxN = specs.map(_._2).max
    s"""WITH clips(clip_id, n, rate, seed) AS (VALUES $values),
       |idx AS (SELECT i FROM range(0, $maxN) t(i)),
       |smp AS (
       |  SELECT clip_id, i // $win AS widx,
       |    (i * 37 + seed * 101) % 4001 - 2000 AS s
       |  FROM clips, idx WHERE idx.i < n
       |)
       |SELECT clip_id AS doc_id, CAST(widx AS BIGINT) AS window_idx,
       |  CAST(COUNT(*) AS BIGINT) AS w_samples,
       |  CAST(SUM(s * s) AS BIGINT) AS w_sum_sq,
       |  CAST(MAX(ABS(s)) AS BIGINT) AS w_peak_abs
       |FROM smp GROUP BY clip_id, widx
       |ORDER BY doc_id, window_idx""".stripMargin
  }
}
