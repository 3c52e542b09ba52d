package graft.fixtures

import java.nio.ByteBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic ISO-BMFF (MP4) fixture for the header-triage path
  * (m11): minimal but structurally REAL container files — `ftyp`,
  * `moov` (with `mvhd` timescale/duration and `trak`→`tkhd`
  * width/height), an `mdat` of varying size, optional `free` padding,
  * optional `udta` between `mvhd` and `trak`, and BOTH top-level
  * layouts found in the wild (faststart moov-before-mdat and
  * download-style mdat-before-moov). The variation is the point: a
  * parser that assumes fixed offsets instead of walking box lengths
  * gets every non-faststart file wrong. Encode lives here on the
  * fixture side; the engine ships only the relational box walk
  * (operators/Bmff) — they share nothing but the ISO 14496-12 layout,
  * and the DuckDB oracle replays expectations from the generation
  * params alone.
  *
  * No video CODEC anywhere — by design. The container header carries
  * dimensions, timescale and duration; triage-before-decode is the
  * honest 100 TB target in a JDK with no video decoder (the decode
  * seam itself stays m3's declared fingerprint swap point).
  */
object Video {

  /** (doc_id, width, height, timescale, duration, mdatLen, padLen,
    * moovLast, udta) — dimensions non-square, timescales spanning
    * common real values (90k video, 1k, 600 QuickTime, 44.1k audio),
    * one sub-second duration, ragged mdat sizes, and every
    * layout/padding combination exercised at least twice.
    */
  final case class Spec(doc_id: Long, w: Int, h: Int, timescale: Int,
      duration: Int, mdatLen: Int, padLen: Int, moovLast: Boolean,
      udta: Boolean, version: Int = 0)

  val specs: Seq[Spec] = Seq(
    Spec(1L, 1920, 1080, 90000, 270000, 64, 0, moovLast = false, udta = false),
    Spec(2L, 1280, 720, 1000, 33367, 17, 12, moovLast = false, udta = true),
    Spec(3L, 640, 360, 600, 3003, 200, 0, moovLast = true, udta = false),
    Spec(4L, 320, 240, 90000, 45, 33, 24, moovLast = true, udta = true),
    Spec(5L, 3840, 2160, 44100, 441000, 101, 8, moovLast = false, udta = false),
    Spec(6L, 854, 480, 1000, 600000, 9, 0, moovLast = true, udta = true),
    Spec(7L, 1, 1, 600, 1, 55, 16, moovLast = false, udta = true),
    Spec(8L, 7680, 4320, 90000, 900001, 150, 0, moovLast = true, udta = false),
    // version-1 FullBoxes (64-bit creation/modification/duration —
    // what real muxers emit for long files or post-2038 clocks):
    // every later field shifts +12 (mvhd) / +16..(tkhd), so a reader
    // that ignores the version byte produces plausible WRONG facts.
    // The >2^32 creation stamps below make a v0-offset misread land
    // on garbage, which the spec + oracle would catch loudly.
    Spec(9L, 2560, 1440, 90000, 123456789, 70, 0, moovLast = false,
      udta = false, version = 1),
    Spec(10L, 1920, 800, 600, 7200, 40, 8, moovLast = true,
      udta = true, version = 1))

  /** deterministic post-2038 creation/modification stamp (> 2^32) */
  private def stamp(sp: Spec): Long = 0x100000000L + sp.doc_id * 1000L

  private def u64(vs: Long*): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * vs.length)
    vs.foreach(bb.putLong)
    bb.array()
  }

  private def box(tp: String, payload: Array[Byte]): Array[Byte] = {
    require(tp.length == 4, s"box type must be 4 chars: $tp")
    val bb = ByteBuffer.allocate(payload.length + 8)
    bb.putInt(payload.length + 8)
    bb.put(tp.getBytes("US-ASCII"))
    bb.put(payload)
    bb.array()
  }

  private def u32(vs: Long*): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 * vs.length)
    vs.foreach(v => bb.putInt(v.toInt))
    bb.array()
  }

  private def u16(vs: Int*): Array[Byte] = {
    val bb = ByteBuffer.allocate(2 * vs.length)
    vs.foreach(v => bb.putShort(v.toShort))
    bb.array()
  }

  // identity transform matrix (16.16 / 2.30 fixed point), 9 × u32
  private val matrix: Array[Byte] =
    u32(0x10000L, 0, 0, 0, 0x10000L, 0, 0, 0, 0x40000000L)

  /** mvhd version 0 (ISO 14496-12 §8.2.2): ver/flags, creation,
    * modification, TIMESCALE, DURATION, rate 1.0, volume 1.0,
    * reserved, matrix, 6 pre_defined, next_track_id.
    */
  private def mvhd(sp: Spec): Array[Byte] =
    if (sp.version == 0)
      box("mvhd",
        u32(0, 0, 0, sp.timescale.toLong, sp.duration.toLong, 0x10000L) ++
          u16(0x0100, 0) ++ u32(0, 0) ++ matrix ++
          u32(0, 0, 0, 0, 0, 0) ++ u32(2))
    else
      // version 1 (§8.2.2): u64 creation/modification, u32 timescale,
      // u64 duration — every later field shifts +12 vs version 0
      box("mvhd",
        Array[Byte](1, 0, 0, 0) ++ u64(stamp(sp), stamp(sp)) ++
          u32(sp.timescale.toLong) ++ u64(sp.duration.toLong) ++
          u32(0x10000L) ++ u16(0x0100, 0) ++ u32(0, 0) ++ matrix ++
          u32(0, 0, 0, 0, 0, 0) ++ u32(2))

  /** tkhd version 0 (§8.3.2, 92 bytes total): ver/flags(track enabled),
    * creation, modification, track_id, reserved, duration, reserved×2,
    * layer, alternate_group, volume, reserved, matrix, then WIDTH and
    * HEIGHT as 16.16 fixed point — integer pixels in the high 16 bits.
    */
  private def tkhd(sp: Spec): Array[Byte] =
    if (sp.version == 0)
      box("tkhd",
        u32(7, 0, 0, 1, 0, sp.duration.toLong, 0, 0) ++
          u16(0, 0, 0, 0) ++ matrix ++
          u32(sp.w.toLong << 16, sp.h.toLong << 16))
    else
      // version 1 (§8.3.2): u64 creation/modification/duration —
      // width/height land at +96/+100 instead of +84/+88
      box("tkhd",
        Array[Byte](1, 0, 0, 7) ++ u64(stamp(sp), stamp(sp)) ++
          u32(1, 0) ++ u64(sp.duration.toLong) ++ u32(0, 0) ++
          u16(0, 0, 0, 0) ++ matrix ++
          u32(sp.w.toLong << 16, sp.h.toLong << 16))

  /** Deterministic mdat body: byte i = (i·7 + doc_id·13) mod 256. */
  private def mdat(sp: Spec): Array[Byte] = box("mdat",
    Array.tabulate(sp.mdatLen)(i => ((i * 7 + sp.doc_id * 13) % 256).toByte))

  private def udtaBox: Array[Byte] =
    box("udta", box("meta", u32(0) ++ box("ilst", Array.emptyByteArray)))

  def encodeMp4(sp: Spec): Array[Byte] = {
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ u32(0x200L) ++
        "isomavc1".getBytes("US-ASCII"))
    val trak = box("trak", tkhd(sp))
    val moovKids =
      if (sp.udta) mvhd(sp) ++ udtaBox ++ trak else mvhd(sp) ++ trak
    val moov = box("moov", moovKids)
    val pad =
      if (sp.padLen > 0) box("free", Array.fill(sp.padLen)(0x20.toByte))
      else Array.emptyByteArray
    if (sp.moovLast) ftyp ++ pad ++ mdat(sp) ++ moov
    else ftyp ++ pad ++ moov ++ mdat(sp)
  }

  final case class PayloadRow(doc_id: Long, payload: Array[Byte])

  /** The fixture as a payload table (doc_id, payload: binary), encoded
    * ON EXECUTORS — payload bytes never transit the driver, the same
    * distributed shape real media ingestion has (Images.pngPayloads).
    */
  def mp4Payloads(s: SparkSession): DataFrame = {
    import s.implicits._
    s.createDataset(s.sparkContext.parallelize(specs, 4))
      .map(sp => PayloadRow(sp.doc_id, encodeMp4(sp)))
      .toDF()
  }

  /** m11 oracle: DuckDB recomputes every expected header fact from the
    * generation parameters alone; the engine must recover the same
    * numbers by walking real container bytes (box-length arithmetic,
    * no fixed offsets — layouts differ per row by construction).
    */
  def oracleSql: String = {
    val values = specs
      .map(sp => s"(${sp.doc_id}, ${sp.w}, ${sp.h}, ${sp.timescale}, ${sp.duration})")
      .mkString(", ")
    s"""WITH vids(vid_id, w, h, ts, dur) AS (VALUES $values)
       |SELECT vid_id AS doc_id, 'isom' AS brand,
       |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       |  CAST(ts AS BIGINT) AS timescale, CAST(dur AS BIGINT) AS duration,
       |  CAST((1000 * CAST(dur AS BIGINT)) // ts AS BIGINT) AS duration_ms
       |FROM vids ORDER BY doc_id""".stripMargin
  }
}
