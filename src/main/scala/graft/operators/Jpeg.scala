package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}

import Bmff.uint

/** Relational JPEG header triage — the third container family of the
  * triage matrix (PNG m10: fixed offsets; ISO-BMFF m11: length-prefixed
  * box walk; JPEG m12: MARKER walk). JPEG dimensions live in the SOFn
  * segment, reachable only by walking variable-length segments from
  * SOI: each segment is FF <marker> <u16 len includes itself>, and the
  * APP0/DQT/COM segments before SOF vary by encoder — fixed offsets
  * are wrong for any encoder but the one you tested. Same engineering
  * as Bmff: the walk is one plain function over a row's payload bytes
  * ([[walk]]), applied as ONE expression per row, zero shuffles, zero
  * codec CPU.
  *
  * The walk stops advancing at SOF (the answer), SOS (entropy-coded
  * data follows — dimensions behind it mean a malformed file), or any
  * non-FF byte / short length (corrupt), and `MaxSegments` bounds it:
  * headers deeper than ~10 segments surface as NULL columns with
  * `is_jpeg` still true — routed, never crashed on (the m10/m11
  * loud-failure contract). A field whose bytes are not all inside the
  * payload reads NULL, so a file cut mid-header reports nothing, never
  * a partial value.
  */
object Jpeg {

  /** walk steps before SOF must appear; JFIF writers emit APP0 +
    * 1-2 DQT (+ optional COM/APPn) before SOFn, and each T.81 fill
    * byte consumes one step too — 16 covers several pads per boundary
    */
  val MaxSegments = 16

  /** SOFn marker second bytes: C0-CF minus C4 (DHT), C8 (JPG ext),
    * CC (DAC) — the frame-header set across baseline/progressive/
    * lossless/arithmetic variants.
    */
  private val SofMarkers: Set[Long] =
    Set(0xC0L, 0xC1L, 0xC2L, 0xC3L, 0xC5L, 0xC6L, 0xC7L,
      0xC9L, 0xCAL, 0xCBL, 0xCDL, 0xCEL, 0xCFL)

  /** One payload's header facts, named as triage's output columns. */
  final case class Facts(is_jpeg: Boolean, precision: Option[Long],
      height: Option[Long], width: Option[Long], components: Option[Long])

  /** The header walk over one payload: `is_jpeg` (SOI signature FFD8),
    * then from the SOFn segment — precision (bits/sample), height,
    * width, components.
    */
  def walk(p: Array[Byte]): Facts = {
    val u8 = (o: Long) => uint(p, o, 1)
    val isJpeg = uint(p, 0, 2).contains(0xFFD8L)
    // segment walk from the first segment after SOI (0-based byte 2)
    val sof = Iterator.iterate(Option.when(isJpeg)(2L))(_.flatMap { o =>
        val mk = u8(o + 1)
        // ITU T.81 §B.1.1.2: any number of 0xFF fill bytes may pad the
        // gap before a marker. mk == 0xFF means `o` sits on a pad byte,
        // not a segment — step forward ONE byte (consuming one pad per
        // walk step) instead of misreading the marker byte as half of
        // a length and derailing the walk.
        if (!u8(o).contains(0xFFL)) None
        else if (mk.contains(0xFFL)) Some(o + 1)
        else if (mk.exists(m => SofMarkers(m) || m == 0xDAL)) None
        else uint(p, o + 2, 2).filter(_ >= 2).map(o + 2 + _)
      })
      .take(MaxSegments).takeWhile(_.isDefined).flatten
      .find(o => u8(o).contains(0xFFL) && u8(o + 1).exists(SofMarkers))
    Facts(isJpeg, sof.flatMap(o => u8(o + 4)),
      sof.flatMap(o => uint(p, o + 5, 2)), sof.flatMap(o => uint(p, o + 7, 2)),
      sof.flatMap(o => u8(o + 9)))
  }

  /** [[walk]] as one expression, nondeterministic only to be
    * evaluated once per row (see Bmff's). */
  private val walkUdf =
    udf((p: Array[Byte]) => Option(p).map(walk)).asNondeterministic()

  /** Header triage over a (id, payload: binary) frame: the id, then
    * [[Facts]]' columns. Non-JPEG rows keep their id with
    * is_jpeg=false and NULL facts.
    */
  def triage(df: DataFrame, idCol: String = "doc_id",
      payloadCol: String = "payload"): DataFrame =
    df.select(col(idCol), walkUdf(col(payloadCol)).as("facts"))
      .select(idCol, "facts.*")
}
