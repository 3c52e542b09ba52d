package graft.fixtures

import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.ByteArrayOutputStream

import javax.imageio.{IIOImage, ImageIO}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic multi-frame (animated) GIF fixture for the VIDEO
  * decode seam (m13): GIF is the one multi-frame container the JDK
  * stdlib can both write and read frame-by-frame, which makes it the
  * honest way to turn m3's declared frame-decode stub into a real
  * codec path without native deps. Each file is a genuine GIF89a
  * animation: `nFrames` full frames over an explicit 256-gray palette
  * (8-bit indexed → the palette IS the identity gray map, so the
  * pixel round trip is bit-exact, the Images.scala discipline), frame
  * pixel function pure arithmetic —
  * `pixel(x, y, f) = (x·7 + y·13 + f·31 + seed) mod 256` — so the
  * DuckDB oracle recomputes every frame's pixel sum analytically from
  * (w, h, nFrames, seed) while Spark must recover the same numbers by
  * DECODING real container bytes frame by frame. Encode lives here on
  * the fixture side; the engine ships only the frame decoder
  * (operators/Multimodal.GifFrameDecoder) — they share nothing but
  * the GIF spec.
  */
object Gif {

  /** (doc_id, w, h, nFrames, seed) — non-square dims, 1..8 frames
    * (including a single-frame "video" and the 1×1 degenerate), seeds
    * spanning the byte range.
    */
  final case class Spec(doc_id: Long, w: Int, h: Int, nFrames: Int, seed: Int)

  val specs: Seq[Spec] = Seq(
    Spec(1L, 16, 9, 4, 3),
    Spec(2L, 32, 18, 8, 77),
    Spec(3L, 7, 11, 2, 129),
    Spec(4L, 48, 27, 6, 200),
    Spec(5L, 1, 1, 1, 0),
    Spec(6L, 24, 24, 5, 254),
    Spec(7L, 40, 5, 7, 42),
    Spec(8L, 13, 31, 3, 90))

  def pixel(x: Int, y: Int, f: Int, seed: Int): Int =
    (x * 7 + y * 13 + f * 31 + seed) % 256

  // identity 256-gray palette: index i renders as gray i, so a
  // decoded frame's (rgb & 0xFF) recovers the written sample exactly
  private val grayPalette: IndexColorModel = {
    val g = Array.tabulate[Byte](256)(_.toByte)
    new IndexColorModel(8, 256, g, g, g)
  }

  /** Encode one spec as a real GIF89a animation (full frames, no
    * inter-frame disposal tricks — each sequence entry carries the
    * complete frame, which is what the reader hands back).
    */
  def encodeGif(sp: Spec): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(baos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (f <- 0 until sp.nFrames) {
      val img = new BufferedImage(sp.w, sp.h,
        BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
      val raster = img.getRaster
      var y = 0
      while (y < sp.h) {
        var x = 0
        while (x < sp.w) {
          raster.setSample(x, y, 0, pixel(x, y, f, sp.seed))
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    baos.toByteArray
  }

  final case class PayloadRow(doc_id: Long, payload: Array[Byte])

  /** The fixture as a payload table (doc_id, payload: binary), encoded
    * ON EXECUTORS — payload bytes never transit the driver (the
    * Images.pngPayloads / Video.mp4Payloads distributed shape).
    */
  def gifPayloads(s: SparkSession): DataFrame = {
    import s.implicits._
    s.createDataset(s.sparkContext.parallelize(specs, 4))
      .map(sp => PayloadRow(sp.doc_id, encodeGif(sp)))
      .toDF()
  }

  /** m13 oracle: DuckDB recomputes each frame's width/height/pixel
    * sum from the generation parameters alone (lateral range
    * expansion of the pixel formula); the engine must recover the
    * same rows by frame-stepping real GIF bytes through the JDK
    * codec. A single mis-decoded pixel or a dropped frame breaks the
    * hash.
    */
  def oracleSql: String = {
    val values = specs
      .map(sp => s"(${sp.doc_id}, ${sp.w}, ${sp.h}, ${sp.nFrames}, ${sp.seed})")
      .mkString(", ")
    val maxW = specs.map(_.w).max
    val maxH = specs.map(_.h).max
    val maxF = specs.map(_.nFrames).max
    s"""WITH vids(vid_id, w, h, nf, seed) AS (VALUES $values),
       |xs AS (SELECT i FROM range(0, $maxW) t(i)),
       |ys AS (SELECT j FROM range(0, $maxH) t(j)),
       |fs AS (SELECT f FROM range(0, $maxF) t(f))
       |SELECT vid_id AS doc_id, CAST(fs.f AS BIGINT) AS frame_idx,
       |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       |  CAST(SUM((xs.i * 7 + ys.j * 13 + fs.f * 31 + seed) % 256) AS BIGINT) AS pix_sum
       |FROM vids, xs, ys, fs
       |WHERE xs.i < w AND ys.j < h AND fs.f < nf
       |GROUP BY vid_id, fs.f, w, h ORDER BY doc_id, frame_idx""".stripMargin
  }
}
