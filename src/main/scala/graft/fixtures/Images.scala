package graft.fixtures

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic PNG fixture for the multimodal decode path (m4):
  * gray images whose pixel function is pure arithmetic —
  * `pixel(x, y) = (x·31 + y·17 + seed) mod 256` — so the DuckDB
  * oracle can compute every expected width/height/pixel-sum
  * analytically from (w, h, seed) with a lateral `range(w) × range(h)`
  * join, while Spark must recover the same facts by DECODING the
  * actual PNG bytes (javax.imageio, lossless 8-bit gray round trip).
  * Encode lives here on the fixture side; the engine ships only the
  * decoder (operators/Multimodal.ImageIoDecoder) — generation and
  * decode share no code beyond the pixel formula's documentation.
  */
object Images {

  /** (img_id, w, h, seed) — dimensions deliberately non-square,
    * non-power-of-two, including 1×1 and a 64×48 "large" frame.
    */
  val specs: Seq[(Long, Int, Int, Int)] = Seq(
    (1L, 8, 5, 3), (2L, 16, 9, 7), (3L, 32, 16, 11), (4L, 64, 48, 19),
    (5L, 1, 1, 0), (6L, 33, 7, 255), (7L, 5, 40, 128), (8L, 24, 24, 64),
    (9L, 2, 63, 200), (10L, 48, 3, 90), (11L, 17, 17, 42), (12L, 60, 10, 170))

  def pixel(x: Int, y: Int, seed: Int): Int = (x * 31 + y * 17 + seed) % 256

  /** Encode one spec'd image to PNG bytes (TYPE_BYTE_GRAY — the 8-bit
    * grayscale PNG round trip is bit-exact through javax.imageio).
    */
  def encodePng(w: Int, h: Int, seed: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, pixel(x, y, seed))
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    require(ImageIO.write(img, "png", out), "no PNG writer available")
    out.toByteArray
  }

  case class SpecRow(doc_id: Long, w: Int, h: Int, seed: Int)
  case class PayloadRow(doc_id: Long, payload: Array[Byte])

  /** The fixture as a payload table (doc_id, payload: binary) —
    * ENCODED ON EXECUTORS via a typed map, the same distributed shape
    * real media ingestion has (payload bytes never transit the
    * driver; at scale the map is a scan of an object store instead).
    */
  def pngPayloads(s: SparkSession): DataFrame = {
    import s.implicits._
    s.createDataset(s.sparkContext.parallelize(
        specs.map(t => SpecRow(t._1, t._2, t._3, t._4)), 4))
      .map(r => PayloadRow(r.doc_id, encodePng(r.w, r.h, r.seed)))
      .toDF()
  }

  /** The m4 oracle: DuckDB recomputes each image's pixel sum from the
    * generation parameters alone — a VALUES table of the specs and a
    * lateral range(w)×range(h) expansion of the pixel formula. The
    * engine-side numbers come from decoding real PNG bytes; agreement
    * is the proof the codec path is load-bearing.
    */
  def oracleSql: String = {
    val values = specs
      .map(t => s"(${t._1}, ${t._2}, ${t._3}, ${t._4})").mkString(", ")
    // DuckDB's range() takes no lateral column params, so the pixel
    // grid is a constant max-dims range cross join filtered per image
    val maxW = specs.map(_._2).max
    val maxH = specs.map(_._3).max
    s"""WITH imgs(img_id, w, h, seed) AS (VALUES $values),
       |xs AS (SELECT i FROM range(0, $maxW) t(i)),
       |ys AS (SELECT j FROM range(0, $maxH) t(j))
       |SELECT img_id AS doc_id,
       |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       |  CAST(SUM((xs.i * 31 + ys.j * 17 + seed) % 256) AS BIGINT) AS pix_sum
       |FROM imgs, xs, ys WHERE xs.i < w AND ys.j < h
       |GROUP BY img_id, w, h ORDER BY doc_id""".stripMargin
  }

  /** The fixture as a DIRECTORY of real .png FILES (m8's input): the
    * shape a media corpus actually arrives in — files in an object
    * store, identity in the file NAME, not a column. Written once per
    * warehouse dir (idempotent on content: encoding is deterministic);
    * a non-image `README.txt` is planted deliberately so the reader's
    * `pathGlobFilter` has something real to exclude.
    */
  /** The same spec'd images encoded as JPEG (TYPE_BYTE_GRAY → one
    * component, 8-bit precision) — the m12 header-triage input. JPEG
    * is lossy, so pixel values are NOT oracle material here; the SOF
    * header facts (dimensions, precision, component count) are, and
    * those are exact and encoder-independent.
    */
  def encodeJpeg(w: Int, h: Int, seed: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, pixel(x, y, seed))
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    require(ImageIO.write(img, "jpg", out), "no JPEG writer available")
    out.toByteArray
  }

  /** The fixture as JPEG payloads (doc_id, payload: binary), encoded
    * on executors like [[pngPayloads]].
    */
  def jpegPayloads(s: SparkSession): DataFrame = {
    import s.implicits._
    s.createDataset(s.sparkContext.parallelize(
        specs.map(t => SpecRow(t._1, t._2, t._3, t._4)), 4))
      .map(r => PayloadRow(r.doc_id, encodeJpeg(r.w, r.h, r.seed)))
      .toDF()
  }

  def writePngDir(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(root)
    specs.foreach { case (id, w, h, seed) =>
      java.nio.file.Files.write(
        root.resolve(f"img_$id%03d.png"), encodePng(w, h, seed))
    }
    java.nio.file.Files.write(root.resolve("README.txt"),
      "not an image - the glob filter must skip this".getBytes("UTF-8"))
    dir
  }

  /** The m5 oracle: the 2×2 integer average-pool replayed analytically
    * — per-cell `SUM // COUNT` over the generated pixel grid (border
    * cells clip, so odd dimensions pool to ceil(d/2)), then the pooled
    * image's dimensions and pixel sum. The engine side must produce
    * identical numbers after decode → pool → PNG re-encode → decode of
    * real bytes; one mis-pooled or mis-encoded pixel breaks the hash.
    */
  def pooledOracleSql: String = {
    val values = specs
      .map(t => s"(${t._1}, ${t._2}, ${t._3}, ${t._4})").mkString(", ")
    val maxW = specs.map(_._2).max
    val maxH = specs.map(_._3).max
    s"""WITH imgs(img_id, w, h, seed) AS (VALUES $values),
       |xs AS (SELECT i FROM range(0, $maxW) t(i)),
       |ys AS (SELECT j FROM range(0, $maxH) t(j)),
       |px AS (
       |  SELECT img_id, w, h, xs.i // 2 AS ci, ys.j // 2 AS cj,
       |    (xs.i * 31 + ys.j * 17 + seed) % 256 AS v
       |  FROM imgs, xs, ys WHERE xs.i < w AND ys.j < h
       |), cells AS (
       |  SELECT img_id, w, h, ci, cj, SUM(v) // COUNT(*) AS pv
       |  FROM px GROUP BY img_id, w, h, ci, cj
       |)
       |SELECT img_id AS doc_id,
       |  CAST((w + 1) // 2 AS BIGINT) AS width,
       |  CAST((h + 1) // 2 AS BIGINT) AS height,
       |  CAST(SUM(pv) AS BIGINT) AS pix_sum
       |FROM cells GROUP BY img_id, w, h ORDER BY doc_id""".stripMargin
  }

  /** m9 fixture: images engineered so the 8×8 average-hash groups them
    * into near-dup clusters. Same (w, h) with a nearby seed shifts
    * every pixel by a constant mod 256 — the hash (a mean-threshold
    * bit pattern) is shift-invariant except where values WRAP at 256,
    * so close seeds land hamming-close, far seeds land far. Chosen so
    * the hamming ≤ 3 pair set is {1-2, 1-8, 2-8 (exact, distance 0),
    * 5-6 (distance 1), 9-10 (distance 2)} with 3 sitting at distance 5
    * from 1/2/8 — just above the threshold, exercising the cut. All
    * dims ≥ 8 so every 8×8 cell is non-empty.
    */
  val neardupSpecs: Seq[(Long, Int, Int, Int)] = Seq(
    (1L, 16, 16, 10), (2L, 16, 16, 11), (3L, 16, 16, 13), (4L, 16, 16, 200),
    (5L, 32, 24, 10), (6L, 32, 24, 12), (7L, 32, 24, 150), (8L, 16, 16, 10),
    (9L, 40, 40, 77), (10L, 40, 40, 80))

  /** The neardup fixture as an executor-encoded PNG payload table. */
  def neardupPayloads(s: SparkSession): DataFrame = {
    import s.implicits._
    s.createDataset(s.sparkContext.parallelize(
        neardupSpecs.map(t => SpecRow(t._1, t._2, t._3, t._4)), 4))
      .map(r => PayloadRow(r.doc_id, encodePng(r.w, r.h, r.seed)))
      .toDF()
  }

  /** The m9 oracle: the 8×8 average-hash replayed analytically — cell
    * (ci, cj) = (x·8)//w, (y·8)//h (never empty for dims ≥ 8), bit =
    * cell mean > image mean via the exact cross-multiplication
    * `cell_sum · n_pixels > total_sum · cell_count`, hamming = count
    * of differing bits over an all-pairs bit join (fixture-sized;
    * the ENGINE side is the one that must scale, via the 16-bit band
    * pigeonhole join). Pairs at hamming ≤ 3, ordered.
    */
  def ahashOracleSql: String = {
    val values = neardupSpecs
      .map(t => s"(${t._1}, ${t._2}, ${t._3}, ${t._4})").mkString(", ")
    val maxW = neardupSpecs.map(_._2).max
    val maxH = neardupSpecs.map(_._3).max
    s"""WITH imgs(img_id, w, h, seed) AS (VALUES $values),
       |xs AS (SELECT i FROM range(0, $maxW) t(i)),
       |ys AS (SELECT j FROM range(0, $maxH) t(j)),
       |px AS (
       |  SELECT img_id, (xs.i * 8) // w AS ci, (ys.j * 8) // h AS cj,
       |    (xs.i * 31 + ys.j * 17 + seed) % 256 AS v
       |  FROM imgs, xs, ys WHERE xs.i < w AND ys.j < h
       |), cells AS (
       |  SELECT img_id, ci, cj, SUM(v) AS s, COUNT(*) AS c
       |  FROM px GROUP BY img_id, ci, cj
       |), tot AS (
       |  SELECT img_id, SUM(v) AS ts, COUNT(*) AS tc FROM px GROUP BY img_id
       |), bits AS (
       |  SELECT c.img_id, c.ci * 8 + c.cj AS k,
       |    CASE WHEN c.s * t.tc > t.ts * c.c THEN 1 ELSE 0 END AS b
       |  FROM cells c JOIN tot t ON c.img_id = t.img_id
       |), pairs AS (
       |  SELECT a.img_id AS id_a, b.img_id AS id_b,
       |    SUM(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS hamming
       |  FROM bits a JOIN bits b ON a.k = b.k AND a.img_id < b.img_id
       |  GROUP BY 1, 2
       |)
       |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
       |FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
  }
}
