package graft.perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import graft.input.WebTable
import org.apache.spark.sql.SparkSession
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}

/** Seeded input generators. Every input is a pure function of the seed
  * and the row index, so a seed gives the same bytes at any parallelism.
  */
object Inputs {
  private val gf = new GeometryFactory()

  /** Uniform double in [0, 1) from a seeded stream position. */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (WebTable.splitmix64(WebTable.splitmix64(seed * 1000003L + stream) ^ i) >>> 11) *
      (1.0 / (1L << 53))

  /** Raw pages `(url, warc_ts, html, text, lang)`: url, html and lang come
    * from the engine's page synthesizer, `text` from [[referenceText]], so
    * the pass's identity check compares the engine's extractor against an
    * independent one. The seed picks both the page text and a disjoint
    * block of page ids, so urls, and hence geocodes, differ per seed.
    */
  def writePages(spark: SparkSession, n: Long, seed: Long, parts: Int, path: String): Unit = {
    import spark.implicits._
    val first = Math.floorMod(seed, 1000L) * 100000000L
    spark.range(first, first + n, 1L, parts)
      .map { i =>
        val html = WebTable.htmlFor(i, seed)
        (WebTable.urlFor(i), new java.sql.Timestamp(1577836800000L + i * 1000L),
          html.getBytes(java.nio.charset.StandardCharsets.UTF_8), referenceText(html),
          WebTable.langFor(i))
      }
      .toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(path)
  }

  private val Blocks = "(?is)<(script|style)\\b.*?</\\1\\s*>".r
  private val Tag = "<[^>]*>".r
  private val Entity = "&(amp|lt|gt|quot|apos|nbsp|#[0-9]+);".r

  /** Visible text of an HTML page, the naive way: drop script and style
    * blocks, drop tags, decode entities, collapse whitespace.
    */
  def referenceText(html: String): String = {
    val bare = Tag.replaceAllIn(Blocks.replaceAllIn(html, ""), "")
    val decoded = Entity.replaceAllIn(bare, m => scala.util.matching.Regex.quoteReplacement(
      m.group(1) match {
        case "amp" => "&"
        case "lt" => "<"
        case "gt" => ">"
        case "quot" => "\""
        case "apos" => "'"
        case "nbsp" => " "
        case num => new String(Character.toChars(num.drop(1).toInt))
      }))
    decoded.split("\\s+").filter(_.nonEmpty).mkString(" ")
  }

  /** A star-shaped, hence simple, concave ring of `k` vertices around
    * (cx, cy), clockwise (the shapefile outer-ring orientation).
    */
  def starPolygon(cx: Double, cy: Double, r: Double, k: Int,
      seed: Long, id: Long): org.locationtech.jts.geom.Polygon = {
    val p1 = 2 * math.Pi * unit(seed, 11, id)
    val p2 = 2 * math.Pi * unit(seed, 12, id)
    val coords = Array.tabulate(k + 1) { j =>
      val t = -2 * math.Pi * (j % k) / k
      val rr = r * (0.72 + 0.16 * math.sin(3 * t + p1) + 0.08 * math.sin(11 * t + p2) +
        0.04 * unit(seed, 13, id * 4096 + (j % k)))
      new Coordinate(math.rint((cx + rr * math.cos(t)) * 100) / 100,
        math.rint((cy + rr * math.sin(t)) * 100) / 100)
    }
    gf.createPolygon(coords)
  }

  /** Ward-scale layer: `n` concave polygons of `k` vertices, one per 5 km
    * grid square of a square block, each inside its own square. The block
    * is offset from the 10 km BNG grid, so some wards straddle cell edges.
    */
  val WardX0 = 381250.0
  val WardY0 = 222500.0
  val WardPitch = 5000.0
  def wardSide(n: Int): Int = math.ceil(math.sqrt(n.toDouble)).toInt
  def wards(n: Int, k: Int, seed: Long): IndexedSeq[Geometry] = {
    val side = wardSide(n)
    (0 until n).map { i =>
      val cx = WardX0 + (i % side + 0.4 + 0.2 * unit(seed, 14, i)) * WardPitch
      val cy = WardY0 + (i / side + 0.4 + 0.2 * unit(seed, 15, i)) * WardPitch
      val r = WardPitch * (0.3 + 0.08 * unit(seed, 10, i))
      starPolygon(cx, cy, r, k, seed, i)
    }
  }

  /** Writes polygons as an ESRI shapefile (`.shp` + `.shx`, shape type 5,
    * one part each). The engine's `Shapefile.write` writes points only, so
    * the ward layer is written here and read back with `Shapefile.read`.
    */
  def writePolygonShapefile(polys: Seq[Geometry], base: String): Unit = {
    val recs = polys.map { g =>
      val cs = g.getCoordinates
      val env = g.getEnvelopeInternal
      val b = ByteBuffer.allocate(44 + 4 + cs.length * 16).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(5)
      b.putDouble(env.getMinX); b.putDouble(env.getMinY)
      b.putDouble(env.getMaxX); b.putDouble(env.getMaxY)
      b.putInt(1); b.putInt(cs.length); b.putInt(0)
      cs.foreach { c => b.putDouble(c.x); b.putDouble(c.y) }
      b.array()
    }
    val env = new org.locationtech.jts.geom.Envelope()
    polys.foreach(g => env.expandToInclude(g.getEnvelopeInternal))
    def header(bytes: Int): ByteBuffer = {
      val h = ByteBuffer.allocate(100).order(ByteOrder.BIG_ENDIAN)
      h.putInt(0, 9994); h.putInt(24, bytes / 2)
      h.order(ByteOrder.LITTLE_ENDIAN)
      h.putInt(28, 1000); h.putInt(32, 5)
      h.putDouble(36, env.getMinX); h.putDouble(44, env.getMinY)
      h.putDouble(52, env.getMaxX); h.putDouble(60, env.getMaxY)
      h
    }
    val shpLen = 100 + recs.map(8 + _.length).sum
    val shp = header(shpLen)
    val shpBuf = ByteBuffer.allocate(shpLen).order(ByteOrder.BIG_ENDIAN)
    shpBuf.put(shp.array())
    val shx = ByteBuffer.allocate(100 + 8 * recs.length).order(ByteOrder.BIG_ENDIAN)
    shx.put(header(100 + 8 * recs.length).array())
    recs.zipWithIndex.foreach { case (r, i) =>
      shx.putInt(shpBuf.position() / 2); shx.putInt(r.length / 2)
      shpBuf.putInt(i + 1); shpBuf.putInt(r.length / 2); shpBuf.put(r)
    }
    Files.write(Paths.get(base + ".shp"), shpBuf.array())
    Files.write(Paths.get(base + ".shx"), shx.array())
  }

  /** Points `(point_id, x, y)` uniform over the ward block, on a 1 m grid. */
  def writeWardPoints(spark: SparkSession, n: Long, wardsN: Int, seed: Long,
      parts: Int, path: String): Unit = {
    import spark.implicits._
    val extent = wardSide(wardsN) * WardPitch
    spark.range(0L, n, 1L, parts).map { i =>
      (i, WardX0 + math.floor(unit(seed, 20, i) * extent),
        WardY0 + math.floor(unit(seed, 21, i) * extent))
    }.toDF("point_id", "x", "y").write.mode("overwrite").parquet(path)
  }

  /** Raster geometries `(geom_id, geometry)` as WKB, uniform over a square
    * of `sideM` metres: three in four are 200 m boxes, one in four a
    * 64-vertex concave polygon.
    */
  val RasterX0 = 400000.0
  val RasterY0 = 300000.0
  def rasterGeom(i: Long, sideM: Double, seed: Long): Geometry = {
    val cx = RasterX0 + 300 + unit(seed, 30, i) * (sideM - 600)
    val cy = RasterY0 + 300 + unit(seed, 31, i) * (sideM - 600)
    if (i % 4 != 3) {
      val h = 100.0
      gf.createPolygon(Array(new Coordinate(cx - h, cy - h), new Coordinate(cx - h, cy + h),
        new Coordinate(cx + h, cy + h), new Coordinate(cx + h, cy - h),
        new Coordinate(cx - h, cy - h)))
    } else starPolygon(cx, cy, 150 + 150 * unit(seed, 32, i), 64, seed, i)
  }

  def writeRasterGeoms(spark: SparkSession, n: Long, sideM: Double, seed: Long,
      parts: Int, path: String): Unit = {
    import spark.implicits._
    spark.range(0L, n, 1L, parts)
      .map(i => (i, graft.geo.Wkb.write(rasterGeom(i, sideM, seed))))
      .toDF("geom_id", "geometry").write.mode("overwrite").parquet(path)
  }

  /** Near-duplicate documents. Cluster `c` owns doc ids `4c .. 4c+3`; its
    * first [[clusterSize]] ids exist. Member 0 is 60 seeded words; member
    * `m` > 0 is member 0 with word `(17m + offset) % 60` replaced, so
    * members share at least 0.8 of their 3-word shingles and documents of
    * different clusters almost none.
    */
  val DocWords = 60
  private val Syllables = Array("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "ze")
  private def word(k: Int): String =
    Iterator.iterate(k)(_ / 10).take(4).map(d => Syllables(d % 10)).mkString
  def clusterSize(c: Long, seed: Long): Int = 1 + (unit(seed, 40, c) * 4).toInt
  def docText(id: Long, seed: Long): String = {
    val c = id / 4
    val m = (id % 4).toInt
    val words = Array.tabulate(DocWords)(k => (unit(seed, 41, c * DocWords + k) * 10000).toInt)
    if (m > 0) {
      val p = (17 * m + (unit(seed, 42, c) * DocWords).toInt) % DocWords
      val r = (unit(seed, 43, c * 4 + m) * 10000).toInt
      words(p) = if (r == words(p)) (r + 1) % 10000 else r
    }
    words.map(word).mkString(" ")
  }
  def docIds(clusters: Long, seed: Long): Iterator[Long] =
    (0L until clusters).iterator.flatMap(c => (0 until clusterSize(c, seed)).map(c * 4 + _))

  def writeDocs(spark: SparkSession, clusters: Long, seed: Long, parts: Int, path: String): Unit = {
    import spark.implicits._
    spark.range(0L, clusters * 4, 1L, parts)
      .filter(id => id % 4 < clusterSize(id / 4, seed))
      .map(id => (id, docText(id, seed)))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
  }

  /** Events `(user_id, ts, event_type, value)` over two days; values are
    * quarters, so every sum is exact.
    */
  val EventTypes = Array("view", "click", "share", "buy")
  val EventT0Ms = 1577836800000L
  def event(i: Long, seed: Long): (Long, Long, String, Double) =
    (i % 997, EventT0Ms + (unit(seed, 50, i) * 172800).toLong * 1000L,
      EventTypes((unit(seed, 51, i) * EventTypes.length).toInt),
      (unit(seed, 52, i) * 400).toInt / 4.0)

  def writeEvents(spark: SparkSession, n: Long, seed: Long, parts: Int, path: String): Unit = {
    import spark.implicits._
    spark.range(0L, n, 1L, parts).map { i =>
      val (u, ms, t, v) = event(i, seed)
      (u, new java.sql.Timestamp(ms), t, v)
    }.toDF("user_id", "ts", "event_type", "value").write.mode("overwrite").parquet(path)
  }

  /** Image `j`: a 24-bit BMP from the engine's `Bmp.synth` with a seeded
    * pixel seed and size.
    */
  def imageSpec(j: Long, seed: Long): (Long, Int, Int) =
    ((unit(seed, 60, j) * 256).toLong, 48 + (unit(seed, 61, j) * 80).toInt,
      48 + (unit(seed, 62, j) * 80).toInt)

  def writeImages(spark: SparkSession, n: Long, seed: Long, parts: Int, path: String): Unit = {
    import spark.implicits._
    spark.range(0L, n, 1L, parts).map { j =>
      val (s, w, h) = imageSpec(j, seed)
      (j, graft.multimodal.Bmp.synth(s, w, h))
    }.toDF("image_id", "bytes").write.mode("overwrite").parquet(path)
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      } finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      } finally s.close()
    }
  }
}
