package graft.perfbench

import graft.geo.GeoExpressions._
import graft.index.IndexExpressions._
import graft.input.{Shapefile, WebTable}
import graft.multimodal.Multimodal
import graft.ops.{Categorize, ConnectedComponents, Dedup, SpatialJoin}
import graft.raster.{Rasterize, RasterPipeline, TileStore, Zarr}
import graft.streaming.EventStream
import graft.text.TextExtract
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Input sizes. `full` is the measured size; `tiny` is for the smoke test. */
final case class Scale(pages: Long, wards: Int, wardVertices: Int, wardPoints: Long,
    rasterSideM: Double, rasterGeoms: Long, docClusters: Long, events: Long, images: Long)

object Scale {
  val full = Scale(pages = 100000L, wards = 2000, wardVertices = 512, wardPoints = 20000L,
    rasterSideM = 56000.0, rasterGeoms = 6000L, docClusters = 250L, events = 20000L,
    images = 30L)
  val tiny = Scale(pages = 4000L, wards = 64, wardVertices = 64, wardPoints = 2000L,
    rasterSideM = 20000.0, rasterGeoms = 800L, docClusters = 40L, events = 4000L,
    images = 6L)
}

/** One workload: seeded inputs, an untraced pass, the same pass as a chain
  * of traced stages, and a check of the pass output against an
  * independent recomputation.
  */
trait Workload {
  def inputRows: Long
  /** Writes the seeded inputs under `in`. */
  def setup(spark: SparkSession, in: String): Unit
  /** One pass from the inputs under `in` to outputs under `out`. */
  def pass(spark: SparkSession, in: String, out: String): Unit
  /** The pass as traced stages, each materialized before the next starts.
    * Returns the per-layer metrics of this pass.
    */
  def tracedPass(spark: SparkSession, t: Tracer, in: String, out: String): Map[String, Double]
  /** Layers measured only in the traced run, after each traced pass and
    * outside its span tree; they are not part of `pass`.
    */
  def tracedExtras(spark: SparkSession, t: Tracer, in: String, out: String): Map[String, Double] =
    Map.empty
  /** Damages the output in the workload's way number `kind`, so that
    * `check` must fail; used by the smoke test.
    */
  def corrupt(spark: SparkSession, in: String, out: String, kind: Int): Unit
  /** Failure messages; empty when the output is correct. */
  def check(spark: SparkSession, in: String, out: String): Seq[String]
}

object Workloads {
  /** `traced`: the run is traced, so set-up also writes the inputs of the
    * traced extras.
    */
  def apply(name: String, scale: Scale, seed: Long, traced: Boolean): Workload = name match {
    case "pages_e2e" => new PagesE2e(scale, seed, traced)
    case "pip_wards" => new PipWards(scale, seed)
    case "raster_tiles" => new RasterTiles(scale, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Runs a stage as span `name`: builds its output and materializes it in
    * the cache, so the next stage starts from cached rows.
    */
  def stage(t: Tracer, name: String)(df: => DataFrame): (DataFrame, Long, Span) = {
    val ((p, n), s) = t.span(name) {
      val p = df.persist()
      (p, p.count())
    }
    t.rowsOut(s, n)
    (p, n, s)
  }

  /** Rewrites a parquet output without its first row. */
  def dropOneRow(spark: SparkSession, path: String): Unit =
    rewriteRows(spark, path)(_.drop(1))

  /** Rewrites a parquet output with its rows passed through `f`. */
  def rewriteRows(spark: SparkSession, path: String)(
      f: Seq[org.apache.spark.sql.Row] => Seq[org.apache.spark.sql.Row]): Unit = {
    val rows = spark.read.parquet(path).collect().toSeq
    val schema = spark.read.parquet(path).schema
    val tmp = path + ".tmp"
    spark.createDataFrame(spark.sparkContext.parallelize(f(rows), 1), schema)
      .write.mode("overwrite").parquet(tmp)
    Inputs.deleteTree(path)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(path))
  }
}

/** Raw web pages to tiles: text identity check, geocode, H3/S2/BNG
  * encode, categorize, point-in-box join, per-tile aggregate, write. The
  * traced run adds the corpus operators of [[CorpusOps]] on their own
  * seeded inputs.
  */
final class PagesE2e(scale: Scale, seed: Long, traced: Boolean) extends Workload {
  private val corpus = new CorpusOps(scale, seed)
  private var corpusRan = false
  val inputRows: Long = scale.pages
  private def pagesPath(in: String) = s"$in/pages"
  private def tilesPath(out: String) = s"$out/tiles"

  private val geocodeUdf = udf { (url: String) =>
    val (x, y) = WebTable.geocode(url); Array(x, y)
  }

  def setup(spark: SparkSession, in: String): Unit = {
    Inputs.writePages(spark, scale.pages, seed, 32, pagesPath(in))
    if (traced) corpus.setup(spark, in)
  }

  private def checked(pages: DataFrame): DataFrame =
    pages.withColumn("text_bad",
      when(TextExtract.extract_text(col("html")) === col("text"), 0L).otherwise(1L))

  private def encoded(df: DataFrame): DataFrame =
    df.select(col("url"), col("lang"), col("text_bad"),
        geocodeUdf(col("url")).as("xy"))
      .select(col("url"), col("lang"), col("text_bad"),
        col("xy")(0).as("x"), col("xy")(1).as("y"))
      .withColumn("h3_9", h3_index_point(col("x"), col("y"), 9))
      .withColumn("s2_12", s2_index_point(col("x"), col("y"), 12))
      .withColumn("bng10", bng_index_point(col("x"), col("y"), 10000L))

  private def joined(df: DataFrame, spark: SparkSession): DataFrame =
    SpatialJoin.pointInPolygon(df, "x", "y", graft.Bench.polygonDims(spark), "geometry")

  private def tiles(df: DataFrame): DataFrame =
    df.groupBy(col("bng10"))
      .agg(count(lit(1)).as("matches"),
        sum(col("text_bad")).as("text_mismatches"),
        countDistinct(col("lang_code")).as("n_langs"),
        approx_count_distinct(col("h3_9"), 0.15).as("h3_cells"),
        approx_count_distinct(col("s2_12"), 0.15).as("s2_cells"))

  def pass(spark: SparkSession, in: String, out: String): Unit = {
    val enc = encoded(checked(spark.read.parquet(pagesPath(in))))
    val coded = Categorize.categorizeColumnPlan(enc, "lang", "lang_code")
    tiles(joined(coded, spark)).write.mode("overwrite").parquet(tilesPath(out))
  }

  def tracedPass(spark: SparkSession, t: Tracer, in: String, out: String): Map[String, Double] = {
    val (pages, _, scan) = Workloads.stage(t, "input.scan")(spark.read.parquet(pagesPath(in)))
    // Materializing the checked rows and counting the mismatches is one job.
    val ((chk, bad), text) = t.span("text.extract") {
      val c = checked(pages).persist()
      (c, c.filter(col("text_bad") =!= 0L).count())
    }
    t.rowsOut(text, inputRows)
    pages.unpersist()
    val (enc, _, encode) = Workloads.stage(t, "index.encode")(encoded(chk))
    chk.unpersist()
    val ((coded, call), cat) = t.span("ops.categorize") {
      val (plan, call) = t.span("ops.categorize.call") {
        Categorize.categorizeColumnPlan(enc, "lang", "lang_code")
      }
      (Workloads.stage(t, "ops.categorize.materialize")(plan)._1, call)
    }
    val (j, _, join) = Workloads.stage(t, "ops.pip_join")(joined(coded, spark))
    coded.unpersist(); enc.unpersist()
    val (tl, _, agg) = Workloads.stage(t, "ops.tile_agg")(tiles(j))
    j.unpersist()
    val (_, write) = t.span("run.write") {
      tl.write.mode("overwrite").parquet(tilesPath(out))
    }
    tl.unpersist()
    Map(
      "input.scan_s" -> scan.seconds,
      "input.scan_bytes" -> scan.counts.getOrElse("input_bytes", 0d),
      "text.extract_s" -> text.seconds,
      "text.mismatch_rows" -> bad.toDouble,
      "index.encode_s" -> encode.seconds,
      "ops.categorize_s" -> cat.seconds,
      "ops.categorize_jobs" -> call.counts.getOrElse("jobs", 0d),
      "ops.pip_join_s" -> join.seconds,
      "ops.tile_agg_s" -> agg.seconds,
      "ops.shuffle_bytes" -> agg.counts.getOrElse("shuffle_write_bytes", 0d),
      "run.write_s" -> write.seconds,
      "run.write_bytes" -> Inputs.dirBytes(tilesPath(out)).toDouble)
  }

  override def tracedExtras(spark: SparkSession, t: Tracer, in: String,
      out: String): Map[String, Double] = {
    corpusRan = true
    t.span("corpus")(corpus.tracedPass(spark, t, in, out))._1
  }

  /** 1: drop a tile row. 2: change the stored text of one page. 3 and up
    * (traced run only): [[CorpusOps.corrupt]] kind 1 and up.
    */
  def corrupt(spark: SparkSession, in: String, out: String, kind: Int): Unit =
    if (kind == 1) Workloads.dropOneRow(spark, tilesPath(out))
    else if (kind > 2) corpus.corrupt(spark, in, out, kind - 2)
    else {
      val pages = spark.read.parquet(pagesPath(in))
      val url = pages.select("url").head().getString(0)
      pages.withColumn("text", when(col("url") === url, concat(col("text"), lit("x")))
          .otherwise(col("text")))
        .write.parquet(pagesPath(in) + ".tmp")
      Inputs.deleteTree(pagesPath(in))
      java.nio.file.Files.move(java.nio.file.Paths.get(pagesPath(in) + ".tmp"),
        java.nio.file.Paths.get(pagesPath(in)))
    }

  def check(spark: SparkSession, in: String, out: String): Seq[String] = {
    import spark.implicits._
    val pages = spark.read.parquet(pagesPath(in))
    val textBad = checked(pages).filter(col("text_bad") =!= 0L).count()
    // Point-in-box by arithmetic over the geocoded pages, closed boxes.
    val boxes = graft.Bench.polygonDims(spark).collect().map { r =>
      val e = graft.geo.Wkb.read(r.getAs[Array[Byte]]("geometry")).getEnvelopeInternal
      (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }.toSeq.toDF("x0", "y0", "x1", "y1")
    val pts = pages.select(geocodeUdf(col("url")).as("xy"))
      .select(col("xy")(0).as("x"), col("xy")(1).as("y"))
    val expected = pts.crossJoin(broadcast(boxes))
      .filter(col("x") >= col("x0") && col("x") <= col("x1") &&
        col("y") >= col("y0") && col("y") <= col("y1")).count()
    val outRow = spark.read.parquet(tilesPath(out))
      .agg(coalesce(sum(col("matches")), lit(0L)), coalesce(sum(col("text_mismatches")), lit(0L)))
      .head()
    Seq(
      if (textBad != 0) Some(s"$textBad pages fail the text identity check") else None,
      if (outRow.getLong(1) != 0) Some(s"tiles report ${outRow.getLong(1)} text mismatches") else None,
      if (outRow.getLong(0) != expected)
        Some(s"tiles hold ${outRow.getLong(0)} matches, point-in-box arithmetic gives $expected")
      else None,
      if (expected == 0) Some("no page falls in any box") else None).flatten ++
      (if (corpusRan) corpus.check(spark, in, out) else Nil)
  }
}

/** Points against a ward-scale layer of concave polygons read from a
  * shapefile: refine dominates, and the layer is larger than the refine's
  * per-thread prepared-geometry cache.
  */
final class PipWards(scale: Scale, seed: Long) extends Workload {
  val inputRows: Long = scale.wardPoints
  private def shp(in: String) = s"$in/wards"
  private def pointsPath(in: String) = s"$in/points"
  private def countsPath(out: String) = s"$out/counts"

  def setup(spark: SparkSession, in: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    Inputs.writePolygonShapefile(Inputs.wards(scale.wards, scale.wardVertices, seed), shp(in))
    Inputs.writeWardPoints(spark, scale.wardPoints, scale.wards, seed, 32, pointsPath(in))
  }

  def pass(spark: SparkSession, in: String, out: String): Unit = {
    val polys = Shapefile.read(spark, shp(in))
    SpatialJoin.pointInPolygon(spark.read.parquet(pointsPath(in)), "x", "y", polys, "geom")
      .groupBy(col("fid")).agg(count(lit(1)).as("matches"))
      .write.mode("overwrite").parquet(countsPath(out))
  }

  /** The stages rebuild `SpatialJoin.pointInPolygon` from the same public
    * expressions: cell cover of the polygons, cell equi-join, keyed refine.
    */
  def tracedPass(spark: SparkSession, t: Tracer, in: String, out: String): Map[String, Double] = {
    val (polys, _, read) = Workloads.stage(t, "input.read_polys")(Shapefile.read(spark, shp(in)))
    val (cells, nCells, cover) = Workloads.stage(t, "index.poly_cover") {
      polys
        .withColumn("cell", explode(bng_index_ids(col("geom"), 10000L, "intersects")))
        .withColumn("gkey", st_geom_key(col("geom")))
        .select(col("cell"), col("fid"), col("gkey"))
    }
    val (cands, nCands, join) = Workloads.stage(t, "ops.cell_join") {
      spark.read.parquet(pointsPath(in))
        .withColumn("cell", bng_cell_id(col("x"), col("y"), 10000L))
        .join(broadcast(cells), Seq("cell"))
        .select(col("point_id"), col("x"), col("y"), col("fid"), col("gkey"))
    }
    cells.unpersist()
    val (matches, nMatches, refine) = Workloads.stage(t, "geo.refine") {
      cands
        .join(broadcast(polys.select(col("fid"), col("geom"))), Seq("fid"))
        .filter(st_predicate_point_keyed(col("gkey"), col("geom"), col("x"), col("y"), "covers"))
        .select(col("point_id"), col("fid"))
    }
    cands.unpersist(); polys.unpersist()
    val (_, cnt) = t.span("ops.pip_count") {
      matches.groupBy(col("fid")).agg(count(lit(1)).as("matches"))
        .write.mode("overwrite").parquet(countsPath(out))
    }
    matches.unpersist()
    Map(
      "input.read_polys_s" -> read.seconds,
      "index.poly_cover_s" -> cover.seconds,
      "index.poly_cells" -> nCells.toDouble,
      "ops.cell_join_s" -> join.seconds,
      "ops.pip_candidates" -> nCands.toDouble,
      "geo.refine_s" -> refine.seconds,
      "geo.refine_us_per_candidate" -> (if (nCands > 0) refine.seconds * 1e6 / nCands else 0d),
      "ops.pip_matches" -> nMatches.toDouble,
      "ops.pip_hit_ratio" -> (if (nCands > 0) nMatches.toDouble / nCands else 0d),
      "ops.pip_count_s" -> cnt.seconds)
  }

  /** 1: drop a polygon's count row. */
  def corrupt(spark: SparkSession, in: String, out: String, kind: Int): Unit =
    Workloads.dropOneRow(spark, countsPath(out))

  /** Every point against every polygon with JTS `covers`, no cell index. */
  def check(spark: SparkSession, in: String, out: String): Seq[String] = {
    val pts = spark.read.parquet(pointsPath(in)).select("x", "y").collect()
    val xs = pts.map(_.getDouble(0)); val ys = pts.map(_.getDouble(1))
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    val polys = Shapefile.read(spark, shp(in)).collect()
      .map(r => (r.getAs[Long]("fid"), graft.geo.Wkb.read(r.getAs[Array[Byte]]("geom"))))
    val expected = polys.map { case (fid, g) =>
      val env = g.getEnvelopeInternal
      val prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(g)
      var n = 0L; var i = 0
      while (i < xs.length) {
        if (env.covers(xs(i), ys(i)) &&
          prep.covers(gf.createPoint(new org.locationtech.jts.geom.Coordinate(xs(i), ys(i))))) n += 1
        i += 1
      }
      fid -> n
    }.filter(_._2 > 0).toMap
    val got = spark.read.parquet(countsPath(out)).collect()
      .map(r => r.getAs[Long]("fid") -> r.getAs[Long]("matches")).toMap
    val wrong = (expected.keySet ++ got.keySet).toSeq.sorted
      .filter(k => expected.getOrElse(k, 0L) != got.getOrElse(k, 0L))
    Seq(
      if (wrong.nonEmpty)
        Some(s"${wrong.size} polygons differ from brute-force covers, first fid ${wrong.head}: " +
          s"join ${got.getOrElse(wrong.head, 0L)}, brute force ${expected.getOrElse(wrong.head, 0L)}")
      else None,
      if (expected.isEmpty) Some("no point falls in any polygon") else None).flatten
  }
}

/** Geometries burned into a 10 m tile store, then exported to Zarr. */
final class RasterTiles(scale: Scale, seed: Long) extends Workload {
  val inputRows: Long = scale.rasterGeoms
  private def geomsPath(in: String) = s"$in/geoms"
  private def storePath(out: String) = s"$out/store"
  private def zarrPath(out: String) = s"$out/zarr"

  def setup(spark: SparkSession, in: String): Unit =
    Inputs.writeRasterGeoms(spark, scale.rasterGeoms, scale.rasterSideM, seed, 32, geomsPath(in))

  private def store(spark: SparkSession, in: String, out: String): DataFrame =
    RasterPipeline.toTileStore(spark.read.parquet(geomsPath(in)), "geometry", Seq.empty,
      storePath(out), overwrite = true)

  def pass(spark: SparkSession, in: String, out: String): Unit = {
    store(spark, in, out)
    Zarr.export(spark, storePath(out), zarrPath(out))
  }

  def tracedPass(spark: SparkSession, t: Tracer, in: String, out: String): Map[String, Double] = {
    // The store call is eager; counting its tiles reads the cached metrics.
    val (tiles, st) = t.span("raster.store") {
      store(spark, in, out).select("tile").distinct().count()
    }
    t.rowsOut(st, tiles)
    val (_, zarr) = t.span("raster.zarr")(Zarr.export(spark, storePath(out), zarrPath(out)))
    Map(
      "raster.store_s" -> st.seconds,
      "raster.tiles_written" -> tiles.toDouble,
      "raster.store_bytes" -> Inputs.dirBytes(storePath(out)).toDouble,
      "raster.shuffle_bytes" -> st.counts.getOrElse("shuffle_write_bytes", 0d),
      "raster.spill_bytes" -> st.counts.getOrElse("spill_bytes", 0d),
      "raster.zarr_s" -> zarr.seconds,
      "raster.zarr_bytes" -> Inputs.dirBytes(zarrPath(out)).toDouble)
  }

  /** Tiles the check reads back: three, picked by the seed. */
  private def sample(out: String): Seq[String] = {
    val all = new TileStore(storePath(out)).tiles().sorted
    val rnd = new scala.util.Random(seed)
    rnd.shuffle(all).take(3)
  }

  /** 1: flip a cell of a sampled store tile. 2: flip a byte of its Zarr
    * chunk (zlib-compressed uint8 cells).
    */
  def corrupt(spark: SparkSession, in: String, out: String, kind: Int): Unit = {
    val st = new TileStore(storePath(out))
    val ref = sample(out).head
    if (kind == 1) {
      val data = st.readRegion(ref, "mask", "uint8")
      data(data.length / 2) = 1 - data(data.length / 2)
      st.writeRegion(ref, "mask", "uint8", data)
    } else {
      val h = st.header
      val (minx, _, _, maxy) = graft.index.Bng.bounds(ref)
      val ci = math.round((h.canvasMaxY - maxy) / h.tileSize).toInt
      val cj = math.round((minx - h.canvasMinX) / h.tileSize).toInt
      val f = java.nio.file.Paths.get(zarrPath(out), "mask", s"$ci.$cj")
      val inf = new java.util.zip.Inflater()
      inf.setInput(java.nio.file.Files.readAllBytes(f))
      val cells = math.round(h.tileSize / h.cellSize).toInt
      val raw = new Array[Byte](cells * cells)
      inf.inflate(raw); inf.end()
      raw(raw.length / 2) = (1 - raw(raw.length / 2)).toByte
      val dfl = new java.util.zip.Deflater()
      dfl.setInput(raw); dfl.finish()
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](65536)
      while (!dfl.finished()) buf.write(chunk, 0, dfl.deflate(chunk))
      dfl.end()
      java.nio.file.Files.write(f, buf.toByteArray)
    }
  }

  /** Sampled tiles, read back from the store and from the Zarr chunk,
    * against a local burn of every geometry touching the tile.
    */
  def check(spark: SparkSession, in: String, out: String): Seq[String] = {
    val st = new TileStore(storePath(out))
    val h = st.header
    val cells = math.round(h.tileSize / h.cellSize).toInt
    val geoms = (0L until scale.rasterGeoms).map(i => Inputs.rasterGeom(i, scale.rasterSideM, seed))
    val meta = Zarr.readArrayMeta(s"${zarrPath(out)}/mask")
    val tiles = sample(out)
    val results = tiles.map { ref =>
      val (minx, miny, maxx, maxy) = graft.index.Bng.bounds(ref)
      val grid = Rasterize.empty(minx, miny, h.cellSize, cells, 0d)
      val tileEnv = new org.locationtech.jts.geom.Envelope(minx, maxx, miny, maxy)
      geoms.filter(_.getEnvelopeInternal.intersects(tileEnv))
        .foreach(g => Rasterize.burnGeometry(grid, g, 1d))
      val ci = math.round((h.canvasMaxY - maxy) / h.tileSize).toInt
      val cj = math.round((minx - h.canvasMinX) / h.tileSize).toInt
      val fromStore = st.readRegion(ref, "mask", "uint8")
      val fromZarr = Zarr.readChunk(s"${zarrPath(out)}/mask", meta, ci, cj)
      val msgs = Seq(
        if (!java.util.Arrays.equals(fromStore, grid.data)) Some(s"store tile $ref differs from the burn") else None,
        if (!java.util.Arrays.equals(fromZarr, grid.data)) Some(s"zarr chunk of tile $ref differs from the burn") else None
      ).flatten
      (msgs, grid.data.count(_ != 0d))
    }
    if (tiles.isEmpty) Seq("the store holds no tile")
    else if (results.map(_._2).sum == 0) Seq("the sampled tiles burned no cell")
    else results.flatMap(_._1)
  }
}

/** Corpus operators, run in the traced run of `pages_e2e`: MinHash
  * near-duplicate pairs, their connected components, an hourly event
  * aggregate run as a streaming query, and a batch image decode. The
  * methods mirror [[Workload]]'s.
  */
final class CorpusOps(scale: Scale, seed: Long) {
  val Threshold = 0.7
  private val docIds = Inputs.docIds(scale.docClusters, seed).toIndexedSeq
  private def docsPath(in: String) = s"$in/docs"
  private def eventsPath(in: String) = s"$in/events"
  private def imagesPath(in: String) = s"$in/images"
  private def pairsPath(out: String) = s"$out/pairs"
  private def componentsPath(out: String) = s"$out/components"
  private def hourlyPath(out: String) = s"$out/hourly"
  private def decodedPath(out: String) = s"$out/decoded"

  def setup(spark: SparkSession, in: String): Unit = {
    Inputs.writeDocs(spark, scale.docClusters, seed, 8, docsPath(in))
    Inputs.writeEvents(spark, scale.events, seed, 8, eventsPath(in))
    Inputs.writeImages(spark, scale.images, seed, 8, imagesPath(in))
  }

  private def dedup(spark: SparkSession, in: String, out: String): Unit =
    Dedup.minhashDedup(spark.read.parquet(docsPath(in)), "doc_id", "text", Threshold)
      .write.mode("overwrite").parquet(pairsPath(out))

  private def components(spark: SparkSession, out: String): Unit =
    ConnectedComponents.clusterRepresentatives(spark.read.parquet(pairsPath(out)), "a", "b")
      .write.mode("overwrite").parquet(componentsPath(out))

  private def hourly(spark: SparkSession, in: String, out: String): Unit =
    EventStream.runHourlyAvailableNow(spark, eventsPath(in), "perfbench_hourly")
      .write.mode("overwrite").parquet(hourlyPath(out))

  private def decode(spark: SparkSession, in: String, out: String): Unit =
    Multimodal.decodeBmpMeta(spark.read.parquet(imagesPath(in)), "image_id", "bytes")
      .write.mode("overwrite").parquet(decodedPath(out))

  def tracedPass(spark: SparkSession, t: Tracer, in: String, out: String): Map[String, Double] = {
    val (pairs, dd) = t.span("ops.dedup") {
      dedup(spark, in, out)
      spark.read.parquet(pairsPath(out)).count()
    }
    val (_, cc) = t.span("ops.components")(components(spark, out))
    val (_, st) = t.span("streaming.hourly")(hourly(spark, in, out))
    val (_, mm) = t.span("multimodal.decode")(decode(spark, in, out))
    Map(
      "ops.dedup_s" -> dd.seconds,
      "ops.dedup_pairs" -> pairs.toDouble,
      "ops.components_s" -> cc.seconds,
      "ops.components_jobs" -> cc.counts.getOrElse("jobs", 0d),
      "streaming.hourly_s" -> st.seconds,
      "multimodal.decode_s" -> mm.seconds)
  }

  /** 1: drop a component row. 2: drop an hourly row. 3: drop a decoded
    * image row. 4: add a pair across two clusters.
    */
  def corrupt(spark: SparkSession, in: String, out: String, kind: Int): Unit = kind match {
    case 1 => Workloads.dropOneRow(spark, componentsPath(out))
    case 2 => Workloads.dropOneRow(spark, hourlyPath(out))
    case 3 => Workloads.dropOneRow(spark, decodedPath(out))
    case _ => Workloads.rewriteRows(spark, pairsPath(out))(rows =>
      rows :+ org.apache.spark.sql.Row(docIds.head, docIds.last, 1.0))
  }

  /** 3-word shingle Jaccard of two space-separated texts. */
  private def jaccard(a: String, b: String): Double = {
    def sh(s: String) = s.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    x.intersect(y).size.toDouble / x.union(y).size
  }

  /** Pairs against a driver-side Jaccard; components against the
    * generator's clusters; hourly rows against a driver-side aggregate of
    * the generated events; decoded images against the pixel formula of
    * the generator.
    */
  def check(spark: SparkSession, in: String, out: String): Seq[String] = {
    val pairs = spark.read.parquet(pairsPath(out)).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("jaccard")))
    val badPairs = pairs.filter { case (a, b, j) =>
      val ref = jaccard(Inputs.docText(a, seed), Inputs.docText(b, seed))
      a >= b || ref < Threshold || math.abs(ref - j) > 1e-9
    }
    val expComp = docIds.groupBy(_ / 4).values.filter(_.size > 1)
      .flatMap(ids => ids.map(_ -> ids.min)).toMap
    val gotComp = spark.read.parquet(componentsPath(out)).collect()
      .map(r => r.getAs[Long]("node") -> (r.getAs[Long]("component"), r.getAs[Boolean]("keep")))
      .toMap
    val badComp = (expComp.keySet ++ gotComp.keySet).count(n =>
      !expComp.get(n).contains(gotComp.get(n).map(_._1).getOrElse(-1L)) ||
        gotComp.get(n).exists { case (c, k) => k != (c == n) })
    val expHourly = (0L until scale.events).map(i => Inputs.event(i, seed))
      .groupBy { case (_, ms, t, _) => (ms / 3600000L * 3600000L, t) }
      .map { case (k, es) => k -> (es.size.toLong, es.map(_._4).sum) }
    val gotHourly = spark.read.parquet(hourlyPath(out)).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("hour").getTime, r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toMap
    val badHourly = (expHourly.keySet ++ gotHourly.keySet).count(k => expHourly.get(k) != gotHourly.get(k))
    val expImages = (0L until scale.images).map { j =>
      val (s, w, h) = Inputs.imageSpec(j, seed)
      var acc = 0L
      for (p <- 0L until w.toLong * h) {
        val r = (s + 3 * p) % 256
        acc += (r + 2 * ((s + 3 * p + 1) % 256) + 3 * ((s + 3 * p + 2) % 256)) * (p + 1)
      }
      j -> (w, h, acc)
    }.toMap
    val gotImages = spark.read.parquet(decodedPath(out)).collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[Int]("width"), r.getAs[Int]("height"),
        r.getAs[Long]("px_checksum"))).toMap
    val badImages = (expImages.keySet ++ gotImages.keySet).count(k => expImages.get(k) != gotImages.get(k))
    Seq(
      if (badPairs.nonEmpty) Some(s"${badPairs.length} near-duplicate pairs fail the driver-side " +
        s"Jaccard, first ${badPairs.head}") else None,
      if (badComp > 0) Some(s"$badComp nodes differ from the generated clusters") else None,
      if (expComp.isEmpty) Some("no cluster has two members") else None,
      if (badHourly > 0) Some(s"$badHourly hourly rows differ from the driver-side aggregate") else None,
      if (badImages > 0) Some(s"$badImages decoded images differ from the pixel formula") else None
    ).flatten
  }
}
