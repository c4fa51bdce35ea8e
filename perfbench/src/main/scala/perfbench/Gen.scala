package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Coordinate, Geometry, Polygon}

import graft.geom.GeomCodec
import graft.sources.BunnySources

/** Seeded input generators, one per workload. Everything a workload
  * hands the program is built here from `--seed`; the same seed gives
  * the same inputs, byte for byte.
  */
object Gen {
  private val gf = GeomCodec.factory

  // ---------------------------------------------------------------- geometry
  //
  // The boundary layer grows GeomScaleProbe's translated-tile scheme to
  // the reference's production shape: a county is one tile, copies of it
  // are translated across an 8 x 8 grid (58 used, as in California), and
  // each tile holds a 3 x 3 cell grid with at most one city per cell.
  // Cities sit strictly inside their cell, so a city never shares an edge
  // with its county; the unincorporated records are the tile minus the
  // cities, so the records of a county tile it exactly.

  val Counties = 58
  val GridCols = 8
  val TileM = 60000.0
  val CellM = TileM / 3
  val X0 = -13.9e6
  val Y0 = 3.9e6

  final case class Record(copri: String, county: String, city: String, geom: Geometry)

  final case class Boundaries(
      cdtfa: Seq[Record],
      coastline: Seq[(String, Geometry)],
      cityCentres: IndexedSeq[(Double, Double)],
      extent: (Double, Double, Double, Double))

  def countyName(c: Int): String = f"K$c%02d County"

  def rect(x0: Double, y0: Double, x1: Double, y1: Double): Polygon =
    gf.createPolygon(Array(new Coordinate(x0, y0), new Coordinate(x1, y0),
      new Coordinate(x1, y1), new Coordinate(x0, y1), new Coordinate(x0, y0)))

  /** A rectangle whose ring carries a zero-width inward spike from the
    * middle of its top edge: self-intersecting, so invalid, while the
    * region it encloses is the plain rectangle — make-valid work that
    * leaves every area invariant intact.
    */
  def spiked(x0: Double, y0: Double, x1: Double, y1: Double): Polygon = {
    val xm = (x0 + x1) / 2
    val d = (y1 - y0) / 3
    gf.createPolygon(Array(new Coordinate(x0, y0), new Coordinate(x1, y0),
      new Coordinate(x1, y1), new Coordinate(xm, y1), new Coordinate(xm, y1 - d),
      new Coordinate(xm, y1), new Coordinate(x0, y1), new Coordinate(x0, y0)))
  }

  /** Shoreline x at northing y: a few octaves of sine so the ring is
    * long and irregular, cutting the west-column cities into onshore
    * pieces, large offshore pieces and sub-threshold slivers.
    */
  private def shoreX(y: Double, phase: Double): Double =
    X0 + 14000 + 7000 * math.sin(y / 37000 + phase) + 2500 * math.sin(y / 5300 + 2 * phase) +
      300 * math.sin(y / 610 + 3 * phase)

  def boundaries(seed: Long, counties: Int = Counties, coastVertices: Int = 15000,
      bayVertices: Int = 10000): Boundaries = {
    val rnd = new Random(seed)
    val recs = ArrayBuffer.empty[Record]
    val centres = ArrayBuffer.empty[(Double, Double)]
    var cityNo = 0
    (0 until counties).foreach { c =>
      val (tx, ty) = (X0 + (c % GridCols) * TileM, Y0 + (c / GridCols) * TileM)
      val county = countyName(c)
      val copri = f"${c + 1}%02d000"
      val cityParts = ArrayBuffer.empty[Polygon]
      // eight cities per county (the same count for every seed, so the
      // work per run does not depend on the seed); the seed picks the
      // empty cell and every city's size and position
      val empty = rnd.nextInt(9)
      (0 until 9).foreach { cell =>
        val (cx, cy) = (tx + (cell % 3) * CellM, ty + (cell / 3) * CellM)
        if (cell != empty) {
          cityNo += 1
          val name = f"C$cityNo%04d"
          val cityCopri = f"${c + 1}%02d${cityNo % 1000}%03d"
          val w = 4000 + rnd.nextDouble() * 9000
          val h = 4000 + rnd.nextDouble() * 9000
          val x0 = cx + 1000 + rnd.nextDouble() * (CellM - 3000 - w)
          val y0 = cy + 1000 + rnd.nextDouble() * (CellM - 3000 - h)
          val main = rect(x0, y0, x0 + w, y0 + h)
          cityParts += main
          centres += ((x0 + w / 2, y0 + h / 2))
          val g: Geometry = if (cityNo % 13 == 5) spiked(x0, y0, x0 + w, y0 + h) else main
          recs += Record(cityCopri, county, name, g)
          // multipart salt: a detached second part in the same cell,
          // every fifth city as its own record and every seventh inside
          // one MultiPolygon record
          val px = x0 + w + 500
          if (px + 800 < cx + CellM - 200 && (cityNo % 5 == 0 || cityNo % 7 == 0)) {
            val part = rect(px, y0, px + 800, y0 + 800)
            cityParts += part
            if (cityNo % 5 == 0) recs += Record(cityCopri, county, name, part)
            else recs(recs.size - 1) = Record(cityCopri, county, name,
              gf.createMultiPolygon(Array(main, part)))
          }
        }
      }
      // unincorporated: the tile minus its cities, as two records split
      // on a cell boundary (cities never cross one)
      val cities = gf.createMultiPolygon(cityParts.toArray).union()
      Seq(rect(tx, ty, tx + CellM, ty + TileM), rect(tx + CellM, ty, tx + TileM, ty + TileM))
        .foreach { strip =>
          recs += Record(copri, county, "Unincorporated", strip.difference(cities))
        }
    }
    val rows = (counties + GridCols - 1) / GridCols
    val (yLo, yHi) = (Y0 - 1000, Y0 + rows * TileM + 1000)
    val phase = rnd.nextDouble() * math.Pi
    // ocean: everything west of the shoreline across the whole grid
    val shore = (0 until coastVertices).map { i =>
      val y = yHi - (yHi - yLo) * i / (coastVertices - 1)
      new Coordinate(shoreX(y, phase), y)
    }
    val ocean = gf.createPolygon(
      (Seq(new Coordinate(X0 - 5000, yHi)) ++ shore ++
        Seq(new Coordinate(X0 - 5000, yLo), new Coordinate(X0 - 5000, yHi))).toArray)
    // a bay: a noisy closed ring inside one inland county
    val (bx, by) = (X0 + 3.5 * TileM, Y0 + 3.5 * TileM)
    val bay = gf.createPolygon((0 to bayVertices).map { i =>
      val t = 2 * math.Pi * (i % bayVertices) / bayVertices
      val r = 7000 + 1500 * math.sin(5 * t + phase) + 200 * math.sin(61 * t)
      new Coordinate(bx + r * math.cos(t), by + r * math.sin(t))
    }.toArray)
    // a row the coastal cut must filter out
    val land = rect(X0 + TileM, Y0, X0 + 2 * TileM, Y0 + TileM)
    Boundaries(recs.toSeq, Seq("ocean" -> ocean, "bay" -> bay, "land" -> land),
      centres.toIndexedSeq, (X0, Y0, X0 + GridCols * TileM, Y0 + rows * TileM))
  }

  // ---------------------------------------------------------------- GeoJSON pages

  private def ringJson(sb: java.lang.StringBuilder, cs: Array[Coordinate]): Unit = {
    sb.append('[')
    cs.indices.foreach { i =>
      if (i > 0) sb.append(',')
      sb.append('[').append(cs(i).x).append(',').append(cs(i).y).append(']')
    }
    sb.append(']')
  }

  private def polyJson(sb: java.lang.StringBuilder, p: Polygon): Unit = {
    sb.append('[')
    ringJson(sb, p.getExteriorRing.getCoordinates)
    (0 until p.getNumInteriorRing).foreach { i =>
      sb.append(','); ringJson(sb, p.getInteriorRingN(i).getCoordinates)
    }
    sb.append(']')
  }

  def featureJson(props: Seq[(String, String)], g: Geometry): String = {
    val sb = new java.lang.StringBuilder
    sb.append("""{"type":"Feature","properties":{""")
    sb.append(props.map { case (k, v) => s""""$k":"$v"""" }.mkString(","))
    sb.append("""},"geometry":""")
    g match {
      case p: Polygon =>
        sb.append("""{"type":"Polygon","coordinates":"""); polyJson(sb, p)
      case m =>
        sb.append("""{"type":"MultiPolygon","coordinates":[""")
        (0 until m.getNumGeometries).foreach { i =>
          if (i > 0) sb.append(',')
          polyJson(sb, m.getGeometryN(i).asInstanceOf[Polygon])
        }
        sb.append(']')
    }
    sb.append("}}").toString
  }

  /** A paged in-memory feature service: `fetch(url)` answers the
    * ArcGIS query URL [[graft.sources.FeatureService.queryUrl]] builds,
    * slicing the pre-rendered features by `resultOffset` /
    * `resultRecordCount`.
    */
  final class Pages(val features: IndexedSeq[String]) {
    val bytes: Long = features.iterator.map(_.length.toLong).sum
    private val Off = "resultOffset=(\\d+)".r.unanchored
    private val Cnt = "resultRecordCount=(\\d+)".r.unanchored
    def fetch(url: String): String = {
      val off = url match { case Off(o) => o.toInt }
      val cnt = url match { case Cnt(n) => n.toInt }
      features.slice(off, off + cnt)
        .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
    }
  }

  def cdtfaPages(b: Boundaries): Pages =
    new Pages(b.cdtfa.map(r => featureJson(
      Seq("COPRI" -> r.copri, "COUNTY" -> r.county, "CITY" -> r.city), r.geom)).toIndexedSeq)

  def coastlinePages(b: Boundaries): Pages =
    new Pages(b.coastline.map { case (o, g) => featureJson(Seq("OFFSHORE" -> o), g) }.toIndexedSeq)

  // ---------------------------------------------------------------- attribute tables

  /** GNIS, census and DLA rows for ~90% of the generated places, plus
    * rows every branch must filter out.
    */
  def attributeTables(spark: SparkSession, b: Boundaries, seed: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val rnd = new Random(seed ^ 0x5eedL)
    val cities = b.cdtfa.map(_.city).filter(_ != "Unincorporated").distinct.sorted
    val counties = b.cdtfa.map(_.county).distinct.sorted
    val known = cities.filter(_ => rnd.nextDouble() < 0.9)
    val gnis = (known.zipWithIndex.map { case (c, i) =>
      Row(10000L + i, s"City of $c", "Civil", null, "C1", null, null, "California", "06",
        1, null, null, null, null, null, null, null, null, null, 37.0, -120.0)
    } ++ counties.zipWithIndex.map { case (c, i) =>
      Row(90000L + i, c, "Civil", null, "H1", null, null, "California", "06",
        1, null, null, null, null, null, null, null, null, null, 37.0, -120.0)
    } :+ Row(1L, "City of Elsewhere", "Civil", null, "C1", null, null, "Nevada", "32",
      1, null, null, null, null, null, null, null, null, null, 39.0, -119.0))
    val gnisDf = spark.createDataFrame(
      spark.sparkContext.parallelize(gnis, 1), BunnySources.gnisSchema)

    val censusCols = Seq("State_FIPS_Code", "County_FIPS_Code", "County_Subdivision_FIPS_Code",
      "Place_FIPS_Code", "Consolidated_City_FIPS_Code", "Area_Name")
    val census = (Seq(Row("06", "000", "00000", "00000", "00000", "California")) ++
      counties.zipWithIndex.map { case (c, i) =>
        Row("06", f"${2 * i + 1}%03d", "00000", "00000", "00000", c)
      } ++ known.zipWithIndex.map { case (c, i) =>
        Row("06", "001", "00000", f"${10 * i + 3}%05d", "00000",
          s"$c ${if (i % 9 == 4) "town" else "city"}")
      } :+ Row("01", "001", "00000", "00000", "00000", "Autauga County"))
    val censusDf = spark.createDataFrame(spark.sparkContext.parallelize(census, 1),
      StructType(censusCols.map(StructField(_, StringType))))

    val dla = known.map(c => Row(c, c.take(4).toUpperCase, "CNTY")) ++
      counties.map(c => Row(c, null, c.take(3).toUpperCase))
    val dlaDf = spark.createDataFrame(
      spark.sparkContext.parallelize(dla, 1), BunnySources.dlaSchema)
    (gnisDf, censusDf, dlaDf)
  }

  // ---------------------------------------------------------------- lookup inputs

  /** `n` points, 70% drawn around city centres (addresses cluster in
    * towns), the rest uniform over the state.
    */
  def points(rnd: Random, b: Boundaries, n: Int): IndexedSeq[(Double, Double)] = {
    val (x0, y0, x1, y1) = b.extent
    (0 until n).map { _ =>
      if (rnd.nextDouble() < 0.7) {
        val (cx, cy) = b.cityCentres(rnd.nextInt(b.cityCentres.size))
        (cx + rnd.nextGaussian() * 2500, cy + rnd.nextGaussian() * 2500)
      } else (x0 + rnd.nextDouble() * (x1 - x0), y0 + rnd.nextDouble() * (y1 - y0))
    }
  }

  // ---------------------------------------------------------------- corpus

  private val vocab: IndexedSeq[String] = {
    val r = new Random(7)
    val stops = IndexedSeq("the", "be", "to", "of", "and", "that", "have", "with")
    stops ++ (0 until 4000).map { _ =>
      (0 until (3 + r.nextInt(6))).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
  }

  private val boilerplate: IndexedSeq[String] = IndexedSeq(
    "subscribe to our newsletter for the latest updates and offers from the team today",
    "all rights reserved no part of this page may be copied without written permission",
    "click here to accept cookies and continue browsing the rest of the site now")

  final case class Corpus(
      rows: IndexedSeq[(Long, String, Array[Float])],
      plantedNear: IndexedSeq[(Long, Long)])

  /** `n` documents with planted exact duplicates (~6%), near duplicates
    * (~6%, a few words substituted), boilerplate spans (~15%),
    * low-quality documents (~8%), and embeddings drawn around 64 cluster
    * centres with planted near-identical pairs.
    */
  def corpus(seed: Long, n: Int, dim: Int = 32): Corpus = {
    val rnd = new Random(seed)
    val centres = Array.fill(64, dim)(rnd.nextGaussian())
    def emb(c: Int, noise: Double): Array[Float] =
      centres(c).map(x => (x + rnd.nextGaussian() * noise).toFloat)
    val texts = new Array[String](n)
    val embs = new Array[Array[Float]](n)
    val near = ArrayBuffer.empty[(Long, Long)]
    def words(k: Int) = (0 until k).map { _ =>
      if (rnd.nextDouble() < 0.18) vocab(rnd.nextInt(8)) else vocab(8 + rnd.nextInt(vocab.size - 8))
    }
    (0 until n).foreach { i =>
      val kind = rnd.nextDouble()
      if (i > 10 && kind < 0.06) {                       // exact duplicate
        val j = rnd.nextInt(i)
        texts(i) = if (rnd.nextBoolean()) texts(j) else "  " + texts(j).toUpperCase + " "
        embs(i) = emb(rnd.nextInt(64), 0.6)
      } else if (i > 10 && kind < 0.12) {                // near duplicate
        val j = rnd.nextInt(i)
        val ws = texts(j).split(" ")
        if (ws.length >= 40) {
          val k = rnd.nextInt(ws.length - 2)
          ws(k) = vocab(8 + rnd.nextInt(vocab.size - 8))
          texts(i) = ws.mkString(" ")
          near += ((j.toLong, i.toLong))
        } else texts(i) = words(40 + rnd.nextInt(40)).mkString(" ")
        embs(i) = emb(rnd.nextInt(64), 0.6)
      } else if (kind < 0.20) {                          // low quality
        texts(i) = if (rnd.nextBoolean()) words(5 + rnd.nextInt(8)).mkString(" ")
          else words(30).map(w => s"#$w...").mkString(" ")
        embs(i) = emb(rnd.nextInt(64), 0.6)
      } else {
        val body = words(40 + rnd.nextInt(40))
        texts(i) =
          if (kind < 0.35) (body.take(10) ++ boilerplate(rnd.nextInt(3)).split(" ") ++
            body.drop(10)).mkString(" ")
          else body.mkString(" ")
        // every 25th clean doc's embedding nearly repeats an earlier one
        embs(i) = if (i > 10 && i % 25 == 0) embs(rnd.nextInt(i)).map(x =>
            (x + rnd.nextGaussian() * 1e-3).toFloat)
          else emb(rnd.nextInt(64), 0.6)
      }
    }
    Corpus((0 until n).map(i => (i.toLong, texts(i), embs(i))), near.toIndexedSeq)
  }

  // ---------------------------------------------------------------- events

  /** Click/view/purchase events in `files` parts of `perFile` events
    * each. Users are Zipf-distributed; each part covers a few minutes of
    * event time; ~5% of events arrive one part late (at most 5 minutes,
    * inside every twin's watermark) and ~2% are re-sent duplicates.
    * Column `part` is the arrival part.
    */
  def events(seed: Long, files: Int, perFile: Int, users: Int = 400)
      : IndexedSeq[(Int, Long, Long, Long, String, Double)] = {
    val rnd = new Random(seed)
    val zipfCdf = {
      val w = (1 to users).map(k => 1.0 / k)
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail.toArray
    }
    def user(): Long = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(zipfCdf, u)
      (if (i >= 0) i else -i - 1).min(users - 1).toLong
    }
    val t0 = 1700000000L * 1000000L
    val partUs = 4L * 60 * 1000000L
    val out = ArrayBuffer.empty[(Int, Long, Long, Long, String, Double)]
    var id = 0L
    var carry = Vector.empty[(Long, Long, Long, String, Double)]
    (0 until files).foreach { p =>
      val cur = ArrayBuffer.empty[(Long, Long, Long, String, Double)]
      cur ++= carry
      carry = Vector.empty
      while (cur.size < perFile) {
        id += 1
        val ts = t0 + p * partUs + (rnd.nextDouble() * partUs).toLong
        val tpe = { val r = rnd.nextDouble(); if (r < 0.6) "view" else if (r < 0.9) "click" else "purchase" }
        val e = (id, ts, user(), tpe, math.round(rnd.nextDouble() * 10000) / 100.0)
        val r = rnd.nextDouble()
        if (r < 0.05 && p + 1 < files) carry :+= e               // arrives one part late
        else {
          cur += e
          if (r > 0.98) { if (p + 1 < files) carry :+= e else cur += e } // re-sent duplicate
        }
      }
      cur.foreach { case (i, ts, u, t, v) => out += ((p, i, ts, u, t, v)) }
    }
    out.toIndexedSeq
  }
}
