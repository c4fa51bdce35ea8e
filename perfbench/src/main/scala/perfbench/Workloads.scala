package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Coordinate, Geometry}
import org.locationtech.jts.geom.util.GeometryFixer
import org.locationtech.jts.index.strtree.STRtree
import org.locationtech.jts.operation.overlayng.{OverlayNG, OverlayNGRobust}

import graft.CacheLifecycle
import graft.geom.GeomCodec
import graft.operators.{Dedup, GlobalOrder, NearestJoin, TextAnalysis}
import graft.pipeline.BunnyHopFlow
import graft.pipeline.BunnyHopConfig._
import graft.sources.{FeatureService, Writers}
import graft.streaming.StreamingTwins

/** What one timed unit produced. `samplesMs` are its latency samples
  * (one per unit, or one per micro-batch for the stream); `layer`
  * holds the workload's own per-layer numbers for this unit.
  */
final case class UnitResult(
    samplesMs: Seq[Double], items: Long, ok: Boolean, layer: Map[String, Double],
    notes: Seq[String] = Nil)

/** Context a workload runs in. */
final class Ctx(
    val spark: SparkSession, val seed: Long, val out: Path,
    val collector: Collector, val trace: Trace) {
  def dir(name: String): Path = Files.createDirectories(out.resolve(name))

  private val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum
  private var t0Ns, cpu0, gc0, t0Ms = 0L
  /** The last timed region: wall ms, process CPU s, GC ms, epoch-ms bounds. */
  var timed: (Double, Double, Double, Long, Long) = (0, 0, 0, 0, 0)
  var group = ""

  /** Start the unit's timed region. */
  def startTimed(): Unit = {
    t0Ms = System.currentTimeMillis(); gc0 = gcMs; cpu0 = cpuBean.getProcessCpuTime
    trace.openRoot()
    t0Ns = System.nanoTime()
  }

  /** End the timed region and return its wall ms. The listener bus is
    * drained so the unit's bucket holds exactly the timed work; the
    * output checks that follow run in a separate, discarded bucket.
    */
  def stopTimed(): Double = {
    val t1Ns = System.nanoTime()
    val wall = (t1Ns - t0Ns) / 1e6
    trace.closeRoot(t0Ns, t1Ns)
    timed = (wall, (cpuBean.getProcessCpuTime - cpu0) / 1e9, (gcMs - gc0).toDouble,
      t0Ms, System.currentTimeMillis())
    collector.drain(group)
    collector.open(group + "-check")
    wall
  }
  /** Milliseconds of the named layer spans of `unit`. An action span
    * that launched no job was served by a memo or cache: it is counted
    * in `cache.zero_job_calls`, never reported as layer time.
    */
  def layerMs(unit: Int, name: String): Double =
    trace.of(unit).filter(s => s.name == name && !s.memoServed).map(_.ms).sum
}

trait Workload {
  def name: String
  /** What the throughput metric counts, and the input-size record. */
  def itemName: String
  def stage(ctx: Ctx): Map[String, Any]
  def unit(ctx: Ctx, u: Int): UnitResult
  /** The granularity at which a run may stop, in units. */
  def cycle: Int = 1
  /** Units run before timing starts. */
  def warmupUnits: Int = cycle
  /** Whether unit `u` of a traced run is traced. Whole cycles alternate,
    * so traced and untraced units see the same mix.
    */
  def tracedUnit(u: Int): Boolean = (u / cycle) % 2 == 1
  /** The latency samples of a run, from each unit's samples: one per
    * cycle, the mean of the cycle's samples.
    */
  def latency(units: Seq[Seq[Double]]): Seq[Double] =
    units.grouped(cycle).map(_.flatten).filter(_.nonEmpty).map(b => b.sum / b.size).toSeq

  /** Checks that need every unit (e.g. stability across units). */
  def finish(ctx: Ctx): Seq[String] = Nil
}

object Workloads {
  def byName(n: String): Workload = n match {
    case "bunnyhop_publish" => new Publish
    case "jurisdiction_lookup" => new Lookup
    case "corpus_curation" => new Curation
    case "event_stream" => new EventStream
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def geomOf(r: Row, i: Int): Geometry = GeomCodec.read(r.getAs[Array[Byte]](i))

  def vertices(gs: Iterable[Geometry]): Long = gs.iterator.map(_.getNumPoints.toLong).sum

  def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def persistCount(df: DataFrame): DataFrame = {
    val p = CacheLifecycle.persist(df); p.count(); p
  }
}

import Workloads._

// ============================================================ bunnyhop_publish

final class Publish extends Workload {
  val name = "bunnyhop_publish"
  val itemName = "features"
  /** One generated input set: boundaries, their GeoJSON pages, the
    * attribute tables, and the CDTFA guard's record floor.
    */
  private final case class In(b: Gen.Boundaries, cdtfaPages: Gen.Pages, coastPages: Gen.Pages,
      attrs: (DataFrame, DataFrame, DataFrame), minRecords: Long)
  private var full: In = _
  // warm-up input: four counties, so the cold rep that loads and
  // compiles the pipeline costs a fraction of a production rep
  private var warm: In = _
  private val digests = mutable.ArrayBuffer.empty[String]
  // One cold rep on the four-county input is the warm-up. The full-size
  // reps after it still speed up while the JIT compiles their paths, so a
  // run times whole cycles of three reps and its latency sample is their
  // mean: a single rep at that point varies with how far the JIT got.
  // A traced run traces the middle rep of each cycle.
  override def cycle: Int = 3
  override def warmupUnits: Int = 1
  override def tracedUnit(u: Int): Boolean = u % 2 == 1

  private def inputs(ctx: Ctx, b: Gen.Boundaries, minRecords: Long): In =
    In(b, Gen.cdtfaPages(b), Gen.coastlinePages(b), Gen.attributeTables(ctx.spark, b, ctx.seed),
      minRecords)

  def stage(ctx: Ctx): Map[String, Any] = {
    full = inputs(ctx, Gen.boundaries(ctx.seed), CdtfaMinRecords)
    warm = inputs(ctx, Gen.boundaries(ctx.seed, counties = 4, coastVertices = 2000,
      bayVertices = 1000), 1)
    val b = full.b
    Map(
      "cdtfa_records" -> b.cdtfa.size,
      "counties" -> Gen.Counties,
      "cities" -> b.cdtfa.map(_.city).distinct.size,
      "coastline_vertices" -> vertices(b.coastline.map(_._2)),
      "input_vertices" -> (vertices(b.cdtfa.map(_.geom)) + vertices(b.coastline.map(_._2))),
      "geojson_bytes" -> (full.cdtfaPages.bytes + full.coastPages.bytes))
  }

  private def load(ctx: Ctx, pages: Gen.Pages, url: String, cols: Seq[String]): DataFrame =
    FeatureService.toDataFrame(ctx.spark,
      FeatureService.fetchAll(pages.fetch, url, pageSize = 200), cols)

  /** BunnyHopFlow.run, one stage at a time, each stage persisted and
    * counted inside its own span so its time is its own. Composes the
    * same public functions in the same order as `run`.
    */
  private def stepwise(ctx: Ctx, in: In, cdtfaRaw: DataFrame, coastline: DataFrame)
      : BunnyHopFlow.Result = {
    val t = ctx.trace
    val (gnisRaw, censusRaw, dla) = in.attrs
    val (gnis, census) = t.span("pipeline.branches") {
      (persistCount(BunnyHopFlow.processGnis(gnisRaw)),
        persistCount(BunnyHopFlow.processCensus(censusRaw)))
    }
    val cdtfa = t.span("geom.makevalid")(BunnyHopFlow.prepareCdtfa(cdtfaRaw, in.minRecords))
    val (cd, kd) = t.span("geom.dissolve") {
      (persistCount(BunnyHopFlow.citiesPathway(cdtfa)),
        persistCount(BunnyHopFlow.countiesPathway(cdtfa)))
    }
    val (cj, kj) = t.span("operators.joinfield") {
      (persistCount(BunnyHopFlow.runJoins(cd, census, gnis, dla)),
        persistCount(BunnyHopFlow.runJoins(kd, census, gnis, dla)))
    }
    val (cc, kc) = t.span("operators.coastal_cut") {
      (persistCount(BunnyHopFlow.coastalCut(cj, coastline)),
        persistCount(BunnyHopFlow.coastalCut(kj, coastline)))
    }
    // `run` compacts the published layers to 4 partitions before caching
    val (cities, counties) = t.span("pipeline.finalize") {
      (persistCount(BunnyHopFlow.finalizeLayer(cc).repartition(4)),
        persistCount(BunnyHopFlow.finalizeLayer(kc).drop(PlaceAbbr).repartition(4)))
    }
    val uninc = t.span("operators.erase") {
      persistCount(BunnyHopFlow.unincorporated(counties, cities).repartition(4))
    }
    BunnyHopFlow.Result(cities, counties, uninc,
      cities.unionByName(counties, allowMissingColumns = true))
  }

  def unit(ctx: Ctx, u: Int): UnitResult = {
    val spark = ctx.spark
    // every rep starts cold: no rep is served by a memo or a cache
    CacheLifecycle.release(spark)
    spark.catalog.clearCache()
    val in = if (u < 0) warm else full
    val b = in.b
    val pub = ctx.dir(if (u < 0) "publish_warm" else "publish")
    val prevMerged = pub.resolve("merged.parquet")
    val t = ctx.trace
    ctx.startTimed()
    // page parsing runs on the driver: a span that launches no job by design
    val (cdtfaRaw, coastline) = t.span("sources.parse", action = false) {
      (load(ctx, in.cdtfaPages, "http://cdtfa.invalid/FeatureServer/0", Seq("COPRI", "COUNTY", "CITY")),
        load(ctx, in.coastPages, "http://coast.invalid/FeatureServer/0", Seq("OFFSHORE")))
    }
    val (gnisRaw, censusRaw, dla) = in.attrs
    val res =
      if (t.enabled) stepwise(ctx, in, cdtfaRaw, coastline)
      else BunnyHopFlow.run(gnisRaw, censusRaw, dla, cdtfaRaw, coastline, in.minRecords)
    val counts = t.span("pipeline.materialize") {
      Seq(res.cities, res.counties, res.unincorporated, res.merged).map(_.count())
    }
    val previous =
      if (Files.exists(prevMerged.resolve("_SUCCESS"))) spark.read.parquet(prevMerged.toString)
      else res.merged
    val diff = t.span("pipeline.quality") {
      BunnyHopFlow.qualityDiff(res.merged, previous, Seq(City, County)).collect()
    }
    t.span("sources.write") {
      Writers.writeParquet(res.cities, pub.resolve("cities.parquet").toString)
      Writers.writeParquet(res.counties, pub.resolve("counties.parquet").toString)
      Writers.writeParquet(res.unincorporated, pub.resolve("unincorporated.parquet").toString)
      Writers.writeParquet(res.merged, prevMerged.toString)
      Writers.writeGeoJson(res.merged, "geom", pub.resolve("merged.geojson").toString)
      Writers.publishManifest(Seq(Writers.LayerManifest("boundaries", "City and county boundaries",
        "generated", "generated", Seq("boundaries"),
        Map("geojson" -> "merged.geojson", "parquet" -> "merged.parquet"), Some(("blue", "green")))),
        pub.resolve("manifest.json").toString)
    }
    val wallMs = ctx.stopTimed()
    if (u < 0) return UnitResult(Seq(wallMs), 0, ok = true, Map.empty)

    // ---- output checks (outside the timed region)
    val notes = mutable.ArrayBuffer.empty[String]
    if (diff.nonEmpty) notes += s"quality gate flagged ${diff.length} changes between same-seed reps"
    if (b.cdtfa.size < in.minRecords) notes += s"CDTFA guard: ${b.cdtfa.size} < ${in.minRecords}"
    def shapes(df: DataFrame): Array[(String, Geometry)] = df.select(col(County), col("geom"))
      .collect().map(r => (r.getString(0), geomOf(r, 1)))
    val (cities, counties, uninc) =
      (shapes(res.cities), shapes(res.counties), shapes(res.unincorporated))
    def byCounty(xs: Array[(String, Geometry)]) =
      xs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2.getArea).sum }
    val (ca, ka, ua) = (byCounty(cities), byCounty(counties), byCounty(uninc))
    ka.foreach { case (k, area) =>
      val sum = ca.getOrElse(k, 0.0) + ua.getOrElse(k, 0.0)
      if (math.abs(sum - area) > 1e-6 * area + 1.0)
        notes += f"$k: city $sum%.3f + unincorporated != county $area%.3f"
    }
    val expected = b.cdtfa.map(_.county).distinct.size
    if (ka.size != expected) notes += s"${ka.size} counties published, expected $expected"
    val tree = new STRtree()
    uninc.foreach { case (_, g) => tree.insert(g.getEnvelopeInternal, g) }
    val overlap = cities.iterator.map { case (_, c) =>
      tree.query(c.getEnvelopeInternal).asScala.iterator
        .map(o => OverlayNGRobust.overlay(c, o.asInstanceOf[Geometry], OverlayNG.INTERSECTION).getArea)
        .sum
    }.sum
    val total = ka.values.sum
    if (overlap > 1e-9 * total) notes += f"cities overlap unincorporated areas by $overlap%.3f m2"
    val attrCols = res.merged.columns.filterNot(_ == "geom")
    val digest = {
      val rows = res.merged.select(attrCols.map(c => col(c).cast("string")).toIndexedSeq: _*)
        .collect().map(_.toSeq.mkString("|")).sorted
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }
    if (u >= 0) digests += digest

    val features = counts(2) + counts(3)
    val layer = Map(
      "sources.parse_ms" -> ctx.layerMs(u, "sources.parse"),
      "sources.features_in" -> (b.cdtfa.size + b.coastline.size).toDouble,
      "sources.write_ms" -> ctx.layerMs(u, "sources.write"),
      "sources.bytes_written" -> dirBytes(pub).toDouble,
      "geom.makevalid_ms" -> ctx.layerMs(u, "geom.makevalid"),
      "geom.dissolve_ms" -> ctx.layerMs(u, "geom.dissolve"),
      "geom.vertices_in" -> (vertices(b.cdtfa.map(_.geom)) + vertices(b.coastline.map(_._2))).toDouble,
      "geom.vertices_out" -> vertices((cities ++ counties ++ uninc).map(_._2)).toDouble,
      "operators.joinfield_ms" -> ctx.layerMs(u, "operators.joinfield"),
      "operators.coastal_cut_ms" -> ctx.layerMs(u, "operators.coastal_cut"),
      "operators.erase_ms" -> ctx.layerMs(u, "operators.erase"),
      "pipeline.finalize_ms" -> ctx.layerMs(u, "pipeline.finalize"),
      "pipeline.quality_ms" -> ctx.layerMs(u, "pipeline.quality"),
      "pipeline.features_out" -> features.toDouble)
    UnitResult(Seq(wallMs), features, notes.isEmpty, layer, notes.toSeq :+ s"digest $digest")
  }

  override def finish(ctx: Ctx): Seq[String] =
    if (digests.distinct.size <= 1) Nil
    else Seq(s"published attribute digest differs across reps: ${digests.distinct.mkString(", ")}")
}

// ============================================================ jurisdiction_lookup

final class Lookup extends Workload {
  val name = "jurisdiction_lookup"
  val itemName = "points"
  val PointsPerRequest = 200
  val Facilities = 20000
  val K = 3
  val CellSize = 8000.0
  private var b: Gen.Boundaries = _
  private var rnd: Random = _
  private var boundaryTree: STRtree = _
  private var facilityXY: Array[(Double, Double)] = _
  private var facilities: DataFrame = _

  def stage(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    CacheLifecycle.release(spark)
    spark.catalog.clearCache()
    b = Gen.boundaries(ctx.seed)
    val d = ctx.dir("lookup")
    val fixed = b.cdtfa.map(r => (r, GeometryFixer.fix(r.geom)))
    boundaryTree = new STRtree()
    fixed.foreach { case (r, g) => boundaryTree.insert(g.getEnvelopeInternal, (r.city, g)) }
    val bRows = fixed.map { case (r, g) => Row(r.city, r.county, GeomCodec.write(g)) }
    spark.createDataFrame(spark.sparkContext.parallelize(bRows, 4), StructType(Seq(
      StructField("city", StringType), StructField("county", StringType),
      StructField("geom", BinaryType))))
      .write.mode("overwrite").parquet(d.resolve("boundaries.parquet").toString)
    val frnd = new Random(ctx.seed ^ 0xfacL)
    facilityXY = Gen.points(frnd, b, Facilities).toArray
    val fRows = facilityXY.indices.map { i =>
      val (x, y) = facilityXY(i)
      Row(i.toLong, GeomCodec.write(GeomCodec.factory.createPoint(new Coordinate(x, y))))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(fRows, 4), StructType(Seq(
      StructField("fid", LongType), StructField("fgeom", BinaryType))))
      .write.mode("overwrite").parquet(d.resolve("facilities.parquet").toString)
    val boundaries = spark.read.parquet(d.resolve("boundaries.parquet").toString).cache()
    boundaries.count()
    boundaries.createOrReplaceTempView("boundaries")
    facilities = spark.read.parquet(d.resolve("facilities.parquet").toString).cache()
    facilities.count()
    rnd = new Random(ctx.seed ^ 0x1007L)
    Map("boundary_polygons" -> bRows.size, "facilities" -> Facilities,
      "points_per_request" -> PointsPerRequest, "k" -> K,
      "boundary_bytes" -> dirBytes(d.resolve("boundaries.parquet")),
      "facility_bytes" -> dirBytes(d.resolve("facilities.parquet")))
  }

  def unit(ctx: Ctx, u: Int): UnitResult = {
    val spark = ctx.spark
    val t = ctx.trace
    val pts = Gen.points(rnd, b, PointsPerRequest)
    val rows = pts.indices.map { i =>
      Row(i.toLong, GeomCodec.write(GeomCodec.factory.createPoint(new Coordinate(pts(i)._1, pts(i)._2))))
    }
    val view = if (u < 0) s"pts_w${-u}" else s"pts_u$u"
    ctx.startTimed()
    val ptsDf = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("pid", LongType), StructField("geom", BinaryType))))
    ptsDf.createOrReplaceTempView(view)
    val joined = spark.sql(
      s"SELECT p.pid, b.city FROM $view p JOIN boundaries b ON st_contains(b.geom, p.geom)")
    val contains = t.span("plans.contains_join")(joined.collect())
    val near = t.span("operators.knn_grid") {
      NearestJoin.nearestJoinGrid(ptsDf, "geom", facilities, "fgeom",
        k = K, cellSize = CellSize, numPartitions = 4)
        .select(col("pid"), col("near_fid"), col("near_distance")).collect()
    }
    val wallMs = ctx.stopTimed()
    spark.catalog.dropTempView(view)

    // ---- output checks: a seeded sample against brute-force JTS
    val notes = mutable.ArrayBuffer.empty[String]
    val got = contains.groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getString(1)).sorted.toSeq }
    val nearBy = near.groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getDouble(2)).sorted.toSeq }
    val sample = new Random(ctx.seed * 31 + u)
    (0 until 5).map(_ => sample.nextInt(PointsPerRequest)).foreach { i =>
      val (x, y) = pts(i)
      val p = GeomCodec.factory.createPoint(new Coordinate(x, y))
      val want = boundaryTree.query(p.getEnvelopeInternal).asScala
        .map(_.asInstanceOf[(String, Geometry)]).filter(_._2.contains(p)).map(_._1).toSeq.sorted
      if (got.getOrElse(i.toLong, Seq.empty) != want)
        notes += s"point $i: contains join ${got.getOrElse(i.toLong, Seq.empty)} != JTS $want"
      val brute = facilityXY.iterator.map { case (fx, fy) => math.hypot(fx - x, fy - y) }
        .toArray.sorted.take(K).toSeq
      val have = nearBy.getOrElse(i.toLong, Seq.empty)
      if (have.size != K || have.zip(brute).exists { case (a, c) => math.abs(a - c) > 1e-6 })
        notes += s"point $i: kNN distances $have != brute force $brute"
    }
    val layer = Map(
      "plans.contains_join_ms" -> ctx.layerMs(u, "plans.contains_join"),
      "plans.join_output_rows" -> contains.length.toDouble,
      "operators.knn_grid_ms" -> ctx.layerMs(u, "operators.knn_grid"),
      "operators.knn_jobs" -> t.of(u).filter(_.name == "operators.knn_grid").map(_.jobs.toDouble).sum)
    UnitResult(Seq(wallMs), PointsPerRequest, notes.isEmpty, layer, notes.toSeq)
  }
}

// ============================================================ corpus_curation

final class Curation extends Workload {
  val name = "corpus_curation"
  val itemName = "docs"
  val Docs = 15000
  private var corpus, warmCorpus: Gen.Corpus = _
  private var path, warmPath: String = _
  private var reference: Option[Seq[Row]] = None

  private def write(spark: SparkSession, c: Gen.Corpus, p: String): Long = {
    val rows = c.rows.map { case (i, t, e) => Row(i, t, e.toSeq) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("emb", ArrayType(FloatType, containsNull = false)))))
      .write.mode("overwrite").parquet(p)
    dirBytes(java.nio.file.Paths.get(p))
  }

  def stage(ctx: Ctx): Map[String, Any] = {
    val d = ctx.dir("curation")
    corpus = Gen.corpus(ctx.seed, Docs)
    path = d.resolve("corpus.parquet").toString
    val bytes = write(ctx.spark, corpus, path)
    // warm-up corpus: a fifth of the size, same generator and plans
    warmCorpus = Gen.corpus(ctx.seed + 1, Docs / 5)
    warmPath = d.resolve("corpus_warm.parquet").toString
    write(ctx.spark, warmCorpus, warmPath)
    Map("docs" -> Docs, "planted_near_dup_pairs" -> corpus.plantedNear.size,
      "corpus_bytes" -> bytes)
  }

  def unit(ctx: Ctx, u: Int): UnitResult = {
    val spark = ctx.spark
    val t = ctx.trace
    CacheLifecycle.release(spark)
    spark.catalog.clearCache()
    val d = ctx.dir("curation")
    // the traced run materializes each stage so its time is its own
    def stagePersist(df: DataFrame): DataFrame = if (t.enabled) persistCount(df) else df
    val (docsIn, docsPath) = if (u < 0) (warmCorpus, warmPath) else (corpus, path)
    ctx.startTimed()
    val docs = spark.read.parquet(docsPath)
    val exact = t.span("operators.dedup_exact")(stagePersist(Dedup.exact(docs, "text", "doc_id")))
    val (cands, verified) = t.span("operators.minhash") {
      val c = Dedup.minhashCandidates(exact, "doc_id", "text").filter(col("est_jaccard") >= 0.65)
      val v = Dedup.ngramJaccard(exact, "doc_id", "text", c).filter(col("jaccard") >= 0.8)
      if (t.enabled) (persistCount(c), persistCount(v)) else (c, v)
    }
    val comps = t.span("operators.components")(Dedup.connectedComponents(verified, "a", "b"))
    val near = Dedup.nearDupRemoveCC(exact, "doc_id", "text", precomputedComponents = Some(comps))
    val spans = t.span("operators.dup_spans") {
      val kept = Dedup.removeDupSpans(near, "doc_id", "text", k = 8)
        .filter(col("kept_tokens") >= 10).select("doc_id")
      stagePersist(near.join(kept, Seq("doc_id"), "left_semi"))
    }
    val quality = t.span("operators.quality") {
      stagePersist(spans
        .withColumn("__f", TextAnalysis.gopherFlags(col("text"), minWords = 20,
          maxWords = 200, minStopWords = 1))
        .filter(TextAnalysis.gopherKeep(col("__f"))).drop("__f"))
    }
    val sem = t.span("operators.semdedup") {
      val keep = Dedup.semDedup(quality, "doc_id", "emb", tau = 0.98)
        .filter(col("kept")).select("doc_id")
      stagePersist(quality.join(keep, Seq("doc_id"), "left_semi"))
    }
    val outPath = d.resolve("shards.parquet").toString
    t.span("sources.write") {
      Writers.writeParquet(
        GlobalOrder.shuffleShards(sem.select("doc_id"), "doc_id", "curate", nShards = 8, parts = 4),
        outPath)
    }
    val wallMs = ctx.stopTimed()

    // ---- output checks. The first unit's stage outputs are written
    // for the DuckDB twin (run.py); every later unit must reproduce the
    // first unit's published shards exactly.
    val notes = mutable.ArrayBuffer.empty[String]
    val shards = spark.read.parquet(outPath).orderBy("pos").collect().toSeq
    reference match {
      case _ if u < 0 =>
        recall(exact, near, docsIn).foreach(notes += _)
      case None =>
        reference = Some(shards)
        exact.select("doc_id").write.mode("overwrite").parquet(d.resolve("check_exact.parquet").toString)
        spans.select("doc_id").write.mode("overwrite").parquet(d.resolve("check_quality_in.parquet").toString)
        quality.select("doc_id").write.mode("overwrite").parquet(d.resolve("check_quality_out.parquet").toString)
        Writers.writeParquet(spark.read.parquet(outPath), d.resolve("check_shards.parquet").toString)
        recall(exact, near, docsIn).foreach(notes += _)
      case Some(ref) =>
        if (ref != shards) notes += "published shards differ from the first unit's"
    }
    val nc = if (t.enabled) cands.count() else 0L
    val nv = if (t.enabled) verified.count() else 0L
    val layer = Map(
      "operators.dedup_exact_ms" -> ctx.layerMs(u, "operators.dedup_exact"),
      "operators.minhash_ms" -> ctx.layerMs(u, "operators.minhash"),
      "operators.components_ms" -> ctx.layerMs(u, "operators.components"),
      "operators.dup_spans_ms" -> ctx.layerMs(u, "operators.dup_spans"),
      "operators.quality_ms" -> ctx.layerMs(u, "operators.quality"),
      "operators.semdedup_ms" -> ctx.layerMs(u, "operators.semdedup"),
      "operators.candidate_pairs" -> nc.toDouble,
      "operators.verified_pairs" -> nv.toDouble,
      "operators.pair_yield" -> (if (nc == 0) 0.0 else nv.toDouble / nc))
    UnitResult(Seq(wallMs), docsIn.rows.size, notes.forall(_.startsWith("near-dup recall")),
      layer, notes.toSeq)
  }

  /** Planted near-duplicate pairs that survive exact dedup must lose a
    * member to near-dup removal: recall must stay above 0.9.
    */
  private def recall(exact: DataFrame, near: DataFrame, c: Gen.Corpus): Seq[String] = {
    val exactIds = exact.select("doc_id").collect().map(_.getLong(0)).toSet
    val nearIds = near.select("doc_id").collect().map(_.getLong(0)).toSet
    val eligible = c.plantedNear.filter { case (a, b) => exactIds(a) && exactIds(b) }
    val caught = eligible.count { case (a, b) => !(nearIds(a) && nearIds(b)) }
    val r = if (eligible.isEmpty) 1.0 else caught.toDouble / eligible.size
    (if (r < 0.9) Seq(f"near-duplicate recall $r%.3f below the 0.9 floor") else Nil) :+
      f"near-dup recall $r%.4f over ${eligible.size} planted pairs"
  }
}

// ============================================================ event_stream

final class EventStream extends Workload {
  val name = "event_stream"
  val itemName = "events"
  val Files_ = 6
  val PerFile = 500
  private var dir: Path = _
  private var events: IndexedSeq[(Int, Long, Long, Long, String, Double)] = _
  private val schema = StructType(Seq(
    StructField("part", IntegerType), StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))
  private val twins = Seq("sessionize", "hourly", "dedup", "attribution")
  override def cycle: Int = twins.size
  // two warm-up cycles: each twin's first query pays one-time planning,
  // code generation and state-store start-up; the second lets batch
  // latency settle
  override def warmupUnits: Int = 2 * cycle
  // one latency sample per cycle (the default): the mean micro-batch
  // latency over the four twins. Batch latencies cluster by twin, so a
  // median over raw batches would jump between clusters from run to run.

  def stage(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    // the engine's own settings for its throwaway-checkpoint streams
    // (ExtQueries: state partitions sized to the box, FileSystem
    // checkpoint manager, no checkpoint checksums)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    events = Gen.events(ctx.seed, Files_, PerFile)
    dir = ctx.dir("stream").resolve("events")
    if (Files.exists(dir)) Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    Files.createDirectories(dir)
    val staging = ctx.dir("stream").resolve("staging")
    val rows = events.map { case (pt, id, ts, u, tp, v) =>
      Row(pt, id, new java.sql.Timestamp(ts / 1000), u, tp, v, pt) }
    // one write job, one file per part (a `p=<part>` directory each)
    spark.createDataFrame(rows.asJava, schema.add("p", IntegerType))
      .repartition(Files_, col("p")).write.mode("overwrite").partitionBy("p")
      .parquet(staging.toString)
    val base = System.currentTimeMillis() - 3600 * 1000L
    (0 until Files_).foreach { p =>
      val files = Files.list(staging.resolve(s"p=$p")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      require(files.size == 1, s"part $p staged as ${files.size} files")
      val target = dir.resolve(f"part-$p%05d.parquet")
      Files.move(files.head, target)
      // the file source orders files by modification time
      target.toFile.setLastModified(base + p * 1000L)
    }
    val bytes = dirBytes(dir)
    Map("files" -> Files_, "events_per_file" -> PerFile, "events" -> events.size,
      "bytes" -> bytes, "loop" -> "drains a staged backlog (capacity), not a fixed arrival rate")
  }

  private def stream(spark: SparkSession, src: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)

  def unit(ctx: Ctx, u: Int): UnitResult = {
    val spark = ctx.spark
    val twin = twins(math.floorMod(u, twins.size))
    val tag = if (u < 0) s"w${-u}" else s"u$u"
    val sink = s"pb_${twin}_$tag"
    spark.catalog.dropTempView(sink)
    val ckpt = ctx.dir("stream").resolve(s"ckpt_$tag").toString
    // warm-up units drain the first two files only: they pay each twin's
    // one-time planning, code generation and state-store start-up, which
    // do not depend on the backlog's length
    val src = if (u < 0) dir.resolve("part-0000[01].parquet").toString
      else dir.toString
    ctx.startTimed()
    val (df, mode) = twin match {
      case "sessionize" =>
        (StreamingTwins.sessionize(StreamingTwins.typedEvents(stream(spark, src))).toDF(), "update")
      case "hourly" => (StreamingTwins.hourlyByType(stream(spark, src)), "complete")
      case "dedup" => (StreamingTwins.dedupEventsWithinWatermark(stream(spark, src)), "append")
      case "attribution" =>
        (StreamingTwins.attributionOuter(
          stream(spark, src).where(col("event_type") === "click"),
          stream(spark, src).where(col("event_type") === "purchase")), "append")
    }
    val q = ctx.trace.span("streaming.drain") {
      val q = df.writeStream.format("memory").queryName(sink).outputMode(mode)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      q
    }
    val wallMs = ctx.stopTimed()
    val progress = ctx.collector.awaitTerminated(q)
    val data = progress.filter(_.numInputRows > 0)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    val batchMs = data.map(dur(_, "triggerExecution"))
    println(f"  $twin%-12s unit $u%3d: ${data.size} batches, ms ${batchMs.map(_.toInt).mkString(" ")}; " +
      f"addBatch ${data.map(dur(_, "addBatch").toInt).mkString(" ")}")

    // ---- output checks: the sink against its batch twin (timed units)
    val notes = mutable.ArrayBuffer.empty[String]
    val ev = spark.read.schema(schema).parquet(dir.toString)
    val sunk = spark.table(sink)
    def same(a: DataFrame, b: DataFrame, what: String): Unit = {
      val (x, y) = (a.collect().map(_.toString).sorted.toSeq, b.collect().map(_.toString).sorted.toSeq)
      if (x != y) notes += s"$what: stream sink (${x.size} rows) != batch twin (${y.size} rows)"
    }
    if (u >= 0) twin match {
      case "sessionize" =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy("part", "ts", "event_id")
        val prev = lag(col("ts"), 1).over(w)
        val twinDf = ev.withColumn("new_s", prev.isNull ||
            (unix_micros(col("ts")) - unix_micros(prev) > 1800L * 1000000L))
          .groupBy("user_id").agg(count(when(col("new_s"), 1)).as("sessions"))
        same(sunk.groupBy("user_id").agg(max("sessions").as("sessions")), twinDf, twin)
      case "hourly" =>
        val twinDf = ev.groupBy(window(col("ts"), "1 hour").getField("start").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
        // sums are compared to the cent: the stream adds per batch, the
        // twin in one pass, so the last binary digit may differ
        val j = sunk.as("s").join(twinDf.as("t"), Seq("w", "event_type"), "full_outer")
          .filter(col("s.n").isNull || col("t.n").isNull || col("s.n") =!= col("t.n") ||
            abs(col("s.v") - col("t.v")) > 0.011)
        val bad = j.count()
        if (bad > 0) notes += s"hourly: $bad windows differ from the batch twin"
      case "dedup" =>
        same(sunk.select("event_id"), ev.select("event_id").distinct(), twin)
      case "attribution" =>
        val c = ev.where(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
        val p = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
        val cond = col("p_user") === col("user_id") && col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 minutes")
        val matched = c.join(p, cond).select("click_id", "purchase_id", "user_id")
        val wm = ev.groupBy("event_type").agg(max("ts").as("m"))
          .where(col("event_type").isin("click", "purchase"))
          .agg(min(col("m") - expr("INTERVAL 1 hour"))).collect()(0).getTimestamp(0)
        val unmatched = c.join(p, cond, "left_anti")
          .where(col("c_ts") + expr("INTERVAL 30 minutes") < lit(wm))
          .select(col("click_id"), lit(null).cast("long").as("purchase_id"), col("user_id"))
        same(sunk.select("click_id", "purchase_id", "user_id"), matched.unionByName(unmatched), twin)
    }
    spark.catalog.dropTempView(sink)

    val state = data.flatMap(_.stateOperators.toSeq)
    val last = progress.lastOption.map(_.stateOperators.toSeq).getOrElse(Seq.empty)
    val layer = Map(
      "streaming.add_batch_ms" -> med(data.map(dur(_, "addBatch"))),
      "streaming.query_planning_ms" -> med(data.map(dur(_, "queryPlanning"))),
      "streaming.get_batch_ms" -> med(data.map(dur(_, "getBatch"))),
      "streaming.latest_offset_ms" -> med(data.map(dur(_, "latestOffset"))),
      "streaming.wal_commit_ms" -> med(data.map(dur(_, "walCommit"))),
      "streaming.commit_offsets_ms" -> med(data.map(dur(_, "commitOffsets"))),
      "streaming.state_commit_ms" -> med(data.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum)),
      "streaming.state_rows" -> last.map(_.numRowsTotal.toDouble).sum,
      "streaming.state_mb" -> last.map(_.memoryUsedBytes.toDouble).sum / 1e6,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.lifecycle_ms" -> (wallMs - progress.map(dur(_, "triggerExecution")).sum))
    if (state.isEmpty) notes += s"$twin: no state operator reported"
    UnitResult(batchMs, events.size.toLong, notes.isEmpty, layer, notes.toSeq)
  }
}
