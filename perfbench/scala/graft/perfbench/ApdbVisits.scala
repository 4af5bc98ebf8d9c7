package graft.perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.apdb._
import graft.geom._

/** The APDB write path: a fresh warehouse per run, a generated catalog
  * persisted pixel-bucketed with `CatalogStore.write` and read per field
  * of view with `readFov`, sequential `VisitPipeline.visit` calls over
  * three fields, `compactFragmented` after every pass (one visit per
  * field) and the night job at the end. The warm-up visit counts toward
  * set-up. */
object ApdbVisits {
  val CatalogRows = 500000L
  val DetectionFraction = 0.9
  val Fields = 3
  val WarmVisits = 1
  val MinVisits = 3
  val PrepReps = 2

  /** Field centres from the seed, kept away from the catalog
    * hemisphere's rim so every field sees a full cone of catalog. */
  def pointings(seed: Long): IndexedSeq[Vec3] = (0 until Fields).map { f =>
    Iterator.from(0).map { k =>
      Generators.sphereXyz(1, hemi = -1, seed = seed * 1000003L + f * 7919L + k).head
    }.find(_.z < -0.2).get
  }

  /** Bytes the warehouse holds outside its persisted catalog. */
  def storeBytes(warehouse: String): Long = {
    val root = Paths.get(warehouse)
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !root.relativize(p).toString.startsWith("catalog"))
      .map(p => Files.size(p)).sum
  }
}

final class ApdbVisits(run: Run) {
  import ApdbVisits._
  private val spark = run.spark

  private def config(warehouse: String) =
    ApdbConfig(warehouseDir = warehouse, detectionFraction = DetectionFraction)

  def run(): Unit = {
    val catalog = DiaSim.genCatalog(spark, CatalogRows, hemi = -1,
      seed = run.seed, slices = 1)
    val tag = s"gen:$CatalogRows:${run.seed}"
    // a fresh warehouse with its persisted catalog, PrepReps times; the
    // last one is the run's
    val stores = (0 until PrepReps).map { rep =>
      val w = s"${run.work}/warehouse-$rep"
      val (apdb, s) = run.timed(run.span("setup", "rep" -> rep.toString) {
        val a = new ApdbSpark(spark, config(w))
        a.acquireWriter()
        a.makeSchema(drop = true)
        CatalogStore.write(spark, catalog, w, a.config, sourceTag = tag)
        a
      })
      run.prepS += s
      run.log(f"setup $rep ${s}%.3f s")
      (w, apdb)
    }
    stores.init.foreach { case (w, a) => a.releaseWriter(); Harness.deleteTree(w) }
    val (warehouse, apdb) = stores.last
    val cfg = apdb.config
    val padRad = math.toRadians(cfg.regionPaddingArcsec / 3600.0)
    val fields = pointings(run.seed)
    val times = VisitPipeline.visitTimes(
      Timestamp.valueOf("2026-01-01 01:00:00"), 5000, cfg.visitIntervalSec)
    val log = new MetricsLog(warehouse)
    val stats = scala.collection.mutable.ArrayBuffer.empty[VisitPipeline.VisitStats]
    val io = scala.collection.mutable.ArrayBuffer.empty[String]
    val compacts = scala.collection.mutable.ArrayBuffer.empty[Double]

    def visit(i: Int, pass: Int, measured: Boolean): Unit = {
      val (id, ts) = times(i)
      val p = fields(id % Fields)
      val probeIo = measured && run.tracing.tracer.active
      val files0 = if (probeIo) apdb.fileCounts.values.sum else 0
      val bytes0 = if (probeIo) storeBytes(warehouse) else 0L
      run.op("visit", s"visit-$id", pass, "visit" -> Json.num(id.toLong),
        "measured" -> measured.toString) {
        val fov = CatalogStore.readFov(spark, warehouse,
          Circle(p, cfg.fovRad / 2).padded(padRad), cfg)
        val s = VisitPipeline.visit(apdb, fov, id, ts, p, metrics = Some(log))
        stats += s
        Seq("objects_read" -> Json.num(s.nObjectsRead),
          "objects_filtered" -> Json.num(s.nObjectsFiltered),
          "sources" -> Json.num(s.nSources), "forced" -> Json.num(s.nForcedSources),
          "transients" -> Json.num(s.nTransients),
          "hist_sources" -> Json.num(s.historySources),
          "hist_forced" -> Json.num(s.historyForced))
      }
      if (probeIo) io += Json.obj("visit" -> Json.num(id.toLong),
        "files" -> Json.num((apdb.fileCounts.values.sum - files0).toLong),
        "bytes" -> Json.num(storeBytes(warehouse) - bytes0))
    }

    run.warmS = run.timed(run.span("setup", "rep" -> "warm") {
      (0 until WarmVisits).foreach(i => visit(i, -1, measured = false))
    })._2

    run.log("warm-up done")
    val t0 = System.nanoTime()
    var i = WarmVisits
    var n = 0
    var passCpu = Jvm.cpuNs
    var passJit = Jvm.jitMs
    // a traced run visits twice as often, so that its traced half covers
    // revisits (forced photometry, history reads) too
    val minVisits = if (run.traced) 2 * MinVisits else MinVisits
    while (n < minVisits || (System.nanoTime() - t0) / 1e9 < run.seconds || n % Fields != 0) {
      // a traced run traces visits in an untraced-traced-traced-untraced
      // pattern, so the growing history weighs on both halves alike;
      // the two halves give the tracing overhead
      val tracedVisit = run.traced && (n % 4 == 1 || n % 4 == 2)
      if (run.traced) run.tracing.set(tracedVisit)
      val pass = n / Fields
      visit(i, pass, measured = true)
      i += 1; n += 1
      // a pass is one visit to each field; compaction follows it, as
      // the background job beside the visit path it is on a cluster
      if (n % Fields == 0) {
        run.pass(pass, passCpu, passJit)
        compacts += run.timed(run.span("compact")(apdb.compactFragmented()))._2
        passCpu = Jvm.cpuNs; passJit = Jvm.jitMs
      }
    }
    run.measureLiveHeap()
    if (run.traced) run.tracing.set(true)

    val nightCut = times(i - 1)._2
    val (_, nightS) = run.timed(run.span("night") {
      graft.MaintenanceTool.runNightly(spark, apdbStore = Some(apdb), asOf = Some(nightCut))
    })
    log.close()
    apdb.releaseWriter()
    if (run.traced) run.tracing.set(false)

    run.log(f"night job ${nightS}%.3f s")
    // -- output checks (untimed) -----------------------------------------
    val history = apdb.getDiaObjectsHistory
    val versions = history.count()
    val rootNames = Option(new java.io.File(warehouse).list()).map(_.toSeq).getOrElse(Nil)
    val storedSources = apdb.sources.count()
    val storedForced = apdb.forcedSources.count()
    run.extra ++= Seq(
      "stats" -> Json.arr(stats.map(statsJson)),
      "expected_sources" -> Json.arr(expectedSources(catalog, fields, cfg,
        stats.map(_.visitId).toSeq).map(Json.num)),
      "obj_last_rows" -> Json.num(apdb.objectsLast.count()),
      "distinct_object_ids" -> Json.num(history.select("diaObjectId").distinct().count()),
      "object_versions" -> Json.num(versions),
      "stored_sources" -> Json.num(storedSources),
      "stored_forced" -> Json.num(storedForced),
      "leftover_markers" -> Json.arr(rootNames.filter(n =>
        n.startsWith("visit_attempt_") || n.startsWith("obj_last_intent_")).map(Json.str)),
      "lease_held" -> graft.EstateFs.exists(s"$warehouse/claims/LEASE").toString,
      "store_bytes" -> Json.num(storeBytes(warehouse)),
      "visit_io" -> Json.arr(io),
      "compact_s" -> Json.arr(compacts.map(Json.num)),
      "night_s" -> Json.num(nightS),
      "metrics_log" -> Json.str(Files.readString(Paths.get(s"$warehouse/metrics.log"))))
    Harness.deleteTree(warehouse)
  }

  private def statsJson(s: VisitPipeline.VisitStats): String = Json.arr(Seq(
    s.visitId.toLong, s.nObjectsRead, s.nObjectsFiltered, s.nSources,
    s.nForcedSources, s.nTransients, s.historySources, s.historyForced).map(Json.num))

  /** Sources each visit must store, computed without the pipeline: the
    * catalog rows inside the field's cone that pass the visit's
    * detection draw, plus the visit's transient count. */
  private def expectedSources(catalog: DataFrame, fields: IndexedSeq[Vec3],
      cfg: ApdbConfig, visits: Seq[Int]): Seq[Long] = {
    val cosHalf = math.cos(cfg.fovRad / 2)
    val cones = fields.map { a =>
      catalog.where(col("x") * a.x + col("y") * a.y + col("z") * a.z >= cosHalf)
        .localCheckpoint()
    }
    val unit = (1L << 40).toDouble
    val out = visits.map { v =>
      val draw = pmod(xxhash64(col("sourceIdx"), lit(v.toLong * 7919L)), lit(1L << 40))
        .cast("double") / unit
      val detected = cones(v % Fields).where(draw < DetectionFraction).count()
      val transients = Generators.poisson(cfg.transientPerVisit + cfg.falsePerVisit,
        new scala.util.Random(v.toLong * 104729L + 17L))
      detected + transients
    }
    cones.foreach(_.unpersist())
    out
  }
}
