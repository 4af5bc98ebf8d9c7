package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: one JVM, one `local[4]` session, one client in a
  * closed loop. The workload drives the program's public entry points;
  * this object times them and writes a JSON record that `run.py` checks
  * and turns into metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE
  */
object Harness {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(
      workload = opts("workload"), seed = opts("seed").toLong,
      seconds = opts("seconds").toDouble, traced = opts("trace") == "1",
      data = opts("data"), work = opts("work"))
    val body = run.execute()
    Files.write(Paths.get(opts("out")), body.getBytes(StandardCharsets.UTF_8))
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  /** Bench's fixed xorshift work: each step depends on the last, so
    * the JIT can neither vectorize nor fold it. */
  def chain(seed: Long, iters: Int): Long = {
    var x = seed
    var i = 0
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  /** Serial and all-core calibration seconds (min of two after a
    * discarded warm-up). Labels a run's host state; changes nothing. */
  def calibrate(): (Double, Double) = {
    val iters = 50000000
    def serial(): Double = {
      val t0 = System.nanoTime()
      if (chain(0x9E3779B97F4A7C15L, iters) == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }
    def par(): Double = {
      val sink = new java.util.concurrent.atomic.AtomicLong()
      val t0 = System.nanoTime()
      val ts = (0 until Cores).map { k =>
        val th = new Thread(() => sink.addAndGet(chain(0x9E3779B97F4A7C15L + k, iters)))
        th.start(); th
      }
      ts.foreach(_.join())
      if (sink.get() == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }
    serial(); par()
    (Seq.fill(2)(serial()).min, Seq.fill(2)(par()).min)
  }
}

/** Process-level counters read around each op. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = gcs.map(_.getCollectionTime).sum
  def jitMs: Long = jit.getTotalCompilationTime
}

final class Run(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val data: String, val work: String) {
  val t0Ns: Long = Clock.nowNs()
  private val calibStart = Harness.calibrate()

  val spark: SparkSession = {
    val b = SparkSession.builder().master(s"local[${Harness.Cores}]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Harness.Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    // the query workloads mirror graft.Bench's session; the visit loop
    // mirrors graft.ApSim's, which leaves AQE at Spark's defaults
    val q = if (workload == "apdb_visits") b
      else b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
    q.getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")
  val sessionS: Double = (Clock.nowNs() - t0Ns) / 1e9

  val tracing = new Tracing(spark.sparkContext,
    new Tracer(spark.sparkContext, f"$workload-$seed-$t0Ns%x"))
  def span[T](name: String, attrs: (String, String)*)(f: => T): T =
    tracing.tracer.span(name, attrs: _*)(f)

  // -- what the workload reports --------------------------------------
  val prepS = mutable.ArrayBuffer.empty[Double]
  var warmS = 0.0
  val ops = mutable.ArrayBuffer.empty[String]
  val passes = mutable.ArrayBuffer.empty[String]
  val failures = mutable.ArrayBuffer.empty[String]
  val extra = mutable.ArrayBuffer.empty[(String, String)]

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(Clock.nowNs() - t0Ns) / 1e9}%7.2f $msg")

  def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Times one op inside a span named `spanName`, with its process CPU,
    * GC and JIT deltas. A throw is a failed op: recorded with its
    * message, never with a time. */
  def op(spanName: String, name: String, pass: Int, fields: (String, String)*)(
      f: => Seq[(String, String)]): Unit = {
    val cpu0 = Jvm.cpuNs; val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs
    var spanId = 0L
    val w0 = System.nanoTime()
    val out = span(spanName, "op" -> name) {
      spanId = tracing.tracer.current
      try Right(f) catch { case e: Throwable => Left(e) }
    }
    val wall = (System.nanoTime() - w0) / 1e9
    val base = Seq("name" -> Json.str(name), "pass" -> Json.num(pass.toLong),
      "traced" -> tracing.tracer.active.toString,
      "span" -> Json.num(spanId)) ++ fields
    out match {
      case Right(kv) =>
        log(f"$name ${wall}%.3f s")
        ops += Json.obj(base ++ Seq("ok" -> "true", "wall_s" -> Json.num(wall),
          "cpu_s" -> Json.num((Jvm.cpuNs - cpu0) / 1e9),
          "gc_s" -> Json.num((Jvm.gcMs - gc0) / 1e3),
          "jit_s" -> Json.num((Jvm.jitMs - jit0) / 1e3)) ++ kv: _*)
      case Left(e) =>
        val msg = s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .linesIterator.take(3).mkString(" | ").take(500)
        failures += msg
        System.err.println(s"[perfbench] FAILED $msg")
        ops += Json.obj(base ++ Seq("ok" -> "false", "error" -> Json.str(msg)): _*)
    }
  }

  /** Process CPU and JIT compilation time of one pass, from the
    * counters read when it started; its wall time is the sum of its
    * ops'. */
  def pass(index: Int, cpu0Ns: Long, jit0Ms: Long): Unit =
    passes += Json.obj("pass" -> Json.num(index.toLong),
      "cpu_s" -> Json.num((Jvm.cpuNs - cpu0Ns) / 1e9),
      "jit_s" -> Json.num((Jvm.jitMs - jit0Ms) / 1e3))

  /** Heap still live after a full collection at the end of the timed
    * part: what the workload's loop retains (caches, checkpoint blocks,
    * broadcast state), free of young-collection timing. */
  var heapLiveMb = 0.0
  def measureLiveHeap(): Unit = if (heapLiveMb == 0.0) {
    // settle the listener bus first, and give Spark's ContextCleaner time
    // to drop the broadcasts and checkpoint blocks a collection released,
    // so the figure does not depend on how much cleanup was still queued
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(500) }
    System.gc()
    heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def execute(): String = {
    val started = Clock.nowNs()
    try {
      if (traced) tracing.set(true)
      span("run", "workload" -> workload) {
        workload match {
          case "apdb_visits" => new ApdbVisits(this).run()
          case "registry_sf0001" => new QueryLoop(this).run()
          // the self-tests' probe: one key that checkpoints eagerly while
          // it is constructed, one that does not
          case "selftest" => new QueryLoop(this, Seq("checkpointed", "lazy"), {
            case "checkpointed" => (s, _) => s.range(1000).toDF().localCheckpoint(true)
            case _ => (s, _) => s.range(1000).toDF()
          }).run()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
      }
    } catch {
      case e: Throwable =>
        failures += s"run: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        e.printStackTrace()
    } finally {
      measureLiveHeap()
      if (tracing.tracer.active) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    }
    val calibEnd = Harness.calibrate()
    val fields = Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed),
      "trace" -> traced.toString, "seconds" -> Json.num(seconds),
      "session_s" -> Json.num(sessionS),
      "prep_s" -> Json.arr(prepS.map(Json.num)),
      "warm_s" -> Json.num(warmS),
      "heap_live_mb" -> Json.num(heapLiveMb),
      "calib_serial_s" -> Json.arr(Seq(calibStart._1, calibEnd._1).map(Json.num)),
      "calib_par_s" -> Json.arr(Seq(calibStart._2, calibEnd._2).map(Json.num)),
      "ops" -> Json.arr(ops), "passes" -> Json.arr(passes),
      "failures" -> Json.arr(failures.map(Json.str)),
      "spans" -> tracing.tracer.json(t0Ns),
      "spark" -> tracing.listener.json(t0Ns),
      "wall_s" -> Json.num((Clock.nowNs() - started) / 1e9)) ++ extra
    spark.stop()
    Json.obj(fields: _*)
  }
}
