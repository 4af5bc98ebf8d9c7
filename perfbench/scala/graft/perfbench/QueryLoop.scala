package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** The registry workload: twelve keys of `SparkEntry.queries` on the
  * base tables, each timed as `fn(spark, dir).count()`, in a key order
  * drawn from the seed. Input staging is repeated [[QueryLoop.PrepReps]]
  * times (its median is the repeatable part of set-up), untimed passes
  * warm the session, then whole passes run until the time is up. */
object QueryLoop {
  /** Floor keys from each of the five registries (0.2–0.7 s each on the
    * base tables): passes measure fixed per-query costs — planning,
    * scheduling and exchanges. */
  val Keys: Seq[String] = Seq(
    "j1_s2o_match", "w1_latest_version", // Core
    "f1_cone_filter", "j3_range_join_q3c", // Geo
    "x1_dedup_exact", "x3_topk_similarity", "x15_ann_ivf", // Dedup
    "x11_token_count", "x55_phrase_search", // Text
    "x96_zipf_profile", "x89_dataset_diff", "x72_jl_projection") // Mining

  val PrepReps = 2
  val WarmPasses = 2
  val MinPasses = 3
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Which registry a key comes from. */
  def group(key: String): String =
    if (graft.queries.CoreQueries.queries.contains(key)) "core"
    else if (graft.queries.GeoQueries.queries.contains(key)) "geo"
    else if (graft.queries.DedupQueries.queries.contains(key)) "dedup"
    else if (graft.queries.TextQueries.queries.contains(key)) "text"
    else "mining"

  /** Content hash in the style of scripts/parity.py: columns sorted by
    * name, row order ignored, floats at 9 decimals. */
  def contentHash(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col).toIndexedSeq: _*).collect()
      .map(r => cols.indices.map(i => cols(i) + "=" + canon(r.get(i))).mkString("\u0001"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { s => md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => canonFloat(d)
    case f: Float => canonFloat(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case x => x.toString
  }
  private def canonFloat(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val s = BigDecimal(d).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).bigDecimal
        .stripTrailingZeros.toPlainString
      if (s == "0" || s == "-0") "0" else s
    }
}

final class QueryLoop(run: Run, keyList: Seq[String] = QueryLoop.Keys,
    fnOf: String => (SparkSession, String) => DataFrame = SparkEntry.queries) {
  import QueryLoop._
  private val spark: SparkSession = run.spark

  private def prepare(rep: Int): String = {
    val dir = s"${run.work}/inputs-$rep"
    Files.createDirectories(Paths.get(dir))
    Tables.foreach(t => Files.copy(Paths.get(s"${run.data}/$t.parquet"),
      Paths.get(s"$dir/$t.parquet")))
    // file index and footers of every table, as graft.Bench's warm-up
    Tables.foreach(t => graft.queries.Tables.t(spark, dir, t).count())
    dir
  }

  def run(): Unit = {
    val dirs = (0 until PrepReps).map { rep =>
      val (dir, s) = run.timed(run.span("setup", "rep" -> rep.toString)(prepare(rep)))
      run.prepS += s
      dir
    }
    val dir = dirs.last
    val rng = new scala.util.Random(run.seed)
    val keys = rng.shuffle(keyList)
    run.extra += "keys" -> Json.arr(keys.map(Json.str))

    // untimed passes: codegen, JIT and the ANN kernels warm up here
    run.warmS = run.timed(run.span("setup", "rep" -> "warm") {
      for (_ <- 0 until WarmPasses; k <- keys) {
        try fnOf(k)(spark, dir).count()
        catch { case e: Throwable => run.failures += s"warm $k: ${e.getMessage}".take(500) }
      }
    })._2

    val t0 = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < run.seconds) {
      val cpu0 = Jvm.cpuNs; val jit0 = Jvm.jitMs
      run.span("pass", "index" -> pass.toString) {
        keys.zipWithIndex.foreach { case (k, i) =>
          val fn = fnOf(k)
          // a traced run executes every key twice in a row, once traced
          // and once not, in alternating order: the pairs give the
          // tracing overhead free of warm-up drift
          val modes =
            if (!run.traced) Seq(false)
            else if ((i + pass) % 2 == 0) Seq(false, true) else Seq(true, false)
          modes.foreach { traced =>
            if (run.traced) run.tracing.set(traced)
            run.op("key", k, pass, "group" -> Json.str(group(k))) {
              val df = run.span("key.construct")(fn(spark, dir))
              val n = run.span("key.execute")(df.count())
              Seq("rows" -> Json.num(n))
            }
          }
        }
      }
      run.pass(pass, cpu0, jit0)
      pass += 1
    }
    run.measureLiveHeap()
    if (run.traced) {
      run.tracing.set(false)
      val hashes = keys.map { k =>
        val h = try QueryLoop.contentHash(fnOf(k)(spark, dir))
          catch { case e: Throwable => run.failures += s"hash $k: ${e.getMessage}".take(500); "" }
        k -> Json.str(h)
      }
      run.extra += "hashes" -> Json.obj(hashes: _*)
    }
    dirs.foreach(Harness.deleteTree)
  }
}
