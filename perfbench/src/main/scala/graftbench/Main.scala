package graftbench

import java.nio.file.{Files, Path => JPath, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one measured phase recorded: timing samples by key, the graft
  * calls and output checks attempted and failed, and the time spent inside
  * passes on the benchmark's own checks (excluded from pass wall time). */
final class Run(val spark: SparkSession) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val totals = mutable.LinkedHashMap.empty[String, Double]
  private var untimedNs = 0L

  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

  def add(key: String, v: Double): Unit =
    totals(key) = totals.getOrElse(key, 0.0) + v

  def values(key: String): Seq[Double] = samples.get(key).map(_.toSeq).getOrElse(Nil)

  /** One call into a graft layer, timed (and traced as span `span` when
    * tracing is on); the wall time in ms is recorded under `key`. */
  def call[T](span: String, key: String = null)(body: => T): T = {
    attempted += 1
    val (r, ns) =
      try Tracer.timed(spark.sparkContext, span)(body)
      catch { case e: Throwable => failed += 1; failures += s"$span threw $e"; throw e }
    if (key != null) sample(key, ns / 1e6)
    r
  }

  /** An output check; its time is excluded from the pass wall time. */
  def check(what: String)(ok: => Boolean): Unit = untimed {
    attempted += 1
    val res = try ok catch { case NonFatal(e) => failures += s"$what: $e"; false }
    if (!res) { failed += 1; failures += what }
  }

  /** Take over another phase's attempt and failure counts (not its
    * samples): warm-up calls and checks count, their timings do not. */
  def absorbCounts(o: Run): Unit = {
    attempted += o.attempted
    failed += o.failed
    failures ++= o.failures
  }

  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  /** Run `pass` repeatedly until `seconds` have elapsed (at least
    * `minPasses` times), recording each pass's wall time minus its checks
    * under `pass_s`. */
  def loop(seconds: Double, minPasses: Int)(pass: Int => Unit): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n < minPasses || System.nanoTime() < end) {
      Run.collect()
      val t0 = System.nanoTime()
      val u0 = untimedNs
      pass(n)
      sample("pass_s", (System.nanoTime() - t0 - (untimedNs - u0)) / 1e9)
      n += 1
    }
  }
}

object Run {
  /** A full collection between passes, outside the timed region: each pass
    * starts with only live data in the old generation, so peak RSS follows
    * what a pass keeps, not how many passes the run made. */
  def collect(): Unit = System.gc()
}

/** A benchmark workload. `setup` builds one independent instance of its
  * starting state in namespace `ns` (called several times so set-up time
  * is a median; the last instance is the one measured). `measure` runs
  * passes into `run` for about `seconds`; with `traced` the repository is
  * addressed through the counting filesystem scheme. */
trait Workload {
  def sizes: Map[String, Long]
  def setup(ns: Int): Unit
  def warmup(run: Run): Unit
  def measure(run: Run, seconds: Double, traced: Boolean): Unit
  /** End-to-end metrics of a measured phase other than setup_s, wall_s
    * and peak_rss_mb: items_per_s, op_ms_p50, bytes_per_row. */
  def endToEnd(run: Run): Map[String, Double]
  /** The workload's own named figures with units, for the run record. */
  def detail(run: Run): Seq[(String, Double, String)]
}

object Main {
  /** Spans of every workload; a traced run reports all of them (zero where
    * the workload opens none). */
  val BenchmarkSpans: Seq[String] = (EtlSync.Spans ++ StreamIngest.Spans).distinct

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Order-independent (row count, content hash) of a frame: every column,
    * by sorted name, rendered as a string. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.toSeq
    val h = xxhash64(cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(Int.MaxValue.toLong)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Bytes of regular files under `root` keyed by path and modification
    * time, so a later listing shows which files were created since. */
  def listing(root: JPath): Map[(String, Long), Long] = {
    if (!Files.exists(root)) return Map.empty
    val st = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter(p => Files.isRegularFile(p)).map { p =>
        (p.toString, Files.getLastModifiedTime(p).toMillis) -> Files.size(p)
      }.toMap
    } finally st.close()
  }

  def createdBytes(before: Map[(String, Long), Long], after: Map[(String, Long), Long]): Long =
    after.iterator.filterNot(e => before.contains(e._1)).map(_._2).sum

  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config(s"spark.hadoop.fs.${CountingFileSystem.Scheme}.impl",
        classOf[CountingFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val inputs = work.resolve("inputs")
    Files.createDirectories(inputs)
    val runDir = work.resolve("run").resolve(s"$workloadName-${ProcessHandle.current().pid()}")
    val wl: Workload = workloadName match {
      case "etl_sync"      => new EtlSync(spark, seed, cores, inputs, runDir)
      case "stream_ingest" => new StreamIngest(spark, seed, cores, inputs, runDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val sampler = new graft.LoadSampler(1000)
    sampler.start()
    val calibRef = graft.Bench.calibReference(
      work.resolve("calib.json").toString, cores, graft.Bench.calibrate(cores))

    val untracedRun = new Run(spark)
    val tracedRun = new Run(spark)
    var error: Option[Throwable] = None
    val setupS = mutable.ArrayBuffer.empty[Double]
    var calibStart, calibEnd = Double.NaN
    var window: graft.LoadSampler.WindowStats = null
    var traceT0 = 0L
    var heapPeakMb = Double.NaN
    val phases = mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now
    }
    try {
      for (ns <- 0 until 3) {
        val t0 = System.nanoTime()
        wl.setup(ns)
        setupS += (System.nanoTime() - t0) / 1e9
      }
      phase("setup")
      wl.warmup(untracedRun)
      phase("warmup")
      calibStart = graft.Bench.calibrate(cores) / calibRef
      val w0 = sampler.mark()
      wl.measure(untracedRun, seconds, traced = false)
      phase("measure")
      if (traced) {
        spark.sparkContext.addSparkListener(new SpanListener)
        heapPools.foreach(_.resetPeakUsage())
        Tracer.enabled = true
        traceT0 = System.nanoTime()
        wl.measure(tracedRun, seconds, traced = true)
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        Tracer.enabled = false
        heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
        phase("measure_traced")
        tracedRun.check("spans cover at least 90% of the traced pass time")(
          coverage(tracedRun) >= 0.9)
      }
      window = sampler.windowStats(w0, sampler.mark())
      calibEnd = graft.Bench.calibrate(cores) / calibRef
    } catch {
      case NonFatal(e) =>
        error = Some(e)
        Tracer.enabled = false
    }
    sampler.stop()

    val attempted = untracedRun.attempted + tracedRun.attempted
    val failed = untracedRun.failed + tracedRun.failed + (if (error.isDefined) 1 else 0)
    val correct = error.isEmpty && failed == 0
    val rss = peakRssMb()

    val endToEnd: Map[String, Double] =
      if (error.isDefined) Map.empty
      else Map(
        "setup_s" -> median(setupS.toSeq),
        "wall_s" -> median(untracedRun.values("pass_s")),
        "peak_rss_mb" -> rss) ++ wl.endToEnd(untracedRun)

    val perLayer: Map[String, Double] =
      if (error.isDefined || !traced) Map.empty
      else perLayerMetrics(untracedRun, tracedRun) + ("jvm.heap_peak_mb" -> heapPeakMb)

    // the run record: seed, sizes, quiet-machine evidence, every figure
    val detail = mutable.LinkedHashMap[String, String](
      "workload" -> s""""$workloadName"""", "seed" -> seed.toString,
      "generator_version" -> Gen.Version.toString,
      "cores" -> cores.toString, "seconds" -> num(seconds),
      "sizes" -> wl.sizes.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"),
      "setup_s_samples" -> setupS.map(num).mkString("[", ",", "]"),
      "passes" -> untracedRun.values("pass_s").size.toString,
      "pass_s_samples" -> untracedRun.values("pass_s").map(num).mkString("[", ",", "]"),
      "phase_s" -> phases.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}"),
      "calib_start_ratio" -> num(calibStart), "calib_end_ratio" -> num(calibEnd),
      "load" -> Option(window).map(_.json).getOrElse("null"),
      "fail_frac" -> num(if (attempted == 0) 1.0 else failed.toDouble / attempted),
      "failures" -> (untracedRun.failures ++ tracedRun.failures ++ error.map(_.toString))
        .take(20).map(f => "\"" + f.replace("\\", "/").replace("\"", "'")
          .replace("\n", " ").take(300) + "\"").mkString("[", ",", "]"))
    if (error.isEmpty) {
      detail("figures") = wl.detail(untracedRun).map { case (k, v, u) =>
        s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    }
    val detailJson = detail.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"perfbench-run $detailJson")
    error.foreach(e => e.printStackTrace(System.err))

    val records = work.resolve("records")
    Files.createDirectories(records)
    val stamp = s"$workloadName-s$seed-t${if (traced) 1 else 0}-${System.currentTimeMillis()}"
    Files.write(records.resolve(s"$stamp.json"), detailJson.getBytes("UTF-8"))
    if (traced && error.isEmpty)
      Files.write(records.resolve(s"$stamp.spans.json"),
        Tracer.json(Tracer.all, traceT0).getBytes("UTF-8"))

    val (metrics, units) =
      if (traced) (perLayer, perLayer.keys.map(k => k -> unitOf(k)).toMap)
      else (endToEnd, EndToEndUnits)
    val metricsJson = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k": {"value": ${num(v)}, "unit": "${units(k)}"}""" }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": $failed, "metrics": $metricsJson}""")
    System.out.flush()
    wl match { case c: AutoCloseable => try c.close() catch { case NonFatal(_) => () }; case _ => }
    try spark.stop() catch { case NonFatal(_) => () }
    deleteTree(runDir)
    System.exit(if (correct) 0 else 1)
  }

  val EndToEndUnits: Map[String, String] = Map(
    "setup_s" -> "s", "wall_s" -> "s", "peak_rss_mb" -> "MB",
    "items_per_s" -> "1/s", "op_ms_p50" -> "ms", "bytes_per_row" -> "bytes/row")

  private def unitOf(metric: String): String = metric.split('.').last match {
    case "ms"         => "ms"
    case "jobs"       => "count"
    case "cpu_s"      => "s"
    case "shuffle_mb" => "MB"
    case "fs_ops"     => "count"
    case "write_mb"   => "MB"
    case "overhead_s" => "s"
    case "coverage"   => "ratio"
    case "heap_peak_mb" => "MB"
    case other        => other
  }

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }

  /** Time of the top-level spans ÷ pass time in the traced phase. Spans
    * keep the interval they measured, so a gap between calls shows here. */
  private def coverage(traced: Run): Double = {
    val top = Tracer.all.filter(_.parent == 0).map(_.durNs).sum / 1e9
    val wall = traced.values("pass_s").sum
    if (wall > 0) top / wall else Double.NaN
  }

  /** `<span>.<measure>` for every span of [[BenchmarkSpans]] (zero for
    * spans the workload does not open), each a mean per pass (per
    * micro-batch for the streaming workload) over the traced phase, plus
    * tracing overhead and span coverage of wall time. */
  private def perLayerMetrics(untraced: Run, traced: Run): Map[String, Double] = {
    val ss = Tracer.all
    val self = Tracer.selfNs(ss)
    val n = math.max(1, traced.values("pass_s").size).toDouble
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (name <- BenchmarkSpans) {
      val mine = ss.filter(_.name == name)
      val cs = mine.map(s => Tracer.countsOf(s.id))
      out(s"$name.ms") = mine.map(s => self(s.id)).sum / 1e6 / n
      out(s"$name.jobs") = cs.map(_.jobs.get).sum / n
      out(s"$name.cpu_s") = cs.map(_.cpuNs.get).sum / 1e9 / n
      out(s"$name.shuffle_mb") = cs.map(_.shuffleBytes.get).sum / 1e6 / n
      out(s"$name.fs_ops") = cs.map(_.fsOps.get).sum / n
      out(s"$name.write_mb") = cs.map(_.writeBytes.get).sum / 1e6 / n
    }
    out("trace.overhead_s") =
      median(traced.values("pass_s")) - median(untraced.values("pass_s"))
    out("trace.coverage") = coverage(traced)
    out.toMap
  }

  def deleteTree(p: JPath): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally st.close()
    }
}
