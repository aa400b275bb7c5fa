package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** What every workload gives the harness. `setup` generates the inputs
  * from the seed and vectorises or caches them (timed as set-up); `fit`
  * trains or builds and writes; `apply` loads, scores or probes and
  * reads. Everything else is the harness's own checking. */
trait Workload {
  def sizes: Seq[(String, Any)]
  /** Share of the measured seconds spent on fits (the rest on applies). */
  def fitShare: Double
  def minFits: Int
  def minApplies: Int
  /** Apply units per traced cycle (one fit plus this many applies). */
  def appliesPerCycle: Int
  def setup(spark: SparkSession): Unit
  def release(): Unit
  def inputHash(): String
  /** Harness-only reference data for the checks (untimed). */
  def prepare(): Unit = ()
  def fit(i: Int): Unit
  def apply(i: Int): Unit
  def quality: Double
  def checks(): Seq[(String, Boolean, String)]
  /** Layer-specific counts for the trace, over the traced operations. */
  def counters(): Seq[(String, Double)]
}

/** Shared context: seed, scratch root, input scale, spans and the
  * trace switches the workloads consult. */
final class Ctx(val seed: Long, val root: String, val scale: Double,
                val spans: Spans) {
  @volatile var tracing = false
}

/** The benchmark harness. One process, one client: each operation starts
  * when the previous one has finished (closed loop) on `local[k]`.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --out results.json --root scratch-dir [--cores k]
  *                  [--scale f] [--setup-reps r]
  *
  * Set-up runs `--setup-reps` times, each from a fresh session, and is
  * timed every time; the last set-up is kept. Then an untimed warm-up
  * fit and apply, then applies for `1 - fitShare` of the seconds and
  * fits for the rest (untraced run), or alternating untraced/traced fits
  * each followed by traced applies (traced run). Raw samples and the
  * trace go to `--out` as JSON; run.py turns them into metrics. */
object Main {
  val WarmupFits = 1
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  private val jvmStart = System.nanoTime()
  private def phase(what: String): Unit = System.err.println(
    f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%.2fs $what")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val root = new File(a("root")).getAbsolutePath
    val cores = a.getOrElse("cores", "4").toInt
    val scale = a.getOrElse("scale", "1").toDouble
    val setupReps = a.getOrElse("setup-reps", "3").toInt
    val spans = new Spans
    val ctx = new Ctx(seed, root, scale, spans)
    val wl: Workload = name match {
      case "game_wide_fixed" => new Game(ctx)
      case "corpus_ingest_probe" => new Corpus(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val setupS = ArrayBuffer[Double]()
    val windows = ArrayBuffer[(String, Double, Double)]()

    def run(spark: SparkSession, rec: Recorder, sampler: Sampler): Unit = {
      val sc = spark.sparkContext
      spans.on = false
      spans.window = "untraced"
      sampler.on = false
      phase("set-up done")
      val inputHash = wl.inputHash()
      wl.prepare()
      phase("reference data done")
      var failed = 0
      var attempted = 0
      def op(what: String)(body: => Unit): Boolean = {
        attempted += 1
        try { body; true }
        catch {
          case e: Throwable if scala.util.control.NonFatal(e) =>
            failed += 1
            System.err.println(s"[perfbench] $what failed: $e")
            e.printStackTrace()
            false
        }
      }
      val fits = ArrayBuffer[(Double, Double)]()
      val applies = ArrayBuffer[Double]()
      var fitNo = 0
      def timedFit(): (Double, Double) = {
        PerfbenchBus.post(sc, PhaseMark(spans.window, fitStart = true,
          fitEnd = false))
        val (w0, c0) = (System.nanoTime(), cpuNs)
        op(s"fit $fitNo")(wl.fit(fitNo))
        val r = ((System.nanoTime() - w0) / 1e9, (cpuNs - c0) / 1e9)
        PerfbenchBus.post(sc, PhaseMark(spans.window, fitStart = false,
          fitEnd = true))
        fitNo += 1
        r
      }
      var applyNo = 0
      def timedApply(): Double = {
        val w0 = System.nanoTime()
        op(s"apply $applyNo")(wl.apply(applyNo))
        applyNo += 1
        (System.nanoTime() - w0) / 1e9
      }

      // untimed warm-up: class loading, code generation, first JIT tiers
      for (_ <- 0 until WarmupFits) timedFit()
      timedApply()
      phase("warm-up done")
      applyNo = 0
      val untracedFit = ArrayBuffer[Double]()
      val tracedFit = ArrayBuffer[Double]()
      var cycles = 0
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      if (!trace) {
        // applies first: the fits, whose hot paths the JIT is slower to
        // settle, then run later in the process's life
        val applyEnd = seconds * (1 - wl.fitShare)
        while ((elapsed < applyEnd || applies.size < wl.minApplies) &&
          failed < 3) applies += timedApply()
        val fitEnd = elapsed + seconds * wl.fitShare
        while ((elapsed < fitEnd || fits.size < wl.minFits) &&
          failed < 3) fits += timedFit()
      } else {
        // each cycle: an untraced fit and a traced fit (their difference
        // is the tracing overhead; which goes first alternates, as later
        // fits run warmer), then the cycle's traced applies. At least two
        // cycles.
        while ((elapsed < seconds || cycles < 2) && failed < 3) {
          if (cycles % 2 == 0) untracedFit += timedFit()._1
          cycles += 1
          val w = s"cycle-$cycles"
          spans.window = w; sampler.window = w
          val ws = spans.nowMs
          spans.on = true; sampler.on = true; ctx.tracing = true
          tracedFit += timedFit()._1
          for (_ <- 0 until wl.appliesPerCycle) applies += timedApply()
          spans.on = false; sampler.on = false; ctx.tracing = false
          windows += ((w, ws, spans.nowMs))
          spans.window = "untraced"; sampler.window = "untraced"
          if (cycles % 2 == 0) untracedFit += timedFit()._1
        }
      }

      phase("measured loop done")
      val checks = wl.checks()
      checks.foreach { case (n, ok, d) =>
        attempted += 1
        if (!ok) failed += 1
        System.err.println(s"[perfbench] check $n: ${if (ok) "ok" else "FAILED"} $d")
      }
      PerfbenchBus.drain(sc)
      sampler.finish()
      val quality = wl.quality
      val counters = wl.counters()

      val j = new Json
      j.obj {
        j.field("input_hash", inputHash)
        j.field("sizes")(j.obj(wl.sizes.foreach { case (k, v) =>
          j.field(k, v) }))
        j.field("setup_s", setupS.toSeq)
        j.field("fit_s", fits.map(_._1).toSeq)
        j.field("fit_cpu_s", fits.map(_._2).toSeq)
        // the warm-up fit's peak comes first
        j.field("peak_storage_bytes", rec.fitPeaks.drop(WarmupFits)
          .map(_.toDouble).toSeq)
        j.field("apply_s", applies.toSeq)
        j.field("quality", quality)
        j.field("attempted", attempted); j.field("failed", failed)
        j.field("checks")(j.arr(checks.foreach { case (n, ok, d) =>
          j.obj { j.field("name", n); j.field("ok", ok)
            j.field("detail", d) } }))
        if (trace) j.field("trace")(j.obj {
          j.field("slots", cores)
          j.field("cycles", cycles)
          j.field("untraced_fit_s", untracedFit.toSeq)
          j.field("traced_fit_s", tracedFit.toSeq)
          j.field("windows")(j.arr(windows.foreach { case (w, s, e) =>
            j.obj { j.field("name", w); j.field("start", s)
              j.field("end", e) } }))
          j.field("spans")(j.arr(spans.done.foreach { s =>
            j.obj { j.field("layer", s._1); j.field("label", s._2)
              j.field("window", s._3); j.field("start", s._4)
              j.field("end", s._5) } }))
          j.field("jobs")(j.arr(rec.jobs.foreach { r =>
            j.obj {
              j.field("id", r.id); j.field("start", r.start)
              j.field("end", r.end); j.field("frames", r.frames)
              j.field("stages", r.stages); j.field("tasks", r.tasks)
              j.field("run_ms", r.runMs); j.field("cpu_ns", r.cpuNs)
              j.field("gc_ms", r.gcMs)
              j.field("shuffle_bytes", r.shuffleBytes)
              j.field("spill_bytes", r.spillBytes)
              j.field("input_bytes", r.inputBytes)
              j.field("output_bytes", r.outputBytes)
              j.field("task_spans")(j.arr(r.taskSpans.foreach {
                case (s, e) => j.arr { j.value(s); j.value(e) } }))
            } }))
          j.field("stored")(j.arr(rec.storedBySite.foreach {
            case ((w, site), b) => j.obj { j.field("window", w)
              j.field("site", site); j.field("bytes", b) } }))
          j.field("sampled")(j.arr(sampler.seconds.forEach { (k, v) =>
            j.obj { j.field("window", k._1); j.field("key", k._2)
              j.field("seconds", v.doubleValue) } }))
          j.field("counters")(j.obj(counters.foreach { case (k, v) =>
            j.field(k, v) }))
        })
      }
      phase("checks done")
      Files.write(new File(a("out")).toPath,
        j.toString.getBytes(StandardCharsets.UTF_8))
      spark.stop()
      phase("stopped")
    }

    // ---- set-up, repeated from a fresh session each time ----
    for (r <- 0 until setupReps) {
      val last = r == setupReps - 1
      val traced = trace && last
      val t0 = System.nanoTime()
      val spark = session(cores, root)
      phase(s"session $r started")
      val rec = new Recorder(traced)
      spark.sparkContext.addSparkListener(rec)
      val sampler = new Sampler(20)
      if (traced) {
        PerfbenchBus.post(spark.sparkContext,
          PhaseMark("setup", fitStart = false, fitEnd = false))
        spans.window = "setup"; spans.on = true
        sampler.window = "setup"; sampler.on = true; sampler.start()
      }
      val setupStart = spans.nowMs
      wl.setup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
      if (traced) windows += (("setup", setupStart, spans.nowMs))
      if (!last) { wl.release(); spark.stop() }
      else run(spark, rec, sampler)
    }
  }

  def session(cores: Int, root: String): SparkSession = {
    val s = graft.util.SessionTuning(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // per-entity solves that stop early log every line-search restart
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "breeze.optimize", org.apache.logging.log4j.Level.OFF)
    s.sparkContext.setCheckpointDir(s"$root/checkpoints")
    s
  }
}

/** Minimal streaming JSON writer for the harness's result file. */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb += ','; first = false }
  def obj(body: => Unit): Unit = {
    sep(); sb += '{'; first = true; body; sb += '}'; first = false
  }
  def arr(body: => Unit): Unit = {
    sep(); sb += '['; first = true; body; sb += ']'; first = false
  }
  private def str(s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
  def value(v: Any): Unit = { sep(); raw(v) }
  private def raw(v: Any): Unit = v match {
    case s: String => str(s)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case xs: Seq[_] => arr(xs.foreach(value))
    case other => str(other.toString)
  }
  def field(k: String)(body: => Unit): Unit = {
    sep(); str(k); sb += ':'; first = true; body; first = false
  }
  def field(k: String, v: Any): Unit = {
    sep(); str(k); sb += ':'; first = true; raw(v); first = false
  }
  override def toString: String = sb.toString
}
