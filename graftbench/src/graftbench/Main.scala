package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The outcome of one pass: rows handed to it, bytes of input it read,
  * bytes it wrote, and a digest of everything it produced.
  */
final case class PassOut(rows: Long, inputBytes: Long, writtenBytes: Long, digest: String)

/** Correctness checks against the generator's known answers. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def apply(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += s"$name${if (detail.isEmpty) "" else ": " + detail}"
    }
  }
}

/** One benchmark workload. `setup` makes the seeded inputs under `dir`
  * and seeds any table or store; it may run several times, each time
  * into a fresh directory, and the passes use the last one. `pass`
  * runs one unit of work, writing under `out`, and records its
  * correctness checks.
  */
trait Workload {
  def setup(dir: File): Unit
  def pass(out: File, checks: Checks): PassOut
  /** Fingerprint of the generated inputs (stable for a given seed). */
  def fingerprint: String
  /** Checks too heavy to run inside a timed pass. Runs after each pass,
    * before its output under `out` is deleted; returns a digest that
    * joins the pass's own.
    */
  def verify(out: File, checks: Checks): String = ""
  /** Per-layer extras a workload reports once per traced pass. */
  def passExtras(): Map[String, Double] = Map.empty
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args.getOrElse("workload", sys.error("--workload is required"))
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = new File(args.getOrElse("work", sys.error("--work is required")))
    val corrupt = args.getOrElse("corrupt-expected", "0") == "1"
    val nproc = Runtime.getRuntime.availableProcessors()
    val load1 = Probe.load1()

    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.default.parallelism", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // a pass compiles more distinct plans than the default cache of
      // 100 holds; without this every pass re-pays Janino compiles and
      // pass times keep drifting down for ten passes or more
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(Trace.Listener)

    val wl: Workload = workload match {
      case "dq_table" => new DqTable(spark, seed, nproc, corrupt)
      case "curate_corpus" => new CurateCorpus(spark, seed, nproc, corrupt)
      case other => sys.error(s"unknown workload $other")
    }
    val r = Runner.run(spark, wl, work, seconds, trace)
    Trace.dump(new File(work, "spans.jsonl"))

    val stamps = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "trace" -> trace.toString, "nproc" -> nproc.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "heap_flags" -> Json.str(heapFlags()),
      "spark_version" -> Json.str(spark.version),
      "jvm_version" -> Json.str(System.getProperty("java.vm.version")),
      "git_head" -> Json.str(sys.env.getOrElse("GRAFTBENCH_HEAD", "unknown")),
      "input_fingerprint" -> Json.str(wl.fingerprint),
      "load1_before" -> Json.num(load1),
      "box_ext_cpu" -> Json.num(r.extCpu),
      "contended" -> (r.extCpu > 0.5).toString,
      "samples" -> Json.obj(r.samples.map { case (k, v) => k -> v.toString }),
      "pass_s" -> Json.arr(r.passTimes.map(Json.num)),
      "failures" -> Json.arr(r.checks.failures.toSeq.map(Json.str)))
    println("graftbench-detail " + Json.obj(stamps))
    val metrics = r.metrics.map { case (name, (v, unit)) =>
      name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    }
    val correct = r.checks.failed == 0 && r.checks.attempted > 0
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1L, r.checks.attempted).toString,
      "failed" -> r.checks.failed.toString,
      "metrics" -> Json.obj(metrics))))
    System.out.flush()
    // halt rather than stop the session: the work directory is removed
    // by the caller, and a clean Spark shutdown only adds seconds per run
    Runtime.getRuntime.halt(if (correct) 0 else 1)
  }

  private def heapFlags(): String = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:+Use")).mkString(" ")
  }
}

/** Set-ups, the measured cold pass and metric assembly, shared by every workload. */
object Runner {
  final case class Result(metrics: Seq[(String, (Double, String))],
                          samples: Seq[(String, Int)], passTimes: Seq[Double],
                          checks: Checks, extCpu: Double)

  val SetupRepeats = 3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def run(spark: SparkSession, wl: Workload, work: File, seconds: Double,
          trace: Boolean): Result = {
    val checks = new Checks
    // set-up: generate and seed several times, report the median; the
    // passes use the last set-up
    val setupTimes = (1 to SetupRepeats).map { k =>
      val dir = new File(work, s"setup-$k")
      val t0 = System.nanoTime()
      wl.setup(dir)
      val t = (System.nanoTime() - t0) / 1e9
      System.gc()
      System.err.println(f"graftbench: setup $k took $t%.3f s")
      t
    }
    var passNo = 0
    final case class Timed(t: Double, out: PassOut, heapMb: Double)
    val tracedPasses = mutable.ArrayBuffer.empty[TracedPass]
    def onePass(traced: Boolean): Timed = {
      passNo += 1
      val out = new File(work, s"out-$passNo")
      if (traced) Trace.begin(passNo)
      val gc0 = Probe.gcSeconds()
      val t0 = System.nanoTime()
      val po = try wl.pass(out, checks) catch {
        case e: Exception =>
          checks(s"pass $passNo raised", ok = false, e.toString)
          PassOut(0, 0, 0, "error")
      }
      val t = (System.nanoTime() - t0) / 1e9
      val gc = Probe.gcSeconds() - gc0
      System.err.println(f"graftbench: pass $passNo${if (traced) " (traced)" else ""} took $t%.3f s")
      if (traced) {
        val (spans, unattributed) = Trace.end()
        tracedPasses += TracedPass(spans, unattributed.toDouble, gc, wl.passExtras())
      }
      // heap after GC with the pass's cached intermediates still pinned
      val heap = Probe.heapAfterGcMb()
      graft.CacheScope.clear()
      val vd = try wl.verify(out, checks) catch {
        case e: Exception =>
          checks(s"verify after pass $passNo raised", ok = false, e.toString)
          "error"
      }
      graft.CacheScope.clear()
      Files.delete(out)
      Timed(t, po.copy(digest = po.digest + vd), heap)
    }

    // The measured pass is the first one in the fresh JVM: what a
    // one-shot spark-submit job pays. A warm pass after it does not fit
    // the run-time budget (a pass here is JIT- and codegen-bound, and
    // pass times still fall at the seventh pass), so none is timed.
    // Further passes run only while less than `seconds` have gone by.
    val mark0 = Probe.mark()
    val t0 = System.nanoTime()
    val cold = onePass(traced = false)
    val later = mutable.ArrayBuffer.empty[Timed]
    val untracedT = mutable.ArrayBuffer.empty[Double]
    val tracedT = mutable.ArrayBuffer.empty[Double]
    // a traced run adds untraced, traced, untraced passes: the tracing
    // overhead is the traced pass against the mean of its neighbours,
    // which cancels most of the JIT drift from pass to pass
    val minLater = if (trace) 3 else 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || later.size < minLater) {
      val traced = trace && later.size % 2 == 1
      val p = onePass(traced)
      later += p
      (if (traced) tracedT else untracedT) += p.t
    }
    val extCpu = Probe.extCpu(mark0, Probe.mark())

    // the first pass's digest is the reference every later pass must match
    val digests = (cold +: later).map(_.out.digest).filter(_ != "error")
    checks("pass digests agree", digests.distinct.size <= 1, digests.distinct.mkString(" vs "))

    val metrics =
      if (!trace) Seq(
        "setup_s" -> (median(setupTimes), "s"),
        "cold_pass_s" -> (cold.t, "s"),
        "rows_per_s" -> (cold.out.rows / cold.t, "rows/s"),
        "peak_heap_mb" -> ((cold +: later).map(_.heapMb).max, "MB"),
        "write_amp" -> (cold.out.writtenBytes.toDouble / math.max(1L, cold.out.inputBytes), "ratio"))
      else Layers.metrics(tracedPasses.toSeq, median(tracedT.toSeq) / median(untracedT.toSeq) - 1.0, extCpu)
    Result(metrics,
      Seq("setup" -> setupTimes.size, "cold" -> 1, "later" -> later.size,
        "traced" -> tracedT.size),
      (cold +: later).map(_.t).toSeq, checks, extCpu)
  }
}

/** The per-layer metric registry. Every traced run reports every name;
  * a layer the workload bypasses reports 0.
  */
object Layers {
  private val spanMeasures: Seq[(String, Seq[String])] = Seq(
    "profile.report" -> Seq("s", "jobs", "shuffle_mb", "spill_mb"),
    "profile.outliers" -> Seq("s", "jobs", "stages"),
    "quality.dq_summary" -> Seq("s", "jobs"),
    "quality.integrity" -> Seq("s", "jobs", "shuffle_mb"),
    "similarity.string_pairs" -> Seq("s", "jobs", "shuffle_mb", "rows_out", "shuffle_rec_per_pair"),
    "corrector.repair" -> Seq("s", "jobs"),
    "quality.before_after" -> Seq("s", "jobs"),
    "corrector.export" -> Seq("s", "written_mb"),
    "streaming.dedup_flag" -> Seq("s", "jobs", "rows_out"),
    "sources.read_changes" -> Seq("s", "jobs", "rows_out"),
    "text.quality_filter" -> Seq("s", "jobs"),
    "corrector.normalize" -> Seq("s"),
    "dedup.exact" -> Seq("s", "jobs", "shuffle_mb"),
    "dedup.minhash_pairs" -> Seq("s", "jobs", "shuffle_mb", "spill_mb", "rows_out",
      "shuffle_rec_per_pair"),
    "dedup.components" -> Seq("s", "jobs", "rows_out"),
    "dedup.decontam" -> Seq("s", "jobs", "shuffle_mb"),
    "pipeline.split_pack" -> Seq("s", "jobs"),
    "sources.export_jsonl" -> Seq("s", "jobs", "written_mb"),
    "sources.delete" -> Seq("s", "jobs"),
    "sources.vacuum" -> Seq("s"))

  /** Measures a workload reports itself through [[Workload.passExtras]]. */
  private val workloadMeasures: Seq[String] = Seq(
    "sources.files_live", "sources.log_versions", "sources.space_amp",
    "streaming.trigger_ms_p50", "streaming.add_batch_ms_p50",
    "streaming.latest_offset_ms_p50", "streaming.query_planning_ms_p50",
    "streaming.wal_commit_ms_p50", "streaming.commit_offsets_ms_p50",
    "streaming.batches", "streaming.rows_per_batch_p50", "streaming.state_rows",
    "streaming.state_mb")

  def unit(measure: String): String = measure match {
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("_ms_p50") => "ms"
    case "s" => "s"
    case "jobs" | "stages" | "rows_out" | "files_live" | "log_versions" | "batches" |
         "state_rows" | "rows_per_batch_p50" => "count"
    case _ => "ratio"
  }

  def metrics(passes: Seq[TracedPass], overhead: Double,
              extCpu: Double): Seq[(String, (Double, String))] = {
    def perPass(f: TracedPass => Double) = Runner.median(passes.map(f))
    val spanVals = spanMeasures.flatMap { case (span, ms) =>
      ms.map { m =>
        val v = perPass(_.spans.get(span).map { s =>
          m match {
            case "s" => s.s
            case "jobs" => s.jobs.toDouble
            case "stages" => s.stages.toDouble
            case "shuffle_mb" => s.shuffleBytes / 1048576.0
            case "spill_mb" => s.spillBytes / 1048576.0
            case "shuffle_rec_per_pair" =>
              s.shuffleRecsWritten / math.max(1.0, s.extra.getOrElse("rows_out", 0.0))
            case other => s.extra.getOrElse(other, 0.0)
          }
        }.getOrElse(0.0))
        s"$span.$m" -> (v, unit(m))
      }
    }
    val wlVals = workloadMeasures.map(n =>
      n -> (perPass(_.extras.getOrElse(n, 0.0)), unit(n.split('.').last)))
    spanVals ++ wlVals ++ Seq(
      "jvm.gc_s" -> (perPass(_.gcS), "s"),
      "trace.overhead_frac" -> (overhead, "ratio"),
      "trace.unattributed_jobs" -> (perPass(_.unattributedJobs), "count"),
      "box.ext_cpu" -> (extCpu, "cores"))
  }
}

/** What one traced pass recorded. */
final case class TracedPass(spans: Map[String, Trace.Span], unattributedJobs: Double,
                            gcS: Double, extras: Map[String, Double])

/** Small JSON writer: values are pre-rendered strings. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}

/** File helpers for the benchmark's own scratch directories. */
object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete(); ()
  }

  /** Total bytes of the regular files under `f`. */
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)
    else if (f.isFile) f.length
    else 0L

  /** Every regular file under `f` with its size. */
  def listing(f: File): Map[String, Long] =
    if (f.isDirectory) Option(f.listFiles).map(_.flatMap(c => listing(c)).toMap).getOrElse(Map.empty)
    else if (f.isFile) Map(f.getPath -> f.length)
    else Map.empty
}
