package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    def loadAvg: Double = {
      val la = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
      if (la >= 0) la else 0.0
    }
    // EXTERNAL-cpu measurement: system busy ticks (/proc/stat, USER_HZ
    // = 100 on Linux) minus this JVM's own process CPU, over the
    // sweep's wall time = cores other processes burned WHILE we ran.
    // The r9 flag compared the raw AFTER load sample against the
    // threshold — but a 32-thread sweep pushes the 1-min load to
    // ~10-15 all by itself, so every honest full run self-flagged
    // "contended" (r9's driver artifact and an idle-box r10 rerun
    // both did). Subtracting our own CPU is the only way to tell
    // self-load from contention with loadavg-style inputs.
    def sysBusyTicks: Long = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        f.sum - f(3) - (if (f.length > 4) f(4) else 0L) // − idle − iowait
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: Exception => -1L }
    def selfCpuNanos: Long =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
        case _ => -1L
      }
    // Contention self-defense (r8: a load-4->8 driver run read as a 2x
    // regression until a judge rerun). r16 (r15 verdict #10): the r15
    // threshold of 8 let a load-[4,3] box produce the round's committed
    // artifact while the idle pin sat at [1,2] — heavy gates drifted
    // 2-4x. Back off until the box is genuinely idle (< 2), and to keep
    // the sample honest the wait loop now runs BEFORE the warm-up, so
    // it reads EXTERNAL load, not our own warm-up's.
    val contentionThreshold =
      sys.env.get("SPARK_GRAFT_LOAD_THRESHOLD").map(_.toDouble).getOrElse(2.0)
    // external cores above this during the sweep void round-over-round
    // comparison (32-way stages lose whole cores to the other process)
    val extCpuThreshold =
      sys.env.get("SPARK_GRAFT_EXT_CPU_THRESHOLD").map(_.toDouble).getOrElse(6.0)
    // r14 (r13 verdict #10): the single 60 s backoff still let a busy
    // box produce the round's committed artifact (BENCH_r13 ran at
    // load [6,5] and needed a footnote pointing at the idle local
    // pin). bench.md's protocol says WAIT until idle — so wait, up to
    // a bounded number of rounds, and report how long we waited.
    // r15 (r14 verdict "what's wrong" #1): the artifact itself stamps
    // the wait-for-idle OUTCOME — how many backoffs were taken and the
    // final pre-run load — so "which run was the idle pin" can never
    // again depend on narrative outside the JSON.
    val (loadBefore, idleWaits) = {
      val maxWaits =
        sys.env.get("SPARK_GRAFT_LOAD_MAX_WAITS").map(_.toInt).getOrElse(10)
      var l = loadAvg
      var waits = 0
      while (l > contentionThreshold && waits < maxWaits) {
        System.err.println(
          f"BENCH: 1-min load $l%.1f > $contentionThreshold%.1f at start; " +
            f"backing off 60 s (${waits + 1}/$maxWaits)")
        Thread.sleep(60000)
        waits += 1
        l = loadAvg
      }
      if (waits > 0)
        System.err.println(f"BENCH: proceeding at load $l%.1f after $waits wait(s)")
      (l, waits)
    }
    // warm the JVM/codegen/parquet-reader paths so per-query numbers
    // reflect steady state rather than first-use compilation. A warm-up
    // failure means every number below is suspect, so it must be LOUD.
    // The warm-up counts double as the corpus fingerprint input (below).
    // Runs AFTER the wait-for-idle gate (r16): its own 32-thread burst
    // pushes the 1-min load past the tightened threshold, and the gate
    // must read the BOX's load, not ours.
    val tableCounts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    try {
      Tables.all.foreach(n => tableCounts(n) = Tables.load(spark, sfDir, n).count())
      spark.range(1000000).selectExpr("sum(id)").collect()
    } catch {
      case t: Throwable =>
        System.err.println(s"BENCH WARM-UP FAILED: ${t.getClass.getName}: ${t.getMessage}")
    }
    // Corpus fingerprint: one 8-hex hash over every table's (name,
    // schema DDL, row count) plus the total row count. The r10 driver
    // regenerated the testdata mid-round and per-query deltas read as
    // perf regressions until a judge rerun traced the corpus change —
    // a bench artifact must identify WHAT it measured. Two artifacts
    // with different "data" fingerprints are not comparable
    // round-over-round; the schema DDL inside the hash also catches
    // physical-type flips (e.g. ts int64-nanos vs timestamp[us]) that
    // leave row counts identical.
    val dataJson = {
      val sig = Tables.all.sorted.map { n =>
        val schema = scala.util.Try(Tables.load(spark, sfDir, n).schema.sql).getOrElse("?")
        s"$n|$schema|${tableCounts.getOrElse(n, -1L)}"
      }.mkString(";")
      val fp = f"${scala.util.hashing.MurmurHash3.stringHash(sig)}%08x"
      s""","data":{"fp":"$fp","rows":${tableCounts.values.sum}}"""
    }
    val sweepWallStart = System.nanoTime()
    val busyTicksStart = sysBusyTicks
    val selfCpuStart = selfCpuNanos
    // one run; a throwing query must NOT be timed as ~0s and reported as
    // success (that made a broken query look *faster* — r6 verdict #1).
    // Returns (seconds, error-class-or-null).
    def once(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, String) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); null }
        catch { case t: Throwable => t.getClass.getSimpleName }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    // SORTED name order: hash-map iteration put queries before the
    // warm-up had touched their code paths in r2, which showed up as
    // phantom 3-6x "regressions" on sub-second queries. Sorted order
    // is stable round-over-round, so numbers compare like-for-like.
    // Best of 3 runs per query: JIT/cache variance at these sizes is
    // larger than most query times, min is the stable estimator.
    // optional subset filter (comma-separated names, or ^prefix! to
    // EXCLUDE): lets an A/B run isolate whether a new query family
    // shifts the others' numbers (JIT/code-cache/GC pressure) without
    // touching the default artifact
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val except = sys.env.get("SPARK_GRAFT_BENCH_EXCEPT").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
      .filter(q => !except.exists(_.contains(q._1)))
    val results = selected.map { case (name, fn) =>
      val runs = Seq.fill(3)(once(fn))
      CacheScope.clear() // drop blocks graft pinned inside this query's plans
      val err = runs.flatMap(r => Option(r._2)).headOption.orNull
      if (err != null) System.err.println(s"BENCH QUERY FAILED: $name: $err")
      // min over SUCCESSFUL runs only: failures are typically fast, so
      // a query that throws on one run must not report the failure's
      // duration as its time (contaminating the headline total). When
      // every run throws there is no honest duration — fall back to
      // the failed-run min so the total still adds up, with nerr>0
      // flagging the contamination.
      val ok = runs.filter(_._2 == null)
      val timed = if (ok.nonEmpty) ok else runs
      (name, timed.map(_._1).min, err)
    }
    val errs = results.collect { case (n, _, e) if e != null => (n, e) }
    val total = results.map(_._2).sum
    val loadAfter = loadAvg
    // cores OTHER processes burned during the sweep (−1 = not
    // measurable, e.g. non-Linux: fall back to the r9 after-load check)
    val extCpu: Double = {
      val busyEnd = sysBusyTicks
      val selfEnd = selfCpuNanos
      val wallSec = (System.nanoTime() - sweepWallStart) / 1e9
      if (busyTicksStart < 0 || busyEnd < 0 || selfCpuStart < 0 || selfEnd < 0
          || wallSec <= 0) -1.0
      else math.max(0.0,
        ((busyEnd - busyTicksStart) / 100.0 - (selfEnd - selfCpuStart) / 1e9) / wallSec)
    }
    // stamped into EVERY rendering (17 chars) when the box was busy at
    // start or other processes held > extCpuThreshold cores mid-sweep:
    // a contended artifact must say so itself — without flagging the
    // bench's own (expected, self-generated) load
    val contendedJson =
      if (loadBefore > contentionThreshold
          || (extCpu >= 0 && extCpu > extCpuThreshold)
          || (extCpu < 0 && loadAfter > contentionThreshold))
        ""","contended":true"""
      else ""
    // The driver keeps only the LAST 2000 chars of output and parses the
    // JSON line out of that tail; sbt's trailing "[success] Total time:
    // ..." line eats at most ~85 of them (longest month name + 4-digit
    // seconds), so 1900 + 100 reserve is safe. r1-r3 printed
    // full-precision doubles (~2400 chars) and the line's head fell off
    // the tail -> BENCH_r{N}.json "parsed": null. Emit the most precise
    // rendering that still fits the tail budget.
    // only emit the extracted token as a number when it parses as one,
    // and emit the NORMALIZED rendering, not the raw token: BigDecimal
    // accepts "1." / ".5" / "007", which are not valid JSON number
    // literals — toPlainString gives "1" / "0.5" / "7"
    val sfJson = {
      val sfTok = sfDir.replaceAll(".*?sf([0-9.]+).*", "$1")
      scala.util.Try(BigDecimal(sfTok)).toOption
        .filter(_ => sfTok != sfDir)
        .map(_.bigDecimal.toPlainString)
        .getOrElse("\"" + sfDir.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
    }
    def render(dec: Int, stripPrefix: Boolean, errDetail: Boolean = true,
               unit: Boolean = true, load: Boolean = true,
               loadDec: Int = 2, tokenNames: Boolean = false,
               minSec: Double = 0.0): String = {
      // token mode: "d13b_img" -> "d13b" — ~8 chars/query, the
      // difference between keeping and losing the whole map once the
      // query count outgrew the 2-decimal budget (96 queries in r9).
      // A name whose first token collides (e2e_media vs e2e_pipeline)
      // keeps its full stripped name — per-name fallback, so two
      // queries can never alias one entry and one collision doesn't
      // forfeit the whole map.
      val tokenOf: String => String = _.stripPrefix("q_").takeWhile(_ != '_')
      val collided: Set[String] = results.map(r => tokenOf(r._1))
        .groupBy(identity).collect { case (t, hits) if hits.size > 1 => t }.toSet
      // values that round to zero render as "0", not "0.000": with 90+
      // queries mostly under 50ms, those two characters per entry are
      // the difference between keeping and losing the per-query map
      def f(v: Double) = {
        val r = BigDecimal(v).setScale(dec, BigDecimal.RoundingMode.HALF_UP)
        if (r.signum == 0) "0" else r.toString
      }
      // minSec > 0: thresholded map — the last rung that still
      // carries per-query evidence once the query count outgrows
      // every full-map rendering (183 queries in r13). Sub-threshold
      // entries carry no drift signal at 1-2 decimals anyway; their
      // COUNT rides along so the omission is visible in the artifact.
      val kept = results.filter(_._2 >= minSec)
      val omittedJson =
        if (minSec <= 0 || kept.size == results.size) ""
        else s""","qmin":$minSec,"omitted":${results.size - kept.size}"""
      val qs = kept.map { case (k, v, _) =>
        val name =
          if (tokenNames && !collided(tokenOf(k))) tokenOf(k)
          else if (tokenNames || stripPrefix) k.stripPrefix("q_") else k
        "\"" + name + "\":" + f(v)
      }.mkString("{", ",", "}") + omittedJson
      // errors: per-query failure classes + a count that's nonzero iff any
      // query failed; load: 1-min system load sampled before/after the run
      // so a contended bench self-identifies in the artifact.
      val errJson =
        if (errs.isEmpty) "\"nerr\":0"
        else if (!errDetail) s""""nerr":${errs.size}"""
        else {
          val em = errs.map { case (n, e) =>
            val name = if (stripPrefix) n.stripPrefix("q_") else n
            "\"" + name + "\":\"" + e + "\""
          }.mkString("{", ",", "}")
          s""""nerr":${errs.size},"errors":$em"""
        }
      // ext_cpu rides with the load field (≤15 chars): it is the
      // number that decides the contended flag, so an artifact that
      // carries the flag also carries its evidence
      // waits rides with load: together with load[0] (the FINAL
      // pre-run sample) it is the complete wait-for-idle record
      val loadJson =
        if (!load) ""
        else s""","load":[${BigDecimal(loadBefore).setScale(loadDec, BigDecimal.RoundingMode.HALF_UP)},${BigDecimal(loadAfter).setScale(loadDec, BigDecimal.RoundingMode.HALF_UP)}],"waits":$idleWaits""" +
          (if (extCpu < 0) ""
           else s""","ext_cpu":${BigDecimal(extCpu).setScale(1, BigDecimal.RoundingMode.HALF_UP)}""")
      val unitJson = if (unit) """"unit":"sec",""" else ""
      s"""{"metric":"total","value":${f(total)},$unitJson$errJson$loadJson$contendedJson$dataJson,"queries":$qs,"sf":$sfJson}"""
    }
    // prefer keeping FULL query names (cross-round comparability)
    // over a third decimal; strip the q_ prefix next; then drop
    // per-query error CLASSES (stderr still has them) but never the
    // nerr count. FINAL resort: no per-query map at all — a heavily
    // contended run inflates every value by a character ("11.7" vs
    // "0.4") and can push even the tightest full rendering past the
    // driver's 2000-char output tail; the headline metric must parse
    // no matter what (the full detail is still on stdout above).
    def renderMinimal: String = {
      def f2(v: Double) = BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
      s"""{"metric":"total","value":${f2(total)},"unit":"sec","nerr":${errs.size},"load":[${f2(loadBefore)},${f2(loadAfter)}],"waits":$idleWaits$contendedJson$dataJson,"queries":{},"sf":$sfJson}"""
    }
    // degrade gracefully: decimals -> q_ prefixes -> error detail ->
    // the "unit" field -> load PRECISION (integers still answer "was
    // the box contended", which is the field's whole job — r8's
    // 95-query map pushed the 2-decimal load render 17 chars over
    // budget and silently dropped the field) -> the load indicator ->
    // (absolute last) the per-query map itself
    // the integer-load render gets a relaxed cap: the driver tail is
    // 2000 chars and sbt's trailing success line eats ≤ ~85, so 1912
    // still parses — better to spend the last 12 chars of reserve on
    // keeping the contention indicator than to lose it entirely
    // ...then FIRST-TOKEN query names (unique across the current map;
    // ~700 chars reclaimed, restores 2-decimal values + full load
    // precision + error detail) as the last rung that still carries a
    // per-query map — 96 full names no longer fit any full-name rung
    val line = (Seq(render(3, false), render(2, false), render(3, true),
        render(2, true), render(1, true), render(1, true, errDetail = false),
        render(1, true, errDetail = false, unit = false)).map((_, 1900)) ++ Seq(
        (render(1, true, errDetail = false, unit = false, loadDec = 0), 1912),
        (render(2, true, tokenNames = true), 1900),
        (render(1, true, errDetail = false, unit = false, loadDec = 0,
          tokenNames = true), 1912),
        (render(1, true, errDetail = false, unit = false, load = false), 1900),
        // thresholded rungs (r13: 183 queries outgrew every full-map
        // rendering): keep every entry the drift analysis can use,
        // drop the sub-threshold tail, say how many were dropped
        (render(2, true, tokenNames = true, minSec = 0.05), 1900),
        (render(1, true, errDetail = false, unit = false, loadDec = 0,
          tokenNames = true, minSec = 0.1), 1912),
        // r16: 225 queries outgrew the 0.1 rung too (the artifact fell
        // all the way to renderMinimal and lost its map) — coarser
        // thresholds still carry every multi-hundred-ms gate, which is
        // where drift analysis actually looks
        (render(1, true, errDetail = false, unit = false, loadDec = 0,
          tokenNames = true, minSec = 0.2), 1912),
        (render(1, true, errDetail = false, unit = false, loadDec = 0,
          tokenNames = true, minSec = 0.5), 1912)))
      .collectFirst { case (s, cap) if s.length <= cap => s }
      .getOrElse(renderMinimal)
    // full-precision per-query dump for LOCAL analysis (never the
    // driver line — that one is tail-budgeted above): every query,
    // 3 decimals, full names
    sys.env.get("SPARK_GRAFT_BENCH_DUMP").foreach { path =>
      val full = results.map { case (k, v, _) =>
        "\"" + k + "\":" + BigDecimal(v).setScale(3,
          BigDecimal.RoundingMode.HALF_UP)
      }.mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        s"""{"total":$total,"queries":$full}""".getBytes)
      ()
    }
    println(line)
    spark.stop()
  }
}
