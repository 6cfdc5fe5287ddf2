package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs the query inventory on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line. Protocol mirrors
  * BASELINE.md §3: warmup, then THREE full end-to-end passes over the
  * sorted query list with per-query min across passes — minute-scale
  * background load on a shared box then has to hit the SAME query in
  * EVERY pass (minutes apart) to poison its number, where min-of-N
  * back-to-back runs inside one visit shared the load window. The
  * noise flag compares passes 2 and 3 only (both warm), so it detects
  * machine events rather than pass-1 JIT warmup. Single local
  * session, UTC, UI off. A lane that fails in any pass is named in
  * the line's `errors` map, and the run then exits 1.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (line, errors) = run(spark, sfDir, SparkEntry.queries.toSeq)
    println(line)
    // Self-capture: a caller that keeps only the tail of stdout loses
    // the head of this long line; the file copy preserves every entry.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} lane(s) failed: " +
        errors.map { case (n, c) => s"$n ($c)" }.mkString(", "))
      sys.exit(1)
    }
  }

  /** Class name of the innermost cause — the error a lane actually hit
    * under Spark's job-failure wrapping. */
  def errorClass(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last.getClass.getName

  /** Warmup, gates and passes over `lanes`: the JSON line plus the
    * lane -> error class map of every lane that failed in some pass. */
  def run(
      spark: SparkSession,
      sfDir: String,
      lanes: Seq[(String, (SparkSession, String) => DataFrame)],
      loadGateMax: Double =
        // malformed override must not crash the bench before any pass runs
        sys.env.get("SPARK_GRAFT_LOAD_GATE").flatMap(_.toDoubleOption).getOrElse(2.0)
  ): (String, Map[String, String]) = {
    // Full evaluation through the no-op sink: every output column is
    // computed and discarded. Through r13 the action was .count(),
    // which let the optimizer PRUNE final-projection columns — real
    // relational work (joins/aggs/filters) was measured, but a query
    // whose last projection is an expensive UDF (the container-cycle
    // oracles: q_warc, q_vorbis, q_jp2_lossy, …) had that kernel
    // optimized out of its number. The protocol tag below breaks the
    // series so r14+ values are never compared raw against r13-.
    def evaluate(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // JVM/codegen warmup on one representative query
    try evaluate(SparkEntry.queries("q1_agg")(spark, sfDir))
    catch { case _: Throwable => () }

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def pass(): Seq[(String, Double)] = lanes.sortBy(_._1).map { case (name, fn) =>
      val secs =
        try time(evaluate(fn(spark, sfDir)))
        catch { case e: Throwable => errors.getOrElseUpdate(name, errorClass(e)); -1.0 }
        // drop blocks persisted inside the query plan — cached
        // intermediates must not accumulate across the 100+-query
        // session. clearCache() only empties the SQL CacheManager;
        // localCheckpoint blocks (Graph fixpoint rounds, staged curation
        // tables) live in the block manager as persistent RDDs and must
        // be dropped explicitly or they evict/GC-pressure later queries.
        finally {
          graft.operators.Staged.releaseAll() // staged tables + checkpointed results
          spark.catalog.clearCache()
          // backstop: anything persisted outside the Staged contract
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        }
      name -> secs
    }
    // machine-state preamble: same-build totals have spread ±15%
    // session-to-session (NOTES_r11) — recording load/mem at start
    // lets later rounds tell machine drift from real regression
    // without a re-run.
    val machine = {
      val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      val rt = Runtime.getRuntime
      val load = os.getSystemLoadAverage
      val freeMb =
        try {
          val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/meminfo"))
          lines.toArray.map(_.toString).find(_.startsWith("MemAvailable"))
            .map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
        } catch { case _: Throwable => -1L }
      s""""machine":{"load_avg":$load,"mem_available_mb":$freeMb,"cpus":${rt.availableProcessors}}"""
    }

    // load gate (r12 verdict): a committed 118 s run re-measured at 137 s
    // purely from background load (load_avg 1.75 vs 4.13) — variance that
    // can hide a real regression. If the box is busy at start, wait up to
    // 90 s for it to drain, then proceed but stamp the verdict into the
    // JSON so a noisy number is never mistaken for a clean one.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val startLoad = osBean.getSystemLoadAverage
    var gateWaitSec = 0
    while (osBean.getSystemLoadAverage > loadGateMax && gateWaitSec < 90) {
      Thread.sleep(5000); gateWaitSec += 5
    }
    // the verdict gates on the PRE-pass load only: once a pass runs, the
    // 1-min load average is dominated by the bench's own 32 threads, so
    // mid-run samples would flag every clean run as noisy. A negative
    // sample means the platform exposes no load average — that is
    // "unknown", never "clean" (r13 advice).
    val gatedLoad = osBean.getSystemLoadAverage
    val gateVerdict =
      if (gatedLoad < 0) "unknown" else if (gatedLoad <= loadGateMax) "clean" else "noisy"

    // steal-aware provenance (r17 verdict #3): guest-visible load was
    // clean across a session whose totals drifted 166.7 -> 208.8 s —
    // the cause was HOST-level steal, invisible to load_avg. Record
    // the /proc/stat steal-tick delta and this process's involuntary
    // context-switch delta ACROSS the run, so a degraded window is
    // stamped in the artifact instead of reconstructed in notes.
    def stealTicks(): Long =
      try {
        val cpu = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
          .toArray.map(_.toString).find(_.startsWith("cpu "))
        // cpu user nice system idle iowait irq softirq STEAL guest guest_nice
        cpu.map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)
      } catch { case _: Throwable => -1L }
    def nonvolCtxt(): Long =
      try {
        // /proc/self/status covers only the main thread; the executor
        // threads do the work — sum across every task of this process
        val tasks = java.nio.file.Files.list(java.nio.file.Paths.get("/proc/self/task"))
        try {
          tasks.toArray.map(_.asInstanceOf[java.nio.file.Path]).map { t =>
            try {
              java.nio.file.Files.readAllLines(t.resolve("status"))
                .toArray.map(_.toString).find(_.startsWith("nonvoluntary_ctxt_switches"))
                .map(_.split("\\s+")(1).toLong).getOrElse(0L)
            } catch { case _: Throwable => 0L } // thread exited mid-walk
          }.sum
        } finally tasks.close()
      } catch { case _: Throwable => -1L }
    val stealStart = stealTicks()
    val ctxtStart = nonvolCtxt()
    val runStartNanos = System.nanoTime()

    // three full passes, per-query min: -1 (error) never masks a clean run
    var passes = Vector(pass(), pass(), pass())
    val loadGate =
      f""""load_gate":{"threshold":$loadGateMax%.1f,"start_load":$startLoad%.2f,"waited_sec":$gateWaitSec,"gated_load":$gatedLoad%.2f,"verdict":"$gateVerdict"}"""

    // per-query noise stamp, r14-verdict form: pass 1 carries JIT/codegen
    // warmup for almost every query, so pass1-vs-pass2 disagreement was
    // warmup detection (57% of the suite flagged), not noise detection.
    // WARM passes (2+) should agree: a query is noisy when NO adjacent
    // pair of its sorted warm timings agrees within 1.5× — with two warm
    // passes that is the r15 rule exactly; with three (after a noise
    // rerun) a single poisoned pass no longer flags the query, because
    // the other two agree and their min is trustworthy. Fast queries
    // under 0.25 s stay exempt — sub-100ms jitter is scheduler noise.
    def noisyOf(ps: Vector[Seq[(String, Double)]]): Seq[String] =
      ps.head.indices.collect {
        case i if {
              val warm = ps.drop(1).map(_(i)._2).filter(_ > 0).sorted
              warm.size >= 2 && warm.last > 0.25 &&
              !warm.zip(warm.tail).exists { case (lo, hi) => hi / lo <= 1.5 }
            } =>
          ps.head(i)._1
      }

    // noisy-fraction gate (r15 verdict #4): the start-sampled load gate
    // cannot see a load event landing MID-run — r15's final local run
    // had 105/207 queries flagged noisy from one such event while the
    // gate said "clean". If more than 20% of the suite flags, the run
    // is re-measured once (a fourth full pass); if the fraction stays
    // above 20% even with three warm passes to agree across, the
    // artifact stamps itself "noisy" rather than posing as clean.
    val noisyFirst = noisyOf(passes)
    val rerunTriggered = noisyFirst.size * 5 > passes.head.size
    if (rerunTriggered) passes :+= pass()
    val noisy = noisyOf(passes)
    val noiseVerdict =
      if (noisy.size * 5 > passes.head.size) "noisy"
      else if (rerunTriggered) "rerun_clean"
      else "clean"

    val results = passes.head.indices.map { i =>
      val name = passes.head(i)._1
      val valid = passes.map(_(i)._2).filter(_ >= 0)
      name -> (if (valid.isEmpty) -1.0 else valid.min)
    }
    val passesJson = passes.head.indices
      .map { i =>
        "\"" + passes.head(i)._1 + "\":[" + passes.map(p => f"${p(i)._2}%.3f").mkString(",") + "]"
      }
      .mkString("{", ",", "}")
    val noisyJson = noisy.map("\"" + _ + "\"").mkString("[", ",", "]")
    val noiseGate =
      s""""noise_gate":{"first_noisy":${noisyFirst.size},"rerun":$rerunTriggered,"final_noisy":${noisy.size},"verdict":"$noiseVerdict"}"""

    // host_noise verdict: steal ticks as a fraction of the total CPU
    // ticks that elapsed across the passes (USER_HZ=100 on Linux).
    // >2% of the box stolen during the run = a degraded window; the
    // per-query min-of-N protocol absorbs brief spikes, but the stamp
    // makes sustained steal visible in the artifact itself.
    val hostNoise = {
      val stealEnd = stealTicks()
      val ctxtEnd = nonvolCtxt()
      val elapsedSec = (System.nanoTime() - runStartNanos) / 1e9
      val cpusN = Runtime.getRuntime.availableProcessors
      val stealDelta = if (stealStart >= 0 && stealEnd >= 0) stealEnd - stealStart else -1L
      val ctxtDelta = if (ctxtStart >= 0 && ctxtEnd >= 0) ctxtEnd - ctxtStart else -1L
      val stealPct =
        if (stealDelta < 0 || elapsedSec <= 0) -1.0
        else 100.0 * stealDelta / (elapsedSec * 100.0 * cpusN)
      val verdict =
        if (stealDelta < 0) "unknown" else if (stealPct > 2.0) "stolen" else "clean"
      f""""host_noise":{"steal_ticks":$stealDelta,"steal_pct":$stealPct%.3f,"nonvol_ctxt_delta":$ctxtDelta,"elapsed_sec":$elapsedSec%.1f,"verdict":"$verdict"}"""
    }
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // "protocol" stamps the measurement discipline into the output so
    // round-over-round series breaks are visible: r7 and earlier ran
    // min-of-2 back-to-back (2nd run WARM, riding staged persists);
    // from r8 on each pass releases all staged/cached blocks after
    // every query (COLD per-query min); from r14 on the action is a
    // full no-op-sink evaluation instead of count() — queries whose
    // final projection is a heavy UDF gain their real cost, so v3
    // numbers only compare against v3. From r15 a THIRD pass feeds the
    // warm-vs-warm noise flag; the reported min is over all passes
    // (min-of-3 vs r14's min-of-2 — same distribution floor). From r16
    // the noise_gate can add a FOURTH pass (protocol tag records the
    // actual count) and stamps a run-level noise verdict.
    // git SHA makes the committed bench_out.json a self-contained
    // record (the driver's stdout tail has truncated mid-JSON before):
    // sha + protocol + sf + machine + gates all travel together
    val gitSha =
      try {
        val p = new ProcessBuilder("git", "rev-parse", "HEAD").redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
        if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out else "unknown"
      } catch { case _: Throwable => "unknown" }
    val errorsJson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","protocol":"${passes.size}pass-cold-min-v3-noop","git_sha":"$gitSha",$machine,$loadGate,$noiseGate,$hostNoise,"noisy_queries":$noisyJson,"query_passes":$passesJson,"queries":$qs,"errors":$errorsJson,"sf":"$sfDir"}"""
    (line, errors.toMap)
  }
}
