package lanebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM half of the lane benchmark. `run.py` writes a job file and reads
  * back one raw result file; every metric is derived on the Python side.
  *
  * One JVM per run, one client: each lane starts only after the previous
  * one and its cleanup have finished. The phases are
  *   1. session + warmup lane (timed from JVM start: set-up),
  *   2. correctness pass: every lane once, results written as parquet
  *      for the DuckDB oracle compare (also warms each lane's code),
  *   3. codec round-trip / microbench on the corpus bytes, if asked,
  *   4. timed passes over the seeded lane schedule until the time is up.
  * A set-up-only job stops after phase 1: `run.py` starts a few of them
  * per run to take more than one cold set-up sample.
  * With `trace` on, every timed lane also gets a traced visit, with a
  * SparkListener and a QueryExecutionListener attached and its own job
  * group.
  */
object LaneBench {
  type Lane = (SparkSession, String) => DataFrame

  def lanes: Map[String, Lane] = graft.SparkEntry.queries ++ Planted.lanes

  /** The session `graft.Bench` runs in, with scratch space kept in `work`. */
  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Full evaluation through the no-op sink, as `graft.Bench` does. */
  def evaluate(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Cold-lane cleanup, as `graft.Bench.pass` does after every lane. */
  def release(spark: SparkSession): Unit = {
    graft.operators.Staged.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Epoch milliseconds with nanosecond resolution, on the same clock as
    * Spark's listener timestamps. */
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def errorClass(t: Throwable): String = {
    // Spark wraps task failures; name the innermost cause as well
    var root = t
    while (root.getCause != null && root.getCause != root) root = root.getCause
    if (root eq t) t.getClass.getName else s"${t.getClass.getName}<-${root.getClass.getName}"
  }

  final case class Visit(
      lane: String, pass: Int, startMs: Double, buildMs: Double, execMs: Double,
      releaseMs: Double, error: Option[String]) {
    def wallMs: Double = buildMs + execMs
  }

  /** Runs one lane visit: build the DataFrame, evaluate it, release.
    * A throw is recorded with its class; the time up to it is kept. */
  def visit(spark: SparkSession, dataDir: String, name: String, pass: Int,
      action: DataFrame => Unit = evaluate, cleanup: SparkSession => Unit = release): Visit = {
    val t0 = nowMs()
    var t1 = Double.NaN
    var t2 = Double.NaN
    var err: Option[String] = None
    try {
      val df = lanes(name)(spark, dataDir)
      t1 = nowMs()
      action(df)
      t2 = nowMs()
    } catch {
      case e: Throwable =>
        err = Some(errorClass(e))
        val t = nowMs()
        if (t1.isNaN) t1 = t
        t2 = t
    }
    cleanup(spark)
    val t3 = nowMs()
    Visit(name, pass, t0, t1 - t0, t2 - t1, t3 - t2, err)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val mapper = new ObjectMapper()
    val job = mapper.readTree(Paths.get(args(0)).toFile)
    val out = Paths.get(job.get("out").asText())
    val dataDir = job.get("data").asText()
    val cpus = job.get("cpus").asInt()
    val seconds = job.get("seconds").asDouble()
    val trace = job.get("trace").asBoolean()
    def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq
    val checkLanes = strings(job.get("check_lanes"))
    val passes = job.get("passes").elements().asScala.map(strings).toVector
    val corpus = Option(job.get("corpus")).filterNot(_.isNull).map(n => Files.readAllBytes(Paths.get(n.asText())))
    val checkThreads = math.max(1, job.get("check_threads").asInt())
    val microReps = job.get("micro_reps").asInt()

    val result = new java.util.LinkedHashMap[String, Any]()
    val heap = new HeapWatch

    // 1. set-up: JVM start to session ready plus one warmup lane
    val spark = session(cpus, out)
    val warm = visit(spark, dataDir, job.get("warmup").asText(), -1)
    result.put("setup_ms", nowMs() - jvmStartMs)
    result.put("session_ms", warm.startMs - jvmStartMs)
    result.put("warmup", visitJson(warm))
    if (job.get("setup_only").asBoolean()) {
      spark.stop()
      Files.write(out.resolve("result.json"), mapper.writeValueAsString(result).getBytes(UTF_8))
      return
    }

    // 2. correctness pass, not timed: lanes run `checkThreads` at a time,
    // each in its own Staged scope; the session-wide cleanup follows once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(checkThreads)
    val checks = try {
      checkLanes.map { name =>
        val dest = out.resolve("results").resolve(name).toString
        pool.submit(() => graft.operators.Staged.scope {
          visitJson(visit(spark, dataDir, name, 0, df => df.write.mode("overwrite").parquet(dest), _ => ()))
        })
      }.map(_.get())
    } finally pool.shutdown()
    release(spark)
    result.put("checks", checks.asJava)
    val oracle = new java.util.LinkedHashMap[String, String]()
    checkLanes.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).foreach { case (k, v) => oracle.put(k, v) }
    result.put("oracle_sql", oracle)

    // 3. codec round trips (one rep) or microbench (microReps reps)
    corpus.foreach(c => result.put("codecs", Codecs.run(c, microReps).asJava))

    // 4. timed passes. A traced run visits every lane twice in a row,
    // once traced and once not. The later visit of a pair runs warmer, so
    // the traced one comes first at every other position.
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val steal0 = Host.stealTicks()
    val ctxt0 = Host.nonvolCtxt()
    val gc0 = Host.gcMs()
    heap.reset()
    val timedStart = nowMs()
    val visits = Vector.newBuilder[Visit]
    val visitTraced = Vector.newBuilder[Boolean]
    var p = 0
    var visitNo = 0
    while (p < passes.size && (p == 0 || nowMs() - timedStart < seconds * 1000)) {
      passes(p).zipWithIndex.foreach { case (name, i) =>
        val order = if (tracer.isEmpty) Seq(false) else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
        order.foreach { traced =>
          if (traced) { tracer.get.start(); tracer.get.beginVisit(visitNo) }
          visits += visit(spark, dataDir, name, p + 1)
          if (traced) tracer.get.stop()
          visitTraced += traced
          visitNo += 1
        }
      }
      p += 1
    }
    val timedEnd = nowMs()
    result.put("timed_ms", timedEnd - timedStart)
    result.put("passes", p)
    result.put("visits", visits.result().zip(visitTraced.result()).map { case (v, t) =>
      val m = visitJson(v); m.put("traced", t); m
    }.asJava)
    result.put("peak_heap_mb", heap.peakMb)
    result.put("gc_ms", Host.gcMs() - gc0)
    result.put("steal_ticks", Host.stealTicks() - steal0)
    result.put("nonvol_ctxt", Host.nonvolCtxt() - ctxt0)
    tracer.foreach(t => result.put("trace", t.json))
    val conf = new java.util.TreeMap[String, String]()
    spark.conf.getAll.foreach { case (k, v) => conf.put(k, v) }
    result.put("spark_conf", conf)
    result.put("max_heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    spark.stop()
    Files.write(out.resolve("result.json"), mapper.writeValueAsString(result).getBytes(UTF_8))
  }

  def visitJson(v: Visit): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("lane", v.lane); m.put("pass", v.pass); m.put("start_ms", v.startMs)
    m.put("build_ms", v.buildMs); m.put("exec_ms", v.execMs); m.put("release_ms", v.releaseMs)
    m.put("wall_ms", v.wallMs); m.put("error", v.error.orNull)
    m
  }
}

/** Peak heap in use right after a collection, from GC notifications. */
final class HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, h: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = synchronized { peak / 1048576.0 }
}

/** Host counters for provenance: steal ticks, context switches, GC time. */
object Host {
  private def lines(p: String): Seq[String] =
    try Files.readAllLines(Paths.get(p)).asScala.toSeq catch { case _: Throwable => Nil }

  /** /proc/stat steal ticks (USER_HZ), -1 where unavailable. */
  def stealTicks(): Long =
    lines("/proc/stat").find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)

  /** Nonvoluntary context switches summed over this process's threads. */
  def nonvolCtxt(): Long =
    try {
      val tasks = Files.list(Paths.get("/proc/self/task"))
      try tasks.iterator().asScala.map { t =>
        lines(t.resolve("status").toString).find(_.startsWith("nonvoluntary_ctxt_switches"))
          .map(_.split("\\s+")(1).toLong).getOrElse(0L)
      }.sum
      finally tasks.close()
    } catch { case _: Throwable => -1L }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
