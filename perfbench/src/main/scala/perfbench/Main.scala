package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The JVM side of one benchmark run. Reads the generated inputs, builds
  * the workload's state (timed as set-up), runs whole rounds of the
  * workload's operations for the measured window and writes `result.json`
  * (timings, counters, and every result the checks re-derive).
  *
  * Usage: Main <workload> <workDir> <seconds> <trace 0|1> <cpus> <seed>
  * with the generated inputs in `<workDir>/data`. */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, work, secs, trace, cpus, seed) = args
    val data = s"$work/data"
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.dataSizedShuffle(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/local"), cpus.toInt, data)
      .getOrCreate()
    val sessionStart = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/ckpt")
    val inputs = new ObjectMapper().readValue(new File(s"$data/inputs.json"),
      classOf[java.util.Map[String, Object]])
    val run = new Run(spark, work, data, secs.toDouble, trace == "1", cpus.toInt,
      seed.toLong, inputs)
    run.sessionStart = sessionStart
    workload match {
      case "serve"  => new Serve(run).run()
      case "ingest" => new Ingest(run).run()
      case other       => sys.error(s"unknown workload '$other'")
    }
    run.finish()
    spark.stop()
  }
}

/** State shared by every workload: the session, the tracer, the window
  * loop and the result document. */
final class Run(val spark: SparkSession, val work: String, val data: String,
                val seconds: Double, val traced: Boolean, val cpus: Int,
                val seed: Long, val inputs: java.util.Map[String, Object]) {
  val out = s"$work/out"
  new File(out).mkdirs()
  val tracer = new Tracer(spark.sparkContext, traced)
  val result = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val records = ArrayBuffer.empty[Any]
  /** (operation name, milliseconds, traced) of every operation that ended. */
  val ops = ArrayBuffer.empty[(String, Double, Boolean)]
  val setupS = ArrayBuffer.empty[Double]
  var sessionStart = 0.0
  var attempted, failed = 0L
  var windowS = 0.0
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  def list(key: String): Seq[Object] =
    inputs.get(key).asInstanceOf[java.util.List[Object]].asScala.toSeq

  /** Times `SetupRepeats` set-ups and keeps each one's seconds. */
  def setups(build: Int => Unit): Unit =
    for (i <- 0 until Main.SetupRepeats) {
      tracer.newGroup()
      val t = System.nanoTime()
      build(i)
      setupS += (System.nanoTime() - t) / 1e9
    }

  /** Runs whole rounds until the window is spent (at least one). */
  def window(round: Int => Unit): Unit = {
    markTracedStart()
    val t = System.nanoTime()
    def elapsed = (System.nanoTime() - t) / 1e9
    while (rounds == 0 || elapsed < seconds) { round(rounds); rounds += 1 }
    windowS = elapsed
    // the live set: what the engine still holds once the window's garbage
    // is collected (peak RSS follows the collector's timing, not the program)
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    liveHeapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
  var liveHeapMb = 0.0
  var rounds = 0
  /** True while a query runs again untraced, for the tracing overhead. */
  var replaying = false
  private var replays = 0

  /** One operation: timed from outside, failures counted, never timed.
    * Its top-level span carries the Spark work no layer span claims. In a
    * traced run every query first runs once untraced to warm its code path,
    * then once traced and once untraced, in alternating order, so the run
    * reports tracing's own cost on equally warm pairs. */
  def op(name: String)(body: => Unit): Unit = {
    val replay = traced && name.startsWith("query.")
    def untracedCopy(record: Boolean): Unit = {
      replaying = true
      tracer.enabled = false
      try timed(name, record)(body) finally { replaying = false; tracer.enabled = true }
    }
    if (replay) untracedCopy(record = false)
    if (replay && replays % 2 == 0) untracedCopy(record = true)
    timed(name, record = true)(body)
    if (replay && replays % 2 == 1) untracedCopy(record = true)
    if (replay) replays += 1
  }

  private def timed(name: String, record: Boolean)(body: => Unit): Unit = {
    attempted += 1
    tracer.newGroup()
    val t = System.nanoTime()
    try {
      span(name)(body)
      if (record) ops += ((name, (System.nanoTime() - t) / 1e6, tracer.enabled))
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] operation failed: $e")
        e.printStackTrace()
    }
  }

  def dirBytes(path: String): (Long, Int) = {
    def walk(f: File): (Long, Int) =
      if (f.isFile) {
        val n = f.getName
        if (n.startsWith(".") || n.startsWith("_")) (0L, 0) else (f.length(), 1)
      } else Option(f.listFiles()).map(_.map(walk).foldLeft((0L, 0)) {
        case ((a, b), (c, d)) => (a + c, b + d)
      }).getOrElse((0L, 0))
    walk(new File(path))
  }

  /** On-disk bytes of every store the engine built for input directory `dir`
    * (its catalog tables carry the directory in their names). */
  def storeBytesOf(dir: String): Long = {
    val suffix = graft.TableStore.tableName("", dir).stripPrefix("graft_")
    Option(new File(s"$work/warehouse").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(suffix)).map(f => dirBytes(f.getPath)._1).sum
  }

  def copyData(to: String, files: Seq[String]): String = {
    new File(to).mkdirs()
    files.foreach { f =>
      Files.copy(Paths.get(s"$data/$f"), Paths.get(s"$to/$f"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    to
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Per-layer table: every span name with calls, total and self time and
    * the Spark work folded into it. */
  private def layerTable(): Seq[Any] = {
    tracer.drain()
    val traced = tracer.spans.toSeq
    traced.groupBy(_.name).toSeq.sortBy(-_._2.map(_.nanos).sum).map { case (name, ss) =>
      Map("layer" -> name, "calls" -> ss.size,
        "total_s" -> ss.map(_.nanos).sum / 1e9,
        "self_s" -> ss.map(tracer.selfNanos).sum / 1e9,
        "jobs" -> ss.map(_.jobs.get).sum, "tasks" -> ss.map(_.tasks.get).sum,
        "task_s" -> ss.map(_.taskNanos.get).sum / 1e9,
        "shuffle_bytes" -> ss.map(_.shuffleBytes.get).sum,
        "spill_bytes" -> ss.map(_.spillBytes.get).sum,
        "gc_s" -> ss.map(_.gcMs.get).sum / 1e3)
    }
  }

  /** Median duration of the named spans in `unit` seconds (1 = s, 1e3 = ms). */
  def layerMedian(name: String, unit: Double): Double = {
    val d = tracer.spans.filter(_.name == name).map(_.nanos / 1e9 * unit).sorted
    if (d.isEmpty) 0.0 else Stats.median(d.toSeq)
  }

  def finish(): Unit = {
    if (traced) {
      val table = layerTable()
      result("layer_table") = table
      // Spark counters per operation of the window
      val opSpans = tracer.spans.filter(s => s.parent == -1 && s.group > 0 &&
        s.start >= tracedStart)
      val groups = opSpans.map(_.group).distinct.size.max(1)
      val inWindow = tracer.spans.filter(_.start >= tracedStart)
      layers("spark.jobs") = inWindow.map(_.jobs.get).sum.toDouble / groups
      layers("spark.tasks") = inWindow.map(_.tasks.get).sum.toDouble / groups
      layers("spark.shuffle_bytes") = inWindow.map(_.shuffleBytes.get).sum.toDouble / groups
      layers("spark.spill_bytes") = inWindow.map(_.spillBytes.get).sum.toDouble / groups
      layers("spark.gc_s") = inWindow.map(_.gcMs.get).sum / 1e3 / groups
      val wall = opSpans.map(_.nanos).sum / 1e9
      val busy = inWindow.map(_.taskNanos.get).sum / 1e9
      layers("spark.core_idle_s") = math.max(0.0, wall * cpus - busy) / groups
      // tracing's own cost: each query traced against its untraced copy
      val (on, off) = ops.filter(_._1.startsWith("query.")).partition(_._3)
      if (on.nonEmpty && off.nonEmpty)
        layers("trace.overhead_pct") =
          (Stats.median(on.map(_._2).toSeq) / Stats.median(off.map(_._2).toSeq) - 1) * 100
      layers("session.start_s") = sessionStart
      layers("jvm.peak_rss_mb") = peakRssMb
      layers("tables.load_s") = layerMedian("tables.load", 1)
      result("layers") = layers.toMap
    }
    tracer.stop()
    result("attempted") = attempted
    result("failed") = failed
    result("setup_s") = setupS.toSeq
    result("session_start_s") = sessionStart
    result("window_s") = windowS
    result("rounds") = rounds
    result("ops") = ops.toSeq.map { case (n, ms, t) => Seq(n, ms, t) }
    result("peak_rss_mb") = peakRssMb
    result("live_heap_mb") = liveHeapMb
    result("records") = records.toSeq
    Json.write(s"$out/result.json", result.toMap)
  }
  var tracedStart = Long.MaxValue
  def markTracedStart(): Unit = if (tracedStart == Long.MaxValue) tracedStart = System.nanoTime()
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  private val mapper = new ObjectMapper()
  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_]    => a.toSeq.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case f: Float       => f.toDouble
    case other          => other
  }
  def write(path: String, v: Any): Unit =
    mapper.writeValue(new File(path), toJava(v))

  /** Result rows as JSON-ready lists (doubles stay doubles, ids strings). */
  def rows(rs: Array[Row]): Seq[Seq[Any]] =
    rs.toSeq.map(r => r.toSeq.map {
      case s: scala.collection.Seq[_] => s.map(x => x.asInstanceOf[Any])
      case x => x
    })
}
