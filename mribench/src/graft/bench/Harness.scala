package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counters the benchmark attaches to the session: jobs, tasks, task run
  * time and shuffle bytes, read as deltas around the calls it times. */
final class SparkStats extends SparkListener {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val taskMs = new AtomicLong
  private val shuffleBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
    ()
  }

  def snap(spark: SparkSession): Snap = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    Snap(System.nanoTime(), jobs.get, tasks.get, taskMs.get, shuffleBytes.get, Env.gcMs, Env.stealS)
  }
}

final case class Snap(ns: Long, jobs: Long, tasks: Long, taskMs: Long, shuffleBytes: Long,
    gcMs: Long, stealS: Double) {
  def -(o: Snap): Snap = Snap(ns - o.ns, jobs - o.jobs, tasks - o.tasks, taskMs - o.taskMs,
    shuffleBytes - o.shuffleBytes, gcMs - o.gcMs, stealS - o.stealS)
  def +(o: Snap): Snap = Snap(ns + o.ns, jobs + o.jobs, tasks + o.tasks, taskMs + o.taskMs,
    shuffleBytes + o.shuffleBytes, gcMs + o.gcMs, stealS + o.stealS)
  def wallS: Double = ns / 1e9
}

object Snap { val Zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0.0) }

/** Spans kept in memory around the benchmark's calls into each layer and
  * written out at exit. Single-threaded: every span opens and closes on
  * the thread that runs the workload. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, String, Long)]
  private var nextId = 1
  private val origin = System.nanoTime()

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, layer, name, System.nanoTime()) :: stack
      try f
      finally {
        val (_, l, n, t0) = stack.head
        stack = stack.tail
        done += Span(id, parent, l, n, t0 - origin, System.nanoTime() - origin)
      }
    }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover (children of one parent never overlap here). */
  def selfSeconds: Map[String, Double] = {
    val childNs = done.groupBy(_.parent).view.mapValues(_.map(s => s.end - s.start).sum).toMap
    done.groupBy(_.layer).view.mapValues { ss =>
      ss.map(s => (s.end - s.start) - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }.toMap
  }

  def write(f: File): Unit = {
    val body = done.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, body.getBytes(StandardCharsets.UTF_8))
    ()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, layer: String, name: String, start: Long, end: Long)
}

/** Everything one workload run shares: the session, its inputs' seed, the
  * measured-time budget and the metric sinks. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: File, val cpus: Int) {
  val stats = new SparkStats
  spark.sparkContext.addSparkListener(stats)
  val tracer = new Tracer(trace)

  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  val fixtureS = mutable.ArrayBuffer.empty[Double]
  var warmupS = 0.0
  /** Harness counters summed over the timed units only. */
  var timed: Snap = Snap.Zero

  /** Generates the inputs three times and keeps the median, so that set-up
    * time is a steady figure; the last generation is the one measured. */
  def fixture(gen: => Unit): Unit =
    for (_ <- 0 until Ctx.FixtureReps) {
      val t0 = System.nanoTime()
      gen
      fixtureS += (System.nanoTime() - t0) / 1e9
    }

  def warmup(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    warmupS += (System.nanoTime() - t0) / 1e9
  }

  /** One timed unit; its harness counters join the timed totals. */
  def unit[T](f: => T): (T, Snap) = {
    val a = stats.snap(spark)
    val r = f
    val d = stats.snap(spark) - a
    timed = timed + d
    (r, d)
  }

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failed <= 10) System.err.println(s"[check] FAILED: $what")
    }
  }

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

object Ctx { val FixtureReps = 3 }

object Stat {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Order-insensitive digests: a record set is summarized by its count and
  * the 64-bit sum of a per-record hash, so partition order never matters. */
object Digest {
  def md5(b: Array[Byte]): Array[Byte] = java.security.MessageDigest.getInstance("MD5").digest(b)

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  def long8(b: Array[Byte]): Long = java.nio.ByteBuffer.wrap(b, 0, 8).getLong

  /** Per-record hash of (key, md5(value)). */
  def record(key: String, value: Array[Byte]): Long =
    long8(md5((key + " " + hex(md5(value))).getBytes(StandardCharsets.UTF_8)))

  def of(s: String): Long = long8(md5(s.getBytes(StandardCharsets.UTF_8)))

  def show(n: Long, sum: Long): String = f"$n:$sum%016x"
}

object Fs {
  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(treeBytes).sum else f.length

  /** fsync every file under `f`, so writeback of freshly written inputs
    * does not land inside the timed phase. */
  def syncTree(f: File): Unit =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(syncTree)
    else {
      val ch = java.nio.channels.FileChannel.open(f.toPath, java.nio.file.StandardOpenOption.WRITE)
      try ch.force(true) finally ch.close()
    }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(); ()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
      .mkString("{", ",", "}")

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Machine facts for the per-run environment block. */
object Env {
  /** A fixed single-thread integer and floating-point loop, median of five
    * reps in ms: how fast this JVM on its host is at this moment, so a
    * slow run can be told apart from a slow program. */
  def calibrateMs(): Double = Stat.median((0 until 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0.0
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += (x & 0xffff) * 1.0000001
      i += 1
    }
    if (acc == 42.0) println(acc)
    (System.nanoTime() - t0) / 1e6
  })

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Steal time of the whole machine from /proc/stat, in seconds. */
  def stealS: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toDouble / 100.0 else 0.0
      } finally src.close()
    } catch { case _: Exception => 0.0 }

  private def status(field: String): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith(field + ":"))
        .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }

  def peakRssMb: Double = status("VmHWM") / 1024.0

  /** Filesystem type of the mount holding `f` (longest mount-point prefix). */
  def fsType(f: File): String =
    try {
      val path = f.getCanonicalPath
      val src = scala.io.Source.fromFile("/proc/mounts")
      try src.getLines().map(_.split(" ")).filter(_.length > 2)
        .filter(m => path == m(1) || path.startsWith(m(1).stripSuffix("/") + "/"))
        .maxByOption(_(1).length).map(_(2)).getOrElse("unknown")
      finally src.close()
    } catch { case _: Exception => "unknown" }

  def jvmFlags: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filterNot(_.startsWith("--add-opens"))
}
