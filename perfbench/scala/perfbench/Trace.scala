package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Cumulative Spark counters at one instant. */
final case class Snap(jobs: Long, tasks: Long, taskMs: Long, shuffleBytes: Long,
                      inputRecords: Long) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, taskMs - o.taskMs,
    shuffleBytes - o.shuffleBytes, inputRecords - o.inputRecords)
}

/** Listener the traced run registers: job/task counts, task time, shuffle
  * write bytes, input records, and the wall intervals during which at least
  * one job ran (to tell time with no Spark job running from job time). */
final class Counters extends SparkListener {
  private val jobs, tasks, taskMs, shuffle, input = new AtomicLong
  private val running = new ConcurrentHashMap[Int, java.lang.Long]()
  private val done = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); running.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = running.remove(e.jobId)
    if (s != null) done.synchronized { done += ((s.longValue, e.time)) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      input.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def snap: Snap = Snap(jobs.get, tasks.get, taskMs.get, shuffle.get, input.get)

  /** Start time of the first job that started within [a, b]. */
  def firstJobStart(a: Long, b: Long): Option[Long] = {
    val starts = done.synchronized(done.map(_._1).toVector) ++ running.values.asScala.map(_.longValue)
    starts.filter(t => t >= a && t <= b).minOption
  }

  /** Milliseconds of [a, b] covered by at least one running job. */
  def busyMs(a: Long, b: Long): Long = {
    val now = System.currentTimeMillis()
    val iv = done.synchronized(done.toVector) ++
      running.values.asScala.map(s => (s.longValue, now))
    Trace.coverage(iv.map { case (s, e) => (s max a, e min b) }.filter(x => x._1 < x._2))
  }
}

/** One traced call: `name` is the per-layer metric prefix it feeds. Spans of
  * one top-level operation share `req`; `parent` is -1 at top level. */
final case class Span(id: Int, parent: Int, req: Int, name: String,
                      startMs: Long, endMs: Long, durMs: Double, d: Snap,
                      busyMs: Long, bytesWritten: Long, ok: Boolean) {
  def gapMs: Double = math.max(0.0, durMs - busyMs)
}

/** Times the workload's operations. Untraced, it only reads the clock around
  * each top-level call. Traced, it also opens a span around every call and
  * child call, drains the listener bus at each boundary, and walks the store
  * directory around commits to count the bytes each one wrote. */
final class Trace(spark: SparkSession, val traced: Boolean) {
  /** (kind, round, ms) for every top-level operation that succeeded. */
  val samples = ArrayBuffer.empty[(String, Int, Double)]
  val spans = ArrayBuffer.empty[Span]
  /** Rows a read span returned, by span id. */
  val rowsOut = scala.collection.mutable.HashMap.empty[Int, Long]
  var attempted = 0L
  var failed = 0L
  var round = 0
  /** Rows the operations handed to the store (the write-amplification base). */
  var rowsSubmitted = 0L
  private var overheadNs = 0L
  private var nextId = 0
  private var stack = List.empty[Int]
  private var req = 0

  val counters: Option[Counters] =
    if (traced) {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None

  def overheadS: Double = overheadNs / 1e9

  private def bookkeeping[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally overheadNs += System.nanoTime() - t0
  }

  /** Store-directory listing: path -> size. */
  private def listing(dir: String): Map[String, Long] =
    if (dir == null || !Files.exists(Paths.get(dir))) Map.empty
    else {
      val st = Files.walk(Paths.get(dir))
      try st.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map((p: Path) => p.toString -> Files.size(p)).toMap
      finally st.close()
    }

  /** A call inside the current operation (or a top-level one, when called
    * from `op`). `dir` names a store directory whose new bytes to count. */
  def span[A](name: String, dir: String = null)(body: => A): A =
    if (!traced) body
    else {
      val c = counters.get
      val (before, files0) = bookkeeping {
        BenchBus.drain(spark.sparkContext); (c.snap, listing(dir))
      }
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      var ok = false
      try { val r = body; ok = true; r }
      finally {
        val dur = (System.nanoTime() - t0) / 1e6; val w1 = System.currentTimeMillis()
        stack = stack.tail
        bookkeeping {
          BenchBus.drain(spark.sparkContext)
          val d = c.snap - before
          val written = listing(dir).iterator.collect {
            case (p, sz) if !files0.get(p).contains(sz) => sz
          }.sum
          spans += Span(id, parent, req, name, w0, w1, dur, d, c.busyMs(w0, w1),
            written, ok)
        }
      }
    }

  /** Records the rows the innermost open span returned. */
  def returned(n: Long): Unit = if (traced) stack.headOption.foreach(rowsOut(_) = n)

  /** A top-level operation of kind `kind` (the per-layer prefix of its
    * outermost span). Its latency sample is filed under `label` (default:
    * the kind). Counts toward `attempted`; a throw counts as failed and is
    * reported, not rethrown. Returns None on failure. */
  def op[A](kind: String, dir: String = null, label: String = null)(body: => A): Option[A] = {
    attempted += 1
    req += 1
    val t0 = System.nanoTime()
    try {
      val r = span(kind, dir)(body)
      samples += ((Option(label).getOrElse(kind), round, (System.nanoTime() - t0) / 1e6))
      Some(r)
    } catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $kind failed: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** A correctness check outside timing; a false or a throw counts as failed. */
  def check(what: String)(cond: => Boolean): Unit = {
    attempted += 1
    val ok = try cond catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] check $what threw: ${e.getMessage}"); false
    }
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what")
    }
  }

  /** Self time of a span: its duration minus the part its children cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs))
    math.max(0.0, s.durMs - Trace.coverage(kids.toSeq))
  }

  /** Spans as JSON lines, written once when the run ends. */
  def writeSpans(file: String): Unit = {
    val lines = spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
      f""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${s.durMs}%.3f,""" +
      f""""self_ms":${selfMs(s)}%.3f,"gap_ms":${s.gapMs}%.3f,"jobs":${s.d.jobs},""" +
      f""""tasks":${s.d.tasks},"task_ms":${s.d.taskMs},"shuffle_bytes":${s.d.shuffleBytes},""" +
      f""""input_records":${s.d.inputRecords},"bytes_written":${s.bytesWritten},"ok":${s.ok}}"""
    }
    Files.createDirectories(Paths.get(file).getParent)
    Files.writeString(Paths.get(file), lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  /** Total length of the union of intervals. */
  def coverage(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest nearest-rank percentile with at least ten samples beyond
    * it: (value, percentile, sample count). None when that percentile would
    * not lie above the median (fewer than 20 samples). */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted; val n = s.size
    if (n < 20) None else Some((s(n - 11), 100.0 * (n - 10) / n, n))
  }
}
