package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Journal-store benchmark entry point. One client thread, closed loop: each
  * operation starts when the previous one returned.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --cores C --tmp DIR --out DIR
  *
  * Prints `# name: value` detail lines, then one JSON line with the
  * end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1). */
object Main {
  val SetupCopies = 3

  val journalOps = Seq("append", "merge", "delete_where", "delete_where_dv",
    "update_where", "analyze", "compact", "vacuum")
  val commitOps: Set[String] = journalOps.map(o => s"journal.$o").toSet ++
    Set("sources.sql_merge", "sources.sql_update")
  val journalReads = Seq("state_point", "state_full", "history")
  val sourceReads = Seq("asof_key", "key_range", "ns_agg", "col_agg")
  val sqlOps = Seq("sql_merge", "sql_update")
  val opsQueries: Seq[String] = OpsSuite.queries

  /** Every per-layer metric, in report order, with its unit. */
  val perLayer: Seq[(String, String)] =
    journalOps.flatMap(o => Seq("ms" -> "ms", "jobs" -> "count", "task_s" -> "s",
      "gap_ms" -> "ms", "rows_read" -> "count", "bytes_written" -> "bytes")
      .map { case (m, u) => s"journal.$o.$m" -> u }) ++
    journalReads.flatMap(k => Seq("build_ms" -> "ms", "exec_ms" -> "ms",
      "rows_scanned" -> "count", "selectivity" -> "ratio").map { case (m, u) => s"journal.read.$k.$m" -> u }) ++
    sourceReads.flatMap(k => Seq("plan_ms" -> "ms", "exec_ms" -> "ms",
      "rows_scanned" -> "count", "selectivity" -> "ratio").map { case (m, u) => s"sources.$k.$m" -> u }) ++
    sqlOps.flatMap(k => Seq("plan_ms" -> "ms", "ms" -> "ms", "jobs" -> "count")
      .map { case (m, u) => s"sources.$k.$m" -> u }) ++
    Seq("journal.live_files" -> "count", "journal.versions" -> "count",
      "journal.open_ms" -> "ms", "journal.write_amp" -> "ratio",
      "journal.bytes_per_input_byte" -> "ratio",
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
      "spark.core_util" -> "ratio", "spark.shuffle_write_mb" -> "MB", "spark.gc_s" -> "s",
      "spark.driver_gap_s" -> "s", "spark.held_storage_mb" -> "MB",
      "spark.retained_storage_mb" -> "MB") ++
    opsQueries.flatMap(q => Seq(s"ops.$q.s" -> "s", s"ops.$q.task_s" -> "s")) ++
    Seq("trace.round_s" -> "s", "trace.overhead_s" -> "s")

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    if (i < 0 || i + 1 >= args.length) throw new IllegalArgumentException(s"missing --$name")
    args(i + 1)
  }

  private def loadAvg: Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }
  /** System-wide CPU seconds: (busy = user+nice+system+irq+softirq, steal). */
  private def sysCpu: (Double, Double) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toDouble / 100.0)
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Exception => (-1.0, -1.0) }
  private def procCpu: Double = ManagementFactory.getOperatingSystemMXBean match {
    case s: com.sun.management.OperatingSystemMXBean => s.getProcessCpuTime / 1e9
    case _ => -1.0
  }
  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** Geometric mean of the per-kind median latencies: every op kind of the
    * workload weighs the same, whatever its share of the samples. */
  private def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    val tmp = arg(args, "tmp")
    val out = arg(args, "out")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.expr.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, workload, seed, seconds, traced, cores, tmp, out)
    finally spark.stop()
  }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                  traced: Boolean, cores: Int, tmp: String, out: String): Unit = {
    val w = Workloads(workload, spark, seed, tmp, out)
    val setups = (0 until SetupCopies).map { k =>
      val t0 = System.nanoTime(); w.setup(k); (System.nanoTime() - t0) / 1e9
    }

    // warm-up: untimed, but its operations and checks still count
    val warmup = new Trace(spark, traced = false)
    val warm = { val t0 = System.nanoTime(); w.warmup(warmup); (System.nanoTime() - t0) / 1e9 }

    val tr = new Trace(spark, traced)
    tr.attempted = warmup.attempted
    tr.failed = warmup.failed
    tr.counters.foreach(_ => BenchBus.drain(spark.sparkContext))
    val snap0 = tr.counters.map(_.snap)
    val load0 = loadAvg; val (busy0, steal0) = sysCpu; val cpu0 = procCpu; val gc0 = gcS
    val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    while (tr.round < w.minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      tr.round += 1
      w.round(tr)
    }
    val wall = (System.nanoTime() - t0) / 1e9; val w1 = System.currentTimeMillis()
    tr.counters.foreach(_ => BenchBus.drain(spark.sparkContext))
    val load1 = loadAvg
    val (busy1, steal1) = sysCpu
    val otherCpu = if (busy0 < 0) -1.0 else math.max(0.0, (busy1 - busy0) - (procCpu - cpu0))
    val steal = if (steal0 < 0) -1.0 else steal1 - steal0
    val gc = gcS - gc0

    w.finish(tr)
    // storage memory the block manager holds (cached and checkpointed
    // blocks, broadcast pieces), whether or not a live RDD still refers to it
    def heldMb = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1e6
    val heldBeforeGcMb = heldMb
    System.gc(); Thread.sleep(200)
    val retainedMb = heldMb

    val roundsS = tr.samples.groupBy(_._2).values.map(_.map(_._3).sum / 1000).toSeq
    val opMs = tr.samples.map(_._3).toSeq
    // the load average counts this process's own threads; other processes'
    // CPU and the hypervisor's steal time are what show contention
    val contended = otherCpu / wall > 0.5 || steal / wall > 0.2
    val lines = Seq(
      "workload" -> s"$workload seed=$seed cores=$cores traced=$traced",
      "setup_s" -> (setups.map(s => f"$s%.3f").mkString("[", ", ", "]") + f" median ${Trace.median(setups)}%.3f"),
      "warmup_s" -> f"$warm%.3f",
      "measured_s" -> f"$wall%.3f rounds=${tr.round} ops=${opMs.size}",
      "op_ms" -> Workloads.fmtTiming(opMs),
      "round_s" -> roundsS.map(s => f"$s%.3f").mkString("[", ", ", "]"),
      "kind_p50_ms" -> tr.samples.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (k, ks) => f"$k=${Trace.median(ks.map(_._3).toSeq)}%.0f" }.mkString(" ")) ++
      w.details(tr) ++ Seq(
      "error_rate" -> f"${tr.failed.toDouble / math.max(1L, tr.attempted)}%.4f (${tr.failed}/${tr.attempted})",
      "retained_storage_mb" -> f"$retainedMb%.3f after a GC ($heldBeforeGcMb%.3f before it)",
      "environment" -> (f"loadavg ${load0}%.2f -> ${load1}%.2f, other-process cpu ${otherCpu}%.1f s, " +
        f"steal ${steal}%.1f s over ${wall}%.1f s, gc ${gc}%.2f s${if (contended) ", CONTENDED" else ""}"))
    lines.foreach { case (k, v) => println(s"# $k: $v") }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", Trace.median(setups), "s"),
        ("op_geomean_ms", geomean(tr.samples.groupBy(_._1).values.map(ks => Trace.median(ks.map(_._3).toSeq)).toSeq), "ms"),
        ("round_s", Trace.median(roundsS), "s"))
      else {
        val c = tr.counters.get
        val d = c.snap - snap0.get
        val busy = c.busyMs(w0, w1) / 1000.0
        val measured = Map(
          "spark.jobs" -> d.jobs.toDouble, "spark.tasks" -> d.tasks.toDouble,
          "spark.task_s" -> d.taskMs / 1000.0,
          "spark.core_util" -> d.taskMs / 1000.0 / (wall * cores),
          "spark.shuffle_write_mb" -> d.shuffleBytes / 1e6, "spark.gc_s" -> gc,
          "spark.driver_gap_s" -> math.max(0.0, wall - busy),
          "spark.held_storage_mb" -> heldBeforeGcMb, "spark.retained_storage_mb" -> retainedMb,
          "trace.round_s" -> Trace.median(roundsS), "trace.overhead_s" -> tr.overheadS)
        val values = layerValues(tr) ++ w.endState(tr) ++ measured
        tr.writeSpans(s"$out/spans-$workload-$seed.jsonl")
        println(s"# per-layer table ($workload, seed $seed; 0 = layer not exercised by this workload)")
        perLayer.foreach { case (n, u) => println(f"#   $n%-42s ${values.getOrElse(n, 0.0)}%14.3f $u") }
        println("# self time per op kind, median ms (duration minus child spans)")
        tr.spans.filter(_.parent < 0).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
          println(f"#   $n%-42s ${Trace.median(ss.map(tr.selfMs).toSeq)}%14.3f ms  (n=${ss.size})")
        }
        perLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
      }
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${tr.failed == 0}, "attempted": ${tr.attempted}, "failed": ${tr.failed}, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }

  /** Per-layer values from the spans: medians over each op kind's calls. */
  private def layerValues(tr: Trace): Map[String, Double] = {
    val top = tr.spans.filter(_.parent < 0).groupBy(_.name)
    val kids = tr.spans.filter(_.parent >= 0).groupBy(_.name)
    def med(xs: Iterable[Double]) = Trace.median(xs.toSeq)
    val c = tr.counters.get
    val ops = journalOps.flatMap { o =>
      top.get(s"journal.$o").toSeq.flatMap { ss =>
        Seq("ms" -> med(ss.map(_.durMs)), "jobs" -> med(ss.map(_.d.jobs.toDouble)),
          "task_s" -> med(ss.map(_.d.taskMs / 1000.0)), "gap_ms" -> med(ss.map(_.gapMs)),
          "rows_read" -> med(ss.map(_.d.inputRecords.toDouble)),
          "bytes_written" -> med(ss.map(_.bytesWritten.toDouble)))
          .map { case (m, v) => s"journal.$o.$m" -> v }
      }
    }
    def reads(prefix: String, names: Seq[String], build: String) = names.flatMap { k =>
      val p = s"$prefix$k"
      val b = kids.getOrElse(s"$p.$build", Seq.empty)
      val e = kids.getOrElse(s"$p.exec_ms", Seq.empty)
      if (e.isEmpty) Nil
      else Seq(s"$p.$build" -> med(b.map(_.durMs)), s"$p.exec_ms" -> med(e.map(_.durMs)),
        s"$p.rows_scanned" -> med(e.map(_.d.inputRecords.toDouble)),
        // 0 when the scan reported no input records (not measurable)
        s"$p.selectivity" -> med(e.map(s => if (s.d.inputRecords == 0) 0.0
          else tr.rowsOut.getOrElse(s.id, 0L).toDouble / s.d.inputRecords)))
    }
    val sql = sqlOps.flatMap { k =>
      top.get(s"sources.$k").toSeq.flatMap { ss =>
        Seq(s"sources.$k.plan_ms" -> med(ss.map(s => c.firstJobStart(s.startMs, s.endMs)
            .map(j => (j - s.startMs).toDouble).getOrElse(s.durMs))),
          s"sources.$k.ms" -> med(ss.map(_.durMs)), s"sources.$k.jobs" -> med(ss.map(_.d.jobs.toDouble)))
      }
    }
    val q = opsQueries.flatMap { n =>
      top.get(s"ops.$n").toSeq.flatMap(ss => Seq(s"ops.$n.s" -> med(ss.map(_.durMs / 1000)),
        s"ops.$n.task_s" -> med(ss.map(_.d.taskMs / 1000.0))))
    }
    (ops ++ reads("journal.read.", journalReads, "build_ms") ++
      reads("sources.", sourceReads, "plan_ms") ++ sql ++ q).toMap
  }
}
