package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Ad-hoc single-query dev tool:
  *   runMain graft.DevOne <show|time|plan|profile> <query> [sfDir] [ext]
  *  - show: print the first 50 rows (untruncated)
  *  - time: run the query 3 times, one `[time]` line per pass
  *  - plan: run it once, then print the formatted explain and the
  *    executed plan with the final adaptive decisions
  *  - profile: run it once warm, then once timed under a listener that
  *    records every Spark job's wall time, task count, shuffle bytes and
  *    callsite, plus a sampler of the busy driver threads (so a 7 s
  *    lifecycle query decomposes into its store operations and the
  *    driver time between them)
  * sfDir defaults to $SPARK_GRAFT_SF_DIR (as graft.Bench). The session is
  * Bench's shape (local[$SPARK_GRAFT_CPUS], that many shuffle partitions,
  * UTC); a trailing literal `ext` installs GraftExtensions (Bench's
  * deployment shape; isolates analyzer-rule overhead when left out).
  * Ad-hoc conf experiments: SPARK_GRAFT_CONFS="k=v;k2=v2". */
object DevOne {
  private val Usage = "usage: DevOne <show|time|plan|profile> <query> [sfDir] [ext]"

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_ == "ext")
    require(pos.length >= 2 &&
      Set("show", "time", "plan", "profile").contains(pos(0)), Usage)
    val Array(mode, name) = pos.take(2)
    val dir = pos.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(throw new IllegalArgumentException(s"$Usage (or set SPARK_GRAFT_SF_DIR)"))
    val spark = session(args.contains("ext"))
    // built per use: some declared queries do store work while building
    def query() = SparkEntry.queries(name)(spark, dir)
    try {
      mode match {
        case "show" => query().show(50, false)
        case "time" =>
          (1 to 3).foreach { i =>
            val t0 = System.nanoTime()
            val n = query().count()
            println(f"[time] $name pass$i ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
          }
        case "plan" =>
          val df = query()
          df.collect()
          println("== EXPLAIN FORMATTED ==")
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          println("== EXECUTED (final adaptive) ==")
          println(df.queryExecution.executedPlan.toString)
        case "profile" => profile(spark, name, () => query().count())
      }
    } finally spark.stop()
  }

  private def session(ext: Boolean): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b0 = SparkSession.builder()
      .appName("graft-dev").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val b = sys.env.get("SPARK_GRAFT_CONFS").map(_.split(";").toSeq)
      .getOrElse(Nil).filter(_.contains("="))
      .foldLeft(b0) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
    val spark = (if (ext) b.withExtensions(new graft.expr.GraftExtensions) else b)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private final case class Job(id: Int, desc: String, start: Long,
                               var end: Long = 0L, var tasks: Int = 0,
                               var shufRead: Long = 0L, var shufWrite: Long = 0L)

  /** One warm-up pass, then one timed pass of `run` under the job
    * listener and the driver-thread sampler; prints `[profile]`, one
    * `[job]` line per job and the top `[stack]` samples. */
  private def profile(spark: SparkSession, name: String, run: () => Long): Unit = {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    // stage → job mapping from SparkListenerJobStart.stageIds, so tasks
    // (and their shuffle bytes) attribute to the job that OWNS the
    // stage, not "the newest unfinished job" — concurrent jobs
    // (broadcast builds, AQE stage materialization) would misattribute.
    // The job label falls back to the RESULT stage's callsite — the
    // job's highest stage id, since the scheduler creates parent stages
    // first. Entries leave the map when their job ends.
    val stageJob = mutable.HashMap.empty[Int, Int]
    val active = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (active.get) {
          val d = Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .orElse(e.stageInfos.maxByOption(_.stageId)
              .map(_.name.takeWhile(_ != '\n')))
            .getOrElse("?")
          jobs.synchronized {
            jobs(e.jobId) = Job(e.jobId, d, e.time)
            e.stageIds.foreach(sid => stageJob(sid) = e.jobId)
          }
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.get(e.jobId).foreach(_.end = e.time)
          stageJob.filterInPlace((_, j) => j != e.jobId)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
            j.tasks += 1
            Option(e.taskMetrics).foreach { m =>
              j.shufRead += m.shuffleReadMetrics.totalBytesRead
              j.shufWrite += m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
    })
    run() // warm-up pass (JIT, codegen cache, parquet footers)
    // Sample EVERY runnable driver-side thread during the timed pass
    // (the main thread parks while actions run on Spark's SQL execution
    // pool). Executor task threads are excluded so the profile stays the
    // DRIVER's: planning, commit protocol, sidecar IO, filesystem forks.
    val samples = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(true)
    val sampler = new Thread(() => {
      while (sampling.get) {
        Thread.getAllStackTraces.forEach { (t, st) =>
          val n = t.getName
          val busy = t.getState == Thread.State.RUNNABLE &&
            !n.startsWith("Executor task launch") &&
            !n.contains("netty") && !n.contains("dispatcher") &&
            !n.contains("shuffle") && n != "profile-sampler" &&
            st.nonEmpty &&
            !st.head.getClassName.startsWith("sun.nio.ch") &&
            !st.head.getMethodName.contains("park") &&
            !st.head.getMethodName.contains("epoll")
          if (busy) {
            val tag = st.iterator
              .filterNot(f => f.getClassName.startsWith("java.lang.Thread"))
              .take(4).map(f =>
                f.getClassName.split('.').takeRight(2).mkString(".") +
                  "." + f.getMethodName).mkString(" < ")
            samples.synchronized { samples(tag) += 1 }
          }
        }
        Thread.sleep(10)
      }
    }, "profile-sampler")
    sampler.setDaemon(true)
    active.set(true)
    sampler.start()
    val t0 = System.nanoTime()
    val n = run()
    val wall = (System.nanoTime() - t0) / 1e9
    sampling.set(false)
    active.set(false)
    Thread.sleep(300) // let the listener bus drain the last job ends
    println(f"[profile] $name rows=$n wall=$wall%.2f s jobs=${jobs.size}")
    var cum = 0.0
    jobs.values.foreach { j =>
      val dur = (j.end - j.start) / 1e3
      cum += dur
      println(f"[job] ${j.id}%4d ${dur}%7.3f s  tasks=${j.tasks}%5d  " +
        f"sr=${j.shufRead / 1e6}%8.1f MB sw=${j.shufWrite / 1e6}%8.1f MB  ${j.desc}")
    }
    println(f"[profile] sum-of-jobs=${cum}%.2f s (gaps = driver time = ${wall - cum}%.2f s)")
    val tot = samples.values.sum.max(1)
    samples.toSeq.sortBy(-_._2).take(25).foreach { case (tag, c) =>
      println(f"[stack] ${c * 100.0 / tot}%5.1f%% ($c%4d) $tag")
    }
  }
}
