package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Ad-hoc per-job profiler (dev tool):
  * runMain graft.ProfileOne <name> [sfDir] [cpus]
  * Runs the named declared query once warm + once timed with a listener
  * that records every Spark job's wall time, task count, and the callsite
  * (so a 7 s lifecycle query decomposes into its store operations).
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else "32"
    val spark = SparkSession.builder()
      .appName("graft-profile").master(s"local[$cpus]")
      .withExtensions(new graft.expr.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    case class J(id: Int, var desc: String, var start: Long = 0L,
                 var end: Long = 0L, var tasks: Int = 0,
                 var shufRead: Long = 0L, var shufWrite: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    // stage → job mapping from SparkListenerJobStart.stageIds, so tasks
    // (and their shuffle bytes) attribute to the job that OWNS the
    // stage, not "the newest unfinished job" — concurrent jobs
    // (broadcast builds, AQE stage materialization) misattributed under
    // the old heuristic. The job label falls back to the RESULT stage's
    // callsite — the job's highest stage id, since the scheduler creates
    // parent stages first (stageInfos carry it even when the job-level
    // property is unset). Entries leave the map when their job ends.
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
            jobs(e.jobId) = J(e.jobId, d, e.time)
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
    // warm-up pass (JIT, codegen cache, parquet footers)
    SparkEntry.queries(name)(spark, dir).count()
    // Sample EVERY runnable driver-side thread during the timed pass
    // (the main thread parks while actions run on Spark's SQL execution
    // pool — sampling only main attributed all the planning / manifest
    // IO / commit work to "park"). Executor task threads are excluded
    // so the profile stays the DRIVER's: planning, commit protocol,
    // sidecar IO, filesystem forks.
    val samples = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(true)
    val sampler = new Thread(() => {
      while (sampling.get) {
        val all = Thread.getAllStackTraces
        all.forEach { (t, st) =>
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
    val n = SparkEntry.queries(name)(spark, dir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    sampling.set(false)
    active.set(false)
    Thread.sleep(300)
    println(f"[profile] $name rows=$n wall=$wall%.2f s jobs=${jobs.size}")
    val byDur = jobs.values.toSeq
    var cum = 0.0
    byDur.foreach { j =>
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
    spark.stop()
  }
}
