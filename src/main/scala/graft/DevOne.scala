package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query dev tool:
  *   runMain graft.DevOne <show|time|plan> <query> [sfDir] [ext]
  *  - show: print the first 50 rows (untruncated)
  *  - time: run the query 3 times, one `[time]` line per pass
  *  - plan: run it once, then print the formatted explain and the
  *    executed plan with the final adaptive decisions
  * sfDir defaults to $SPARK_GRAFT_SF_DIR (as graft.Bench). The session is
  * Bench's shape (local[$SPARK_GRAFT_CPUS], that many shuffle partitions,
  * UTC); a trailing literal `ext` installs GraftExtensions (Bench's
  * deployment shape; isolates analyzer-rule overhead when left out).
  * Ad-hoc conf experiments: SPARK_GRAFT_CONFS="k=v;k2=v2". */
object DevOne {
  private val Usage = "usage: DevOne <show|time|plan> <query> [sfDir] [ext]"

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_ == "ext")
    require(pos.length >= 2 && Set("show", "time", "plan").contains(pos(0)), Usage)
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
}
