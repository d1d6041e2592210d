package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared session for every suite (Test/fork gives the suites their
  * own JVM; sharing the session keeps the run fast). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      // the deployment shape installs the graft extensions; tests run
      // with them too so the SQL surface (incl. DELETE on journal
      // tables) is exercised the way a cluster would see it
      .withExtensions(new graft.expr.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Write a micro-fixture table set under a temp dir so the declared
    * (spark, sfDir) => DataFrame queries can run against it. */
  def fixtureDir(tables: (String, org.apache.spark.sql.DataFrame)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fixture_").toString
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** One started Spark job: its id, description and job group ("" when
    * unset). */
  final case class Job(id: Int, description: String, group: String)

  /** The Spark jobs `block` started, in id order. The listener is
    * removed however `block` exits. */
  def jobsDuring(block: => Any): Seq[Job] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) =
          Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
        seen.add(Job(e.jobId, prop("spark.job.description"), prop("spark.jobGroup.id")))
      }
    }
    sc.addSparkListener(listener)
    try {
      block
      TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.sortBy(_.id)
  }
}
