package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.journal.JournalStore

/** A benchmark workload. `setup(k)` builds the k-th independent copy of the
  * inputs and base state (Main times several and keeps the last);
  * `round` runs one fixed op mix; `finish` runs the end-of-run checks. */
trait Workload {
  /** Rounds the measured phase runs even when `--seconds` pass first. */
  def minRounds: Int = 1
  /** Untimed work run after set-up, before the measured phase; its
    * operations and checks still count. */
  def warmup(tr: Trace): Unit = ()
  def setup(k: Int): Unit
  def round(tr: Trace): Unit
  def finish(tr: Trace): Unit
  /** Human-readable end-to-end figures of this workload (name -> text). */
  def details(tr: Trace): Seq[(String, String)]
  /** Per-layer figures measured at the end of the run (name -> value). */
  def endState(tr: Trace): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String, spark: SparkSession, seed: Long, tmp: String, out: String): Workload =
    name match {
      case "kv_point" => new KvPoint(spark, seed, tmp)
      case "mutate_maintain" => new MutateMaintain(spark, seed, tmp)
      case "ops_suite" => new OpsSuite(spark, seed, tmp, out)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

  def ms(tr: Trace, kinds: String*): Seq[Double] =
    tr.samples.collect { case (k, _, v) if kinds.contains(k) => v }.toSeq

  def fmtTiming(xs: Seq[Double], unit: String = "ms", scale: Double = 1.0): String = {
    val t = Trace.tail(xs).map { case (v, p, n) => f"; p$p%.1f ${v / scale}%.1f $unit (n=$n, 10 beyond)" }
      .getOrElse(s"; tail n/a (n=${xs.size} < 20)")
    f"p50 ${Trace.median(xs) / scale}%.3f $unit$t"
  }
}

/** Store-backed workloads: the journal generator, a store per set-up copy,
  * an in-memory model of the state every read is checked against. */
abstract class StoreWorkload(spark: SparkSession, seed: Long, tmp: String,
                             nsCount: Int, keysPerNs: Int, skew: Double,
                             baseRows: Int, epochSize: Long) extends Workload {
  protected var gen: JournalGen = _
  protected var st: JournalStore = _
  protected var path: String = _
  protected var tableName: String = _
  /** Every row the store was given (base, appends), in seq order. */
  protected val generated = mutable.ArrayBuffer.empty[JRow]
  /** Model state: (ns, ukey) -> (payload, val). */
  protected val model = mutable.HashMap.empty[(String, Long), (String, Double)]
  protected def storesRoot = s"$tmp/stores"

  def setup(k: Int): Unit = {
    if (path != null) Fs.deleteTree(path)
    gen = new JournalGen(seed, nsCount, keysPerNs, skew)
    generated.clear(); model.clear()
    tableName = s"s$k"
    path = s"$storesRoot/$tableName"
    st = JournalStore.create(spark, path, epochSize)
    val base = gen.rows(baseRows)
    st.append(Gen.df(spark, base))
    record(base)
  }

  protected def record(rows: Seq[JRow]): Unit = {
    generated ++= rows
    rows.foreach(r => model((r.ns, r.ukey)) = (r.payload, r.`val`))
  }

  protected def journalRead: DataFrame = spark.read.format("journal").load(path)

  /** A read, with building (planning) and executing in separate child spans.
    * `rows` says how many rows it returned (for an aggregate: how many it
    * aggregated), the numerator of its selectivity. */
  protected def keyRead(tr: Trace, kind: String, buildName: String,
                        rows: Array[Row] => Long = _.length)
                       (build: => DataFrame): Option[Array[Row]] =
    tr.op(kind) {
      val df = tr.span(s"$kind.$buildName") { val d = build; d.queryExecution.executedPlan; d }
      tr.span(s"$kind.exec_ms") { val r = df.collect(); tr.returned(rows(r)); r }
    }

  /** The three key-targeted reads, each checked against the model. */
  protected def pointReads(tr: Trace, ns: String, k: Long, asOf: Long,
                           expected: Option[String], hist: Seq[(Long, String)]): Unit = {
    keyRead(tr, "journal.read.state_point", "build_ms") {
      st.stateAt(asOf).where(col("ns") === ns && col("ukey") === k).select("payload")
    }.foreach(r => tr.check(s"state_point $ns/$k@$asOf")(r.map(_.getString(0)).toSeq == expected.toSeq))
    keyRead(tr, "journal.read.history", "build_ms") {
      st.history(ns, Some(k)).select("seq", "payload")
    }.foreach { r =>
      val got = r.map(x => (x.getLong(0), x.getString(1))).toSeq
      tr.check(s"history $ns/$k")(got == hist)
    }
    asOfRead(tr, ns, k, asOf, expected)
  }

  protected def asOfRead(tr: Trace, ns: String, k: Long, asOf: Long, expected: Option[String]): Unit =
    keyRead(tr, "sources.asof_key", "plan_ms") {
      spark.read.format("journal").option("asOfSeq", asOf.toString).load(path)
        .where(col("ns") === ns && col("ukey") === k).select("payload")
    }.foreach(r => tr.check(s"asof_key $ns/$k@$asOf")(r.map(_.getString(0)).toSeq == expected.toSeq))

  /** latest() against the model. */
  protected def checkLatest(tr: Trace, what: String): Unit =
    tr.check(s"$what: latest() equals the model") {
      val got = st.latest().select("ns", "ukey", "payload").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
      got == model.view.mapValues(_._1).toMap
    }

  /** Store bytes at the end over the bytes of every row the store was given,
    * written once as plain parquet with the session's codec. */
  protected def measureBytes(): Unit = {
    val dir = s"$tmp/input_parquet"
    Gen.df(spark, generated.toSeq).write.mode("overwrite").parquet(dir)
    inputBytesPerRow = Fs.dirBytes(dir).toDouble / generated.size
    bytesRatio = Fs.dirBytes(path) / (inputBytesPerRow * generated.size)
    Fs.deleteTree(dir)
  }
  protected var bytesRatio = Double.NaN
  private var inputBytesPerRow = Double.NaN

  def bytesLine: (String, String) = "bytes_per_input_byte" -> f"$bytesRatio%.3f"

  override def endState(tr: Trace): Map[String, Double] = {
    val opens = (0 until 3).map { _ =>
      val t0 = System.nanoTime(); JournalStore.open(spark, path).manifest
      (System.nanoTime() - t0) / 1e6
    }
    val fresh = JournalStore.open(spark, path)
    // bytes the measured commits wrote over the bytes of the rows they carried
    val written = tr.spans.filter(s => s.parent < 0 && Main.commitOps(s.name)).map(_.bytesWritten).sum
    Map("journal.live_files" -> fresh.manifest.files.size.toDouble,
      "journal.versions" -> fresh.versions().size.toDouble,
      "journal.open_ms" -> Trace.median(opens),
      "journal.write_amp" -> (if (tr.rowsSubmitted == 0) 0.0
        else written / (inputBytesPerRow * tr.rowsSubmitted)),
      "journal.bytes_per_input_byte" -> bytesRatio)
  }
}

/** Small appends with skewed keys over 8 namespaces, two per round, then
  * three key-targeted reads: the fixed per-op cost of the commit path,
  * manifest and sidecar IO, and scan planning. A batch is half an epoch, so
  * every second append completes an epoch and runs the store's automatic
  * checkpoint; its latency is filed as `journal.append.rollover`. */
final class KvPoint(spark: SparkSession, seed: Long, tmp: String)
    extends StoreWorkload(spark, seed, tmp, nsCount = 8, keysPerNs = 2000,
      skew = 3.0, baseRows = 2000, epochSize = 400L) {
  private val batchRows = 200
  // set-up's base append already ran the append and checkpoint paths; one
  // untimed set of reads warms the read paths, so every timed round is warm
  override def warmup(tr: Trace): Unit = readKey(tr)
  override def minRounds: Int = 3
  /** (ns, ukey) -> its rows' (seq, payload), in seq order. */
  private def hist(ns: String, k: Long) =
    generated.iterator.filter(r => r.ns == ns && r.ukey == k).map(r => (r.seq, r.payload)).toSeq

  private def append(tr: Trace): Unit = {
    val batch = gen.rows(batchRows)
    // the store checkpoints when an append moves maxSeq into a later epoch
    val rollover = batch.last.seq / st.epochSize > (batch.head.seq - 1) / st.epochSize
    val df = Gen.df(spark, batch)
    tr.op("journal.append", path, if (rollover) "journal.append.rollover" else null)(st.append(df))
      .foreach { _ => record(batch); tr.rowsSubmitted += batch.size }
  }

  def round(tr: Trace): Unit = {
    append(tr)
    append(tr)
    readKey(tr)
  }

  /** The three reads of a key the traffic favours, as of a random committed
    * seq. */
  private def readKey(tr: Trace): Unit = {
    val r = generated(gen.nextInt(generated.size))
    val maxSeq = generated.last.seq
    val asOf = r.seq + gen.nextInt((maxSeq - r.seq + 1).toInt)
    val h = hist(r.ns, r.ukey)
    val expected = h.filter(_._1 <= asOf).lastOption.map(_._2)
    pointReads(tr, r.ns, r.ukey, asOf, expected, h)
  }

  def finish(tr: Trace): Unit = {
    checkLatest(tr, "kv_point")
    val mid = generated(generated.size / 2).seq
    tr.check("kv_point: stateAt(mid) equals the model") {
      val got = st.stateAt(mid).select("ns", "ukey", "payload").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
      val want = generated.iterator.takeWhile(_.seq <= mid)
        .map(r => (r.ns, r.ukey) -> r.payload).toMap
      got == want
    }
    measureBytes()
  }

  def details(tr: Trace): Seq[(String, String)] = Seq(
    "append_ms" -> Workloads.fmtTiming(Workloads.ms(tr, "journal.append", "journal.append.rollover")),
    "append_in_epoch_ms" -> Workloads.fmtTiming(Workloads.ms(tr, "journal.append")),
    "append_rollover_ms" -> Workloads.fmtTiming(Workloads.ms(tr, "journal.append.rollover")),
    "point_read_ms" -> Workloads.fmtTiming(Workloads.ms(tr, "journal.read.state_point",
      "journal.read.history", "sources.asof_key")),
    bytesLine)
}

/** Row-level rewrites and maintenance on a store of uniform keys: API and
  * SQL merge, deleteWhere, deleteWhereDv, API and SQL update, key reads on
  * the rewritten store, then analyze, compact and vacuum, then full-state and
  * DSv2 scans of the compacted store. */
final class MutateMaintain(spark: SparkSession, seed: Long, tmp: String)
    extends StoreWorkload(spark, seed, tmp, nsCount = 4, keysPerNs = 2000,
      skew = 1.0, baseRows = 2000, epochSize = 1000L) {
  private lazy val catalog = {
    val c = s"pb_${seed.abs}_${ProcessHandle.current().pid()}"
    spark.conf.set(s"spark.sql.catalog.$c", "graft.sources.JournalCatalog")
    spark.conf.set(s"spark.sql.catalog.$c.root", storesRoot)
    c
  }

  private def liveKeys: IndexedSeq[(String, Long)] = model.keys.toVector.sorted
  private def randomLive(): (String, Long) = { val l = liveKeys; l(gen.nextInt(l.size)) }
  private def randomNs(): String = gen.ns(gen.nextInt(gen.nsCount))

  /** A DSv2 key read through the deletion vectors the round just wrote. */
  private def dvRead(tr: Trace): Unit = {
    val (n, k) = randomLive()
    asOfRead(tr, n, k, st.manifest.maxSeq, model.get((n, k)).map(_._1))
  }

  private def scans(tr: Trace): Unit = {
    keyRead(tr, "journal.read.state_full", "build_ms", _.head.getLong(0))(st.latest().groupBy().count())
      .foreach(r => tr.check("state_full count")(r.head.getLong(0) == model.size))
    val lo = gen.nextInt(gen.keysPerNs)
    keyRead(tr, "sources.key_range", "plan_ms", _.head.getLong(0)) {
      journalRead.where(col("ukey").between(lo, lo + 49)).groupBy().agg(count(lit(1)), sum("val"))
    }
    keyRead(tr, "sources.ns_agg", "plan_ms", _.map(_.getLong(1)).sum) {
      journalRead.groupBy("ns").agg(count(lit(1)), sum("val"), max("seq"))
    }
    keyRead(tr, "sources.col_agg", "plan_ms", _.head.getLong(0)) {
      journalRead.agg(count(lit(1)), min("ts"), max("ts"), sum("val"), approx_count_distinct("payload"))
    }.foreach(r => tr.check("DSv2 count equals scan() count")(r.head.getLong(0) == st.scan().count()))
  }

  /** Model keys of the given sources, after both were applied in order. */
  private def checkMerged(tr: Trace, keys: Set[(String, Long)]): Unit =
    tr.check("merge, sql_merge: every source key's latest payload equals the source") {
      val got = st.latest().select("ns", "ukey", "payload").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
      keys.forall(k => got.get(k) == model.get(k).map(_._1))
    }

  private def applySource(tr: Trace, src: Seq[(String, Long, java.sql.Timestamp, String, Double)]): Unit = {
    src.foreach(s => model((s._1, s._2)) = (s._4, s._5))
    tr.rowsSubmitted += src.size
  }

  /** Latest val of every live key with ukey < bound in the given namespaces,
    * from the log. */
  private def latestVals(nss: Set[String], bound: Long): Map[(String, Long), Double] =
    st.scan().where(col("ns").isin(nss.toSeq: _*) && col("ukey") < bound).collect()
      .groupBy(r => (r.getString(1), r.getLong(2))).view
      .mapValues(rs => rs.maxBy(_.getLong(0))).filter(_._2.getString(4) != null)
      .mapValues(_.getDouble(5)).toMap

  def round(tr: Trace): Unit = {
    // API merge, then SQL MERGE INTO through the journal catalog; each
    // source holds one row per (ns, ukey): 150 live keys and 50 new ones
    val src1 = gen.mergeSource(liveKeys, 150, 50, s"m${tr.round}")
    tr.op("journal.merge", path)(st.merge(Gen.sourceDf(spark, src1))).foreach(_ => applySource(tr, src1))
    val src2 = gen.mergeSource(liveKeys, 150, 50, s"q${tr.round}")
    Gen.sourceDf(spark, src2).createOrReplaceTempView("pb_src")
    tr.op("sources.sql_merge", path) {
      spark.sql(
        s"""MERGE INTO $catalog.$tableName AS t USING pb_src AS s
           |ON t.ns = s.ns AND t.ukey = s.ukey
           |WHEN MATCHED THEN UPDATE SET ts = s.ts, payload = s.payload, val = s.val
           |WHEN NOT MATCHED THEN INSERT (ns, ukey, ts, payload, val)
           |  VALUES (s.ns, s.ukey, s.ts, s.payload, s.val)""".stripMargin).collect()
    }.foreach(_ => applySource(tr, src2))
    checkMerged(tr, (src1 ++ src2).map(s => (s._1, s._2)).toSet)
    // deleteWhere and deleteWhereDv, each on a 10-key range of one namespace
    val deleted = for ((kind, dv) <- Seq("journal.delete_where" -> false, "journal.delete_where_dv" -> true)) yield {
      val ns = randomNs(); val lo = gen.nextInt(gen.keysPerNs - 10).toLong
      val cond = col("ns") === ns && col("ukey").between(lo, lo + 9)
      tr.op(kind, path)(if (dv) st.deleteWhereDv(cond) else st.deleteWhere(cond)).foreach { _ =>
        model.keys.filter(k => k._1 == ns && k._2 >= lo && k._2 <= lo + 9).toSeq.foreach(model.remove)
      }
      cond
    }
    tr.check("delete_where, delete_where_dv: no row matches either condition")(
      st.scan().where(deleted.reduce(_ || _)).isEmpty)
    // API and SQL UPDATE of val on the first 25 keys of a namespace
    val updated = for ((kind, sql) <- Seq("journal.update_where" -> false, "sources.sql_update" -> true)) yield {
      val ns = randomNs()
      val f: Double => Double = if (sql) _ * 2 else _ + 1
      val run =
        if (sql) tr.op(kind, path)(spark.sql(
          s"UPDATE $catalog.$tableName SET val = val * 2 WHERE ns = '$ns' AND ukey < 25").collect())
        else tr.op(kind, path)(st.updateWhere(Seq("val" -> (col("val") + 1)),
          Some(col("ns") === ns && col("ukey") < 25)))
      run.foreach { _ =>
        val hit = model.keys.filter(k => k._1 == ns && k._2 < 25).toSeq
        hit.foreach(k => model(k) = (model(k)._1, f(model(k)._2)))
        tr.rowsSubmitted += hit.size
      }
      ns
    }
    tr.check("update_where, sql_update: updated keys carry the model's val") {
      val nss = updated.toSet
      latestVals(nss, 25) == model.collect { case (k, v) if nss(k._1) && k._2 < 25 => k -> v._2 }.toMap
    }
    // a key read on the rewritten store, before maintenance compacts it
    dvRead(tr)
    tr.op("journal.analyze", path)(st.analyze())
    tr.op("journal.compact", path)(st.compact(st.manifest.maxSeq / st.epochSize + 1))
    tr.op("journal.vacuum", path)(st.vacuum(0, 0L))
    scans(tr)
  }

  def finish(tr: Trace): Unit = {
    checkLatest(tr, "mutate_maintain")
    measureBytes()
  }

  def details(tr: Trace): Seq[(String, String)] = {
    val rounds = tr.samples.groupBy(_._2).values.toSeq
    def roundSum(kinds: Set[String]) = rounds.map(_.filter(s => kinds(s._1)).map(_._3).sum / 1000)
    val mut = Set("journal.merge", "sources.sql_merge", "journal.delete_where",
      "journal.delete_where_dv", "journal.update_where", "sources.sql_update")
    val mnt = Set("journal.analyze", "journal.compact", "journal.vacuum")
    val scan = Set("journal.read.state_full", "sources.key_range", "sources.ns_agg", "sources.col_agg")
    Seq(
      "mutation_round_s" -> f"${Trace.median(roundSum(mut))}%.3f (rounds=${rounds.size})",
      "maintenance_s" -> f"${Trace.median(roundSum(mnt))}%.3f",
      "scan_agg_s" -> Workloads.fmtTiming(Workloads.ms(tr, scan.toSeq: _*), "s", 1000),
      "dv_read_ms" -> Workloads.fmtTiming(Workloads.ms(tr, "sources.asof_key")),
      bytesLine)
  }
}

/** A fixed list of heavy operator queries on a seeded fixture with the sf
  * tables' schemas; bypasses the store. Each pass runs the list in a
  * seeded order, materialising every result without writing it; the results
  * the DuckDB oracle check reads are written once at the end, untimed. */
object OpsSuite {
  val queries = Seq("dedup_minhash", "agg_groupby_q1", "events_funnel")
}

final class OpsSuite(spark: SparkSession, seed: Long, tmp: String, out: String) extends Workload {
  import OpsSuite.queries
  // the first pass runs cold and several times slower, and passes keep
  // speeding up for a few more: one untimed pass, then at least five timed
  override def warmup(tr: Trace): Unit = round(tr)
  override def minRounds: Int = 5
  private var fixture: String = _
  private val rnd = new scala.util.Random(seed)
  private val dumpDir = s"$out/ops_dump"
  private val fns = graft.SparkEntry.queries

  def setup(k: Int): Unit = {
    if (fixture != null) Fs.deleteTree(fixture)
    fixture = s"$tmp/fixture$k"
    Gen.fixture(spark, seed, fixture)
  }

  // every column of every row is computed; the noop sink discards them
  def round(tr: Trace): Unit =
    for (q <- rnd.shuffle(queries))
      tr.op(s"ops.$q")(fns(q)(spark, fixture).write.format("noop").mode("overwrite").save())

  def finish(tr: Trace): Unit = {
    // the oracle check runs after the process ends (tools/parity.py reads
    // this fixture and the dump); record where they are for the launcher
    tr.check("ops_suite: every query's result written for the oracle check")(
      graft.Verify.dump(spark, fixture, dumpDir, queries.toSet).isEmpty)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/ops_check.txt"),
      s"$fixture\n$dumpDir\n${queries.mkString(" ")}\n")
  }

  def details(tr: Trace): Seq[(String, String)] = {
    val passes = tr.samples.groupBy(_._2).values.map(_.map(_._3).sum / 1000).toSeq
    Seq("ops_pass_s" -> f"${Trace.median(passes)}%.3f (passes=${passes.size})",
      "query_ms" -> Workloads.fmtTiming(tr.samples.map(_._3).toSeq))
  }
}
