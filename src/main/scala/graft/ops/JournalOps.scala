package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.A — journal / log core (marasa append-only-journal
  * semantics; /root/reference is empty, see SURVEY §0, so rows cite the
  * SURVEY §2 contract). The journal is modeled over the `events` fixture:
  * seq = event_id (dense, unique, ts-monotone — FIXTURES.md), ns =
  * event_type, key = user_id, payload = props.
  *
  * Scale design: `state-at-seq` is ONE hash aggregate (max_by) — partial
  * aggregation runs map-side, the single shuffle is on (ns, ukey), and the
  * seq predicate is pushed into the parquet scan. At 100 TB the native
  * journal store (graft.journal.JournalStore) bounds the scan further via
  * epoch partition pruning + checkpoint compaction, so replay cost stays
  * O(epoch), exactly marasa's checkpoint+tail-replay design distributed.
  */
object JournalOps {

  /** Tag for per-query temp store paths: the sanitized dataset path plus
    * this JVM's pid, so (a) two datasets never collide (hashCode could),
    * and (b) two concurrent harness processes on the SAME dataset get
    * disjoint directories instead of racing on delete/rebuild. */
  private[ops] def tmpTag(d: String): String =
    d.replaceAll("[^A-Za-z0-9]+", "_").takeRight(60) + "_p" +
      java.lang.ProcessHandle.current.pid

  /** Build-once full-ingest seed store per (dataset, process) for
    * READ-ONLY consumers (grouped-state / SPJ rows): the measured cost
    * is the read-path feature, not a re-ingest per bench pass. Mutating
    * rows must NOT use this — they build fresh stores. PID-scoped dir
    * (tmpTag) + in-JVM memo make staleness impossible. */
  private val fullSeed = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def fullSeedStore(s: SparkSession, d: String): String =
    fullSeed.computeIfAbsent(d, _ => {
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jfull_seed_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).write.format("journal")
        .option("epochSize", "5000").save(tmp)
      tmp
    })

  /** Canonical journal projection of the events table. */
  def journal(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(
      col("event_id").as("seq"), col("event_type").as("ns"),
      col("user_id").as("ukey"), col("ts"),
      col("props").as("payload"), col("value").as("val"))

  private val journalSql =
    "SELECT event_id AS seq, event_type AS ns, user_id AS ukey, ts, " +
      "props AS payload, value AS val FROM events"

  /** Key→latest-payload state as of an upper bound — marasa read(ns, seq).
    * One shuffle; map-side partial max_by. */
  def stateAt(df: DataFrame, cond: Column): DataFrame =
    df.where(cond)
      .groupBy("ns", "ukey")
      .agg(max_by(col("payload"), col("seq")).as("payload"),
           max(col("seq")).as("last_seq"))
      .orderBy(col("ns"), col("ukey"))

  private def stateSql(where: String): String =
    "SELECT event_type AS ns, user_id AS ukey, " +
      "arg_max(props, event_id) AS payload, max(event_id) AS last_seq " +
      s"FROM events $where GROUP BY 1, 2 ORDER BY ns, ukey"

  val queries: Map[String, Q] = Map(
    "journal_scan" -> ((s, d) => journal(s, d).orderBy("seq")),
    "journal_state_at_seq" -> ((s, d) => stateAt(journal(s, d), col("seq") <= 5000)),
    "journal_latest" -> ((s, d) => stateAt(journal(s, d), lit(true))),
    "journal_key_history" -> ((s, d) =>
      journal(s, d).where(col("ukey") === 42)
        .select("seq", "ns", "ts", "payload", "val").orderBy("seq")),
    "journal_seq_range" -> ((s, d) =>
      journal(s, d).where(col("seq") >= 1000 && col("seq") < 2000).orderBy("seq")),
    "journal_namespaces" -> ((s, d) =>
      journal(s, d).groupBy("ns")
        .agg(count(lit(1)).as("n"), min("seq").as("min_seq"), max("seq").as("max_seq"))
        .orderBy("ns")),
    "journal_checkpoint" -> ((s, d) => stateAt(journal(s, d), col("seq") < 8000)),
    "journal_replay_tail" -> ((s, d) => {
      // Records after the last epoch boundary (epoch = 1000 seqs): the
      // replay cost after a checkpoint. Scalar aggregate broadcast, no
      // driver-side collect.
      val j = journal(s, d)
      val boundary = j.agg((max("seq") - max("seq") % 1000).as("b"))
      j.crossJoin(broadcast(boundary)).where(col("seq") >= col("b"))
        .groupBy("ns").agg(count(lit(1)).as("n")).orderBy("ns")
    }),
    "journal_asof_ts" -> ((s, d) =>
      stateAt(journal(s, d), col("ts") <= lit("2024-01-15 00:00:00").cast("timestamp"))),
    "journal_scd2" -> ((s, d) => {
      // Slowly-changing-dimension type-2 view of the journal: every
      // payload version becomes a validity interval [valid_from,
      // valid_to] in seq coordinates; the live version's valid_to is
      // NULL. The warehouse op a journal replaces nightly MERGE jobs
      // with — here it is ONE window pass: partition on the key axis
      // (ns, ukey), order by seq, lead(seq)-1 closes each interval.
      // One shuffle total, no self-join, no state buffered beyond the
      // window's O(1) lookahead — holds at any key cardinality.
      val w = Window.partitionBy("ns", "ukey").orderBy("seq")
      journal(s, d).select(
          col("ns"), col("ukey"), col("seq").as("valid_from"),
          (lead(col("seq"), 1).over(w) - 1).as("valid_to"),
          col("payload"))
        .orderBy("ns", "ukey", "valid_from")
    }),
    "events_funnel" -> ((s, d) => {
      // Ordered-funnel analytics over the journal — ClickHouse
      // windowFunnel semantics (EXISTENTIAL): a user reaches stage k iff
      // events of types view < click < purchase exist in (ts, event_id)
      // order with the whole chain within 24h of the anchoring view.
      // Computed with RUNNING windows, O(1) memory per user — skew-safe
      // against a bot user with millions of events (the earlier
      // collect_list fold buffered each user's whole event list in one
      // aggregation buffer): per row, `pv` = latest STRICTLY-preceding
      // view time (growing frame, incremental max); a click whose pv is
      // in-window carries it as its anchor `cv`; `cvw` = latest anchor
      // among strictly-preceding clicks; a purchase within W of cvw
      // completes the chain (latest-anchor domination makes running
      // maxes exact: if ANY qualifying chain exists, the latest one
      // qualifies too). ONE shuffle + sort; both window passes share the
      // (user_id; tus, eid) sort order — no second exchange. The DuckDB
      // twin states the existential form directly as ordered EXISTS
      // joins (DuckDB 1.0's list_reduce is batch-sensitive — unusable
      // as an oracle).
      val W = 86400000000L // 24h in micros
      val w = Window.partitionBy("user_id").orderBy("tus", "eid")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, d, "events")
        .select(col("user_id"),
                expr("unix_micros(cast(ts AS timestamp_ltz))").as("tus"),
                col("event_id").as("eid"), col("event_type").as("et"))
        .withColumn("pv", max(when(col("et") === "view", col("tus"))).over(w))
        .withColumn("cv", when(col("et") === "click" && col("pv").isNotNull &&
          col("tus") - col("pv") <= W, col("pv")))
        .withColumn("cvw", max(col("cv")).over(w))
        .groupBy("user_id").agg(
          max(when(col("et") === "view", 1).otherwise(0)).as("r1"),
          max(when(col("cv").isNotNull, 1).otherwise(0)).as("r2"),
          max(when(col("et") === "purchase" && col("cvw").isNotNull &&
            col("tus") - col("cvw") <= W, 1).otherwise(0)).as("r3"))
        .select(expr("IF(r3 = 1, 3, IF(r2 = 1, 2, IF(r1 = 1, 1, 0)))").as("stage"))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
        .orderBy("stage")
    }),
    "events_paths_topk" -> ((s, d) => {
      // PATH MINING: the most common ordered event-type TRIGRAMS across
      // user journeys (the funnel-discovery companion to events_markov's
      // first-order transitions — a path is what a transition matrix
      // can't show). Same scale shape as events_markov: ONE
      // user-partitioned window pass builds each row's two predecessors
      // in O(1) state (no per-user collect_list — a bot with 10M events
      // costs 10M rows, never one 10M-element array), then a
      // type³-bounded count aggregate with map-side partials and
      // TakeOrderedAndProject keeping the top 10.
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type").as("c"))
        .withColumn("b", lag(col("c"), 1).over(w))
        .withColumn("a", lag(col("c"), 2).over(w))
        // all three legs non-null, not just `a`: concat_ws SKIPS nulls
        // while the oracle's `||` PROPAGATES them, so a NULL event_type
        // anywhere in the trigram would diverge between the engines —
        // filtering b/c too keeps both spellings agreeing on NULL inputs
        .where(col("a").isNotNull && col("b").isNotNull && col("c").isNotNull)
        .select(concat_ws(" > ", col("a"), col("b"), col("c")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(10)
    }),
    "events_markov" -> ((s, d) => {
      // First-order Markov transition matrix over the event-type
      // alphabet, per-user sequences ordered by seq — the
      // sequence-statistics prep for behavioral modeling. One
      // (user)-partitioned lag pass (O(1) per-row state, bot-skew
      // safe), then a type²-sized count aggregate with map-side
      // partials; transition probabilities normalize inside the tiny
      // result via a from_type window — nothing after the first
      // shuffle touches corpus-sized data.
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type").as("to_type"))
        .withColumn("from_type", lag(col("to_type"), 1).over(w))
        .where(col("from_type").isNotNull)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .withColumn("p", graft.Det.r(
          col("n") / sum(col("n")).over(Window.partitionBy("from_type")), 4))
        .orderBy("from_type", "to_type")
    }),
    "events_retention" -> ((s, d) => {
      // Weekly cohort retention over the journal: cohort = ISO week of a
      // user's first activity; count users active again k weeks later.
      // Both aggregations shuffle on user_id (co-partitioned — Catalyst
      // reuses the exchange), the final rollup is tiny. Week offsets are
      // exact day-diffs div 7 (both sides Monday-truncated), immune to
      // engine week-diff boundary conventions.
      val ev = Tables(s, d, "events")
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
        .distinct()
      val cohort = ev.groupBy("user_id").agg(min("wk").as("cohort"))
      ev.join(cohort, "user_id")
        .select(col("cohort"),
                expr("CAST(datediff(wk, cohort) div 7 AS INT)").as("week_offset"))
        .groupBy("cohort", "week_offset").agg(count(lit(1)).as("n_users"))
        .orderBy("cohort", "week_offset")
    }),
    "events_resample" -> ((s, d) => {
      // Time-series gap filling (resample to 1-minute buckets over one
      // day): the calendar spine comes from the data's own min/max via
      // sequence() + explode off a 1-row scalar aggregate (broadcast —
      // no driver collect), left-joined with the per-minute counts so
      // silent minutes surface as zero rows. At scale the heavy side is
      // the pre-aggregated counts (one shuffle on the bucket); the
      // spine is generated, never scanned.
      val e = Tables(s, d, "events").where(
        col("event_type") === "purchase" &&
          col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-11 00:00:00").cast("timestamp"))
      val buckets = e.groupBy(date_trunc("minute", col("ts")).as("m"))
        .agg(count(lit(1)).as("n"))
      val spine = e.agg(date_trunc("minute", min("ts")).as("lo"),
                        date_trunc("minute", max("ts")).as("hi"))
        .where(col("lo").isNotNull)
        .select(explode(expr("sequence(lo, hi, interval 1 minute)")).as("m"))
      spine.join(buckets, Seq("m"), "left")
        .select(col("m"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("m")
    }),
    "events_wow_growth" -> ((s, d) => {
      // Week-over-week growth per event type — the reporting staple:
      // one weekly pre-aggregation collapses the stream, a lag window
      // over the TINY weekly frame derives deltas and the growth
      // ratio divides exact BIGINT counts (the identical double both
      // engines compute). Warm-up weeks (no predecessor) are
      // excluded; week buckets are ISO Monday-start on both engines.
      val weekly = Tables(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("week", col("ts").cast("timestamp")).as("wk"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("wk")
      weekly
        .withColumn("prev", lag("n", 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("event_type"), col("wk"), col("n"), col("prev"),
          graft.Det.r((col("n").cast("double") - col("prev").cast("double")) /
            col("prev").cast("double"), 4).as("wow_growth"))
        .orderBy("event_type", "wk")
    }),
    "events_concurrency" -> ((s, d) => {
      // Peak session concurrency — the interval-stabbing classic done
      // the scalable way: sessions become ±1 boundary events, one
      // running sum over the boundary stream gives the live-session
      // count at every instant, max() reads the peak. The boundary
      // stream is 2×sessions rows — orders of magnitude below the
      // event stream (sessionize's aggregate already collapsed it), so
      // the global-order window is over the SMALL frame; a true
      // 100 TB deployment day-partitions it and carries the running
      // count across boundaries in a second tiny pass. Tie order at
      // equal timestamps is pinned (ends before starts, then user) so
      // the peak is deterministic on both engines.
      val wOrd = Window.partitionBy("user_id").orderBy("tus", "eid")
      val gapUs = 1800000000L
      val sess = Tables(s, d, "events")
        .select(col("user_id"),
                expr("unix_micros(cast(ts AS timestamp_ltz))").as("tus"),
                col("event_id").as("eid"))
        .withColumn("prev", lag("tus", 1).over(wOrd))
        .withColumn("nu", when(col("prev").isNull ||
          col("tus") - col("prev") > gapUs, 1).otherwise(0))
        .withColumn("sid",
          sum("nu").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(min("tus").as("t0"), max("tus").as("t1"))
      val bounds = sess.select(col("user_id"), col("t0").as("t"), lit(1).as("d"))
        .unionByName(sess.select(col("user_id"), col("t1").as("t"),
          lit(-1).as("d")))
      val wAll = Window.orderBy(col("t"), col("d"), col("user_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      bounds
        .withColumn("live", sum("d").over(wAll))
        .agg((count(lit(1)) / 2).cast("long").as("n_sessions"),
             max("live").as("peak_concurrency"))
    }),
    "events_interpolate" -> ((s, d) => {
      // Linear interpolation over time-series gaps — the VALUE-filling
      // twin of events_resample's zero-filling: silent minutes take the
      // line between the nearest observed neighbors (edges carry the
      // boundary value). Interpolation runs on the PRE-AGGREGATED
      // minute frame (≤ 1440 rows after the one shuffle that builds
      // it — the events_anomaly discipline: windows only ever run over
      // the tiny bucket frame, never the event stream). Neighbor
      // lookup is the ignore-nulls last/first window pair; the
      // interpolated value works on Det-rounded per-minute averages so
      // both engines walk identical doubles, and the time fraction is
      // an exact integer minute ratio.
      val e = Tables(s, d, "events").where(
        col("event_type") === "purchase" &&
          col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-11 00:00:00").cast("timestamp"))
      val obs = e.groupBy(date_trunc("minute", col("ts")).as("m"))
        .agg(graft.Det.davg(col("value"), 4).as("v"))
      val spine = e.agg(date_trunc("minute", min("ts")).as("lo"),
                        date_trunc("minute", max("ts")).as("hi"))
        .where(col("lo").isNotNull)
        .select(explode(expr("sequence(lo, hi, interval 1 minute)")).as("m"))
      val g = spine.join(obs, Seq("m"), "left")
      val wp = Window.orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.orderBy("m")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val mu = expr("unix_micros(cast(m AS timestamp_ltz))")
      g.withColumn("pv", last("v", ignoreNulls = true).over(wp))
        .withColumn("pm", last(when(col("v").isNotNull, mu),
          ignoreNulls = true).over(wp))
        .withColumn("nv", first("v", ignoreNulls = true).over(wn))
        .withColumn("nm", first(when(col("v").isNotNull, mu),
          ignoreNulls = true).over(wn))
        .select(col("m"), graft.Det.r(
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              (((mu - col("pm")) / 60000000L).cast("double") /
               ((col("nm") - col("pm")) / 60000000L).cast("double"))), 4)
          .as("v_interp"))
        .orderBy("m")
    }),
    "events_sessionize" -> ((s, d) => {
      // Gap-based sessionization (30-min inactivity gap): the classic
      // lag → boundary flag → running-sum pattern, then one aggregate
      // per (user, session). ONE shuffle on user_id: the lag window,
      // the running sum and the session groupBy all share the
      // (user_id; tus, eid) partitioning+sort, so Catalyst plans a
      // single exchange. Skew note: per-row state is O(1) (a running
      // sum), so a bot user with millions of events costs sort time in
      // its partition, never memory — contrast the collect_list shape
      // events_funnel deliberately avoids. Ordering ties on ts break
      // by event_id (unique) — deterministic session boundaries.
      val wOrd = Window.partitionBy("user_id").orderBy("tus", "eid")
      val gapUs = 1800000000L // 30 min in micros
      Tables(s, d, "events")
        .select(col("user_id"),
                expr("unix_micros(cast(ts AS timestamp_ltz))").as("tus"),
                col("event_id").as("eid"))
        .withColumn("prev", lag("tus", 1).over(wOrd))
        .withColumn("nu", when(col("prev").isNull ||
          col("tus") - col("prev") > gapUs, 1).otherwise(0))
        .withColumn("session_id",
          sum("nu").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
             min("tus").as("start_us"), max("tus").as("end_us"))
        .orderBy("user_id", "session_id")
    }),
    "events_attribution" -> ((s, d) => {
      // Click→view attribution within a 5-minute lookback — the batch
      // twin of the streaming interval join
      // (streaming/StreamingOps.attributeClicks). The join keys on
      // user_id (one shuffle, both sides co-partitioned) and the time
      // condition bounds the per-user merge range by the interval, so
      // neither side ever buffers more than 5 minutes of a user's
      // history — the same state bound the streaming form gets from its
      // watermark.
      val e = Tables(s, d, "events")
      val imp = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("i_ts"), col("event_id").as("i_id"))
      val clk = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      clk.join(imp, "user_id")
        .where(col("i_ts") <= col("c_ts") &&
               col("i_ts") >= col("c_ts") - expr("INTERVAL 5 MINUTES"))
        .select(col("c_id"), col("user_id"), col("c_ts"), col("i_id"), col("i_ts"))
        .orderBy("c_id", "i_id")
    }),
    "journal_source_state" -> ((s, d) => {
      // End-to-end through the `journal` DATA SOURCE (graft.sources
      // .JournalSource): ingest a bounded slice into a native store, then
      // read point-in-time state back via
      // spark.read.format("journal").option("asOfSeq", ...) — checkpoint
      // + epoch-pruned tail replay underneath. Oracle = the same arg_max
      // the direct journal_state_at_seq path uses (the slice bound 6000
      // is above the 5000 as-of, so it drops nothing, while still
      // crossing an epoch boundary so the auto-checkpoint path runs).
      // fixed per-dataset location, wiped before each build — repeated
      // Verify/Bench invocations must not accumulate orphaned stores
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jsrc_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val store = graft.journal.JournalStore.create(s, tmp, epochSize = 5000L)
      store.append(journal(s, d).where(col("seq") < 6000))
      s.read.format("journal").option("asOfSeq", "5000").load(tmp)
        .select(col("ns"), col("ukey"), col("payload"), col("last_seq"))
        .orderBy("ns", "ukey")
    }),
    "journal_sink_state" -> ((s, d) => {
      // Same end-to-end shape as journal_source_state, but the ingest goes
      // through the public WRITER API — df.write.format("journal") — so the
      // DSv1 CreatableRelationProvider path (open-or-create + append +
      // manifest swap) sits inside the correctness gate, not just unit
      // tests. Caller seqs (= event_id) ride through, so the oracle is the
      // same arg_max-by-event_id state query.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jsink_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 6000)
        .write.format("journal").option("epochSize", "5000").save(tmp)
      s.read.format("journal").option("asOfSeq", "5000").load(tmp)
        .select(col("ns"), col("ukey"), col("payload"), col("last_seq"))
        .orderBy("ns", "ukey")
    }),
    "journal_format_scan" -> ((s, d) => {
      // Scan-mode read through the `journal` DSv2 TableProvider
      // (sources/JournalV2.scala): the raw log planned as a columnar
      // parquet BatchScan — vectorized reader + whole-stage codegen —
      // with the pushed seq range translated into epoch
      // partition-directory bounds. The V1 row-bridge path this
      // replaces is what made journal reads the slowest non-write
      // queries in the r6 bench. Store build rides the same caller-seq
      // write path journal_sink_state exercises.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jfmt_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 4000)
        .write.format("journal").option("epochSize", "1000").save(tmp)
      s.read.format("journal").load(tmp)
        .where(col("seq") >= 1000 && col("seq") < 3000)
        .select("seq", "ns", "ukey", "ts", "payload", "val").orderBy("seq")
    }),
    "journal_write_segments" -> ((s, d) => {
      // Ingest the events journal into a native store (epoch-partitioned
      // parquet segments + atomically-swapped manifest — graft.journal),
      // then report per-segment stats. Stats are derivable from the
      // input, so this side-effecting sink is still oracle-checkable.
      // epochSize 5000: epoch granularity is a replay/throughput tradeoff
      // — 1000-seq epochs at sf0.1 meant 100 epoch dirs x 5 ns = 500 tiny
      // files, pure filesystem overhead (the r1 bench's slowest query).
      // Size epochs to the data: tail replay stays bounded, files stay
      // worth opening.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_journal_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val store = graft.journal.JournalStore.create(s, tmp, epochSize = 5000L)
      store.append(journal(s, d))
      store.segmentStats()
    }),
    "journal_table_props" -> ((s, d) => {
      // Table properties (Delta's TBLPROPERTIES for the journal) end to
      // end: set → CAS commit → overwrite → reopen → read back. The
      // properties ride every manifest version (URL-encoded, crash-safe
      // under the same commit protocol as data), so derived-artifact
      // provenance — the ANN index's source fingerprint is the live
      // user — and operational tags survive restarts, restores and
      // clones. The oracle is the literal expected table, pinning the
      // whole round-trip (encoding included) through the hash gate.
      val sp = s
      import sp.implicits._
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jprops_store_" + tmpTag(d)).toString
      val store = graft.journal.JournalStore.create(s, tmp, epochSize = 1000L)
      store.setMeta(Map("owner" -> "pipeline-a", "retention.days" -> "30"))
      store.setMeta(Map("retention.days" -> "45")) // last write wins
      graft.journal.JournalStore.open(s, tmp).manifest.meta.toSeq
        .sortBy(_._1).toDF("prop_key", "prop_value")
    }),
    "journal_clone" -> ((s, d) => {
      // ZERO-COPY CLONE as a declared, oracle-checked row: ingest, then
      // vector-delete ONE key (so the clone must carry deletion-vector
      // parts and stats sidecars, not just segments), clone, then
      // DIVERGE the source with a further append + delete. The clone's
      // read must be the state AT CLONE TIME — pinning both halves of
      // the clone contract through the hash gate: completeness (every
      // sidecar the manifest references travels) and isolation (the
      // source's later commits are invisible; hard links share bytes
      // but never state). Cost is O(manifest) link calls — a 100 TB
      // store clones without moving a byte (Delta SHALLOW CLONE,
      // except self-contained: links, not references).
      val tag = tmpTag(d)
      val src = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jclone_src_$tag").toString
      val dst = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jclone_dst_$tag").toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dst))
      journal(s, d).where(col("seq") < 4000)
        .write.format("journal").option("epochSize", "1000").save(src)
      val store = graft.journal.JournalStore.open(s, src)
      store.deleteWhereDv(col("ukey") === 7)
      val clone = store.cloneTo(dst)
      // diverge the SOURCE after the clone — must stay invisible to it
      store.append(journal(s, d).where(col("seq") >= 4000 && col("seq") < 6000))
      store.deleteWhereDv(col("ukey") === 9)
      clone.scan().groupBy("ns")
        .agg(count(lit(1)).as("n"), sum(col("ukey")).as("sum_ukey"),
             max("seq").as("max_seq"))
        .orderBy("ns")
    }),
    "journal_history" -> ((s, d) => {
      // DESCRIBE HISTORY as a declared, oracle-checked row: drive the
      // store through one of every commit kind a day-2 operator reads
      // history for — create, append, delete-dv, append, set-meta,
      // restore — then join the metadata-only version walk
      // (commitHistory: RetainedVersions-bounded manifest parses, no
      // segment file opened) with a TIME-TRAVEL live-row count per
      // version. The count column turns history from a log listing into
      // a semantic audit: each version's n_live must equal the logical
      // prefix the oracle derives from raw events — so snapshot
      // isolation (openAt) and the op labels are pinned through the
      // hash gate together. Also SQL-reachable as
      // CALL <cat>.system.history(table => ...) (CatalogSpec).
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jhist_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      // bounds sized to the smallest fixture (sf0.001 = 1000 events) so
      // every commit is non-empty at every SF and versions are 0..5
      val store = graft.journal.JournalStore.create(s, tmp, epochSize = 500L)
      store.append(journal(s, d).where(col("seq") < 600))
      store.deleteWhereDv(col("ukey") % 2 === 1)
      val vDel = store.manifest.version // restore target (3 on real data)
      store.append(journal(s, d).where(col("seq") >= 600 && col("seq") < 1000))
      store.setMeta(Map("audit" -> "r13"))
      store.restore(vDel)
      val hist = store.commitHistory().select("version", "op", "max_seq")
      val counts = store.versions().map { v =>
        val at = store.openAt(v)
        if (at.manifest.files.isEmpty) // create-only snapshot: no schema yet
          s.range(1).select(lit(v).as("version"), lit(0L).as("n_live"))
        else at.scan().agg(count(lit(1)).as("n_live"))
          .select(lit(v).as("version"), col("n_live"))
      }.reduce(_.union(_))
      hist.join(counts, Seq("version"))
        .select("version", "op", "max_seq", "n_live").orderBy("version")
    }),
    "journal_dim_join" -> ((s, d) => {
      // Point-lookup join against the journal through the DSv2 scan:
      // a 10-key broadcast dim probes the log on ukey. This is the
      // plan runtime file pruning (JournalParquetScan
      // SupportsRuntimeV2Filtering, RuntimeFilterSpec) serves at
      // 100 TB — the build side's keys prune segment files via the
      // manifest's per-file key ranges before the probe side is read;
      // the broadcast join means the log never shuffles.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jdim_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 6000)
        .write.format("journal").option("epochSize", "1000").save(tmp)
      val dim = s.range(0, 10).select(col("id").as("k"))
      s.read.format("journal").load(tmp)
        .join(broadcast(dim), col("ukey") === col("k"))
        .groupBy("ns")
        .agg(count(lit(1)).as("n"), sum(col("ukey")).as("sum_ukey"),
             max("seq").as("max_seq"))
        .orderBy("ns")
    }),
    "journal_meta_agg" -> ((s, d) => {
      // Metadata-only aggregates through the DSv2 scan: a global
      // count/min/max over the journal table is answered from the
      // manifest's per-file stats (sources/JournalV2.scala
      // ManifestAggScan — complete aggregate pushdown planning as ONE
      // driver-built row, zero data files opened). At 100 TB this is
      // the difference between a manifest parse and a full-log scan for
      // `SELECT count(*) FROM journal.t`. AggPushdownSpec pins the scan
      // node; this query pins the VALUES against the DuckDB twin.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jagg_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 6000)
        .write.format("journal").option("epochSize", "5000").save(tmp)
      s.read.format("journal").load(tmp)
        .agg(count(lit(1)).as("n_rows"),
          min("seq").as("min_seq"), max("seq").as("max_seq"),
          min("ukey").as("min_ukey"), max("ukey").as("max_ukey"),
          min("ts").as("min_ts"), max("ts").as("max_ts"))
    }),
    "journal_analyze" -> ((s, d) => {
      // ANALYZE TABLE end to end (journal/JournalStore.scala analyze):
      // ingest → one analyze() — two corpus passes, both ending in
      // metadata-sized results (a 1-row global aggregate; ≤ cols×512
      // HLL register rows) — → stats read BACK from the manifest (the
      // persistence proof; they ride clones/restores like any table
      // property). The emitted register summary (regs_hit, weight) is
      // the HLL SKETCH STATE itself — exact integers the oracle
      // recomputes from the same md5 arithmetic (agg_hll_custom's
      // registers, now produced by the store verb) — beside exact null
      // counts and typed min/max canonicalized to strings. The ndv
      // estimate served to Spark's CBO is derived from these registers
      // (hllNdvEstimate) and is deliberately NOT in the hash gate: its
      // small-range correction takes a driver-side libm ln.
      // AnalyzeSpec pins the optimizer side (DSv2 columnStats →
      // attributeStats, append-time incremental merge, the destructive-
      // rewrite decline); this row pins the VALUES.
      val sp = s
      import sp.implicits._
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_janalyze_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 6000)
        .write.format("journal").option("epochSize", "5000").save(tmp)
      val st = graft.journal.JournalStore.open(s, tmp)
      // ANALYZE of an EMPTY table is zero stat rows (analyze() itself
      // refuses — stats pinned at rows=0 would only ever be dropped as
      // stale), same output schema
      val recs =
        if (st.manifest.files.isEmpty)
          Seq.empty[(String, Long, Long, Long, Long, String, String)]
        else {
          st.analyze(Seq("ns", "ukey", "seq", "payload"))
          val rows = st.analyzedRowCount.get
          val cs = st.analyzedColumnStats
          Seq("ns", "ukey", "seq", "payload").sorted.map { c =>
            val r = cs(c)
            (c, rows, r.nulls, r.regsHit, r.weight,
              r.min.orNull, r.max.orNull)
          }
        }
      recs.toDF("col_name", "n_rows", "n_nulls", "regs_hit", "weight",
        "vmin", "vmax").orderBy("col_name")
    }),
    "journal_analyze_incr" -> ((s, d) => {
      // INCREMENTAL ANALYZE inside the hash gate (round 16): analyze
      // the seq < 6000 window, then APPEND [6000, 7000) — the append
      // folds the batch's register sketch into the recorded stats in
      // ITS OWN commit (incrementalStatsMeta; no re-analyze, no
      // corpus re-scan) — and emit the MERGED stats read back from
      // the manifest. The DuckDB oracle recomputes the register state
      // over the UNION window directly, so the row proves
      // union-of-sketches ≡ sketch-of-union VALUE-EXACTLY (register
      // hits, harmonic weight, summed nulls, widened extrema), plus
      // the merged exact row count the serving gate keys on. At
      // 100 TB this is the difference between CBO stats surviving a
      // micro-batch and a full two-pass re-scan per refresh.
      val sp = s
      import sp.implicits._
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jainc_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 6000)
        .write.format("journal").option("epochSize", "5000").save(tmp)
      val st = graft.journal.JournalStore.open(s, tmp)
      val recs =
        if (st.manifest.files.isEmpty)
          Seq.empty[(String, Long, Long, Long, Long, String, String)]
        else {
          st.analyze(Seq("ns", "ukey", "seq", "payload"))
          // the incremental window (empty at sf0.001 — the merge is a
          // no-op there and the oracle's union window degenerates to
          // the analyzed one: both sides stay consistent)
          st.append(journal(s, d)
            .where(col("seq") >= 6000 && col("seq") < 7000))
          val rows = st.analyzedRowCount.get
          val cs = st.analyzedColumnStats
          Seq("ns", "ukey", "seq", "payload").sorted.map { c =>
            val r = cs(c)
            (c, rows, r.nulls, r.regsHit, r.weight,
              r.min.orNull, r.max.orNull)
          }
        }
      recs.toDF("col_name", "n_rows", "n_nulls", "regs_hit", "weight",
        "vmin", "vmax").orderBy("col_name")
    }),
    "journal_analyze_refold" -> ((s, d) => {
      // STATS SURVIVE THE ERASE inside the hash gate (round 17): the
      // incr row proves union-of-sketches ≡ sketch-of-union for
      // APPENDS; this row proves the cstats REFOLD for DELETES.
      // Analyze the seq < 6000 window (which bootstraps the per-file
      // column sketches), then deleteWhere(ukey % 5 = 0) — the rewrite
      // re-sketches exactly the files it rewrites and refolds the
      // merged stats from all survivors in ITS OWN commit — and emit
      // the refolded stats read back from the manifest. The DuckDB
      // oracle recomputes the register state over the SURVIVING rows
      // directly, so survivors-refold ≡ analyze-of-survivors is proven
      // value-exactly (register hits, harmonic weight, null counts,
      // narrowed extrema, the exact surviving row count the serving
      // gate keys on). At 100 TB this is a retention sweep that keeps
      // CBO stats alive instead of costing a two-pass re-scan.
      val sp = s
      import sp.implicits._
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jaref_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 6000)
        .write.format("journal").option("epochSize", "2000").save(tmp)
      val st = graft.journal.JournalStore.open(s, tmp)
      val recs =
        if (st.manifest.files.isEmpty)
          Seq.empty[(String, Long, Long, Long, Long, String, String)]
        else {
          st.analyze(Seq("ns", "ukey", "seq", "payload"))
          // the erase (rows with NULL keys are retained — three-valued
          // DELETE — and the oracle's survivor window says so too)
          st.deleteWhere(col("ukey") % 5 === 0)
          val rows = st.analyzedRowCount.get
          val cs = st.analyzedColumnStats
          Seq("ns", "ukey", "seq", "payload").sorted.map { c =>
            val r = cs(c)
            (c, rows, r.nulls, r.regsHit, r.weight,
              r.min.orNull, r.max.orNull)
          }
        }
      recs.toDF("col_name", "n_rows", "n_nulls", "regs_hit", "weight",
        "vmin", "vmax").orderBy("col_name")
    }),
    "journal_skew_report" -> ((s, d) => {
      // Hot-key diagnostic: top-3 keys per namespace with their share
      // of the namespace's rows — the report an operator reads BEFORE
      // choosing salting factors (join_salted/agg_salted are the
      // remedies; this is the detector). The (ns, ukey) count is the
      // only corpus-sized shuffle (map-side partials; the groupBy
      // itself is skew-immune — a hot KEY is still one group row);
      // ranking and shares run on the key-count frame, both windows
      // sharing the ns-axis exchange.
      val counts = journal(s, d).groupBy("ns", "ukey")
        .agg(count(lit(1)).as("n"))
      val byN = Window.partitionBy("ns").orderBy(col("n").desc, col("ukey"))
      counts
        .withColumn("rk", row_number().over(byN))
        .withColumn("ns_rows", sum("n").over(Window.partitionBy("ns")))
        .where(col("rk") <= 3)
        .select(col("ns"), col("rk"), col("ukey"), col("n"),
          graft.Det.r(col("n") / col("ns_rows"), 4).as("share"))
        .orderBy("ns", "rk")
    }),
    "journal_skip_scan" -> ((s, d) => {
      // cstats FILE SKIPPING inside the hash gate (round 17): analyze
      // bootstraps the per-file column sketches, then a RANGE read on
      // a sketched DATA column (ukey range — not the partition axes,
      // not the bloom's equality probe) plans through the V2 scan with
      // cstatsPrune dropping every file whose bounds exclude the
      // range. The oracle replays the filter over the source window,
      // so the row proves end to end — at sf0.01, every round — that
      // skipping never changes results (soundness is structural: files
      // without a matching bound are kept, pushed filters re-evaluate
      // above the scan; CstatsSkipSpec pins that files actually DROP).
      // 100 TB shape: a selective range read on any analyzed column
      // opens only the files whose sketch admits it.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jskip_store_" + tmpTag(d)).toString
      if (!graft.journal.JournalStore.exists(tmp)) {
        journal(s, d).where(col("seq") < 6000)
          .write.format("journal").option("epochSize", "1000").save(tmp)
        val st = graft.journal.JournalStore.open(s, tmp)
        if (st.manifest.files.nonEmpty)
          st.analyze(Seq("ukey", "payload"))
      }
      s.read.format("journal").load(tmp)
        .where(col("ukey") >= 10L && col("ukey") < 50L &&
          col("payload") >= "a")
        .select(col("ns"), col("ukey"), col("seq"), col("payload"))
        .orderBy("seq")
    }),
    "journal_skip_nulls" -> ((s, d) => {
      // Round-18 skipping axes inside the hash gate: IS NULL /
      // IS NOT NULL prune whole files from the EXACT per-file null
      // counts (a column all-null or null-free in a file settles the
      // predicate outright), and string-prefix predicates prune by the
      // UTF-8 bounds window [p, successor(p)). The fixture nulls `val`
      // on an epoch stripe, so entire files are all-null (IS NOT NULL
      // provably empty there) or null-free (IS NULL empty); the oracle
      // replays the same projection over the source window — skipping
      // must never change results. CstatsSkipSpec pins that files
      // actually DROP; this row proves soundness at sf0.01 every
      // round. 100 TB shape: the dominant pushed predicates of a
      // quality-filter pipeline (col IS NOT NULL, url LIKE 'https%')
      // open only the files whose sketch admits a match. Round 19
      // adds the TIMESTAMP_NTZ axis to the same gate: an epoch-striped
      // NTZ minute ladder analyzed through NtzMicros (raw physical
      // micros, certified by the stats.ntzexact marker) with a range
      // probe whose boundary lands INSIDE one file — the round gate
      // now exercises the round-18 expression end to end at sf0.01.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jskipn2_store_" + tmpTag(d)).toString
      if (!graft.journal.JournalStore.exists(tmp)) {
        journal(s, d).where(col("seq") < 6000)
          .withColumn("val", when(col("seq") < 2000,
            lit(null).cast("double")).otherwise(col("val")))
          .withColumn("tn", expr("timestampadd(MINUTE, " +
            "CAST(seq AS INT), TIMESTAMP_NTZ'2024-01-01 00:00:00')"))
          .write.format("journal").option("epochSize", "1000").save(tmp)
        val st = graft.journal.JournalStore.open(s, tmp)
        if (st.manifest.files.nonEmpty)
          st.analyze(Seq("val", "payload", "tn"))
      }
      val rd = s.read.format("journal").load(tmp)
      val nulls = rd.where(col("val").isNull)
        .agg(count(lit(1)).as("n_null"), sum("ukey").as("k_null"))
      val notnulls = rd.where(col("val").isNotNull)
        .agg(count(lit(1)).as("n_val"),
          graft.Det.r(sum("val"), 4).as("v_sum"))
      val prefix = rd.where(col("payload").startsWith("{\"k\": 9"))
        .agg(count(lit(1)).as("n_prefix"), sum("seq").as("s_prefix"))
      val ntz = rd.where(col("tn") <
          expr("TIMESTAMP_NTZ'2024-01-03 00:00:00'"))
        .agg(count(lit(1)).as("n_ntz"), sum("seq").as("s_ntz"))
      nulls.crossJoin(notnulls).crossJoin(prefix).crossJoin(ntz)
    }),
    "journal_advise" -> ((s, d) => {
      // CALL system.advise's readout as a declared row (round 18): the
      // metadata-only skew/layout advisor — per-namespace file counts
      // and rows from the manifest fstats, per-column sketch coverage
      // from the cstats sidecar. Projected to the structurally-derived
      // columns (file/row counts, the fragmentation advice label); the
      // per-file ndv DENSITY metric is deterministic for a fixed
      // fixture but ndv-derived, so it stays out of the cross-engine
      // hash (the libm rule) — CatalogSpec gates the salt/zorder
      // labels against a constructed skewed store instead. The oracle
      // recomputes the same readout relationally: files per namespace
      // = distinct (epoch, ns) directories of the declared layout.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jadvise_store_" + tmpTag(d)).toString
      if (!graft.journal.JournalStore.exists(tmp)) {
        journal(s, d).where(col("seq") < 6000)
          .write.format("journal").option("epochSize", "1000").save(tmp)
        val st = graft.journal.JournalStore.open(s, tmp)
        if (st.manifest.files.nonEmpty) st.analyze()
      }
      import s.implicits._
      graft.journal.JournalStore.open(s, tmp).advise()
        .map(r => (r.scope, r.name, r.files, r.rows,
          if (r.scope == "ns") r.advice else null))
        .toDF("scope", "name", "files", "n_rows", "advice")
        .orderBy("scope", "name")
    }),
    "journal_ns_meta" -> ((s, d) => {
      // GROUP BY over the journal's layout axis, still metadata-only:
      // the DSv2 scan answers `GROUP BY ns` from the manifest's
      // per-file stats rolled up by directory (ManifestAggScan's
      // group-by form) — per-namespace row counts and key ranges on a
      // 100 TB log without opening one data file. Same store fixture as
      // journal_meta_agg; AggPushdownSpec pins the scan node, this pins
      // the VALUES.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jagg_store_" + tmpTag(d)).toString
      if (!graft.journal.JournalStore.exists(tmp)) {
        journal(s, d).where(col("seq") < 6000)
          .write.format("journal").option("epochSize", "5000").save(tmp)
      }
      s.read.format("journal").load(tmp)
        .groupBy("ns")
        .agg(count(lit(1)).as("n_rows"),
          min("ukey").as("min_ukey"), max("ukey").as("max_ukey"),
          min("seq").as("min_seq"), max("seq").as("max_seq"))
        .orderBy("ns")
    }),
    "journal_catalog_sql" -> ((s, d) => {
      // SQL addressability end-to-end (sources/JournalCatalog.scala): a
      // journal store named in a Spark TableCatalog, populated by SQL
      // INSERT (the V2 commit framework handing the batch to the store's
      // global-sort append + manifest CAS), queried by SQL SELECT (the
      // same columnar V2 BatchScan as the path API, seq bounds becoming
      // epoch-directory pruning). Caller seqs (= event_id) ride the
      // INSERT so the oracle is a plain aggregate over events. The
      // catalog name is keyed by the dataset dir: Spark caches catalog
      // instances by name, so each dataset gets its own root.
      val tag = tmpTag(d)
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jcat_root_$tag").toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val cat = s"jcat_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.JournalCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"CREATE TABLE $cat.ev (ns STRING, ukey BIGINT, ts TIMESTAMP, " +
        "payload STRING, val DOUBLE) USING journal OPTIONS (epochSize '2000')")
      journal(s, d).where(col("seq") < 6000)
        .createOrReplaceTempView(s"jcat_src_$tag")
      s.sql(s"INSERT INTO $cat.ev SELECT ns, ukey, ts, payload, val, seq " +
        s"FROM jcat_src_$tag")
      s.sql(s"SELECT ns, count(*) AS n_rows, sum(ukey) AS sum_ukey, " +
        s"max(seq) AS max_seq FROM $cat.ev WHERE seq >= 1000 " +
        "GROUP BY ns ORDER BY ns")
    }),
    "journal_colspec_sql" -> ((s, d) => {
      // The three Delta-parity column specs in ONE hash-gated lifecycle
      // (sources/JournalCatalog.scala): CREATE declares a DEFAULT, a
      // GENERATED ALWAYS AS expression and an IDENTITY sequence; the
      // batch provides NONE of the three, and the store materializes
      // all of them at append — the default literal, the generated
      // projection of the batch's own rows, and identity values riding
      // the deterministic caller-seq order (start + seq·step here,
      // since caller seqs are dense from 0). All three are pure
      // projections: zero shuffle beyond the append's own layout
      // repartition at ANY batch size. The oracle replays the exact
      // arithmetic from events; the readback aggregates per ns so the
      // row also witnesses the assignments riding the columnar scan.
      val tag = tmpTag(d)
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jcolspec_root_$tag").toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val cat = s"jcolspec_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.JournalCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"CREATE TABLE $cat.t (ns STRING, ukey BIGINT, ts TIMESTAMP, " +
        "payload STRING, val DOUBLE, " +
        "tier STRING DEFAULT 'bronze', " +
        "bucket BIGINT GENERATED ALWAYS AS (ukey % 8), " +
        "rid BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 " +
        "INCREMENT BY 2)) USING journal OPTIONS (epochSize '2000')")
      val st = graft.journal.JournalStore.open(s, s"$root/t")
      st.append(journal(s, d).where(col("seq") < 3000))
      s.read.format("journal").load(s"$root/t")
        .groupBy("ns")
        .agg(count(lit(1)).as("n_rows"),
          sum("rid").as("sum_rid"),
          min("rid").as("min_rid"),
          sum("bucket").as("sum_bucket"),
          sum(when(col("tier") === "bronze", 1L).otherwise(0L))
            .as("n_bronze"))
        .orderBy("ns")
    }),
    "journal_expire_sql" -> ((s, d) => {
      // Retention/TTL enforcement end to end (CALL system.expire →
      // JournalStore.deleteWhere): ingest a fixed window, erase
      // everything with ts older than the bound, read back per-ns
      // survivors beside the erased count. The delete's candidate set
      // prunes through the manifest's per-file ts ranges (the round-15
      // range extractor) — at 100 TB the sweep rewrites only files
      // whose ts range can overlap the bound, and the erased rows are
      // physically GONE (the GDPR contract), not filtered.
      val tag = tmpTag(d)
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jexpire_root_$tag").toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val cat = s"jexp_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.JournalCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"CREATE TABLE $cat.t (ns STRING, ukey BIGINT, ts TIMESTAMP, " +
        "payload STRING, val DOUBLE) USING journal OPTIONS (epochSize '2000')")
      graft.journal.JournalStore.open(s, s"$root/t")
        .append(journal(s, d).where(col("seq") < 6000))
      val nDel = s.sql(s"CALL $cat.system.expire(table => 't', " +
        "older_than => '2024-01-10 00:00:00')")
        .collect()(0).getLong(0)
      s.read.format("journal").load(s"$root/t")
        .groupBy("ns")
        .agg(count(lit(1)).as("n_rows"),
          min("seq").as("min_seq"), max("seq").as("max_seq"))
        .withColumn("n_deleted", lit(nDel))
        .orderBy("ns")
    }),
    "journal_retention_sql" -> ((s, d) => {
      // DECLARED retention (round 16): TTL as a TABLE ATTRIBUTE — the
      // `retention.olderThan` property + CALL system.maintain — instead
      // of a bound someone must remember to pass (journal_expire_sql is
      // the ad-hoc verb). Ingest the 2024 fixture window (all older
      // than any recent bound) beside a fresh batch stamped
      // current_timestamp(); declare '30 DAYS'; ONE maintain sweeps
      // exactly the fixture rows through the same ts-range-pruned
      // deleteWhere, a SECOND maintain is the no-op the policy
      // contract promises. At 100 TB the sweep rewrites only files
      // whose ts range overlaps the moving bound — fresh segments are
      // pruned by their manifest ts stats without being opened.
      val tag = tmpTag(d)
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jret_root_$tag").toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val cat = s"jret_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.JournalCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"CREATE TABLE $cat.t (ns STRING, ukey BIGINT, ts TIMESTAMP, " +
        "payload STRING, val DOUBLE) USING journal OPTIONS (epochSize '2000')")
      val st = graft.journal.JournalStore.open(s, s"$root/t")
      st.append(journal(s, d).where(col("seq") < 6000))
      st.append(s.range(64).select(lit("fresh").as("ns"),
        col("id").as("ukey"), current_timestamp().as("ts"),
        concat(lit("f"), col("id")).as("payload"),
        col("id").cast("double").as("val")))
      s.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES " +
        "('retention.olderThan' = '30 DAYS')")
      val nDel = s.sql(s"CALL $cat.system.maintain(table => 't')")
        .collect()(0).getLong(0)
      val nDel2 = s.sql(s"CALL $cat.system.maintain(table => 't')")
        .collect()(0).getLong(0)
      s.read.format("journal").load(s"$root/t")
        .agg(count(lit(1)).as("n_kept"))
        .select(lit(nDel).as("n_deleted"), col("n_kept"),
          lit(nDel2).as("n_second_sweep"))
    }),
    "events_spine_recursive" -> ((s, d) => {
      // Recursive CTE (Spark 4 WITH RECURSIVE): the calendar spine as a
      // recursion anchored on the data's own min/max day, gap-filling
      // daily purchase counts — the recursive twin of events_resample's
      // sequence() spine. Scale shape: recursion depth = DAYS (tiny and
      // data-bounded, never row-bounded); the heavy side stays the
      // pre-aggregated daily counts, one shuffle. MAX RECURSION LEVEL
      // is Spark-side syntax only — the DuckDB twin recurses unbounded.
      val tag = tmpTag(d)
      Tables(s, d, "events").createOrReplaceTempView(s"ev_rec_$tag")
      // The day bounds are materialized ONCE before the recursion (1-row
      // localCheckpoint — the dedup_corpus_minhash lineage-pinning
      // precedent, no driver collect): a scalar subquery INSIDE the
      // recursive step is re-evaluated on every iteration, i.e. a full
      // events scan per spine day (measured 5.5 s warm at sf0.1; 30
      // day-iterations x 1M-row scans — and linearly worse with data AND
      // with date range). With pinned bounds each iteration touches one
      // in-memory row.
      s.sql(s"SELECT CAST(date_trunc('day', min(ts)) AS DATE) AS lo, " +
          s"CAST(date_trunc('day', max(ts)) AS DATE) AS hi FROM ev_rec_$tag")
        .localCheckpoint()
        .createOrReplaceTempView(s"ev_rec_b_$tag")
      // Recursive DOUBLING, not day-at-a-time: each Spark recursion step
      // is a driver-synchronized job, so a +1-day recursion costs O(days)
      // scheduling rounds (30 jobs here; thousands on a multi-year
      // range). Splitting (start, span) segments halves instead —
      // O(log2 days) rounds (5 here, 12 for a decade) — and emits the
      // identical day set: leaves are the span-1 segments of the binary
      // split of [lo, hi]. The single recursive reference (SQL's one-
      // reference rule) fans out via a 2-row side explode.
      s.sql(
        s"WITH RECURSIVE seg(d, span) MAX RECURSION LEVEL 100 AS (" +
          s"SELECT lo, CAST(datediff(hi, lo) + 1 AS INT) FROM ev_rec_b_$tag " +
          "UNION ALL SELECT IF(side = 1, date_add(d, CAST(span div 2 AS INT)), d), " +
          "CAST(IF(side = 1, span - span div 2, span div 2) AS INT) " +
          "FROM seg, (SELECT explode(array(0, 1)) AS side) WHERE span > 1), " +
          "spine AS (SELECT d AS day FROM seg WHERE span = 1), " +
          s"daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n " +
          s"FROM ev_rec_$tag WHERE event_type = 'purchase' GROUP BY 1) " +
          "SELECT spine.day, COALESCE(daily.n, 0) AS n " +
          "FROM spine LEFT JOIN daily USING (day) ORDER BY day")
    }),
    "events_anomaly" -> ((s, d) => {
      // Time-series anomaly scoring: each day's event count z-scored
      // against its own TRAILING 7-day window (rows between -7 and -1 —
      // the current day never contaminates its baseline). Variance
      // comes from exact integer window sums (Σn, Σn²) so the double
      // arithmetic sequence is identical on both engines (agg_stats_
      // exact precedent, SURVEY §2.0.5); warm-up rows (fewer than 7
      // predecessors) are excluded rather than scored against a short
      // baseline. Scale shape: the daily pre-aggregation collapses the
      // event stream to (types × days) rows BEFORE the window — the
      // window pass is over the tiny frame, one shuffle total.
      val daily = Tables(s, d, "events")
        .groupBy(col("event_type"), to_date(date_trunc("day", col("ts"))).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
      daily
        .withColumn("cnt7", count(lit(1)).over(w))
        .withColumn("sum7", sum("n").over(w))
        .withColumn("ssq7", sum(col("n") * col("n")).over(w))
        .where(col("cnt7") === 7)
        .withColumn("mean7", col("sum7").cast("double") / lit(7.0))
        .withColumn("var7",
          (col("ssq7").cast("double") - col("sum7").cast("double") *
            col("sum7").cast("double") / lit(7.0)) / lit(7.0))
        .select(col("event_type"), col("day"), col("n"),
          graft.Det.r(when(col("var7") > 0.0,
            (col("n").cast("double") - col("mean7")) / sqrt(col("var7")))
            .otherwise(lit(0.0)), 4).as("z"))
        .orderBy("event_type", "day")
    }),
    "events_rolling_dau" -> ((s, d) => {
      // Rolling 7-day distinct active users per day (DAU7) — the
      // engagement metric every analytics stack reports. Exact distinct
      // over a sliding window can't be a window function (no
      // count(DISTINCT) frames), and the naive day-spine range join
      // plans a nested-loop at scale. Instead each (day, user) row is
      // EXPLODED to the ≤7 report days it contributes to — a map-side
      // ×7 expansion of the already-distinct (day, user) frame — and
      // one groupBy(day) counts distinct users. Shuffles: the (day,
      // user) distinct and the final count-distinct, both on small
      // keyed frames; no join at all except the 1-row broadcast max-day
      // scalar bounding the spine (events_resample precedent, no
      // driver collect). Warm-up days (fewer than 7 predecessors)
      // report their partial trailing window, the standard convention.
      val du = Tables(s, d, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val mx = du.agg(max("day").as("mxd")).where(col("mxd").isNotNull)
      du.select(col("user_id"),
          explode(expr("sequence(day, date_add(day, 6))")).as("d"))
        .crossJoin(broadcast(mx))
        .where(col("d") <= col("mxd"))
        .groupBy("d")
        .agg(countDistinct("user_id").as("dau7"))
        .orderBy("d")
    }),
    "journal_compact_scan" -> ((s, d) => {
      // Compaction + vacuum as a declared, oracle-checked row: ingest a
      // bounded journal in several epoch-spanning commits, fold the old
      // epochs into one key-clustered file per (epoch, ns), physically
      // reclaim the victims, then read back per-ns state. The oracle is
      // the plain logical view — compaction must be invisible to every
      // reader while the file count drops (the invariant the spec suite
      // pins structurally; this row pins it through the oracle gate).
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jcompact_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 6000)
        .write.format("journal").option("epochSize", "1000").save(tmp)
      val store = graft.journal.JournalStore.open(s, tmp)
      store.compact(upToEpoch = 3, clusterByKey = true)
      store.vacuum(retain = 0, graceMs = 0L)
      store.scan().groupBy("ns")
        .agg(count(lit(1)).as("n"), sum(col("ukey")).as("sum_ukey"),
             min("seq").as("min_seq"), max("seq").as("max_seq"))
        .orderBy("ns")
    }),
    "journal_zorder_scan" -> ((s, d) => {
      // Multi-column (Z-order) compaction as a declared, oracle-checked
      // row: ingest, rewrite the old epochs along the (ukey, val)
      // Z-curve, vacuum, then run the exact probe shape z-ordering
      // exists for — a conjunction of range predicates on BOTH
      // clustered columns. Layout must be invisible to results (the
      // oracle is the plain logical filter); the row-group skipping it
      // buys is pinned structurally in JournalStoreSpec.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jzorder_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 6000)
        .write.format("journal").option("epochSize", "1000").save(tmp)
      val store = graft.journal.JournalStore.open(s, tmp)
      store.compact(upToEpoch = 5L, zorderBy = Seq("ukey", "val"))
      store.vacuum(retain = 0, graceMs = 0L)
      store.scan()
        .where(col("ukey").between(2, 40) && col("val").between(10.0, 120.0))
        .groupBy("ns")
        .agg(count(lit(1)).as("n"), sum(col("ukey")).as("sum_ukey"),
             min("seq").as("min_seq"), max("seq").as("max_seq"))
        .orderBy("ns")
    }),
    "journal_erase" -> ((s, d) => {
      // GDPR-style physical erasure as a declared, oracle-checked row:
      // ingest a bounded journal, deleteWhere ONE user key across every
      // namespace, read back per-ns state. Exercises the whole erase
      // path end-to-end — manifest candidate pruning (key ranges +
      // blooms), the touched-file probe scan, rewrite of ONLY matching
      // files, checkpoint drop, manifest CAS — and the oracle is the
      // logical filter the erasure must be indistinguishable from. The
      // Int literal takes the analyzer-cast fold branch of
      // equalityConjuncts (the round-10 hardened path).
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jerase_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 6000)
        .write.format("journal").option("epochSize", "1000").save(tmp)
      val store = graft.journal.JournalStore.open(s, tmp)
      store.deleteWhere(col("ukey") === 7)
      store.scan().groupBy("ns")
        .agg(count(lit(1)).as("n"), sum(col("ukey")).as("sum_ukey"),
             max("seq").as("max_seq"))
        .orderBy("ns")
    }),
    "journal_restore" -> ((s, d) => {
      // RESTORE as a declared, oracle-checked row: two ingest commits,
      // roll back to the version the FIRST one committed, read state.
      // The rollback is itself a commit (snapshot isolation preserved;
      // vacuum's retained-version rule keeps the files alive), so the
      // scan must equal the first commit exactly — the oracle is that
      // logical prefix. Exercises restore end-to-end through the same
      // store lifecycle journal_time_travel pins for version pinning.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jrestore_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 3000)
        .write.format("journal").option("epochSize", "1000").save(tmp)
      val store = graft.journal.JournalStore.open(s, tmp)
      val v = store.manifest.version
      store.append(journal(s, d).where(col("seq") >= 3000 && col("seq") < 6000))
      store.restore(v)
      store.scan().groupBy("ns")
        .agg(count(lit(1)).as("n"), sum(col("ukey")).as("sum_ukey"),
             max("seq").as("max_seq"))
        .orderBy("ns")
    }),
    "journal_merge_upsert" -> ((s, d) => {
      // MERGE INTO as a declared, oracle-checked row: seed a store with
      // the first 5000 events, then merge the (per-key latest of the)
      // next 2000 against current state — matched rows with a small
      // source `val` take the delete clause (tombstone), other matches
      // update (no-op-suppressed on equal payloads), unmatched keys
      // insert. One state join + ONE append commit; the oracle is the
      // same reconciliation as a full-outer-join CASE in SQL. Output
      // drops last_seq: merge-assigned seqs are engine bookkeeping.
      //
      // Seed ONCE, merge on a fresh CLONE per invocation: a re-merge
      // against the merged state is NOT idempotent (an unmatched
      // val<20 key inserts, then matches and tombstones on the next
      // run — oscillation by design of the delete clause), so the
      // deterministic warm shape is Delta's dev-branch move — shallow
      // cloneTo (hard links + one manifest write, milliseconds at any
      // store size), reconcile the clone, drop it next pass. Warm
      // passes then measure the MERGE (probe, touched-file-pruned
      // state join, one append commit, state read-back), not a 5000-row
      // re-ingest. maxSeq == 4999 certifies the seed's single append
      // committed (atomic manifest swap); anything else reseeds.
      val seed = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jmerge_seed_" + tmpTag(d)).toString
      val seedStore = Option(seed)
        .filter(graft.journal.JournalStore.exists)
        .map(graft.journal.JournalStore.open(s, _))
        .filter(_.manifest.maxSeq == 4999L)
        .getOrElse {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(seed))
          journal(s, d).where(col("seq") < 5000)
            .write.format("journal").option("epochSize", "1000").save(seed)
          graft.journal.JournalStore.open(s, seed)
        }
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jmerge_work_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val store = seedStore.cloneTo(tmp)
      val src = journal(s, d)
        .where(col("seq") >= 5000 && col("seq") < 7000)
        .groupBy("ns", "ukey")
        .agg(max(struct(col("seq"), col("ts"), col("payload"), col("val")))
          .as("top"))
        .select(col("ns"), col("ukey"), col("top.ts").as("ts"),
          col("top.payload").as("payload"), col("top.val").as("val"))
      store.merge(src, whenMatchedDelete = Some(col("val") < 20.0))
      store.latest().select("ns", "ukey", "payload").orderBy("ns", "ukey")
    }),
    "journal_merge_sql" -> ((s, d) => {
      // The SQL statement surface of the row above: `MERGE INTO` through
      // the session-extension rule (sources/JournalMerge.scala) against
      // a catalog-named store — matched small-val rows take the DELETE
      // clause, other matches UPDATE (no-op-suppressed), unmatched keys
      // INSERT; `<=>` on ukey because the store's merge key is
      // null-safe. Same clone-per-invocation lifecycle as
      // journal_merge_upsert (a re-merge is not idempotent by design of
      // the delete clause); different seq window so the two rows pin
      // different data. The oracle is the reconciliation as a
      // full-outer-join CASE in ANSI SQL.
      val tag = tmpTag(d)
      val seed = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jmsql_seed_$tag").toString
      val seedStore = Option(seed)
        .filter(graft.journal.JournalStore.exists)
        .map(graft.journal.JournalStore.open(s, _))
        .filter(_.manifest.maxSeq == 3999L)
        .getOrElse {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(seed))
          journal(s, d).where(col("seq") < 4000)
            .write.format("journal").option("epochSize", "1000").save(seed)
          graft.journal.JournalStore.open(s, seed)
        }
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jmsql_root_$tag").toString
      val cat = s"jmsql_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.JournalCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$root/ev"))
      val store = seedStore.cloneTo(s"$root/ev")
      journal(s, d)
        .where(col("seq") >= 4000 && col("seq") < 6000)
        .groupBy("ns", "ukey")
        .agg(max(struct(col("seq"), col("ts"), col("payload"), col("val")))
          .as("top"))
        .select(col("ns"), col("ukey"), col("top.ts").as("ts"),
          col("top.payload").as("payload"), col("top.val").as("val"))
        .createOrReplaceTempView(s"jmsql_src_$tag")
      s.sql(s"""MERGE INTO $cat.ev AS t USING jmsql_src_$tag AS s
        ON t.ns = s.ns AND t.ukey <=> s.ukey
        WHEN MATCHED AND s.val < 20.0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET ts = s.ts, payload = s.payload, val = s.val
        WHEN NOT MATCHED THEN INSERT (ns, ukey, ts, payload, val)
          VALUES (s.ns, s.ukey, s.ts, s.payload, s.val)""")
      store.latest().select("ns", "ukey", "payload").orderBy("ns", "ukey")
    }),
    "journal_merge_stale" -> ((s, d) => {
      // `WHEN NOT MATCHED BY SOURCE THEN UPDATE SET` — the "mark stale"
      // reconciliation (Delta's by-source update): state keys ABSENT
      // from the source rewrite through TARGET-scope assignments
      // (unassigned columns ride current values — the state side widens
      // to the full-record arg-max, the clause's structural cost),
      // gated here by t.ukey % 3 = 0. No INSERT clause, so source-only
      // keys stay absent; matched keys upsert.
      val tag = tmpTag(d)
      val seed = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jmst_seed_$tag").toString
      val seedStore = Option(seed)
        .filter(graft.journal.JournalStore.exists)
        .map(graft.journal.JournalStore.open(s, _))
        .filter(_.manifest.maxSeq == 599L)
        .getOrElse {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(seed))
          journal(s, d).where(col("seq") < 600)
            .write.format("journal").option("epochSize", "200").save(seed)
          graft.journal.JournalStore.open(s, seed)
        }
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jmst_root_$tag").toString
      val cat = s"jmst_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.JournalCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$root/ev"))
      val store = seedStore.cloneTo(s"$root/ev")
      journal(s, d)
        .where(col("seq") >= 300 && col("seq") < 800)
        .groupBy("ns", "ukey")
        .agg(max(struct(col("seq"), col("ts"), col("payload"), col("val")))
          .as("top"))
        .select(col("ns"), col("ukey"), col("top.ts").as("ts"),
          col("top.payload").as("payload"), col("top.val").as("val"))
        .createOrReplaceTempView(s"jmst_src_$tag")
      s.sql(s"""MERGE INTO $cat.ev AS t USING jmst_src_$tag AS s
        ON t.ns = s.ns AND t.ukey <=> s.ukey
        WHEN MATCHED THEN UPDATE SET ts = s.ts, payload = s.payload,
          val = s.val
        WHEN NOT MATCHED BY SOURCE AND t.ukey % 3 = 0
          THEN UPDATE SET payload = concat(t.payload, ':stale')""")
      store.latest().select("ns", "ukey", "payload").orderBy("ns", "ukey")
    }),
    "journal_merge_evolve_sql" -> ((s, d) => {
      // `MERGE WITH SCHEMA EVOLUTION` (Delta's autoMerge, the SQL
      // spelling of merge schema evolution): the statement assigns a
      // column the store does not have yet (`score`) — the merge delta
      // evolves the pinned DDL, pre-merge rows read NULL, matched rows
      // whose payload AND score are both unchanged stay suppressed.
      // Readback is the per-key arg-max over the full row surface so
      // the evolved values are part of the oracle hash.
      val tag = tmpTag(d)
      val seed = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jmev_seed_$tag").toString
      val seedStore = Option(seed)
        .filter(graft.journal.JournalStore.exists)
        .map(graft.journal.JournalStore.open(s, _))
        .filter(_.manifest.maxSeq == 599L)
        .getOrElse {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(seed))
          journal(s, d).where(col("seq") < 600)
            .write.format("journal").option("epochSize", "200").save(seed)
          graft.journal.JournalStore.open(s, seed)
        }
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jmev_root_$tag").toString
      val cat = s"jmev_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.JournalCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$root/ev"))
      val store = seedStore.cloneTo(s"$root/ev")
      journal(s, d)
        // bounds inside the SMALLEST fixture (1000 events at sf0.001) so
        // the source is non-empty — and the schema actually evolves —
        // at every SF
        .where(col("seq") >= 600 && col("seq") < 1000)
        .groupBy("ns", "ukey")
        .agg(max(struct(col("seq"), col("ts"), col("payload"), col("val")))
          .as("top"))
        .select(col("ns"), col("ukey"), col("top.ts").as("ts"),
          col("top.payload").as("payload"), col("top.val").as("val"),
          (col("top.val") * 2.0).as("score"))
        .createOrReplaceTempView(s"jmev_src_$tag")
      s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.ev AS t
        USING jmev_src_$tag AS s
        ON t.ns = s.ns AND t.ukey <=> s.ukey
        WHEN MATCHED THEN UPDATE SET ts = s.ts, payload = s.payload,
          val = s.val, score = s.score
        WHEN NOT MATCHED THEN INSERT (ns, ukey, ts, payload, val, score)
          VALUES (s.ns, s.ukey, s.ts, s.payload, s.val, s.score)""")
      // defensive score projection: an EMPTY source (empty-input
      // fixtures) evolves nothing, so the store may not have the column
      val sc0 = store.scanUnordered()
      val scoreCol = if (sc0.columns.contains("score")) col("score")
                     else lit(null).cast("double").as("score")
      sc0.groupBy("ns", "ukey")
        .agg(max(struct(col("seq"), col("payload"), scoreCol.as("score")))
          .as("top"))
        .select(col("ns"), col("ukey"), col("top.payload").as("payload"),
          col("top.score").as("score"))
        .where(col("payload").isNotNull)
        .orderBy("ns", "ukey")
    }),
    "journal_merge_cond_sql" -> ((s, d) => {
      // `WHEN MATCHED AND cond THEN UPDATE` (VERDICT r13 item 3 — the
      // most common MERGE shape after plain upsert): the condition rides
      // the routing join as an update GATE beside the delete gate —
      // a matched row failing it (or evaluating NULL) appends NOTHING,
      // the key keeps its current state; unmatched keys still INSERT.
      // Enforcement is inside the hash-gated merge (file pruning, no-op
      // suppression, CAS re-derivation all unchanged). Clone-per-
      // invocation like every mutating SQL row.
      val tag = tmpTag(d)
      val seed = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jmcond_seed_$tag").toString
      val seedStore = Option(seed)
        .filter(graft.journal.JournalStore.exists)
        .map(graft.journal.JournalStore.open(s, _))
        .filter(_.manifest.maxSeq == 2999L)
        .getOrElse {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(seed))
          journal(s, d).where(col("seq") < 3000)
            .write.format("journal").option("epochSize", "1000").save(seed)
          graft.journal.JournalStore.open(s, seed)
        }
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jmcond_root_$tag").toString
      val cat = s"jmcond_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.JournalCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$root/ev"))
      val store = seedStore.cloneTo(s"$root/ev")
      journal(s, d)
        .where(col("seq") >= 3000 && col("seq") < 5000)
        .groupBy("ns", "ukey")
        .agg(max(struct(col("seq"), col("ts"), col("payload"), col("val")))
          .as("top"))
        .select(col("ns"), col("ukey"), col("top.ts").as("ts"),
          col("top.payload").as("payload"), col("top.val").as("val"))
        .createOrReplaceTempView(s"jmcond_src_$tag")
      s.sql(s"""MERGE INTO $cat.ev AS t USING jmcond_src_$tag AS s
        ON t.ns = s.ns AND t.ukey <=> s.ukey
        WHEN MATCHED AND s.val >= 30.0
          THEN UPDATE SET ts = s.ts, payload = s.payload, val = s.val
        WHEN NOT MATCHED THEN INSERT (ns, ukey, ts, payload, val)
          VALUES (s.ns, s.ukey, s.ts, s.payload, s.val)""")
      store.latest().select("ns", "ukey", "payload").orderBy("ns", "ukey")
    }),
    "journal_merge_multi" -> ((s, d) => {
      // N-CLAUSE conditional MERGE (VERDICT r14 item 2): THREE
      // conditional WHEN MATCHED UPDATE clauses with DIFFERENT
      // per-clause values, a fall-through DELETE, and an INSERT whose
      // values differ from every UPDATE. SQL first-match-wins composes
      // as DISJOINT masked gates; each clause's values ride dedicated
      // __mc_u<i>_ carrier columns the routing join selects by gate —
      // still ONE state join, ONE append, no-op suppression intact.
      val tag = tmpTag(d)
      val seed = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jmmul_seed_$tag").toString
      val seedStore = Option(seed)
        .filter(graft.journal.JournalStore.exists)
        .map(graft.journal.JournalStore.open(s, _))
        .filter(_.manifest.maxSeq == 2999L)
        .getOrElse {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(seed))
          journal(s, d).where(col("seq") < 3000)
            .write.format("journal").option("epochSize", "1000").save(seed)
          graft.journal.JournalStore.open(s, seed)
        }
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jmmul_root_$tag").toString
      val cat = s"jmmul_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.JournalCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$root/ev"))
      val store = seedStore.cloneTo(s"$root/ev")
      journal(s, d)
        .where(col("seq") >= 3000 && col("seq") < 5000)
        .groupBy("ns", "ukey")
        .agg(max(struct(col("seq"), col("ts"), col("payload"), col("val")))
          .as("top"))
        .select(col("ns"), col("ukey"), col("top.ts").as("ts"),
          col("top.payload").as("payload"), col("top.val").as("val"))
        .createOrReplaceTempView(s"jmmul_src_$tag")
      s.sql(s"""MERGE INTO $cat.ev AS t USING jmmul_src_$tag AS s
        ON t.ns = s.ns AND t.ukey <=> s.ukey
        WHEN MATCHED AND s.val >= 60.0 THEN UPDATE SET ts = s.ts,
          payload = concat('hot:', s.payload), val = s.val
        WHEN MATCHED AND s.val >= 30.0 THEN UPDATE SET ts = s.ts,
          payload = concat('warm:', s.payload), val = s.val
        WHEN MATCHED AND s.val >= 10.0 THEN UPDATE SET ts = s.ts,
          payload = concat('cold:', s.payload), val = s.val
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT (ns, ukey, ts, payload, val)
          VALUES (s.ns, s.ukey, s.ts, concat('new:', s.payload), s.val)""")
      store.latest().select("ns", "ukey", "payload").orderBy("ns", "ukey")
    }),
    "journal_merge_reconcile" -> ((s, d) => {
      // `WHEN NOT MATCHED BY SOURCE THEN DELETE` (VERDICT r13 item 5 —
      // the full-reconciliation MERGE): state keys ABSENT from the
      // source tombstone, gated here by a target-side condition
      // (t.ukey % 2 = 0 — the clause can see the state side's
      // ns/ukey/payload). The state side deliberately reads FULL
      // (checkpoint-bounded latest()): pruning by source keys is
      // structurally off for this clause — the complement is the
      // product. Matched keys upsert, unmatched source keys insert, so
      // one statement reconciles the store to the source while keeping
      // the odd-keyed strays.
      val tag = tmpTag(d)
      val seed = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jmrec_seed_$tag").toString
      val seedStore = Option(seed)
        .filter(graft.journal.JournalStore.exists)
        .map(graft.journal.JournalStore.open(s, _))
        .filter(_.manifest.maxSeq == 3999L)
        .getOrElse {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(seed))
          journal(s, d).where(col("seq") < 4000)
            .write.format("journal").option("epochSize", "1000").save(seed)
          graft.journal.JournalStore.open(s, seed)
        }
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jmrec_root_$tag").toString
      val cat = s"jmrec_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.JournalCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$root/ev"))
      val store = seedStore.cloneTo(s"$root/ev")
      journal(s, d)
        .where(col("seq") >= 2000 && col("seq") < 5000)
        .groupBy("ns", "ukey")
        .agg(max(struct(col("seq"), col("ts"), col("payload"), col("val")))
          .as("top"))
        .select(col("ns"), col("ukey"), col("top.ts").as("ts"),
          col("top.payload").as("payload"), col("top.val").as("val"))
        .createOrReplaceTempView(s"jmrec_src_$tag")
      s.sql(s"""MERGE INTO $cat.ev AS t USING jmrec_src_$tag AS s
        ON t.ns = s.ns AND t.ukey <=> s.ukey
        WHEN MATCHED THEN UPDATE SET ts = s.ts, payload = s.payload, val = s.val
        WHEN NOT MATCHED THEN INSERT (ns, ukey, ts, payload, val)
          VALUES (s.ns, s.ukey, s.ts, s.payload, s.val)
        WHEN NOT MATCHED BY SOURCE AND t.ukey % 2 = 0 THEN DELETE""")
      store.latest().select("ns", "ukey", "payload").orderBy("ns", "ukey")
    }),
    "journal_update_sql" -> ((s, d) => {
      // SQL `UPDATE` as a declared, oracle-checked row: the statement
      // routes through JournalMergeRule's translateUpdate
      // (sources/JournalMerge.scala) — the live-state rows matching the
      // condition are rewritten through the assignments and APPENDED
      // (history preserved; deliberately not merge-routed, whose
      // payload-keyed no-op suppression would drop a pure `SET val=`
      // change). Assignments reference target columns, evaluating over
      // the state frame. latest() then shows the updated values; rows
      // missing the condition are untouched. Clone-per-invocation: a
      // re-run would double-apply `val * 2` to rows still under 10.
      val tag = tmpTag(d)
      val seed = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jusql_seed_$tag").toString
      val seedStore = Option(seed)
        .filter(graft.journal.JournalStore.exists)
        .map(graft.journal.JournalStore.open(s, _))
        .filter(_.manifest.maxSeq == 4999L)
        .getOrElse {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(seed))
          journal(s, d).where(col("seq") < 5000)
            .write.format("journal").option("epochSize", "1000").save(seed)
          graft.journal.JournalStore.open(s, seed)
        }
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jusql_root_$tag").toString
      val cat = s"jusql_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.JournalCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$root/ev"))
      val store = seedStore.cloneTo(s"$root/ev")
      s.sql(s"UPDATE $cat.ev " +
        "SET payload = concat(payload, '!'), val = val * 2.0 " +
        "WHERE val < 10.0")
      // full-row state read-back (latest() compacts to payload only;
      // the UPDATE's proof needs val too): per-key arg-max by the
      // unique seq, tombstone-aware — the same combine rule
      store.scan()
        .groupBy("ns", "ukey")
        .agg(max(struct(col("seq"), col("payload"), col("val"))).as("top"))
        .select(col("ns"), col("ukey"), col("top.payload").as("payload"),
          col("top.val").as("val"))
        .where(col("payload").isNotNull)
        .orderBy("ns", "ukey")
    }),
    "journal_merge_bulk" -> ((s, d) => {
      // The LARGE-source merge path as a declared, oracle-checked row:
      // the deduped post-seed events UNION 4000 synthetic never-seen
      // keys push the source past MergeSmallSourceRows, so this merge
      // takes the large-source path — the pinned-source profile pass (per-ns key
      // range + stats-geometry bloom, collected at NAMESPACE grain),
      // manifest candidate pruning, and the ranged row predicate — with
      // no driver key collect at any source size. Clause routing, no-op
      // suppression and the delete clause are the small path's exactly;
      // the oracle is the same full-outer-join CASE with the synthetic
      // keys unioned in. Clone-per-invocation for the same
      // non-idempotence reason as journal_merge_upsert.
      val seed = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jmbulk_seed_" + tmpTag(d)).toString
      val seedStore = Option(seed)
        .filter(graft.journal.JournalStore.exists)
        .map(graft.journal.JournalStore.open(s, _))
        .filter(_.manifest.maxSeq == 4999L)
        .getOrElse {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(seed))
          journal(s, d).where(col("seq") < 5000)
            .write.format("journal").option("epochSize", "1000").save(seed)
          graft.journal.JournalStore.open(s, seed)
        }
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jmbulk_work_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val store = seedStore.cloneTo(tmp)
      val real = journal(s, d)
        .where(col("seq") >= 5000)
        .groupBy("ns", "ukey")
        .agg(max(struct(col("seq"), col("ts"), col("payload"), col("val")))
          .as("top"))
        .select(col("ns"), col("ukey"), col("top.ts").as("ts"),
          col("top.payload").as("payload"), col("top.val").as("val"))
      val synth = s.range(4000).selectExpr("'bulk' AS ns",
        // NTZ literal: the store schema pins ts to the parquet table's
        // TIMESTAMP_NTZ; an LTZ literal would coerce the whole union
        "1000000 + id AS ukey", "timestamp_ntz'2024-06-01 00:00:00' AS ts",
        "concat('b', id) AS payload", "CAST(id AS DOUBLE) AS val")
      store.merge(real.unionByName(synth),
        whenMatchedDelete = Some(col("val") < 20.0))
      store.latest().select("ns", "ukey", "payload").orderBy("ns", "ukey")
    }),
    "journal_schema_evolve" -> ((s, d) => {
      // Schema evolution as a declared, oracle-checked row: the second
      // append carries an extra `src_id` column; the manifest schema
      // unions it in, readers plan against the pinned DDL, and rows
      // from pre-evolution files surface NULL — no rewrite, no
      // inference, exactly the Delta add-column contract.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jevolve_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 2000)
        .write.format("journal").option("epochSize", "1000").save(tmp)
      val store = graft.journal.JournalStore.open(s, tmp)
      store.append(journal(s, d)
        .where(col("seq") >= 2000 && col("seq") < 4000)
        .withColumn("src_id", (col("ukey") % 5).cast("long")))
      store.scanUnordered()
        .select("seq", "ns", "ukey", "val", "src_id").orderBy("seq")
    }),
    "journal_txn_append" -> ((s, d) => {
      // IDEMPOTENT BATCH WRITES as a declared, oracle-checked row —
      // Delta's txnAppId/txnVersion options on the journal writer
      // (sources/JournalV2.txnOf): an orchestrator that retries a batch
      // task whose commit actually landed must not double-ingest. The
      // row replays both hazard shapes — an immediate retry of a
      // committed version AND a stale re-submission after a newer
      // version landed — and both are metadata no-ops against the
      // manifest's per-writer high-water mark (the SAME mark the
      // streaming sink deduplicates micro-batches with; txn writes and
      // stream batches share one mechanism, not two). Had either replay
      // landed, its rows would surface twice and the oracle's
      // row/hash gate would detonate.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jtxn_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 1000)
        .write.format("journal").option("epochSize", "1000").save(tmp)
      def put(lo: Int, hi: Int, ver: Int): Unit =
        journal(s, d).where(col("seq") >= lo && col("seq") < hi)
          .write.format("journal").mode("append")
          .option("txnAppId", "etl_txn").option("txnVersion", ver.toString)
          .save(tmp)
      put(1000, 2000, 1)
      put(1000, 2000, 1) // retry of a committed version: no-op
      put(2000, 3000, 2)
      put(1000, 2000, 1) // stale re-submission after ver 2: no-op
      graft.journal.JournalStore.open(s, tmp).scanUnordered()
        .select("seq", "ns", "ukey", "val").orderBy("seq")
    }),
    "journal_tail_scan" -> ((s, d) => {
      // TAIL INSPECTION with TOP-N pushdown: `ORDER BY seq DESC LIMIT n`
      // — "what just happened in this log" — prunes the scan to the
      // files whose manifest seq ranges can hold the top n
      // (JournalScanBuilder.pushTopN): O(1) files opened on a store of
      // any size, Spark's Sort+Limit still running above (exact-or-
      // conservative, IO-only). The final ascending orderBy gives the
      // hash gate a deterministic row order.
      val tmp = fullSeedStore(s, d)
      s.read.format("journal").load(tmp)
        .orderBy(col("seq").desc).limit(500)
        .select("seq", "ns", "ukey", "val").orderBy("seq")
    }),
    "journal_grouped_state" -> ((s, d) => {
      // STORAGE-PARTITIONED state reconstruction: the store's
      // epoch=K/ns=X layout means every file is single-namespace, so an
      // nsGrouped scan reports KeyGroupedPartitioning(ns) and the
      // per-key arg-max — the hottest journal op — aggregates INSIDE
      // the scan stage with zero exchanges (PlanShapeSpec pins the
      // no-Exchange plan; this row pins the answer). At 100 TB this is
      // state reconstruction without shuffling the log. The bucketing
      // conf is left on: it only activates scans that opt in with the
      // nsGrouped reader option. Store build rides the build-once full
      // seed (read-only row): each bench pass measures the grouped agg,
      // not a re-ingest.
      val tmp = fullSeedStore(s, d)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.read.format("journal").option("nsGrouped", "true").load(tmp)
        .groupBy("ns", "ukey")
        .agg(max_by(col("payload"), col("seq")).as("payload"),
             max(col("seq")).as("last_seq"))
        .orderBy("ns", "ukey")
    }),
    "journal_spj_join" -> ((s, d) => {
      // Storage-partitioned JOIN, one-sided shuffle: journal ⋈ small
      // dim on ns with v2.bucketing.shuffle.enabled — the log side
      // stays in place (no exchange of 100 TB); only the dim side
      // shuffles INTO the log's key-grouped layout. The merge hint
      // keeps the join out of broadcast so the SPJ path is the one
      // exercised end-to-end through the hash gate. Same build-once
      // full seed as journal_grouped_state (both rows read only).
      val tmp = fullSeedStore(s, d)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      val dim = journal(s, d).select("ns").distinct()
        .withColumn("label", upper(col("ns")))
      s.read.format("journal").option("nsGrouped", "true").load(tmp)
        .join(dim.hint("merge"), Seq("ns"))
        .groupBy("ns", "label")
        .agg(count(lit(1)).as("n"), graft.Det.dsum(col("val")).as("sum_val"))
        .orderBy("ns")
    }),
    "journal_changes" -> ((s, d) => {
      // NET change feed (CDC) as a declared, oracle-checked row: build
      // at v1, then append a window of new rows AND deletion-vector-
      // delete every `ukey % 10 = 7` key; changes(v1, v2) must emit
      // exactly (a) inserts = the window's rows MINUS the in-window
      // rows of deleted keys (append+delete nets out) and (b) deletes =
      // the PRE-window rows of deleted keys. This is the cheap tier of
      // JournalStore.changes — seq-pruned insert scan + new-dv-part
      // deletes, nothing store-sized — and the oracle recomputes both
      // tiers from the raw events, so the feed must be exact.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jchanges_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 600)
        .write.format("journal").option("epochSize", "500").save(tmp)
      val store = graft.journal.JournalStore.open(s, tmp)
      val v1 = store.manifest.version
      store.append(journal(s, d).where(col("seq") >= 600 && col("seq") < 1000))
      store.deleteWhereDv(col("ukey") % 10 === 7)
      val v2 = store.manifest.version
      store.changes(v1, v2)
        .select("_change_type", "seq", "ns", "ukey", "payload", "val")
        .orderBy("_change_type", "seq")
    }),
    "journal_incr_agg" -> ((s, d) => {
      // INCREMENTAL MATERIALIZED-VIEW maintenance via the change feed
      // (ops/IncrementalAgg.scala): bootstrap a per-ns (count, exact
      // decimal sum) rollup at v1, then fold the NET changes(v1, v2)
      // window — an append AND a deletion-vector delete — into it.
      // Refresh cost is O(window) (the cheap changes() tier reads only
      // the window's files/vectors), never O(store); the oracle
      // recomputes the rollup from scratch, so the maintained state
      // must hash-match a full recompute exactly (decimal fold — no
      // float drift between the two paths).
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jincr_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 6000)
        .write.format("journal").option("epochSize", "5000").save(tmp)
      val store = graft.journal.JournalStore.open(s, tmp)
      val v1 = store.manifest.version
      val prior = IncrementalAgg.snapshot(
        store.scanUnordered(), Seq("ns"), Seq("val"))
      store.append(journal(s, d).where(col("seq") >= 6000 && col("seq") < 8000))
      store.deleteWhereDv(col("seq") < 2000 && col("ukey") % 10 === 3)
      val state = IncrementalAgg.maintain(prior,
        store.changes(v1, store.manifest.version), Seq("ns"), Seq("val"))
      IncrementalAgg.present(state, Seq("val"))
        .withColumnRenamed("val", "sum_val").orderBy("ns")
    }),
    "journal_rollup_refresh" -> ((s, d) => {
      // The FULL incremental-materialized-view lifecycle
      // (ops/IncrementalAgg.scala MaterializedRollup): the rollup lives
      // AS a journal store (groups = rows, JSON-typed state), refresh()
      // folds the source's NET window since the last sync and lands
      // upserts + dead-group deletes + the sync marker in ONE merge
      // commit — exactly-once by atomicity (a crash between fold and
      // commit re-folds the SAME window onto the SAME state), unchanged
      // groups dropped by merge's payload-keyed no-op suppression.
      // Bootstrap then incremental refresh here; the oracle recomputes
      // from scratch, so the maintained rollup must hash-match it.
      val srcTmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jrup_src_" + tmpTag(d)).toString
      val dstTmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jrup_dst_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcTmp))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dstTmp))
      journal(s, d).where(col("seq") < 6000)
        .write.format("journal").option("epochSize", "5000").save(srcTmp)
      val src = graft.journal.JournalStore.open(s, srcTmp)
      val dst = graft.journal.JournalStore.create(s, dstTmp, epochSize = 1000L)
      MaterializedRollup.refresh(src, dst, Seq("ns"), Seq("val"))
      src.append(journal(s, d).where(col("seq") >= 6000 && col("seq") < 8000))
      src.deleteWhereDv(col("seq") < 1500 && col("ukey") % 10 === 4)
      MaterializedRollup.refresh(src, dst, Seq("ns"), Seq("val"))
      MaterializedRollup.read(dst, Seq("ns"), Seq("val"),
          src.scanUnordered().schema)
        .withColumnRenamed("val", "sum_val").orderBy("ns")
    }),
    "journal_changes_read" -> ((s, d) => {
      // The READER-OPTION surface of the row above (the Delta CDF
      // `readChangeFeed` idiom): the same net window is requested with
      // spark.read options — changeFeed=true + fromVersion/toVersion —
      // and served by ChangeFeedBatchScan through the V1 bridge
      // (sources/JournalV2.scala). Same oracle as journal_changes: the
      // two surfaces must agree with DuckDB's recomputation AND with
      // each other. Different history (deletes land BEFORE the second
      // append, and the deleted-key predicate differs) so the two rows
      // pin different windows, including inserts of keys whose earlier
      // rows were vector-deleted in the same window.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jchread_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 500)
        .write.format("journal").option("epochSize", "400").save(tmp)
      val store = graft.journal.JournalStore.open(s, tmp)
      val v1 = store.manifest.version
      store.deleteWhereDv(col("ukey") % 7 === 3)
      store.append(journal(s, d).where(col("seq") >= 500 && col("seq") < 900))
      val v2 = store.manifest.version
      s.read.format("journal")
        .option("changeFeed", "true")
        .option("fromVersion", v1).option("toVersion", v2)
        .load(tmp)
        .select("_change_type", "seq", "ns", "ukey", "payload", "val")
        .orderBy("_change_type", "seq")
    }),
    "journal_constraints" -> ((s, d) => {
      // Write-time CHECK constraints as a declared, oracle-checked row
      // (Delta's ADD CONSTRAINT): a corrupt producer batch (sign-flipped
      // vals) hits `val >= 0` and is rejected ATOMICALLY — the store
      // keeps its pre-batch maxSeq and zero bytes of the batch —
      // then the producer's fixed retry (original values, same seqs)
      // lands. The final state must therefore equal plain
      // latest-per-key over seq < 1000: any partial leak of the
      // rejected batch, or a silently-accepted corruption, breaks the
      // oracle hash. Enforcement costs ONE pass over the batch (never
      // the store) — the scale contract for a 100 TB ingest gate.
      // Bounds sit inside the smallest fixture (1000 events at
      // sf0.001) so the corrupt batch is non-empty at every SF.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jcons_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 600)
        .write.format("journal").option("epochSize", "500").save(tmp)
      val store = graft.journal.JournalStore.open(s, tmp)
      store.addConstraint("val_nonneg", "val >= 0")
      val slice = journal(s, d).where(col("seq") >= 600 && col("seq") < 1000)
      val corrupt = slice.withColumn("val",
        when(col("ukey") % 7 === 0 && col("val") > 0, -col("val"))
          .otherwise(col("val")))
      val rejected =
        try { store.append(corrupt); false }
        catch { case _: IllegalArgumentException => true }
      // an empty/clean slice (empty-input fixtures) legitimately passes;
      // otherwise a non-rejection means broken enforcement — fail loudly
      // rather than let the oracle diff carry the blame
      val hadBad = !corrupt.where(col("val") < 0).isEmpty
      require(rejected == hadBad,
        s"CHECK enforcement mismatch: rejected=$rejected hadBad=$hadBad")
      if (rejected) store.append(slice) // the fixed retry
      store.latest().orderBy("ns", "ukey")
    }),
    "journal_dv_erase" -> ((s, d) => {
      // Deletion-vector delete as a declared, oracle-checked row: ingest
      // a bounded journal, deleteWhereDv ONE user key (no segment
      // rewrite — the matching rows' (file, position) pairs land in the
      // dv/ sidecar and every read subtracts them), then compact the
      // OLD epochs so part of the vector set is physically purged while
      // the rest still serves reads — the mixed purged/vectored state a
      // live store sits in. The oracle is the same logical filter as
      // journal_erase: DV subtraction, purge included, must be
      // indistinguishable from the rewrite path.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jdv_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      journal(s, d).where(col("seq") < 6000)
        .write.format("journal").option("epochSize", "1000").save(tmp)
      val store = graft.journal.JournalStore.open(s, tmp)
      store.deleteWhereDv(col("ukey") === 7)
      store.compact(upToEpoch = 2, clusterByKey = true)
      store.scan().groupBy("ns")
        .agg(count(lit(1)).as("n"), sum(col("ukey")).as("sum_ukey"),
             max("seq").as("max_seq"))
        .orderBy("ns")
    }),
    "journal_time_travel" -> ((s, d) => {
      // SQL time travel end-to-end (sources/JournalCatalog.loadTable
      // overloads): two INSERT commits → two more manifest versions;
      // VERSION AS OF pins the one the FIRST insert committed, so the
      // second batch must be invisible — snapshot isolation through the
      // catalog, not the Scala API. The pinned table serves that
      // version's exact file set (vacuum keeps retained versions'
      // files), refuses writes, and still epoch-prunes. TIMESTAMP AS OF
      // rides the same resolver (JournalStore.versionAsOf) and is
      // pinned by wall clock in JournalCatalogSpec — a fixed instant
      // can't live in driver-shared SQL.
      val tag = tmpTag(d)
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_jtt_root_$tag").toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val cat = s"jtt_$tag"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.JournalCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.sql(s"CREATE TABLE $cat.ev (ns STRING, ukey BIGINT, ts TIMESTAMP, " +
        "payload STRING, val DOUBLE) USING journal OPTIONS (epochSize '2000')")
      journal(s, d).createOrReplaceTempView(s"jtt_src_$tag")
      s.sql(s"INSERT INTO $cat.ev SELECT ns, ukey, ts, payload, val, seq " +
        s"FROM jtt_src_$tag WHERE seq < 4000")
      // the second commit only needs to EXIST for the pin to have
      // something to be isolated from — bound it like journal_catalog_
      // sql's contract rather than re-ingesting the whole fixture
      s.sql(s"INSERT INTO $cat.ev SELECT ns, ukey, ts, payload, val, seq " +
        s"FROM jtt_src_$tag WHERE seq >= 4000 AND seq < 8000")
      // versions ascending: [create, insert1, insert2] — pin insert1's.
      // (defensive lift: on the empty fixture an insert may not commit)
      val vs = graft.journal.JournalStore.open(s, s"$root/ev").versions()
      val v = vs.lift(1).getOrElse(vs.last)
      s.sql(s"SELECT ns, count(*) AS n_rows, max(seq) AS max_seq " +
        s"FROM $cat.ev VERSION AS OF $v GROUP BY ns ORDER BY ns")
    }),
    "journal_diff" -> ((s, d) => {
      // CDC between two points in time: which keys changed in
      // (S1, S2], with old and new payloads — the downstream-sync
      // primitive an append-only log enables (no deletes by
      // construction). Both states are one (ns, ukey)-keyed aggregate,
      // the diff join is co-partitioned on the same key, and the new
      // side is pre-filtered to keys that actually gained a version
      // (last_seq > S1), so the join's left side is the CHANGE set, not
      // the whole keyspace.
      val j = journal(s, d)
      def st(bound: Long) = j.where(col("seq") <= bound)
        .groupBy("ns", "ukey")
        .agg(max_by(col("payload"), col("seq")).as("payload"),
             max("seq").as("last_seq"))
      val newSt = st(8000)
        .select(col("ns"), col("ukey"),
                col("payload").as("new_payload"), col("last_seq"))
        .where(col("last_seq") > 5000)
      val oldSt = st(5000)
        .select(col("ns"), col("ukey"), col("payload").as("old_payload"))
      newSt.join(oldSt, Seq("ns", "ukey"), "left")
        .select(col("ns"), col("ukey"),
                when(col("old_payload").isNull, "insert")
                  .otherwise("update").as("change"),
                col("old_payload"), col("new_payload"), col("last_seq"))
        .orderBy("ns", "ukey")
    }),
    "journal_ns_counts" -> ((s, d) => {
      // Count-from-metadata: per-namespace row counts + epochs touched,
      // answered from the manifest's (epoch, ns) stats with ZERO segment
      // files opened (the Delta-style "count(*) from stats" shortcut —
      // on a 100 TB log this is a driver-side manifest parse). The
      // bounded ingest (seq < 2000, epochSize 500 → 4 epochs) is the
      // cost; the oracle recomputes the same numbers from raw events,
      // so the stats maintenance itself sits inside the correctness
      // gate.
      val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jns_store_" + tmpTag(d)).toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      val store = graft.journal.JournalStore.create(s, tmp, epochSize = 500L)
      store.append(journal(s, d).where(col("seq") < 2000))
      store.nsStats().orderBy("ns")
    }),
  )

  val oracle: Map[String, String] = Map(
    "journal_scan" -> s"SELECT * FROM ($journalSql) ORDER BY seq",
    "journal_state_at_seq" -> stateSql("WHERE event_id <= 5000"),
    // constraint lifecycle: rejected corrupt batch leaves no trace, the
    // fixed retry lands → state is indistinguishable from a clean ingest
    "journal_constraints" -> stateSql("WHERE event_id < 1000"),
    "journal_changes" ->
      ("SELECT * FROM (" +
        "SELECT 'insert' AS _change_type, event_id AS seq, " +
        "event_type AS ns, user_id AS ukey, props AS payload, " +
        "value AS val FROM events " +
        "WHERE event_id >= 600 AND event_id < 1000 AND user_id % 10 <> 7 " +
        "UNION ALL " +
        "SELECT 'delete', event_id, event_type, user_id, props, value " +
        "FROM events WHERE event_id < 600 AND user_id % 10 = 7) " +
        "ORDER BY _change_type, seq"),
    // reader-option surface: deletes land BEFORE the window's append,
    // so every appended row is an insert (including re-inserted keys)
    // and the deletes are exactly the pre-window rows of deleted keys
    "journal_changes_read" ->
      ("SELECT * FROM (" +
        "SELECT 'insert' AS _change_type, event_id AS seq, " +
        "event_type AS ns, user_id AS ukey, props AS payload, " +
        "value AS val FROM events " +
        "WHERE event_id >= 500 AND event_id < 900 " +
        "UNION ALL " +
        "SELECT 'delete', event_id, event_type, user_id, props, value " +
        "FROM events WHERE event_id < 500 AND user_id % 7 = 3) " +
        "ORDER BY _change_type, seq"),
    "journal_source_state" -> stateSql("WHERE event_id <= 5000"),
    "journal_sink_state" -> stateSql("WHERE event_id <= 5000"),
    "events_paths_topk" ->
      ("WITH s AS (SELECT event_type AS c, " +
        "lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS b, " +
        "lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY event_id) AS a " +
        "FROM events) " +
        "SELECT a || ' > ' || b || ' > ' || c AS path, " +
        "CAST(count(*) AS BIGINT) AS n FROM s " +
        "WHERE a IS NOT NULL AND b IS NOT NULL AND c IS NOT NULL " +
        "GROUP BY 1 ORDER BY n DESC, path LIMIT 10"),
    "events_markov" ->
      ("WITH t AS (SELECT event_type AS to_type, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS from_type " +
        "FROM events) " +
        "SELECT from_type, to_type, count(*) AS n, " +
        graft.Det.sql.r(
          "CAST(count(*) AS DOUBLE) / SUM(count(*)) OVER (PARTITION BY from_type)", 4) +
        " AS p FROM t WHERE from_type IS NOT NULL " +
        "GROUP BY 1, 2 ORDER BY from_type, to_type"),
    "events_retention" ->
      ("WITH a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk " +
        "FROM events), f AS (SELECT user_id, min(wk) AS cohort FROM a GROUP BY 1) " +
        "SELECT f.cohort, CAST(date_diff('day', f.cohort, a.wk) // 7 AS INT) AS week_offset, " +
        "count(*) AS n_users FROM a JOIN f USING (user_id) " +
        "GROUP BY 1, 2 ORDER BY cohort, week_offset"),
    "events_funnel" -> {
      val W = 86400000000L
      // existential form: ordered (ts, event_id) chains within the 24h
      // window of the anchoring view — no lambdas (DuckDB 1.0
      // list_reduce is batch-sensitive)
      def lt(a: String, b: String) =
        s"($a.ts < $b.ts OR ($a.ts = $b.ts AND $a.event_id < $b.event_id))"
      "WITH u AS (SELECT DISTINCT user_id FROM events), " +
        "s1 AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'), " +
        "s2 AS (SELECT DISTINCT v.user_id FROM events v JOIN events c " +
        "ON c.user_id = v.user_id AND v.event_type = 'view' AND c.event_type = 'click' " +
        s"AND ${lt("v", "c")} AND epoch_us(c.ts) - epoch_us(v.ts) <= $W), " +
        "s3 AS (SELECT DISTINCT v.user_id FROM events v JOIN events c " +
        "ON c.user_id = v.user_id AND v.event_type = 'view' AND c.event_type = 'click' " +
        s"AND ${lt("v", "c")} JOIN events p ON p.user_id = v.user_id " +
        s"AND p.event_type = 'purchase' AND ${lt("c", "p")} " +
        s"AND epoch_us(p.ts) - epoch_us(v.ts) <= $W), " +
        "st AS (SELECT u.user_id, CASE " +
        "WHEN u.user_id IN (SELECT user_id FROM s3) THEN 3 " +
        "WHEN u.user_id IN (SELECT user_id FROM s2) THEN 2 " +
        "WHEN u.user_id IN (SELECT user_id FROM s1) THEN 1 ELSE 0 END AS stage FROM u) " +
        "SELECT stage, count(*) AS n_users FROM st GROUP BY 1 ORDER BY stage"
    },
    "journal_latest" -> stateSql(""),
    "events_wow_growth" ->
      ("WITH weekly AS (SELECT event_type, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk, " +
        "count(*) AS n FROM events GROUP BY 1, 2), " +
        "lagged AS (SELECT event_type, wk, n, " +
        "lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev " +
        "FROM weekly) " +
        "SELECT event_type, wk, n, prev, " +
        graft.Det.sql.r("(CAST(n AS DOUBLE) - CAST(prev AS DOUBLE)) / " +
          "CAST(prev AS DOUBLE)", 4) + " AS wow_growth " +
        "FROM lagged WHERE prev IS NOT NULL ORDER BY event_type, wk"),
    // the boundary-count peak must agree with the same session intervals
    "events_concurrency" ->
      ("WITH x AS (SELECT user_id, epoch_us(ts) AS tus, event_id AS eid, " +
        "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev " +
        "FROM events), " +
        "y AS (SELECT user_id, tus, eid, " +
        "CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS nu FROM x), " +
        "z AS (SELECT user_id, tus, CAST(sum(nu) OVER (" +
        "PARTITION BY user_id ORDER BY tus, eid ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid " +
        "FROM y), " +
        "sess AS (SELECT user_id, sid, min(tus) AS t0, max(tus) AS t1 " +
        "FROM z GROUP BY 1, 2), " +
        "bounds AS (SELECT user_id, t0 AS t, 1 AS d FROM sess " +
        "UNION ALL SELECT user_id, t1 AS t, -1 AS d FROM sess), " +
        "live AS (SELECT CAST(sum(d) OVER (ORDER BY t, d, user_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS live FROM bounds) " +
        "SELECT CAST((SELECT count(*) FROM bounds) / 2 AS BIGINT) " +
        "AS n_sessions, max(live) AS peak_concurrency FROM live"),
    "events_interpolate" ->
      ("WITH e AS (SELECT * FROM events WHERE event_type = 'purchase' " +
        "AND ts >= TIMESTAMP '2024-01-10 00:00:00' " +
        "AND ts < TIMESTAMP '2024-01-11 00:00:00'), " +
        "obs AS (SELECT date_trunc('minute', ts) AS m, " +
        graft.Det.sql.davg("value", 4) + " AS v FROM e GROUP BY 1), " +
        "spine AS (SELECT unnest(generate_series(" +
        "(SELECT date_trunc('minute', min(ts)) FROM e), " +
        "(SELECT date_trunc('minute', max(ts)) FROM e), INTERVAL 1 MINUTE)) AS m), " +
        "g AS (SELECT spine.m, obs.v FROM spine LEFT JOIN obs USING (m)), " +
        "w AS (SELECT m, v, " +
        "last_value(v IGNORE NULLS) OVER win_p AS pv, " +
        "last_value(CASE WHEN v IS NOT NULL THEN m END IGNORE NULLS) " +
        "OVER win_p AS pm, " +
        "first_value(v IGNORE NULLS) OVER win_n AS nv, " +
        "first_value(CASE WHEN v IS NOT NULL THEN m END IGNORE NULLS) " +
        "OVER win_n AS nm FROM g WINDOW " +
        "win_p AS (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "win_n AS (ORDER BY m ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "SELECT m, " + graft.Det.sql.r(
          "CASE WHEN v IS NOT NULL THEN v WHEN pv IS NULL THEN nv " +
          "WHEN nv IS NULL THEN pv ELSE pv + (nv - pv) * " +
          "(CAST(date_diff('minute', pm, m) AS DOUBLE) / " +
          "CAST(date_diff('minute', pm, nm) AS DOUBLE)) END", 4) +
        " AS v_interp FROM w ORDER BY m"),
    "events_resample" ->
      ("WITH e AS (SELECT * FROM events WHERE event_type = 'purchase' " +
        "AND ts >= TIMESTAMP '2024-01-10 00:00:00' " +
        "AND ts < TIMESTAMP '2024-01-11 00:00:00'), " +
        "b AS (SELECT date_trunc('minute', ts) AS m, count(*) AS n FROM e GROUP BY 1), " +
        "spine AS (SELECT unnest(generate_series(" +
        "(SELECT date_trunc('minute', min(ts)) FROM e), " +
        "(SELECT date_trunc('minute', max(ts)) FROM e), INTERVAL 1 MINUTE)) AS m) " +
        "SELECT spine.m, COALESCE(b.n, 0) AS n FROM spine LEFT JOIN b USING (m) " +
        "WHERE spine.m IS NOT NULL ORDER BY m"),
    "events_sessionize" ->
      ("WITH x AS (SELECT user_id, epoch_us(ts) AS tus, event_id AS eid, " +
        "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev " +
        "FROM events), " +
        "y AS (SELECT user_id, tus, eid, " +
        "CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS nu FROM x), " +
        "z AS (SELECT user_id, tus, CAST(sum(nu) OVER (" +
        "PARTITION BY user_id ORDER BY tus, eid ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id " +
        "FROM y) " +
        "SELECT user_id, session_id, count(*) AS n_events, " +
        "min(tus) AS start_us, max(tus) AS end_us " +
        "FROM z GROUP BY 1, 2 ORDER BY user_id, session_id"),
    "events_rolling_dau" ->
      ("WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events), " +
        "mx AS (SELECT max(day) AS mxd FROM du), " +
        "ex AS (SELECT user_id, CAST(unnest(generate_series(day, day + 6, " +
        "INTERVAL 1 DAY)) AS DATE) AS d FROM du) " +
        "SELECT d, count(DISTINCT user_id) AS dau7 FROM ex, mx " +
        "WHERE d <= mxd GROUP BY d ORDER BY d"),
    "events_attribution" ->
      ("SELECT c.event_id AS c_id, c.user_id, c.ts AS c_ts, " +
        "i.event_id AS i_id, i.ts AS i_ts " +
        "FROM (SELECT * FROM events WHERE event_type = 'click') c " +
        "JOIN (SELECT * FROM events WHERE event_type = 'view') i " +
        "ON c.user_id = i.user_id AND i.ts <= c.ts " +
        "AND i.ts >= c.ts - INTERVAL 5 MINUTE " +
        "ORDER BY c_id, i_id"),
    "journal_key_history" ->
      ("SELECT event_id AS seq, event_type AS ns, ts, props AS payload, " +
        "value AS val FROM events WHERE user_id = 42 ORDER BY seq"),
    "journal_seq_range" ->
      s"SELECT * FROM ($journalSql) WHERE seq >= 1000 AND seq < 2000 ORDER BY seq",
    "journal_format_scan" ->
      s"SELECT * FROM ($journalSql) WHERE seq >= 1000 AND seq < 3000 ORDER BY seq",
    // replayed txn versions are metadata no-ops — had either retry
    // landed, seqs 1000-1999 would appear twice and the hash would differ
    "journal_txn_append" ->
      ("SELECT event_id AS seq, event_type AS ns, user_id AS ukey, " +
        "value AS val FROM events WHERE event_id < 3000 ORDER BY seq"),
    // the zero-exchange ns-grouped plan must produce EXACTLY the state
    // the shuffling plan produces
    "journal_grouped_state" -> stateSql(""),
    "journal_tail_scan" ->
      ("SELECT seq, ns, ukey, val FROM (" +
        "SELECT event_id AS seq, event_type AS ns, user_id AS ukey, " +
        "value AS val FROM events ORDER BY event_id DESC LIMIT 500) " +
        "ORDER BY seq"),
    // maintained rollup-store ≡ from-scratch recompute
    "journal_rollup_refresh" ->
      ("SELECT event_type AS ns, count(*) AS n, " +
        graft.Det.sql.dsum("value") + " AS sum_val FROM events " +
        "WHERE event_id < 8000 " +
        "AND NOT (event_id < 1500 AND user_id % 10 = 4) " +
        "GROUP BY 1 ORDER BY ns"),
    // maintained rollup ≡ from-scratch recompute over the surviving rows
    "journal_incr_agg" ->
      ("SELECT event_type AS ns, count(*) AS n, " +
        graft.Det.sql.dsum("value") + " AS sum_val FROM events " +
        "WHERE event_id < 8000 " +
        "AND NOT (event_id < 2000 AND user_id % 10 = 3) " +
        "GROUP BY 1 ORDER BY ns"),
    "journal_spj_join" ->
      ("SELECT event_type AS ns, upper(event_type) AS label, " +
        "count(*) AS n, " + graft.Det.sql.dsum("value") + " AS sum_val " +
        "FROM events GROUP BY 1, 2 ORDER BY ns"),
    "journal_table_props" ->
      ("SELECT * FROM (SELECT 'owner' AS prop_key, 'pipeline-a' AS prop_value " +
        "UNION ALL SELECT 'retention.days', '45') ORDER BY prop_key"),
    // the clone pins state at clone time: the first ingest minus the
    // pre-clone vector delete; the source's later divergence is invisible
    "journal_clone" ->
      ("SELECT event_type AS ns, count(*) AS n, " +
        "CAST(sum(user_id) AS BIGINT) AS sum_ukey, " +
        "CAST(max(event_id) AS BIGINT) AS max_seq " +
        "FROM events WHERE event_id < 4000 " +
        "AND (user_id IS NULL OR user_id <> 7) " +
        "GROUP BY 1 ORDER BY ns"),
    // the version walk is metadata, but each version's live-row count is
    // a logical prefix of the raw events — derived here commit by commit
    "journal_history" ->
      ("WITH a1 AS (SELECT CAST(max(event_id) AS BIGINT) AS mx, " +
        "CAST(count(*) AS BIGINT) AS n FROM events WHERE event_id < 600), " +
        "d2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events " +
        "WHERE event_id < 600 AND (user_id IS NULL OR user_id % 2 <> 1)), " +
        "a3 AS (SELECT CAST(max(event_id) AS BIGINT) AS mx, " +
        "(SELECT n FROM d2) + CAST(count(*) AS BIGINT) AS n FROM events " +
        "WHERE event_id >= 600 AND event_id < 1000) " +
        // version numbers are 1-based, and each epoch-crossing append is
        // followed by its deterministic AUTO-CHECKPOINT commit (epochSize
        // 500; seqs 0..599 then 600..999 both complete an epoch) — the
        // oracle pins those too: checkpoints change replay cost, never
        // visible state (same max_seq, same n_live as their append)
        "SELECT * FROM (" +
        "SELECT CAST(1 AS BIGINT) AS version, 'create' AS op, " +
        "CAST(-1 AS BIGINT) AS max_seq, CAST(0 AS BIGINT) AS n_live " +
        "UNION ALL SELECT 2, 'append', (SELECT mx FROM a1), (SELECT n FROM a1) " +
        "UNION ALL SELECT 3, 'checkpoint', (SELECT mx FROM a1), (SELECT n FROM a1) " +
        "UNION ALL SELECT 4, 'delete-dv', (SELECT mx FROM a1), (SELECT n FROM d2) " +
        "UNION ALL SELECT 5, 'append', (SELECT mx FROM a3), (SELECT n FROM a3) " +
        "UNION ALL SELECT 6, 'checkpoint', (SELECT mx FROM a3), (SELECT n FROM a3) " +
        "UNION ALL SELECT 7, 'set-meta', (SELECT mx FROM a3), (SELECT n FROM a3) " +
        "UNION ALL SELECT 8, 'restore', (SELECT mx FROM a1), (SELECT n FROM d2)" +
        ") ORDER BY version"),
    "journal_namespaces" ->
      ("SELECT event_type AS ns, count(*) AS n, " +
        "CAST(min(event_id) AS BIGINT) AS min_seq, CAST(max(event_id) AS BIGINT) AS max_seq " +
        "FROM events GROUP BY 1 ORDER BY ns"),
    "journal_checkpoint" -> stateSql("WHERE event_id < 8000"),
    "journal_replay_tail" ->
      ("SELECT event_type AS ns, count(*) AS n FROM events " +
        "WHERE event_id >= (SELECT max(event_id) - max(event_id) % 1000 FROM events) " +
        "GROUP BY 1 ORDER BY ns"),
    "journal_asof_ts" ->
      stateSql("WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'"),
    "journal_scd2" ->
      ("SELECT event_type AS ns, user_id AS ukey, event_id AS valid_from, " +
        "lead(event_id) OVER (PARTITION BY event_type, user_id ORDER BY event_id) - 1 " +
        "AS valid_to, props AS payload FROM events " +
        "ORDER BY ns, ukey, valid_from"),
    "journal_write_segments" ->
      ("SELECT event_id // 5000 AS epoch, count(*) AS n_rows, " +
        "CAST(min(event_id) AS BIGINT) AS min_seq, CAST(max(event_id) AS BIGINT) AS max_seq " +
        "FROM events GROUP BY 1 ORDER BY epoch"),
    "journal_ns_counts" ->
      ("SELECT event_type AS ns, count(*) AS n_rows, " +
        "CAST(count(DISTINCT event_id // 500) AS BIGINT) AS n_epochs " +
        "FROM events WHERE event_id < 2000 GROUP BY 1 ORDER BY ns"),
    "journal_dim_join" ->
      ("SELECT event_type AS ns, count(*) AS n, " +
        "CAST(sum(user_id) AS BIGINT) AS sum_ukey, " +
        "CAST(max(event_id) AS BIGINT) AS max_seq " +
        "FROM events WHERE event_id < 6000 AND user_id BETWEEN 0 AND 9 " +
        "GROUP BY 1 ORDER BY ns"),
    "journal_meta_agg" ->
      ("SELECT count(*) AS n_rows, " +
        "CAST(min(event_id) AS BIGINT) AS min_seq, " +
        "CAST(max(event_id) AS BIGINT) AS max_seq, " +
        "CAST(min(user_id) AS BIGINT) AS min_ukey, " +
        "CAST(max(user_id) AS BIGINT) AS max_ukey, " +
        "min(ts) AS min_ts, max(ts) AS max_ts " +
        "FROM events WHERE event_id < 6000"),
    // analyze() replayed: the same 512-register md5 HLL arithmetic as
    // the agg_hll_custom oracle, per melted column, beside exact
    // nulls / typed-then-cast min/max
    "journal_analyze" ->
      ("WITH src AS (SELECT event_type AS ns, user_id AS ukey, " +
        "event_id AS seq, props AS payload FROM events " +
        "WHERE event_id < 6000), " +
        "mel AS (SELECT 'ns' AS c, ns AS v FROM src UNION ALL " +
        "SELECT 'payload' AS c, payload AS v FROM src UNION ALL " +
        "SELECT 'seq' AS c, CAST(seq AS VARCHAR) AS v FROM src UNION ALL " +
        "SELECT 'ukey' AS c, CAST(ukey AS VARCHAR) AS v FROM src), " +
        "h AS (SELECT c, CAST(concat('0x', substr(md5(v), 1, 15)) " +
        "AS BIGINT) AS h FROM mel WHERE v IS NOT NULL), " +
        "r AS (SELECT c, h % 512 AS b, CASE WHEN h // 512 = 0 THEN 52 " +
        "ELSE 52 - length(bin(h // 512)) END AS rho FROM h), " +
        "mm AS (SELECT c, b, max(rho) AS m FROM r GROUP BY 1, 2), " +
        "e AS (SELECT c, count(*) AS regs_hit, " +
        "CAST(sum(1::BIGINT << CAST(52 - m AS INT)) AS BIGINT) AS w_hit " +
        "FROM mm GROUP BY 1), " +
        "st AS (SELECT 'ns' AS c, count(*) AS n_rows, " +
        "count(*) - count(ns) AS n_nulls, min(ns) AS vmin, max(ns) AS vmax " +
        "FROM src UNION ALL " +
        "SELECT 'payload', count(*), count(*) - count(payload), " +
        "min(payload), max(payload) FROM src UNION ALL " +
        "SELECT 'seq', count(*), count(*) - count(seq), " +
        "CAST(min(seq) AS VARCHAR), CAST(max(seq) AS VARCHAR) FROM src " +
        "UNION ALL SELECT 'ukey', count(*), count(*) - count(ukey), " +
        "CAST(min(ukey) AS VARCHAR), CAST(max(ukey) AS VARCHAR) FROM src) " +
        "SELECT st.c AS col_name, st.n_rows, st.n_nulls, e.regs_hit, " +
        "e.w_hit + (512 - e.regs_hit) * 4503599627370496 AS weight, " +
        "st.vmin, st.vmax FROM st JOIN e USING (c) ORDER BY col_name"),
    // the incremental twin: the SAME register arithmetic over the
    // UNION window the analyze+append lineage covers
    "journal_analyze_incr" ->
      ("WITH src AS (SELECT event_type AS ns, user_id AS ukey, " +
        "event_id AS seq, props AS payload FROM events " +
        "WHERE event_id < 7000), " +
        "mel AS (SELECT 'ns' AS c, ns AS v FROM src UNION ALL " +
        "SELECT 'payload' AS c, payload AS v FROM src UNION ALL " +
        "SELECT 'seq' AS c, CAST(seq AS VARCHAR) AS v FROM src UNION ALL " +
        "SELECT 'ukey' AS c, CAST(ukey AS VARCHAR) AS v FROM src), " +
        "h AS (SELECT c, CAST(concat('0x', substr(md5(v), 1, 15)) " +
        "AS BIGINT) AS h FROM mel WHERE v IS NOT NULL), " +
        "r AS (SELECT c, h % 512 AS b, CASE WHEN h // 512 = 0 THEN 52 " +
        "ELSE 52 - length(bin(h // 512)) END AS rho FROM h), " +
        "mm AS (SELECT c, b, max(rho) AS m FROM r GROUP BY 1, 2), " +
        "e AS (SELECT c, count(*) AS regs_hit, " +
        "CAST(sum(1::BIGINT << CAST(52 - m AS INT)) AS BIGINT) AS w_hit " +
        "FROM mm GROUP BY 1), " +
        "st AS (SELECT 'ns' AS c, count(*) AS n_rows, " +
        "count(*) - count(ns) AS n_nulls, min(ns) AS vmin, max(ns) AS vmax " +
        "FROM src UNION ALL " +
        "SELECT 'payload', count(*), count(*) - count(payload), " +
        "min(payload), max(payload) FROM src UNION ALL " +
        "SELECT 'seq', count(*), count(*) - count(seq), " +
        "CAST(min(seq) AS VARCHAR), CAST(max(seq) AS VARCHAR) FROM src " +
        "UNION ALL SELECT 'ukey', count(*), count(*) - count(ukey), " +
        "CAST(min(ukey) AS VARCHAR), CAST(max(ukey) AS VARCHAR) FROM src) " +
        "SELECT st.c AS col_name, st.n_rows, st.n_nulls, e.regs_hit, " +
        "e.w_hit + (512 - e.regs_hit) * 4503599627370496 AS weight, " +
        "st.vmin, st.vmax FROM st JOIN e USING (c) ORDER BY col_name"),
    // the skipping row's oracle: the same range over the source window
    // (DuckDB's binary collation = the scan's unsigned-UTF-8 domain)
    "journal_skip_scan" ->
      ("SELECT event_type AS ns, user_id AS ukey, event_id AS seq, " +
        "props AS payload FROM events WHERE event_id < 6000 " +
        "AND user_id >= 10 AND user_id < 50 AND props >= 'a' " +
        "ORDER BY seq"),
    // the null/prefix skipping row's oracle: the same projection +
    // filters over the source window (LIKE 'p%' = the prefix window;
    // DuckDB's binary collation = the scan's unsigned-UTF-8 domain)
    "journal_skip_nulls" ->
      ("WITH src AS (SELECT event_id AS seq, user_id AS ukey, " +
        "props AS payload, CASE WHEN event_id < 2000 THEN NULL " +
        "ELSE value END AS val, " +
        "TIMESTAMP '2024-01-01 00:00:00' + event_id * INTERVAL 1 MINUTE " +
        "AS tn FROM events WHERE event_id < 6000) " +
        "SELECT " +
        "(SELECT count(*) FROM src WHERE val IS NULL) AS n_null, " +
        "(SELECT CAST(sum(ukey) AS BIGINT) FROM src WHERE val IS NULL) " +
        "AS k_null, " +
        "(SELECT count(*) FROM src WHERE val IS NOT NULL) AS n_val, " +
        "(SELECT round(sum(val), 4) FROM src WHERE val IS NOT NULL) " +
        "AS v_sum, " +
        "(SELECT count(*) FROM src WHERE payload LIKE '{\"k\": 9%') " +
        "AS n_prefix, " +
        "(SELECT CAST(sum(seq) AS BIGINT) FROM src " +
        "WHERE payload LIKE '{\"k\": 9%') AS s_prefix, " +
        "(SELECT count(*) FROM src " +
        "WHERE tn < TIMESTAMP '2024-01-03 00:00:00') AS n_ntz, " +
        "(SELECT CAST(sum(seq) AS BIGINT) FROM src " +
        "WHERE tn < TIMESTAMP '2024-01-03 00:00:00') AS s_ntz"),
    // the advisor row's oracle: the readout recomputed relationally —
    // one file per (epoch, ns) directory of the declared layout, the
    // fragmentation label at the same threshold, one column row per
    // analyzed column (sketch coverage = every live file)
    "journal_advise" ->
      ("WITH src AS (SELECT event_id AS seq, event_type AS ns " +
        "FROM events WHERE event_id < 6000), " +
        "dirs AS (SELECT ns, seq // 1000 AS epoch, count(*) AS n " +
        "FROM src GROUP BY 1, 2), " +
        "nsrows AS (SELECT 'ns' AS scope, ns AS name, " +
        "count(*) AS files, CAST(sum(n) AS BIGINT) AS n_rows, " +
        "CASE WHEN count(*) >= 8 THEN 'compact' ELSE '' END AS advice " +
        "FROM dirs GROUP BY ns), " +
        "tot AS (SELECT count(*) AS files, CAST(sum(n) AS BIGINT) " +
        "AS n_rows FROM dirs), " +
        "colrows AS (SELECT 'column' AS scope, c AS name, tot.files, " +
        "tot.n_rows, CAST(NULL AS VARCHAR) AS advice FROM tot, " +
        "(VALUES ('ns'), ('payload'), ('seq'), ('ts'), ('ukey'), " +
        "('val')) t(c) WHERE tot.files > 0) " +
        "SELECT * FROM (SELECT * FROM nsrows UNION ALL " +
        "SELECT * FROM colrows) ORDER BY scope, name"),
    // the refold twin: the oracle recomputes the register state over
    // the SURVIVING rows (NULL keys survive a three-valued DELETE),
    // proving survivors-refold ≡ analyze-of-survivors value-exactly
    "journal_analyze_refold" ->
      ("WITH src AS (SELECT event_type AS ns, user_id AS ukey, " +
        "event_id AS seq, props AS payload FROM events " +
        "WHERE event_id < 6000 " +
        "AND (user_id IS NULL OR user_id % 5 <> 0)), " +
        "mel AS (SELECT 'ns' AS c, ns AS v FROM src UNION ALL " +
        "SELECT 'payload' AS c, payload AS v FROM src UNION ALL " +
        "SELECT 'seq' AS c, CAST(seq AS VARCHAR) AS v FROM src UNION ALL " +
        "SELECT 'ukey' AS c, CAST(ukey AS VARCHAR) AS v FROM src), " +
        "h AS (SELECT c, CAST(concat('0x', substr(md5(v), 1, 15)) " +
        "AS BIGINT) AS h FROM mel WHERE v IS NOT NULL), " +
        "r AS (SELECT c, h % 512 AS b, CASE WHEN h // 512 = 0 THEN 52 " +
        "ELSE 52 - length(bin(h // 512)) END AS rho FROM h), " +
        "mm AS (SELECT c, b, max(rho) AS m FROM r GROUP BY 1, 2), " +
        "e AS (SELECT c, count(*) AS regs_hit, " +
        "CAST(sum(1::BIGINT << CAST(52 - m AS INT)) AS BIGINT) AS w_hit " +
        "FROM mm GROUP BY 1), " +
        "st AS (SELECT 'ns' AS c, count(*) AS n_rows, " +
        "count(*) - count(ns) AS n_nulls, min(ns) AS vmin, max(ns) AS vmax " +
        "FROM src UNION ALL " +
        "SELECT 'payload', count(*), count(*) - count(payload), " +
        "min(payload), max(payload) FROM src UNION ALL " +
        "SELECT 'seq', count(*), count(*) - count(seq), " +
        "CAST(min(seq) AS VARCHAR), CAST(max(seq) AS VARCHAR) FROM src " +
        "UNION ALL SELECT 'ukey', count(*), count(*) - count(ukey), " +
        "CAST(min(ukey) AS VARCHAR), CAST(max(ukey) AS VARCHAR) FROM src) " +
        "SELECT st.c AS col_name, st.n_rows, st.n_nulls, e.regs_hit, " +
        "e.w_hit + (512 - e.regs_hit) * 4503599627370496 AS weight, " +
        "st.vmin, st.vmax FROM st JOIN e USING (c) ORDER BY col_name"),
    // the sweep replayed: survivors = rows at/after the bound; the
    // erased count rides every output row as a constant column
    "journal_expire_sql" ->
      ("WITH kept AS (SELECT event_type AS ns, event_id FROM events " +
        "WHERE event_id < 6000 AND ts >= TIMESTAMP '2024-01-10 00:00:00'), " +
        "del AS (SELECT count(*) AS n_deleted FROM events " +
        "WHERE event_id < 6000 AND ts < TIMESTAMP '2024-01-10 00:00:00') " +
        "SELECT ns, count(*) AS n_rows, " +
        "CAST(min(event_id) AS BIGINT) AS min_seq, " +
        "CAST(max(event_id) AS BIGINT) AS max_seq, n_deleted " +
        "FROM kept CROSS JOIN del GROUP BY ns, n_deleted ORDER BY ns"),
    // declared retention replayed: every 2024 fixture row is older
    // than now − 30 days (the suite clock is ≥ 2026), the 64 fresh
    // current_timestamp rows are kept, and the second sweep is 0
    "journal_retention_sql" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_deleted, " +
        "CAST(64 AS BIGINT) AS n_kept, " +
        "CAST(0 AS BIGINT) AS n_second_sweep " +
        "FROM events WHERE event_id < 6000"),
    // the store's materializations replayed: tier is the constant
    // default, bucket = ukey % 8, rid = 100 + 2·seq (caller seqs are
    // the dense event_ids, so rank == seq)
    "journal_colspec_sql" ->
      ("SELECT event_type AS ns, count(*) AS n_rows, " +
        "CAST(sum(100 + 2 * event_id) AS BIGINT) AS sum_rid, " +
        "CAST(min(100 + 2 * event_id) AS BIGINT) AS min_rid, " +
        "CAST(sum(user_id % 8) AS BIGINT) AS sum_bucket, " +
        "count(*) AS n_bronze " +
        "FROM events WHERE event_id < 3000 GROUP BY 1 ORDER BY ns"),
    "journal_skew_report" ->
      ("WITH c AS (SELECT event_type AS ns, user_id AS ukey, count(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "r AS (SELECT ns, ukey, n, " +
        "row_number() OVER (PARTITION BY ns ORDER BY n DESC, ukey) AS rk, " +
        "SUM(n) OVER (PARTITION BY ns) AS ns_rows FROM c) " +
        "SELECT ns, CAST(rk AS INT) AS rk, ukey, n, " +
        graft.Det.sql.r("CAST(n AS DOUBLE) / ns_rows", 4) + " AS share " +
        "FROM r WHERE rk <= 3 ORDER BY ns, rk"),
    "journal_ns_meta" ->
      ("SELECT event_type AS ns, count(*) AS n_rows, " +
        "CAST(min(user_id) AS BIGINT) AS min_ukey, " +
        "CAST(max(user_id) AS BIGINT) AS max_ukey, " +
        "CAST(min(event_id) AS BIGINT) AS min_seq, " +
        "CAST(max(event_id) AS BIGINT) AS max_seq " +
        "FROM events WHERE event_id < 6000 GROUP BY 1 ORDER BY ns"),
    "events_spine_recursive" ->
      ("WITH RECURSIVE spine(day) AS (" +
        "SELECT CAST(date_trunc('day', (SELECT min(ts) FROM events)) AS DATE) " +
        "UNION ALL SELECT CAST(day + INTERVAL 1 DAY AS DATE) FROM spine " +
        "WHERE day < (SELECT CAST(date_trunc('day', max(ts)) AS DATE) FROM events)), " +
        "daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1) " +
        "SELECT spine.day, COALESCE(daily.n, 0) AS n " +
        "FROM spine LEFT JOIN daily USING (day) ORDER BY day"),
    "events_anomaly" ->
      ("WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, " +
        "count(*) AS n FROM events GROUP BY 1, 2), " +
        "w AS (SELECT event_type, day, n, count(*) OVER win AS cnt7, " +
        "CAST(sum(n) OVER win AS BIGINT) AS sum7, " +
        "CAST(sum(n * n) OVER win AS BIGINT) AS ssq7 FROM daily " +
        "WINDOW win AS (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) " +
        "SELECT event_type, day, n, " +
        graft.Det.sql.r(
          "CASE WHEN (CAST(ssq7 AS DOUBLE) - CAST(sum7 AS DOUBLE) * " +
          "CAST(sum7 AS DOUBLE) / 7.0) / 7.0 > 0.0 THEN " +
          "(CAST(n AS DOUBLE) - CAST(sum7 AS DOUBLE) / 7.0) / " +
          "sqrt((CAST(ssq7 AS DOUBLE) - CAST(sum7 AS DOUBLE) * " +
          "CAST(sum7 AS DOUBLE) / 7.0) / 7.0) ELSE 0.0 END", 4) +
        " AS z FROM w WHERE cnt7 = 7 ORDER BY event_type, day"),
    "journal_time_travel" ->
      ("SELECT event_type AS ns, count(*) AS n_rows, " +
        "CAST(max(event_id) AS BIGINT) AS max_seq " +
        "FROM events WHERE event_id < 4000 GROUP BY 1 ORDER BY ns"),
    // compaction must be invisible to every reader
    "journal_compact_scan" ->
      ("SELECT event_type AS ns, count(*) AS n, " +
        "CAST(sum(user_id) AS BIGINT) AS sum_ukey, " +
        "CAST(min(event_id) AS BIGINT) AS min_seq, " +
        "CAST(max(event_id) AS BIGINT) AS max_seq " +
        "FROM events WHERE event_id < 6000 " +
        "GROUP BY 1 ORDER BY ns"),
    // z-order is a physical layout: results must equal the plain filter
    "journal_zorder_scan" ->
      ("SELECT event_type AS ns, count(*) AS n, " +
        "CAST(sum(user_id) AS BIGINT) AS sum_ukey, " +
        "CAST(min(event_id) AS BIGINT) AS min_seq, " +
        "CAST(max(event_id) AS BIGINT) AS max_seq " +
        "FROM events WHERE event_id < 6000 " +
        "AND user_id BETWEEN 2 AND 40 " +
        "AND value BETWEEN 10.0 AND 120.0 " +
        "GROUP BY 1 ORDER BY ns"),
    // restore must read exactly as the restored commit's prefix
    "journal_restore" ->
      ("SELECT event_type AS ns, count(*) AS n, " +
        "CAST(sum(user_id) AS BIGINT) AS sum_ukey, " +
        "CAST(max(event_id) AS BIGINT) AS max_seq " +
        "FROM events WHERE event_id < 3000 GROUP BY 1 ORDER BY ns"),
    // merge = the full-outer-join reconciliation, clause by clause
    "journal_merge_upsert" ->
      ("WITH state1 AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload " +
        "FROM events WHERE event_id < 5000 GROUP BY 1, 2), " +
        "src AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload, " +
        "arg_max(value, event_id) AS val " +
        "FROM events WHERE event_id >= 5000 AND event_id < 7000 " +
        "GROUP BY 1, 2), " +
        "merged AS (SELECT COALESCE(s.ns, t.ns) AS ns, " +
        "COALESCE(s.ukey, t.ukey) AS ukey, " +
        "CASE WHEN s.ns IS NOT NULL AND t.ns IS NOT NULL " +
        "AND COALESCE(s.val < 20.0, FALSE) THEN NULL " +
        "WHEN s.ns IS NOT NULL THEN s.payload " +
        "ELSE t.payload END AS payload " +
        "FROM src s FULL OUTER JOIN state1 t " +
        "ON s.ns = t.ns AND s.ukey IS NOT DISTINCT FROM t.ukey) " +
        "SELECT ns, ukey, payload FROM merged WHERE payload IS NOT NULL " +
        "ORDER BY ns, ukey"),
    // the large-source merge path: same reconciliation, source
    // widened past the small-path threshold by 4000 synthetic keys
    "journal_merge_bulk" ->
      ("WITH state1 AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload " +
        "FROM events WHERE event_id < 5000 GROUP BY 1, 2), " +
        "src AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload, " +
        "arg_max(value, event_id) AS val " +
        "FROM events WHERE event_id >= 5000 GROUP BY 1, 2 " +
        "UNION ALL SELECT 'bulk' AS ns, 1000000 + i AS ukey, " +
        "'b' || i AS payload, CAST(i AS DOUBLE) AS val FROM range(4000) t(i)), " +
        "merged AS (SELECT COALESCE(s.ns, t.ns) AS ns, " +
        "COALESCE(s.ukey, t.ukey) AS ukey, " +
        "CASE WHEN s.ns IS NOT NULL AND t.ns IS NOT NULL " +
        "AND COALESCE(s.val < 20.0, FALSE) THEN NULL " +
        "WHEN s.ns IS NOT NULL THEN s.payload " +
        "ELSE t.payload END AS payload " +
        "FROM src s FULL OUTER JOIN state1 t " +
        "ON s.ns = t.ns AND s.ukey IS NOT DISTINCT FROM t.ukey) " +
        "SELECT ns, ukey, payload FROM merged WHERE payload IS NOT NULL " +
        "ORDER BY ns, ukey"),
    // the SQL MERGE INTO statement = the same reconciliation, different window
    "journal_merge_sql" ->
      ("WITH state1 AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload " +
        "FROM events WHERE event_id < 4000 GROUP BY 1, 2), " +
        "src AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload, " +
        "arg_max(value, event_id) AS val " +
        "FROM events WHERE event_id >= 4000 AND event_id < 6000 " +
        "GROUP BY 1, 2), " +
        "merged AS (SELECT COALESCE(s.ns, t.ns) AS ns, " +
        "COALESCE(s.ukey, t.ukey) AS ukey, " +
        "CASE WHEN s.ns IS NOT NULL AND t.ns IS NOT NULL " +
        "AND COALESCE(s.val < 20.0, FALSE) THEN NULL " +
        "WHEN s.ns IS NOT NULL THEN s.payload " +
        "ELSE t.payload END AS payload " +
        "FROM src s FULL OUTER JOIN state1 t " +
        "ON s.ns = t.ns AND s.ukey IS NOT DISTINCT FROM t.ukey) " +
        "SELECT ns, ukey, payload FROM merged WHERE payload IS NOT NULL " +
        "ORDER BY ns, ukey"),
    // by-source UPDATE reconcile: matched keys take the source payload,
    // state-only keys with the even gate mark stale (||, null-propagating
    // like Spark's concat), source-only keys stay absent (no INSERT)
    "journal_merge_stale" ->
      ("WITH state1 AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload " +
        "FROM events WHERE event_id < 600 GROUP BY 1, 2), " +
        "src AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload " +
        "FROM events WHERE event_id >= 300 AND event_id < 800 " +
        "GROUP BY 1, 2), " +
        "merged AS (SELECT t.ns, t.ukey, " +
        "CASE WHEN s.ns IS NOT NULL THEN s.payload " +
        "WHEN COALESCE(t.ukey % 3 = 0, FALSE) " +
        "THEN t.payload || ':stale' ELSE t.payload END AS payload " +
        "FROM state1 t LEFT JOIN src s " +
        "ON s.ns = t.ns AND s.ukey IS NOT DISTINCT FROM t.ukey) " +
        "SELECT ns, ukey, payload FROM merged WHERE payload IS NOT NULL " +
        "ORDER BY ns, ukey"),
    // schema-evolving merge: matched/inserted keys carry the source's
    // evolved score; keys the merge never touched read NULL (pre-
    // evolution rows)
    "journal_merge_evolve_sql" ->
      ("WITH state1 AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload " +
        "FROM events WHERE event_id < 600 GROUP BY 1, 2), " +
        "src AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload, " +
        "arg_max(value, event_id) * 2.0 AS score " +
        "FROM events WHERE event_id >= 600 AND event_id < 1000 " +
        "GROUP BY 1, 2), " +
        "merged AS (SELECT COALESCE(s.ns, t.ns) AS ns, " +
        "COALESCE(s.ukey, t.ukey) AS ukey, " +
        "CASE WHEN s.ns IS NOT NULL THEN s.payload ELSE t.payload END " +
        "AS payload, " +
        "CASE WHEN s.ns IS NOT NULL THEN s.score ELSE NULL END AS score " +
        "FROM src s FULL OUTER JOIN state1 t " +
        "ON s.ns = t.ns AND s.ukey IS NOT DISTINCT FROM t.ukey) " +
        "SELECT ns, ukey, payload, score FROM merged " +
        "WHERE payload IS NOT NULL ORDER BY ns, ukey"),
    // conditional matched UPDATE: gate not taken (or NULL) keeps the
    // current payload; unmatched source keys still insert
    "journal_merge_cond_sql" ->
      ("WITH state1 AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload " +
        "FROM events WHERE event_id < 3000 GROUP BY 1, 2), " +
        "src AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload, " +
        "arg_max(value, event_id) AS val " +
        "FROM events WHERE event_id >= 3000 AND event_id < 5000 " +
        "GROUP BY 1, 2), " +
        "merged AS (SELECT COALESCE(s.ns, t.ns) AS ns, " +
        "COALESCE(s.ukey, t.ukey) AS ukey, " +
        "CASE WHEN s.ns IS NOT NULL AND t.ns IS NOT NULL " +
        "THEN (CASE WHEN COALESCE(s.val >= 30.0, FALSE) " +
        "THEN s.payload ELSE t.payload END) " +
        "WHEN s.ns IS NOT NULL THEN s.payload " +
        "ELSE t.payload END AS payload " +
        "FROM src s FULL OUTER JOIN state1 t " +
        "ON s.ns = t.ns AND s.ukey IS NOT DISTINCT FROM t.ukey) " +
        "SELECT ns, ukey, payload FROM merged WHERE payload IS NOT NULL " +
        "ORDER BY ns, ukey"),
    // N-clause first-match-wins: the banded CASE is the masked-gate
    // algebra (a NULL band predicate falls through, coalesce'd FALSE);
    // the ELSE NULL arm is the fall-through DELETE's tombstone
    "journal_merge_multi" ->
      ("WITH state1 AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload " +
        "FROM events WHERE event_id < 3000 GROUP BY 1, 2), " +
        "src AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload, " +
        "arg_max(value, event_id) AS val " +
        "FROM events WHERE event_id >= 3000 AND event_id < 5000 " +
        "GROUP BY 1, 2), " +
        "merged AS (SELECT COALESCE(s.ns, t.ns) AS ns, " +
        "COALESCE(s.ukey, t.ukey) AS ukey, " +
        "CASE WHEN s.ns IS NOT NULL AND t.ns IS NOT NULL " +
        "THEN (CASE WHEN COALESCE(s.val >= 60.0, FALSE) " +
        "THEN 'hot:' || s.payload " +
        "WHEN COALESCE(s.val >= 30.0, FALSE) THEN 'warm:' || s.payload " +
        "WHEN COALESCE(s.val >= 10.0, FALSE) THEN 'cold:' || s.payload " +
        "ELSE NULL END) " +
        "WHEN s.ns IS NOT NULL THEN 'new:' || s.payload " +
        "ELSE t.payload END AS payload " +
        "FROM src s FULL OUTER JOIN state1 t " +
        "ON s.ns = t.ns AND s.ukey IS NOT DISTINCT FROM t.ukey) " +
        "SELECT ns, ukey, payload FROM merged WHERE payload IS NOT NULL " +
        "ORDER BY ns, ukey"),
    // full reconciliation: state keys absent from the source die when
    // the (target-side) gate takes them; NULL-ukey strays survive the
    // even-key gate by SQL's three-valued AND
    "journal_merge_reconcile" ->
      ("WITH state1 AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload " +
        "FROM events WHERE event_id < 4000 GROUP BY 1, 2), " +
        "src AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload " +
        "FROM events WHERE event_id >= 2000 AND event_id < 5000 " +
        "GROUP BY 1, 2), " +
        "merged AS (SELECT COALESCE(s.ns, t.ns) AS ns, " +
        "COALESCE(s.ukey, t.ukey) AS ukey, " +
        "CASE WHEN s.ns IS NOT NULL THEN s.payload " +
        "WHEN COALESCE(t.ukey % 2 = 0, FALSE) THEN NULL " +
        "ELSE t.payload END AS payload " +
        "FROM src s FULL OUTER JOIN state1 t " +
        "ON s.ns = t.ns AND s.ukey IS NOT DISTINCT FROM t.ukey) " +
        "SELECT ns, ukey, payload FROM merged WHERE payload IS NOT NULL " +
        "ORDER BY ns, ukey"),
    // SQL UPDATE: live-state rows (per-key arg-max) matching the
    // condition rewritten through the assignments; NULL-val rows miss
    // the condition both sides (Spark filters, SQL CASE else-branch)
    "journal_update_sql" ->
      ("WITH state AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS payload, " +
        "arg_max(value, event_id) AS val " +
        "FROM events WHERE event_id < 5000 GROUP BY 1, 2) " +
        "SELECT ns, ukey, " +
        "CASE WHEN val < 10.0 THEN payload || '!' ELSE payload END AS payload, " +
        "CASE WHEN val < 10.0 THEN val * 2.0 ELSE val END AS val " +
        "FROM state WHERE payload IS NOT NULL ORDER BY ns, ukey"),
    // evolved column: NULL for pre-evolution rows, no rewrite
    "journal_schema_evolve" ->
      ("SELECT event_id AS seq, event_type AS ns, user_id AS ukey, " +
        "value AS val, " +
        "CASE WHEN event_id >= 2000 THEN CAST(user_id % 5 AS BIGINT) " +
        "ELSE NULL END AS src_id " +
        "FROM events WHERE event_id < 4000 ORDER BY seq"),
    // a deletion-vector delete (+ partial purge) must be
    // indistinguishable from the rewrite erase
    "journal_dv_erase" ->
      ("SELECT event_type AS ns, count(*) AS n, " +
        "CAST(sum(user_id) AS BIGINT) AS sum_ukey, " +
        "CAST(max(event_id) AS BIGINT) AS max_seq " +
        "FROM events WHERE event_id < 6000 " +
        "AND (user_id IS NULL OR user_id <> 7) " +
        "GROUP BY 1 ORDER BY ns"),
    // erasure must be indistinguishable from never having ingested the key
    "journal_erase" ->
      ("SELECT event_type AS ns, count(*) AS n, " +
        "CAST(sum(user_id) AS BIGINT) AS sum_ukey, " +
        "CAST(max(event_id) AS BIGINT) AS max_seq " +
        "FROM events WHERE event_id < 6000 " +
        "AND (user_id IS NULL OR user_id <> 7) " +
        "GROUP BY 1 ORDER BY ns"),
    "journal_catalog_sql" ->
      ("SELECT event_type AS ns, count(*) AS n_rows, " +
        "CAST(sum(user_id) AS BIGINT) AS sum_ukey, " +
        "CAST(max(event_id) AS BIGINT) AS max_seq " +
        "FROM events WHERE event_id >= 1000 AND event_id < 6000 " +
        "GROUP BY 1 ORDER BY ns"),
    "journal_diff" ->
      ("WITH s2 AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS new_payload, max(event_id) AS last_seq " +
        "FROM events WHERE event_id <= 8000 GROUP BY 1, 2), " +
        "s1 AS (SELECT event_type AS ns, user_id AS ukey, " +
        "arg_max(props, event_id) AS old_payload " +
        "FROM events WHERE event_id <= 5000 GROUP BY 1, 2) " +
        "SELECT s2.ns, s2.ukey, " +
        "CASE WHEN s1.old_payload IS NULL THEN 'insert' ELSE 'update' END AS change, " +
        "s1.old_payload, s2.new_payload, s2.last_seq " +
        "FROM s2 LEFT JOIN s1 ON s2.ns = s1.ns AND s2.ukey = s1.ukey " +
        "WHERE s2.last_seq > 5000 ORDER BY s2.ns, s2.ukey"),
  )
}
