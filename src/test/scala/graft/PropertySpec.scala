package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5.2.3 — property-based invariants (scalacheck driven directly;
  * no scalatest bridge available offline). */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(10)

  private def check(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  private val edgesGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(15, for {
      a <- Gen.choose(0L, 11L)
      b <- Gen.choose(0L, 11L) if a != b
    } yield (math.min(a, b), math.max(a, b)))

  test("connectedComponents equals a union-find model on random graphs") {
    check(Prop.forAll(edgesGen) { edges =>
      edges.isEmpty || {
        val got = ops.LlmExtOps.connectedComponents(
            edges.distinct.toDF("a_id", "b_id"))
          .as[(Long, Long, Boolean)].collect().toSet
        // reference model: driver-side union-find with min-root election
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expect = parent.keys.map { v =>
          val root = find(v)
          (v, root, v == root)
        }.toSet
        got == expect
      }
    })
  }

  private val recordsGen: Gen[List[(String, Long, String)]] =
    Gen.listOfN(12, for {
      ns <- Gen.oneOf("a", "b")
      key <- Gen.choose(1L, 3L)
      payload <- Gen.alphaStr.map(_.take(4))
    } yield (ns, key, payload))

  test("stateAt(seq) equals the left-fold of history up to seq (marasa invariant)") {
    check(Prop.forAll(recordsGen, Gen.choose(0, 11)) { (recs, cut) =>
      recs.isEmpty || {
        val df = recs.zipWithIndex.map { case ((ns, k, p), i) =>
          (i.toLong, ns, k, TestSpark.ts("2024-01-01 00:00:01"), p, 0.0)
        }.toDF("seq", "ns", "ukey", "ts", "payload", "val")
        val got = ops.JournalOps.stateAt(df, col("seq") <= cut.toLong)
          .select("ns", "ukey", "payload").as[(String, Long, String)].collect().toSet
        // reference model: fold deltas in seq order into a Map
        val expect = recs.zipWithIndex.filter(_._2 <= cut)
          .foldLeft(Map.empty[(String, Long), String]) {
            case (m, ((ns, k, p), _)) => m.updated((ns, k), p)
          }.map { case ((ns, k), p) => (ns, k, p) }.toSet
        got == expect
      }
    })
  }

  test("stateAt is incrementally consistent: replaying (s, s'] onto stateAt(s) = stateAt(s')") {
    check(Prop.forAll(recordsGen, Gen.choose(0, 11), Gen.choose(0, 11)) { (recs, a, b) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      recs.isEmpty || {
        val df = recs.zipWithIndex.map { case ((ns, k, p), i) =>
          (i.toLong, ns, k, TestSpark.ts("2024-01-01 00:00:01"), p, 0.0)
        }.toDF("seq", "ns", "ukey", "ts", "payload", "val")
        // checkpoint-at-lo (state rows re-tagged with their last_seq)
        // plus the raw tail (lo, hi] must reproduce stateAt(hi) exactly —
        // the bounded-replay invariant JournalStore.stateAt relies on.
        val base = ops.JournalOps.stateAt(df, col("seq") <= lo.toLong)
          .select(col("ns"), col("ukey"), col("last_seq").as("seq"), col("payload"))
        val tail = df.where(col("seq") > lo.toLong && col("seq") <= hi.toLong)
          .select("ns", "ukey", "seq", "payload")
        val replayed = ops.JournalOps.stateAt(base.unionByName(tail), lit(true))
          .select("ns", "ukey", "payload", "last_seq")
          .as[(String, Long, String, Long)].collect().toSet
        val direct = ops.JournalOps.stateAt(df, col("seq") <= hi.toLong)
          .select("ns", "ukey", "payload", "last_seq")
          .as[(String, Long, String, Long)].collect().toSet
        replayed == direct
      }
    })
  }

  test("dedup_near_jaccard agrees with a Scala-set reference model") {
    check(Prop.forAll(Gen.listOfN(6,
      Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", "s1", t.length.toLong)
      }
      val dir = TestSpark.fixtureDir("documents" ->
        docs.toDF("doc_id", "text", "lang", "source", "n_chars"))
      val got = ops.LlmOps.queries("dedup_near_jaccard")(spark, dir)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      // reference: distinct word-3-shingle sets, exact jaccard >= 0.4
      def sh(t: String): Set[String] =
        t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      val expect = (for {
        a <- docs; b <- docs if a._1 < b._1
        sa = sh(a._2); sb = sh(b._2)
        if sa.nonEmpty && sb.nonEmpty
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        // mirror the query's rounding before the threshold compare
        if BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0.4
      } yield (a._1, b._1)).toSet
      got == expect
    })
  }

  test("key-stat file pruning never changes history(ns, key) results") {
    // the data-skipping invariant: for ANY key — present in one epoch,
    // both, or neither — the manifest-stats-pruned read equals the full
    // scan filtered row-for-row (pruning is IO-only, never semantic)
    val keysGen = Gen.listOfN(6, Gen.choose(0L, 30L))
    val fewTrials = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val r = SCTest.check(fewTrials, Prop.forAll(keysGen, keysGen) { (ks1, ks2) =>
      ks1.isEmpty || ks2.isEmpty || {
        val path = java.nio.file.Files
          .createTempDirectory("graft_kprop_").toString + "/s"
        val store = journal.JournalStore.create(spark, path,
          epochSize = ks1.size.toLong)
        def batch(keys: List[Long], base: Int) = keys.zipWithIndex.map {
          case (k, i) =>
            ("ns", k, TestSpark.ts(
              f"2024-01-01 00:${(base + i) / 60}%02d:${(base + i) % 60}%02d"),
              s"p$k-$i", 1.0)
        }.toDF("ns", "ukey", "ts", "payload", "val")
        store.append(batch(ks1, 0))
        store.append(batch(ks2, 100))
        val probes = (ks1 ++ ks2).distinct.take(3) :+ 99L
        probes.forall { k =>
          val pruned = store.history("ns", Some(k))
            .collect().map(_.toString).sorted.toSeq
          val full = store.scan()
            .where(col("ns") === "ns" && col("ukey") === k)
            .orderBy("seq").collect().map(_.toString).sorted.toSeq
          pruned == full
        }
      }
    })
    assert(r.passed, r.status.toString)
  }

  test("stateAtTs equals the brute-force ts-filtered fold for any probe") {
    // fuzzes the checkpoint-certificate + ts-file-pruning machinery:
    // random batch sizes (auto-checkpoints land at varying boundaries),
    // occasional NULL ts rows (must never ride a checkpoint into the
    // result), probes before/inside/after the data's ts range
    val batchGen = Gen.listOfN(2, Gen.listOfN(5, for {
      key <- Gen.choose(1L, 4L)
      nullTs <- Gen.frequency(4 -> false, 1 -> true)
    } yield (key, nullTs)))
    val fewTrials = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val r = SCTest.check(fewTrials,
      Prop.forAll(batchGen, Gen.choose(-1, 11)) { (batches, probeMin) =>
        batches.flatten.isEmpty || {
          val path = java.nio.file.Files
            .createTempDirectory("graft_tsprop_").toString + "/s"
          val store = journal.JournalStore.create(spark, path, epochSize = 3)
          var minute = 0
          batches.foreach { b =>
            val rows = b.map { case (k, nul) =>
              minute += 1
              val t = if (nul) "CAST(NULL AS TIMESTAMP)"
                      else f"TIMESTAMP'2024-01-01 00:$minute%02d:00'"
              s"('ns', ${k}L, $t, 'p$minute', 1.0D)"
            }.mkString(", ")
            store.append(spark.sql(
              s"SELECT * FROM VALUES $rows AS t(ns, ukey, ts, payload, val)"))
          }
          val t = TestSpark.ts(f"2024-01-01 00:${probeMin.max(0)}%02d:30")
          val got = store.stateAtTs(t)
            .collect().map(_.toString).sorted.toSeq
          val brute = store.scan().where(col("ts") <= t)
            .groupBy("ns", "ukey")
            .agg(max_by(col("payload"), col("seq")).as("payload"),
                 max("seq").as("last_seq"))
            .collect().map(_.toString).sorted.toSeq
          got == brute
        }
      })
    assert(r.passed, r.status.toString)
  }

  test("manifest-pruned stateAt equals the left-fold model; key-pushed " +
      "state-mode reads equal the unfiltered read filtered in memory") {
    // (ns, ukey, payload); a None payload is a tombstone
    val rowGen = for {
      ns <- Gen.oneOf("a", "b")
      key <- Gen.choose(1L, 3L)
      tomb <- Gen.frequency(5 -> false, 1 -> true)
      p <- Gen.alphaStr.map(_.take(3))
    } yield (ns, key, if (tomb) None else Some(s"p$p"))
    val caseGen = for {
      batches <- Gen.listOfN(4, Gen.choose(2, 5).flatMap(Gen.listOfN(_, rowGen)))
      dvAfter <- Gen.choose(0, 3) // vector-delete ns=a/dvKey after this batch
      dvKey <- Gen.choose(1L, 3L)
      ckpts <- Gen.listOfN(2, Gen.choose(0, 19)) // explicit checkpoints
      probe <- Gen.choose(0, 19)
      key <- Gen.zip(Gen.oneOf("a", "b"), Gen.choose(1L, 3L))
      tsProbe <- Gen.choose(0, 20)
    } yield (batches, dvAfter, dvKey, ckpts, probe, key, tsProbe)
    def tsAt(i: Int) = new java.sql.Timestamp(
      TestSpark.ts("2024-01-01 00:00:00").getTime + i * 60000L)
    val fewTrials = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val r = SCTest.check(fewTrials, Prop.forAll(caseGen) {
      case (batches, dvAfter, dvKey, ckpts, probe, (kNs, kKey), tsProbe) =>
        val path = java.nio.file.Files
          .createTempDirectory("graft_pruneprop_").toString + "/s"
        val store = journal.JournalStore.create(spark, path, epochSize = 3)
        // every row gets a later ts than the one before, so the store's
        // (ts, …) seq order is generation order: row i has seq i
        val rows = batches.flatten.toIndexedSeq
        var deleted = Set.empty[Int]
        var at = 0
        batches.zipWithIndex.foreach { case (b, bi) =>
          store.append(b.zipWithIndex.map { case ((ns, k, p), i) =>
            (ns, k, tsAt(at + i), p, 1.0)
          }.toDF("ns", "ukey", "ts", "payload", "val"))
          at += b.size
          if (bi == dvAfter) {
            store.deleteWhereDv(col("ns") === "a" && col("ukey") === dvKey)
            deleted ++= (0 until at).filter(i => rows(i)._1 == "a" && rows(i)._2 == dvKey)
          }
        }
        val maxSeq = rows.size - 1L
        ckpts.map(c => math.min(c.toLong, maxSeq)).distinct.foreach(store.checkpoint)
        val cps = store.manifest.checkpoints
        // the left-fold model: live rows up to s, last write wins,
        // tombstoned keys drop out
        def model(s: Long) = rows.indices
          .filter(i => i <= s && !deleted.contains(i))
          .foldLeft(Map.empty[(String, Long), (Option[String], Long)]) { (m, i) =>
            m.updated((rows(i)._1, rows(i)._2), (rows(i)._3, i.toLong))
          }.collect { case ((ns, k), (Some(p), sq)) => (ns, k, p, sq) }.toSet
        def got(df: org.apache.spark.sql.DataFrame) =
          df.select("ns", "ukey", "payload", "last_seq")
            .as[(String, Long, String, Long)].collect().toSet
        // on every checkpoint (empty tail at an epoch boundary), below
        // the oldest one (full-prefix replay), a random seq, the head
        val probes = (cps ++ cps.headOption.map(_ - 1).filter(_ >= 0) :+
          math.min(probe.toLong, maxSeq) :+ maxSeq).distinct
        val statesOk = probes.forall(s => got(store.stateAt(s)) == model(s))
        val version = store.versions().head
        val s = math.min(probe.toLong, maxSeq)
        val t = tsAt(tsProbe).toString
        val keyedOk = Seq(
          Map("asOfSeq" -> s.toString),
          Map("asOfTs" -> t),
          Map("asOfVersion" -> version.toString, "asOfSeq" -> s.toString)
        ).forall { opts =>
          val all = spark.read.format("journal").options(opts).load(path)
          val keyed = all.where(col("ns") === kNs && col("ukey") === kKey)
          got(keyed) == got(all).filter(x => x._1 == kNs && x._2 == kKey)
        }
        statesOk && keyedOk
    })
    assert(r.passed, r.status.toString)
  }

  test("SegmentFiles.prune is sound: every file holding a matching row " +
      "is kept, for every probe shape (literal, escaped and null " +
      "namespaces, stats-free split and compacted files, DV deletes)") {
    import journal.SegmentFiles.{KeyGroup, Keys, Probe}
    val nss = Seq("a", "b", "a b", "x/y")
    val rowGen = for {
      ns <- Gen.oneOf(nss)
      k <- Gen.choose(0L, 15L)
      nullTs <- Gen.frequency(8 -> false, 1 -> true)
    } yield (ns, k, nullTs)
    val caseGen = for {
      batches <- Gen.listOfN(4, Gen.choose(3, 8).flatMap(Gen.listOfN(_, rowGen)))
      hot <- Gen.choose(0, 3) // this batch writes one file per row
      compactUpTo <- Gen.choose(-1L, 3L) // -1: no compaction
      dvKey <- Gen.choose(0L, 15L)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (batches, hot, compactUpTo, dvKey, seed)
    def tsAt(i: Int) = new java.sql.Timestamp(
      TestSpark.ts("2024-01-01 00:00:00").getTime + i * 60000L)
    def hash(k: Long) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(k, org.apache.spark.sql.types.LongType, 42L)
    val fewTrials = SCTest.Parameters.default.withMinSuccessfulTests(5)
    // no shrinking: shrunk namespaces leave the generator's domain
    // (empty or control-character names the append door refuses)
    val r = SCTest.check(fewTrials, Prop.forAllNoShrink(caseGen) {
      case (batches, hot, compactUpTo, dvKey, seed) =>
        val path = java.nio.file.Files
          .createTempDirectory("graft_soundprop_").toString + "/s"
        val seg = s"$path/segments"
        val store = journal.JournalStore.create(spark, path, epochSize = 4)
        var at = 0
        batches.zipWithIndex.foreach { case (b, bi) =>
          store.withMaxFileRows(
            if (bi == hot) 1L else journal.JournalStore.AppendWriterTargetRows)
          store.append(b.zipWithIndex.map { case ((ns, k, nullTs), i) =>
            (ns, k, if (nullTs) null else tsAt(at + i), s"p$k", 1.0)
          }.toDF("ns", "ukey", "ts", "payload", "val"))
          at += b.size
        }
        if (compactUpTo >= 0) store.compact(compactUpTo, clusterByKey = true)
        store.deleteWhereDv(col("ukey") === dvKey)
        // a null-namespace file (the default-partition directory no
        // append admits any more, as a pre-refusal store holds it)
        val before = new java.io.File(seg).list().toSet
        Seq((1000L, 3L, tsAt(1000), "pn", 1.0, 99L))
          .toDF("seq", "ukey", "ts", "payload", "val", "epoch")
          .withColumn("ns", lit(null).cast("string"))
          .write.mode("append").partitionBy("epoch", "ns").parquet(seg)
        assert(!before.contains("epoch=99"))
        val nullFile = new java.io.File(s"$seg/epoch=99").listFiles().head
          .listFiles().filter(_.getName.endsWith(".parquet")).head
        val m0 = store.manifest
        val m = m0.copy(files = m0.files :+
          s"epoch=99/${nullFile.getParentFile.getName}/${nullFile.getName}")
        // ground truth: every raw row of every live file (vector-deleted
        // rows included — stats describe them too)
        val rows = spark.read
          .schema("seq BIGINT, ukey BIGINT, ts TIMESTAMP, epoch BIGINT, ns STRING")
          .option("basePath", seg).parquet(m.files.map(f => s"$seg/$f"): _*)
          .select(col("_metadata.file_path"),
            col("ns"), col("ukey"), col("seq"), col("epoch"), unix_micros(col("ts")))
          // file_path is a URI: decode it back to the manifest's name
          .collect().map(r => (new java.net.URI(r.getString(0)).getPath
              .split("/segments/").last, Option(r.getString(1)), r.getLong(2),
            r.getLong(3), r.getLong(4),
            if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSeq
        assert(rows.map(_._1).toSet == m.files.toSet, "ground truth misses files")
        val maxSeq = rows.map(_._4).max
        val epochs = rows.map(_._5).distinct
        val tss = rows.flatMap(_._6)
        val rnd = new scala.util.Random(seed)
        def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
        def range(lo: Long, hi: Long): (Long, Long) = {
          val a = lo + (rnd.nextDouble() * (hi - lo + 1)).toLong
          val b = lo + (rnd.nextDouble() * (hi - lo + 1)).toLong
          (math.min(a, b), math.max(a, b))
        }
        def someKeys() = List.fill(1 + rnd.nextInt(3))(rnd.nextInt(18).toLong).toSet
        type Row5 = (Option[String], Long, Long, Long, Option[Long])
        // each shape: the probe, and the rows it asks for
        def keyShape(): (Seq[KeyGroup], Row5 => Boolean) = rnd.nextInt(5) match {
          case 0 => // ns and/or ukey equality
            val ns = if (rnd.nextBoolean()) Some(pick(nss)) else None
            val k = if (rnd.nextBoolean()) Some(rnd.nextInt(18).toLong) else None
            (Probe.point(ns, k).keys.getOrElse(Seq(KeyGroup(None, Keys.All))),
              r => ns.forall(r._1.contains) && k.forall(_ == r._2))
          case 1 => // exact key list (null ns holds nothing)
            val ks = List.fill(1 + rnd.nextInt(4))((
              if (rnd.nextInt(5) == 0) null else pick(nss),
              if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(18).toLong)))
            (Probe.exactKeys(ks).keys.get, r => ks.exists { case (n, k) =>
              n != null && r._1.contains(n) && k.forall(_ == r._2) })
          case 2 => // per-namespace source profiles (range + bloom)
            val gs = nss.filter(_ => rnd.nextBoolean()).map { n =>
              val ks = if (rnd.nextInt(4) == 0) Set.empty[Long] else someKeys()
              val bloom = if (rnd.nextInt(4) == 0) Array.emptyByteArray else {
                val bf = org.apache.spark.util.sketch.BloomFilter.create(8192L, 65536L)
                ks.foreach(k => bf.putLong(hash(k)))
                val o = new java.io.ByteArrayOutputStream(); bf.writeTo(o); o.toByteArray
              }
              (journal.JournalStore.MergeNsProfile(n, ks.reduceOption(_ min _),
                ks.reduceOption(_ max _), nullKey = false, bloom), ks)
            }
            (Probe.profiles(gs.map(_._1)).keys.get, r => gs.exists { case (g, ks) =>
              r._1.contains(g.ns) && ks.contains(r._2) })
          case 3 => // runtime ukey IN
            val ks = someKeys()
            (Seq(KeyGroup(None, Keys.Points(ks))), r => ks.contains(r._2))
          case _ => // runtime ns IN
            val ns = nss.filter(_ => rnd.nextBoolean()) :+ pick(nss)
            (ns.map(n => KeyGroup(Some(n), Keys.All)), r => r._1.exists(ns.contains))
        }
        (0 until 40).forall { _ =>
          val ep = if (rnd.nextBoolean()) range(0L, epochs.max + 1) else journal.JournalStore.AllEpochs
          val epIn = if (rnd.nextInt(4) == 0) Some(epochs.filter(_ => rnd.nextBoolean()).toSet) else None
          val keys = if (rnd.nextInt(4) == 0) None else Some(keyShape())
          val sq = if (rnd.nextInt(3) == 0) Some(range(0L, maxSeq)) else None
          val ts = rnd.nextInt(4) match {
            case 0 if tss.nonEmpty => Some(range(tss.min, tss.max))
            case 1 if tss.nonEmpty => Some((Long.MinValue, range(tss.min, tss.max)._2))
            case _ => None
          }
          val probe = Probe(ep, epIn, keys.map(_._1), sq, ts)
          def matches(r: Row5): Boolean =
            ep._1 <= r._4 && r._4 <= ep._2 && epIn.forall(_.contains(r._4)) &&
              keys.forall(_._2(r)) && sq.forall { case (lo, hi) => lo <= r._3 && r._3 <= hi } &&
              ts.forall { case (lo, hi) => r._5.exists(t => lo <= t && t <= hi) }
          val holders = rows.filter(r => matches((r._2, r._3, r._4, r._5, r._6))).map(_._1).toSet
          val kept = journal.SegmentFiles.prune(m, probe).toSet
          val ok = holders.subsetOf(kept)
          if (!ok) println(s"[soundness] $probe dropped ${holders -- kept}")
          ok
        }
    })
    assert(r.passed, r.status.toString)
  }

  test("incremental stat fold == fresh analyze over the union (stat " +
      "keys identical, packed HLL registers byte-equal)") {
    // THE invariant incremental ANALYZE rests on: analyze(A) folded
    // with sketch(B) at append time must equal analyze(A ∪ B) exactly —
    // rows, nulls, extrema, ndv, and the raw packed registers
    // (union-of-sketches ≡ sketch-of-union). Histograms and the
    // histogram capture point are deliberately excluded: boundaries
    // don't merge and the serving side bounds their staleness instead.
    val batchGen = Gen.listOfN(8, for {
      ns <- Gen.oneOf("a", "b")
      k <- Gen.choose(0L, 9L)
      p <- Gen.alphaStr.map(_.take(4))
      v <- Gen.option(Gen.choose(-5, 5).map(_.toDouble))
    } yield (ns, k, p, v))
    val few = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val r = SCTest.check(few, Prop.forAll(batchGen, batchGen) { (a, b) =>
      a.isEmpty || b.isEmpty || {
        def df(xs: List[(String, Long, String, Option[Double])]) =
          xs.map { case (ns, k, p, v) =>
            (ns, k, TestSpark.ts("2024-01-01 00:00:01"), p, v)
          }.toDF("ns", "ukey", "ts", "payload", "val")
        val cols = Seq("ns", "ukey", "payload", "val")
        def stats(build: journal.JournalStore => Unit): Map[String, String] = {
          val path = java.nio.file.Files
            .createTempDirectory("graft_pinc_").toString + "/s"
          val st = journal.JournalStore.create(spark, path, 1000)
          build(st)
          st.manifest.meta.filter { case (k2, _) =>
            (k2 == "stats.rows" || k2.startsWith("stats.col.")) &&
              !k2.endsWith(".hist")
          }
        }
        val inc = stats { st =>
          st.append(df(a)); st.analyze(cols); st.append(df(b)) }
        val full = stats { st =>
          st.append(df(a)); st.append(df(b)); st.analyze(cols) }
        inc == full
      }
    })
    assert(r.passed, r.status.toString)
  }

  test("stats refold after deleteWhere == fresh analyze over the " +
      "survivors (stat keys identical, packed HLL registers byte-equal)") {
    // THE invariant the cstats sidecar rests on: analyze(A) then
    // erase(P) — which refolds the merged stats from the surviving
    // files' per-file sketches — must equal analyzing the survivors
    // from scratch, exactly: rows, nulls, extrema, ndv, raw registers.
    // (Histograms and the capture point are excluded as in the append
    // invariant: the refold deliberately keeps the old capture and the
    // serving side bounds its staleness.)
    val batchGen = Gen.listOfN(10, for {
      ns <- Gen.oneOf("a", "b")
      k <- Gen.choose(0L, 9L)
      p <- Gen.alphaStr.map(_.take(4))
      v <- Gen.option(Gen.choose(-5, 5).map(_.toDouble))
    } yield (ns, k, p, v))
    val few = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val r = SCTest.check(few, Prop.forAll(batchGen, Gen.choose(0L, 9L)) {
      (a, cutKey) =>
      // skip the all-erased case (analyze refuses an empty store) —
      // nothing-erased stays in: the no-op sweep must also agree
      a.isEmpty || a.forall(_._2 > cutKey) || {
        def df(xs: List[(String, Long, String, Option[Double])]) =
          xs.map { case (ns, k, p, v) =>
            (ns, k, TestSpark.ts("2024-01-01 00:00:01"), p, v)
          }.toDF("ns", "ukey", "ts", "payload", "val")
        val cols = Seq("ns", "ukey", "payload", "val")
        def stats(build: journal.JournalStore => Unit): Map[String, String] = {
          val path = java.nio.file.Files
            .createTempDirectory("graft_pref_").toString + "/s"
          val st = journal.JournalStore.create(spark, path, 4)
          build(st)
          st.manifest.meta.filter { case (k2, _) =>
            (k2 == "stats.rows" || k2.startsWith("stats.col.")) &&
              !k2.endsWith(".hist")
          }
        }
        val refolded = stats { st =>
          st.append(df(a)); st.analyze(cols)
          st.deleteWhere(col("ukey") > cutKey) }
        val fresh = stats { st =>
          st.append(df(a)); st.deleteWhere(col("ukey") > cutKey)
          st.analyze(cols) }
        refolded == fresh
      }
    })
    assert(r.passed, r.status.toString)
  }

  test("write-side metadata is sound: after random appends (hot split " +
      "included), deleteWhere, deleteWhereDv and compact over literal and " +
      "escaped namespaces, every FileStat counts its file's live rows, " +
      "its ranges and bloom cover them, and nsStats/segmentStats equal " +
      "the data") {
    val nss = Seq("a", "b", "a b", "x/y")
    val rowGen = for {
      ns <- Gen.oneOf(nss)
      k <- Gen.choose(0L, 11L)
      nullTs <- Gen.frequency(8 -> false, 1 -> true)
    } yield (ns, k, nullTs)
    // (kind, ns, key, flag): 0 append (flag = hot split), 1 deleteWhere,
    // 2 deleteWhereDv (flag = key-only predicate), 3 compact (key = the
    // epoch bound, flag = clustered)
    val opGen = for {
      kind <- Gen.frequency(3 -> 0, 2 -> 1, 2 -> 2, 1 -> 3)
      ns <- Gen.oneOf(nss)
      k <- Gen.choose(0L, 11L)
      flag <- Gen.oneOf(true, false)
      rows <- Gen.choose(3, 8).flatMap(Gen.listOfN(_, rowGen))
    } yield (kind, ns, k, flag, rows)
    val caseGen = for {
      first <- Gen.choose(3, 8).flatMap(Gen.listOfN(_, rowGen))
      ops <- Gen.listOfN(5, opGen)
    } yield (first, ops)
    def tsAt(i: Int) = new java.sql.Timestamp(
      TestSpark.ts("2024-01-01 00:00:00").getTime + i * 60000L)
    def hash(k: Long) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(k, org.apache.spark.sql.types.LongType, 42L)
    val fewTrials = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val r = SCTest.check(fewTrials, Prop.forAllNoShrink(caseGen) {
      case (first, ops) =>
        val path = java.nio.file.Files
          .createTempDirectory("graft_writeprop_").toString + "/s"
        val seg = s"$path/segments"
        val store = journal.JournalStore.create(spark, path, epochSize = 6)
        var at = 0
        def append(b: List[(String, Long, Boolean)], hot: Boolean): Unit = {
          store.withMaxFileRows(
            if (hot) 1L else journal.JournalStore.AppendWriterTargetRows)
          store.append(b.zipWithIndex.map { case ((ns, k, nullTs), i) =>
            (ns, k, if (nullTs) null else tsAt(at + i), s"p$k", 1.0)
          }.toDF("ns", "ukey", "ts", "payload", "val"))
          at += b.size
        }
        append(first, hot = false)
        ops.foreach { case (kind, ns, k, flag, rows) =>
          val cond = if (flag) col("ukey") === k
            else col("ns") === ns && col("ukey") <= k
          kind match {
            case 0 => append(rows, flag)
            case 1 => store.deleteWhere(cond)
            case 2 => store.deleteWhereDv(cond)
            case _ => store.compact(k % 4, clusterByKey = flag)
          }
        }
        val m = store.manifest
        // ground truth: every raw row with its file (the manifest name,
        // decoded from the file_path URI) and its vector key (the URI
        // form deletion vectors record), minus the vector-deleted rows
        val raw = spark.read
          .schema("seq BIGINT, ukey BIGINT, ts TIMESTAMP, epoch BIGINT, ns STRING")
          .option("basePath", seg).parquet(m.files.map(f => s"$seg/$f"): _*)
          .select(col("_metadata.file_path"), col("_metadata.row_index"),
            col("ns"), col("ukey"), col("seq"), col("epoch"),
            unix_micros(col("ts")))
          .collect().toSeq
        val dead = if (m.dvParts.isEmpty) Set.empty[(String, Long)]
          else spark.read.parquet(m.dvParts.map(p => s"$path/dv/$p"): _*)
            .select("file", "pos").as[(String, Long)].collect().toSet
        case class Live(file: String, ns: String, ukey: Long, seq: Long,
                        epoch: Long, ts: Option[Long])
        val live = raw.filterNot(r => dead.contains(
            (r.getString(0).split("/segments/").last, r.getLong(1))))
          .map(r => Live(new java.net.URI(r.getString(0)).getPath
              .split("/segments/").last, r.getString(2), r.getLong(3),
            r.getLong(4), r.getLong(5),
            if (r.isNullAt(6)) None else Some(r.getLong(6))))
        val byFile = live.groupBy(_.file)
        val fileOk = m.fstats.forall { s =>
          val rs = byFile.getOrElse(s.file, Nil)
          lazy val bloom = Option(s.bloom).filter(_.nonEmpty).map(b =>
            org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(
                java.util.Base64.getDecoder.decode(b))))
          val ok = m.files.contains(s.file) && rs.size.toLong == s.rows &&
            rs.forall(r => s.minSeq <= r.seq && r.seq <= s.maxSeq &&
              s.minKey <= r.ukey && r.ukey <= s.maxKey &&
              r.ts.forall(t => s.tsMin <= t && t <= s.tsMax) &&
              bloom.forall(_.mightContainLong(hash(r.ukey))))
          if (!ok) println(s"[write-soundness] $s vs ${rs.size} live rows")
          ok
        }
        val nsGot = store.nsStats().as[(String, Long, Long)].collect().toSet
        val nsWant = live.groupBy(_.ns).map { case (n, rs) =>
          (n, rs.size.toLong, rs.map(_.epoch).distinct.size.toLong) }.toSet
        val epGot = store.segmentStats().select("epoch", "n_rows")
          .as[(Long, Long)].collect().toSet
        val epWant = live.groupBy(_.epoch)
          .map { case (e, rs) => (e, rs.size.toLong) }.toSet
        if (nsGot != nsWant) println(s"[write-soundness] nsStats $nsGot vs $nsWant")
        if (epGot != epWant) println(s"[write-soundness] segmentStats $epGot vs $epWant")
        fileOk && nsGot == nsWant && epGot == epWant
    })
    assert(r.passed, r.status.toString)
  }

  test("set ops agree with Scala set algebra") {
    check(Prop.forAll(Gen.listOf(Gen.choose(0, 20)), Gen.listOf(Gen.choose(0, 20))) {
      (xs, ys) =>
        val a = xs.toDF("v")
        val b = ys.toDF("v")
        val inter = a.intersect(b).as[Int].collect().toSet
        val exc = a.except(b).as[Int].collect().toSet
        val uni = a.union(b).distinct.as[Int].collect().toSet
        inter == (xs.toSet intersect ys.toSet) &&
          exc == (xs.toSet diff ys.toSet) &&
          uni == (xs.toSet union ys.toSet)
    })
  }

  test("ImageCodec: encode->parse->decode round-trips over the parameter space") {
    val gen = for {
      w <- Gen.choose(1, 64)
      h <- Gen.choose(1, 64)
      g <- Gen.choose(0, 255)
    } yield (w, h, g)
    check(Prop.forAll(gen) { case (w, h, g) =>
      val png = ops.ImageCodec.buildPng(w, h, g)
      ops.ImageCodec.parseDims(png) == Some(("png", w, h)) &&
        ops.ImageCodec.decodePixels(png) == Some((w, h, w.toLong * h * g))
    })
  }

  test("kmeansTrainOn equals a driver-side Lloyd model on random vector " +
    "sets (argmin ties, empty-cluster carry-forward, floor means)") {
    // small integer coordinates: the generated sets force the edge cases
    // the fixture rarely hits — exact distance ties (broken by smaller
    // cluster id) and clusters emptied mid-iteration (carry forward)
    val vecsGen: Gen[List[List[Long]]] =
      Gen.choose(1, 10).flatMap(n => Gen.listOfN(n,
        Gen.listOfN(3, Gen.choose(0L, 3L))))
    check(Prop.forAll(vecsGen) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "q")
      val got = ops.LlmExtOps.kmeansTrainOn(df)._1
        .select("vec_id", "cl", "dist")
        .as[(Long, Int, Long)].collect().toSeq.sortBy(_._1)
      // reference: straight-line Lloyd, 3 assigns / 2 updates
      val raw = vecs.zipWithIndex.map { case (v, i) => i.toLong -> v.toArray }
      def d2(a: Array[Long], b: Array[Long]): Long =
        a.indices.foldLeft(0L)((acc, i) => acc + (a(i) - b(i)) * (a(i) - b(i)))
      var cents: Vector[Array[Long]] = raw.take(4).map(_._2).toVector
      var asg: Map[Long, Int] = Map.empty
      def assignAll(): Unit = asg = raw.map { case (id, q) =>
        id -> cents.zipWithIndex.minBy { case (c, cl) => (d2(q, c), cl) }._2
      }.toMap
      for (round <- 1 to 3) {
        assignAll()
        if (round < 3) {
          val byCl = raw.groupBy { case (id, _) => asg(id) }
          cents = cents.zipWithIndex.map { case (old, cl) =>
            byCl.get(cl).fold(old) { members =>
              old.indices.map(i => math.floor(
                members.map(_._2(i)).sum.toDouble / members.length).toLong)
                .toArray
            }
          }
        }
      }
      val want = raw.map { case (id, q) =>
        val cl = asg(id); (id, cl, d2(q, cents(cl))) }.toSeq
      got == want
    })
  }
}
