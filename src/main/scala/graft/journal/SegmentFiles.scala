package graft.journal

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{regexp_replace, url_decode}
import org.apache.spark.util.sketch.BloomFilter

import JournalStore.{FileStat, Manifest, MergeNsProfile}

/** The segment-file layout and the one per-file pruning routine.
  *
  * Segment files live at `segments/epoch=E/ns=N/part-*.parquet`, and the
  * manifest names them by that relative path: the path is the only
  * record of a file's epoch and namespace. Every question of the form
  * "which files can hold these rows" is answered here, from the path
  * plus the file's manifest [[FileStat]] (rows, seq/ukey/ts ranges, key
  * bloom). New files get their FileStats here too, and manifest names
  * convert here to and from the URI form that `_metadata.file_path` and
  * deletion vectors use.
  *
  * Pruning is exact-or-conservative. A file is dropped only when its
  * metadata PROVES it holds no matching row:
  *  - a path with no epoch directory is never epoch-pruned;
  *  - an ns directory is compared by the value the parquet reader
  *    decodes from it (partition-path escaping spells `"x/y"` as
  *    `ns=x%2Fy`; the null namespace's default-partition directory
  *    decodes to no real value, and NULL equals no ns);
  *  - a file with no stats entry is never pruned by a stats predicate;
  *  - an empty or unreadable bloom never prunes.
  * Callers keep their own row filters, so a kept file never changes a
  * result. */
private[graft] object SegmentFiles {

  private val EpochDir = """epoch=(\d+)""".r
  private val NsDir = """ns=([^/]+)""".r

  /** Directory names Hive partition-path escaping leaves unchanged. */
  private def isLiteral(dir: String): Boolean = dir.matches("[A-Za-z0-9_.\\-]+")

  /** A relative segment path's epoch and raw (possibly escaped) ns
    * directory value. */
  final case class SegPath(epoch: Option[Long], nsDir: Option[String]) {
    /** The ns directory when it spells its namespace literally. */
    def literalNs: Option[String] = nsDir.filter(isLiteral)
    /** The ns value the parquet reader decodes from the directory. */
    def nsValue: Option[String] = nsDir.map(ExternalCatalogUtils.unescapePathName)
    /** False only when the directory proves the file holds no `ns` row. */
    def mayHoldNs(ns: String): Boolean = nsValue.forall(_ == ns)
    /** (epoch, ns directory) when the path carries both. */
    def dir: Option[(Long, String)] = for (e <- epoch; n <- nsDir) yield (e, n)
    /** (epoch, ns value): the key of the per-namespace manifest stats
      * and of per-directory aggregates over the rows' ns values. */
    def nsKey: Option[(Long, String)] = for (e <- epoch; n <- nsValue) yield (e, n)
  }

  def parse(rel: String): SegPath =
    SegPath(epochOf(rel), NsDir.findFirstMatchIn(rel).map(_.group(1)))

  def epochOf(rel: String): Option[Long] =
    EpochDir.findFirstMatchIn(rel).map(_.group(1).toLong)

  /** A segment file's name as Spark's `_metadata.file_path` spells it
    * below `segments/`: the relative path in URI form (`ns=a b` →
    * `ns=a%20b`, `ns=x%2Fy` → `ns=x%252Fy`; a literal path is
    * unchanged). Deletion-vector entries name files this way (they are
    * written from `_metadata.file_path`); the manifest holds the plain
    * relative path. */
  def uriName(rel: String): String =
    new java.net.URI(null, null, rel, null).getRawPath

  /** The manifest name of a [[uriName]]. `+` is literal in a URI path,
    * so it is shielded from the form decoder's `+` → space rule. */
  def fromUri(name: String): String =
    java.net.URLDecoder.decode(name.replace("+", "%2B"), StandardCharsets.UTF_8)

  /** [[fromUri]] as a column expression, for names decoded in tasks. */
  def fromUriCol(name: Column): Column =
    url_decode(regexp_replace(name, "\\+", "%2B"))

  /** file → stats lookup (built once per manifest snapshot by
    * [[Manifest.fileStats]]). */
  def statsByFile(fstats: Seq[FileStat]): Map[String, FileStat] =
    fstats.iterator.map(s => s.file -> s).toMap

  /** Which keys of one key group a probe asks for. */
  sealed trait Keys
  object Keys {
    /** Any key, NULL included (key stats never describe NULL). */
    case object All extends Keys
    /** No key: the group can hold no row. */
    case object Empty extends Keys
    /** These non-null keys. */
    final case class Points(ks: Iterable[Long]) extends Keys
    /** Keys in [lo, hi] whose hash bits are set in `bloom` (serialized in
      * the per-file bloom geometry; empty = no bloom). */
    final case class Profile(lo: Long, hi: Long, bloom: Array[Byte]) extends Keys
  }

  /** Rows of namespace `ns` (None = any namespace) with `keys`. */
  final case class KeyGroup(ns: Option[String], keys: Keys)

  /** A conjunction of per-file constraints; each unset field constrains
    * nothing. `keys` is a disjunction: a file is kept when any group can
    * hold rows in it (Some(Nil) keeps nothing). Ranges are inclusive. */
  final case class Probe(epochs: (Long, Long) = JournalStore.AllEpochs,
                         epochIn: Option[Set[Long]] = None,
                         keys: Option[Seq[KeyGroup]] = None,
                         seq: Option[(Long, Long)] = None,
                         ts: Option[(Long, Long)] = None)

  object Probe {
    /** Rows of `ns` and/or `ukey` (equality) inside `epochs`. */
    def point(ns: Option[String], ukey: Option[Long],
              epochs: (Long, Long) = JournalStore.AllEpochs): Probe =
      Probe(epochs, keys =
        if (ns.isEmpty && ukey.isEmpty) None
        else Some(Seq(KeyGroup(ns, ukey.fold[Keys](Keys.All)(k => Keys.Points(Seq(k)))))))

    /** State rows of an exact (ns, ukey) key list. A null-ns key holds
      * nothing (the merge join is null-unsafe on ns); a null ukey keeps
      * its whole namespace. */
    def exactKeys(keys: Seq[(String, Option[Long])]): Probe =
      Probe(keys = Some(keys.filter(_._1 != null).groupBy(_._1).toSeq.map {
        case (ns, ks) => KeyGroup(Some(ns),
          if (ks.exists(_._2.isEmpty)) Keys.All else Keys.Points(ks.flatMap(_._2)))
      }))

    /** State rows any per-namespace source profile can match: a group
      * carrying null keys keeps its whole namespace; one with neither a
      * key range nor null keys holds nothing. */
    def profiles(groups: Seq[MergeNsProfile]): Probe =
      Probe(keys = Some(groups.map { g =>
        KeyGroup(Some(g.ns),
          if (g.nullKey) Keys.All
          else (g.kmin, g.kmax) match {
            case (Some(lo), Some(hi)) => Keys.Profile(lo, hi, g.bloom)
            case _ => Keys.Empty
          })
      }))
  }

  /** The manifest files of snapshot `m` that `p` keeps. Path-only
    * probes never load the snapshot's per-file stats. */
  def prune(m: Manifest, p: Probe): Seq[String] =
    prune(m.files, f => m.fileStats.get(f), p)

  /** `files` that `p` keeps, in order, with `stat` as the per-file stats
    * lookup (None = no stats: kept by every stats predicate). */
  def prune(files: Seq[String], stat: String => Option[FileStat],
            p: Probe): Seq[String] = {
    val (lo, hi) = p.epochs
    files.filter { f =>
      val sp = parse(f)
      lazy val st = stat(f)
      sp.epoch.forall(e => lo <= e && e <= hi) &&
        p.epochIn.forall(es => sp.epoch.forall(es.contains)) &&
        p.seq.forall { case (slo, shi) =>
          st.forall(s => s.minSeq <= shi && s.maxSeq >= slo) } &&
        p.ts.forall { case (tlo, thi) =>
          // an all-NULL-ts file (tsMin > tsMax) holds no row in any range
          st.forall(s => s.tsMin <= s.tsMax && s.tsMin <= thi && s.tsMax >= tlo) } &&
        p.keys.forall(_.exists(g =>
          g.ns.forall(sp.mayHoldNs) && mayHoldKeys(g.keys, st)))
    }
  }

  private def mayHoldKeys(keys: Keys, st: => Option[FileStat]): Boolean =
    keys match {
      case Keys.All => true
      case Keys.Empty => false
      case Keys.Points(ks) => st.forall { s =>
        lazy val bloom = readBloom(s.bloom)
        ks.exists(k => s.minKey <= k && k <= s.maxKey && bloom.forall(mightContain(_, k)))
      }
      case Keys.Profile(klo, khi, b) => st.forall(s =>
        s.minKey <= khi && klo <= s.maxKey && !bloomsDisjoint(s.bloom, b))
    }

  /** A decoded key bloom; None for an empty or unreadable one. */
  private def readBloom(b64: String): Option[BloomFilter] =
    if (b64.isEmpty) None
    else try Some(BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(java.util.Base64.getDecoder.decode(b64))))
    catch { case _: Exception => None }

  /** The probe hash MUST mirror the write side: xxhash64 of the BIGINT
    * key, seed 42. */
  private def mightContain(bf: BloomFilter, k: Long): Boolean =
    bf.mightContainLong(org.apache.spark.sql.catalyst.expressions
      .XxHash64Function.hash(k, org.apache.spark.sql.types.LongType, 42L))

  /** True only when two key blooms PROVABLY share no key: both sides
    * decode, the geometries match, and the bitwise INTERSECTION has
    * zero set bits — a shared key would have left its k hash bits set
    * in both filters, hence in the intersection, so an empty
    * intersection is an exact disjointness witness (the converse is
    * only probabilistic, which is why the answer is used to PRUNE,
    * never to match). A missing or unreadable side answers false
    * (keep). */
  private def bloomsDisjoint(fileB64: String, src: Array[Byte]): Boolean =
    if (src == null || src.isEmpty) false
    else readBloom(fileB64).exists { a =>
      try a.intersectInPlace(BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(src))).cardinality() == 0L
      catch { case _: Exception => false }
    }

  /** The files of `newFiles` that are the only one of `newFiles` in
    * their (epoch, ns) directory, with that directory's (epoch, ns value)
    * key. A write that repartitions by (epoch, ns) emits one file per
    * directory, so a per-directory aggregate over its input (keyed by
    * the raw ns value) describes exactly that file. A directory that
    * gained several files (a hot-directory split) matches no aggregate:
    * its files record nothing (unpruned, never wrong). */
  private def soleFiles(newFiles: Seq[String]): Seq[(String, (Long, String))] = {
    val dirs = newFiles.map(f => f -> parse(f).nsKey)
    val counts = dirs.flatMap(_._2).groupBy(identity).map { case (d, ds) => d -> ds.size }
    dirs.collect { case (f, Some(d)) if counts(d) == 1 => f -> d }
  }

  /** Per-file stats of the files a write just produced, from that
    * write's (epoch, ns)-grain stats rows (epoch, ns, rows, min/max seq,
    * min/max ukey, min/max ts micros, null-ts count) and key blooms. */
  def newFileStats(newFiles: Seq[String], perNs: Iterable[Row],
                   blooms: Map[(Long, String), String]): Seq[FileStat] = {
    val statRow = perNs.map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    soleFiles(newFiles).collect { case (f, d) if statRow.contains(d) =>
      val r = statRow(d)
      FileStat(f, r.getLong(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) 1L else r.getLong(5),
        if (r.isNullAt(6)) 0L else r.getLong(6),
        if (r.isNullAt(7)) 1L else r.getLong(7),
        if (r.isNullAt(8)) 0L else r.getLong(8),
        r.getLong(9),
        blooms.getOrElse(d, ""))
    }
  }

  /** Per-file stats of the files a rewrite of whole (epoch, ns)
    * directories produced, merged from the rewritten victims' stats: one
    * new file per directory holds exactly that directory's victim rows
    * (victim row counts are already net of deletion vectors; ranges and
    * blooms may be wider than the survivors, which prunes
    * conservatively). A directory with any stats-free victim records
    * nothing: it may hold rows the merge does not describe. */
  def derivedFileStats(newFiles: Seq[String], victims: Seq[String],
                       stat: Map[String, FileStat]): Seq[FileStat] = {
    val byDir = victims.groupBy(parse)
    newFiles.flatMap { nf =>
      byDir.get(parse(nf)) match {
        case Some(vs) if vs.nonEmpty && vs.forall(stat.contains) =>
          val ss = vs.map(stat)
          val keyed = ss.filter(s => s.minKey <= s.maxKey)
          val tsed = ss.filter(s => s.tsMin <= s.tsMax)
          Some(FileStat(nf, ss.map(_.rows).sum,
            ss.map(_.minSeq).min, ss.map(_.maxSeq).max,
            if (keyed.isEmpty) 1L else keyed.map(_.minKey).min,
            if (keyed.isEmpty) 0L else keyed.map(_.maxKey).max,
            if (tsed.isEmpty) 1L else tsed.map(_.tsMin).min,
            if (tsed.isEmpty) 0L else tsed.map(_.tsMax).max,
            // unknown (< 0) in any victim poisons the merge to unknown
            if (ss.exists(_.nullTs < 0L)) -1L else ss.map(_.nullTs).sum,
            JournalStore.bloomUnion(ss.map(_.bloom))))
        case _ => None
      }
    }
  }
}
