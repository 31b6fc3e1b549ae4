package readbench

import scala.util.hashing.MurmurHash3

/** Order-independent digest of a row multiset: additive, so the rows of a
  * set of appends can be added to a base digest. */
final case class Digest(count: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(count + o.count, sum + o.sum)
  def add(row: String): Digest = this + Digest.of(row)
}

object Digest {
  val Empty: Digest = Digest(0L, 0L)
  def of(row: String): Digest =
    Digest(1L, (MurmurHash3.stringHash(row, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(row, 0x7a11).toLong & 0xffffffffL))
}

/** What a statement returned, reduced on receipt so that the timed phase
  * holds no result rows: a digest of canonical rows (row kinds), whether
  * timestamps arrived non-decreasing (export), or per-etype (count, sum). */
final case class Answer(
    rows: Long,
    frames: Int,
    digest: Digest,
    ordered: Boolean,
    agg: Map[String, (Long, Double)])

/** The oracle: every expected answer is a plain computation over the raw
  * `events` rows (the layout rules applied in Scala collections), never
  * through the tenant path. Nearline wins the overlap by construction here:
  * each raw row exists once with its true values. */
object Truth {

  /** Base rows of each (org, metric id), sorted by timestamp; the heavy
    * tenant's K replicas are implied by `k`. */
  def tables(spec: LayoutSpec, raw: IndexedSeq[Ev]): Map[(String, String), IndexedSeq[Ev]] =
    (for (t <- spec.tenants; m <- t.metrics) yield (t.org, m.id) -> raw.filter(r =>
      m.types.contains(r.etype) && (t.heavy || java.lang.Math.floorMod(r.uid, spec.userMods.toLong) == t.userMod))
      .sortBy(r => (r.ts, r.eid))).toMap

  /** Canonical form of one `SELECT *`-shaped row; `fm` is the wire's
    * canonical rendering of `_fm`, or null for non-radio metrics. */
  def rowKey(ts: Long, etype: String, amount: Double, uid: Long, eid: Long, fm: String): String =
    s"$ts|$etype|${java.lang.Double.toString(amount)}|$uid|$eid|$fm"

  /** `_fm` as the JSON wires carry it (an object), canonicalized. */
  def fmCanon(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("{", ",", "}")

  /** `_fm` as Spark's Thrift server renders a map<string,string> cell. */
  def fmHive(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")

  /** Canonical `_fm` for a wire: thrift sends Spark's hive rendering, the
    * JSON and protobuf wires must carry the map itself. */
  def fmFor(wire: String, m: Map[String, String]): String =
    if (wire == "thrift") "hive:" + fmHive(m) else fmCanon(m)

  def appendBatch(w: WriterSpec, quantumMs: Long, table: IndexedSeq[Ev], batch: Int): IndexedSeq[Ev] =
    (0 until w.rows).map { i =>
      val src = table(((batch.toLong * w.rows + i) % table.size).toInt)
      src.copy(ts = w.firstTs + batch * quantumMs, eid = AppendIdBase + batch * 1000L + i)
    }

  val AppendIdBase = 50000000L

  /** Program defects present when the benchmark was introduced. An answer
    * bent by exactly one of them still counts as failed; any other wrong
    * answer makes the run incorrect. */
  val KnownDefect = "known defect: "
  val FmDateDefect = "_fm of archive-served rows also carries the `date` partition column"
  val ProtoMapDefect = "Avatica protobuf sends map cells (_fm) as empty strings"
}

/** Expected answers for one built layout. */
final class Truth(spec: LayoutSpec, raw: IndexedSeq[Ev], writer: Option[WriterSpec]) {
  import Truth._

  private val byTable = tables(spec, raw)
  private val tenants = spec.tenants.map(t => t.org -> t).toMap
  private def metricSpec(org: String, name: String): MetricSpec =
    tenants(org).metrics.find(_.name.equalsIgnoreCase(name)).get

  private def inRange(rows: IndexedSeq[Ev], lo: Long, hi: Long): Iterator[Ev] = {
    var a = 0; var b = rows.size
    while (a < b) { val mid = (a + b) >>> 1; if (rows(mid).ts < lo) a = mid + 1 else b = mid }
    rows.iterator.drop(a).takeWhile(_.ts <= hi)
  }

  /** Logical rows of the statement's table in [lo, hi], replicas expanded. */
  private def logical(s: Stmt): Iterator[Ev] = {
    val m = metricSpec(s.org, s.metric)
    val k = if (tenants(s.org).heavy) spec.heavyK else 1
    inRange(byTable((s.org, m.id)), s.lo, s.hi).flatMap(r =>
      (0 until k).iterator.map(i => r.copy(eid = r.eid + i * Layout.IdShift)))
  }

  private def archiveServed(ts: Long): Boolean = {
    val d = Layout.dayOf(ts)
    (spec.parquetDays.contains(d) || spec.jsonDays.contains(d)) &&
      !spec.windows.exists { case (a, b) => ts >= a && ts < b }
  }

  /** A row's canonical key; with `defects`, `_fm` takes the shape the
    * named program defects give it instead of the true one. */
  private def key(r: Ev, radio: Boolean, wire: String, defects: Boolean = false): String = {
    val fm =
      if (!radio) null
      else if (!defects) fmFor(wire, Map("props" -> r.props))
      else if (wire == "avatica_proto") "raw:"
      else fmFor(wire, Map("props" -> r.props) ++
        (if (archiveServed(r.ts)) Map("date" -> Layout.dayOf(r.ts)) else Map.empty))
    rowKey(r.ts, r.etype, r.value, r.uid, r.eid, fm)
  }

  def digest(s: Stmt, wire: String, defects: Boolean = false): Digest = {
    val radio = metricSpec(s.org, s.metric).radio
    logical(s).foldLeft(Digest.Empty)((d, r) => d.add(key(r, radio, wire, defects)))
  }

  def agg(s: Stmt): Map[String, (Long, Double)] =
    logical(s).toSeq.groupBy(_.etype).map { case (t, rs) => t -> ((rs.size.toLong, rs.map(_.value).sum)) }

  /** Digest of append batch `b`'s rows that fall in the statement's range;
    * zero for statements on other tables. */
  def batchDigest(s: Stmt, b: Int, wire: String): Digest = writer match {
    case Some(w) if w.org == s.org && w.metric.equalsIgnoreCase(s.metric) =>
      val m = metricSpec(s.org, s.metric)
      appendBatch(w, spec.quantumMs, byTable((s.org, m.id)), b)
        .filter(r => r.ts >= s.lo && r.ts <= s.hi)
        .foldLeft(Digest.Empty)((d, r) => d.add(key(r, m.radio, wire)))
    case _ => Digest.Empty
  }

  def writerTable: IndexedSeq[Ev] = writer.map { w =>
    byTable((w.org, metricSpec(w.org, w.metric).id))
  }.getOrElse(IndexedSeq.empty)

  /** Check one answer. `done` = batches whose append completed before the
    * statement was sent; `maybe` = batches in flight while it ran (their
    * rows may or may not be visible). Returns None when correct, else why;
    * the reason starts with [[KnownDefect]] when the rows are exactly what
    * the named defects make of the true answer. */
  def check(s: Stmt, wire: String, a: Answer, done: Seq[Int], maybe: Seq[Int]): Option[String] =
    s.kind match {
      case "agg" =>
        val exp = agg(s)
        val bad = (exp.keySet ++ a.agg.keySet).toSeq.sorted.filter { t =>
          (exp.get(t), a.agg.get(t)) match {
            case (Some((n, x)), Some((m, y))) =>
              n != m || math.abs(x - y) > 1e-6 * math.max(1.0, math.abs(x))
            case _ => true
          }
        }
        if (bad.isEmpty) None
        else Some(s"agg mismatch on ${bad.mkString(",")}: got ${bad.map(a.agg.get).mkString(",")} " +
          s"expected ${bad.map(exp.get).mkString(",")}")
      case kind =>
        val base = digest(s, wire) + done.foldLeft(Digest.Empty)(_ + batchDigest(s, _, wire))
        val options = maybe.toSet.subsets().map(_.foldLeft(base)(_ + batchDigest(s, _, wire)))
        if (kind == "export" && !a.ordered) Some("export rows not in timestamp order")
        else if (options.contains(a.digest)) None
        else if (a.digest == digest(s, wire, defects = true))
          Some(KnownDefect + (if (wire == "avatica_proto") ProtoMapDefect else FmDateDefect))
        else Some(s"row mismatch: got ${a.digest.count} rows, expected ${base.count}" +
          (if (maybe.nonEmpty) s" (+ up to ${maybe.size} in-flight batches)" else ""))
    }
}
