package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.EqualTo

/** Coordinator-side write protocols beyond the plain flush: CQL
  * lightweight transactions (C55) and logged batches (C56).
  *
  * Both ride the machinery that already exists — the reconciled point
  * read, the staged-then-atomically-linked flush commit, and LWW
  * idempotence — rather than inventing new storage. What Cassandra
  * runs Paxos/batchlog replicas for collapses here to single-
  * filesystem primitives with the SAME externally visible contracts:
  * CAS is linearized by an exclusive ballot lock; a logged batch is
  * journaled before any table sees a write and replayed to completion
  * after a crash.
  */
object CellTransactions {

  /** Outcome of a [[cas]]: Cassandra's `[applied]` result row —
    * `applied = false` carries the value that caused the miss (the
    * current winner), exactly what `IF` returns to a CQL client.
    */
  final case class CasResult(applied: Boolean, current: Option[Any])

  /** The CQL `IF` condition family (round 9; operators r16):
    * `IF NOT EXISTS` ([[CasCond.Absent]]), `IF EXISTS`
    * ([[CasCond.Present]]), `IF col = v` ([[CasCond.Equals]]),
    * `IF col != v` ([[CasCond.NotEquals]] — an ABSENT cell IS not
    * equal, Cassandra's null-handling), `IF col IN (..)`
    * ([[CasCond.In]]), and the ordered comparisons over bigint
    * cells ([[CasCond.Cmp]] — absent cells compare FALSE).
    */
  sealed trait CasCond
  object CasCond {
    case object Absent extends CasCond
    case object Present extends CasCond
    final case class Equals(v: Any) extends CasCond
    final case class NotEquals(v: Any) extends CasCond
    final case class In(vs: Seq[Any]) extends CasCond
    /** op: one of "<", "<=", ">", ">=" over Long cell values. */
    final case class Cmp(op: String, v: Long) extends CasCond
    /** Ordered comparison in a DECLARED type's order (C55h, r18):
      * `cmp` compares the stored representation against the parsed
      * literal — the CALLER owns the decode (a timeuuid's 60-bit
      * time, an inet's address bytes), so a text STORAGE rendering
      * never has to carry the declared order itself. An absent cell
      * never satisfies an ordered condition (Cassandra's null rule,
      * same as [[Cmp]]).
      */
    final case class CmpBy(op: String, v: Any,
        cmp: (Any, Any) => Int) extends CasCond
    /** Whole-collection equality (C11k, r18) — Cassandra's
      * `IF tags = {…}` / `IF l = […]` / `IF m = {…}` conditions:
      * the collection is a SET OF CELLS, so the condition evaluates
      * against the partition state ([[casBatch]] only — the
      * single-cell rounds refuse). `kind`: "list" (ck-ordered
      * element cells of col `name`), "set" (their distinct values),
      * or "map" (the CAS row's live non-marker cells as key→value —
      * the C11h row-is-the-map contract). An ABSENT collection
      * equals the EMPTY literal (Cassandra: an empty non-frozen
      * collection IS null). `negate` = the `!=` form.
      */
    final case class CollEq(kind: String, name: String,
        vals: Seq[Any], entries: Seq[(String, Any)],
        negate: Boolean) extends CasCond
  }

  /** Value equality for condition evaluation: byte arrays (packed
    * frozen<udt> blobs, C55i) compare by CONTENT — Array.equals is
    * reference identity, which would make every blob condition miss.
    */
  private def valEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => a == b
  }

  /** Evaluate a condition against the cell's current winner.
    * [[CasCond.CollEq]] never reaches here — it evaluates against
    * PARTITION state inside [[casBatch]]'s loop; the single-cell
    * rounds refuse it loudly.
    */
  private def condHolds(cond: CasCond, cur: Option[Any]): Boolean =
    cond match {
      case _: CasCond.CollEq => throw new IllegalArgumentException(
        "collection conditions evaluate against partition state " +
          "(the casBatch round)")
      case CasCond.Absent => cur.isEmpty
      case CasCond.Present => cur.isDefined
      case CasCond.Equals(v) => cur.exists(valEq(_, v))
      case CasCond.NotEquals(v) => !cur.exists(valEq(_, v))
      case CasCond.In(vs) => cur.exists(c => vs.exists(valEq(c, _)))
      case CasCond.Cmp(op, v) => cur.exists {
        case l: Long => op match {
          case "<" => l < v
          case "<=" => l <= v
          case ">" => l > v
          case ">=" => l >= v
        }
        case _ => false
      }
      case CasCond.CmpBy(op, v, cmp) => cur.exists { c =>
        val r = cmp(c, v)
        op match {
          case "<" => r < 0
          case "<=" => r <= 0
          case ">" => r > 0
          case ">=" => r >= 0
        }
      }
    }

  private val LockName = "_paxos.lock"

  /** C55 — LIGHTWEIGHT TRANSACTION: CQL's `INSERT ... IF NOT EXISTS` /
    * `UPDATE ... IF value = ?` on one cell. Cassandra serializes these
    * with Paxos rounds across replicas; the single-filesystem
    * coordinator form needs one linearization point, so the ballot is
    * an exclusive LOCK FILE claimed with the same atomic
    * create-if-absent the flush committer's link(2) protocol uses.
    * Under the lock: read the cell's current reconciled winner (a
    * pushed point read — Summary/bloom-pruned, not a scan), test the
    * condition, and on success append a one-row flush whose wt is
    * table-max-wt + 1 — the same deterministic "wins LWW now" rule as
    * DELETE's tombstones (C38). The lock releases in a finally; a
    * coordinator that died mid-round leaves a lock older than
    * `lockTimeoutMs`, which the next caller breaks (the crash left
    * either no flush or a complete one — the commit is atomic — so
    * breaking the ballot is always safe).
    *
    * `expected = None` is IF NOT EXISTS. Long-valued default-layout
    * tables only (the CQL shape: condition on one column's value);
    * TTL'd/expired cells count as absent when `queryTimeMs` is given.
    *
    * The LWT caveat carries over from Cassandra verbatim: mixing CAS
    * and plain writes on the same cell forfeits the guarantee — a
    * non-CAS append does not take the ballot.
    */
  def cas(spark: SparkSession, dir: String, pk: Long, ck: Int,
      colName: String, expected: Option[Long], newValue: Long,
      lockTimeoutMs: Long = 30000L,
      nowMs: Long = System.currentTimeMillis(),
      queryTimeMs: Long = Long.MaxValue): CasResult =
    casApply(spark, dir, pk, ck, condCol = Some(colName),
      cond = expected.map(CasCond.Equals.apply)
        .getOrElse(CasCond.Absent),
      writeCol = colName, writeValue = newValue,
      lockTimeoutMs = lockTimeoutMs, nowMs = nowMs,
      queryTimeMs = queryTimeMs)

  /** The general LWT round (round 9): test `cond` against `condCol`'s
    * current reconciled winner at (pk, ck) — `condCol = None` tests
    * ROW presence (any live cell of the (pk, ck) row, Cassandra's
    * `IF [NOT] EXISTS` on UPDATE/DELETE) — and on success append ONE
    * cell `(pk, ck, writeCol, writeValue)` at table-max-wt + 1.
    * `writeCol` may be a tombstone marker (`!delrow`, `!del:<col>`):
    * a conditional DELETE is a CAS whose write is the tombstone.
    * Same ballot lock, point read, and staged-link commit as [[cas]].
    */
  def casApply(spark: SparkSession, dir: String, pk: Long, ck: Int,
      condCol: Option[String], cond: CasCond,
      writeCol: String, writeValue: Any,
      lockTimeoutMs: Long = 30000L,
      nowMs: Long = System.currentTimeMillis(),
      queryTimeMs: Long = Long.MaxValue,
      ttlWt: Option[Long] = None): CasResult = {
    // static cells (`!s:<name>`, C55f) are DATA at the partition-front
    // coordinate — they take TTL like any cell; only real tombstone
    // markers (`!del…`, `!delrow`) must never expire
    require(ttlWt.isEmpty || !writeCol.startsWith("!") ||
        writeCol.startsWith(CellSource.StaticPrefix),
      "tombstone markers never take TTL (an expiring tombstone " +
        "would resurrect the data it shadows)")
    require(condCol.forall(!_.startsWith("!")),
      "CAS conditions target data cells, not markers")
    val norm = CellPlanning.normalize(dir)
    val d = Paths.get(norm)
    Files.createDirectories(d)
    // default layout only: the one-row flush writes (pk, ck) records;
    // appending it into a typed dir would mix key layouts
    require(CellPlanning.keySpecOf(norm,
      CellPlanning.listFiles(norm)).isDefault,
      s"CAS supports default-keyed tables (pk bigint, ck int); " +
        s"$dir is typed")
    withBallot(d, lockTimeoutMs, nowMs) {
      // r19: the CAS round's current-state read runs DRIVER-LOCAL
      // through the same reconcile front door
      // (CellSource.localReconciledRowsWhere — identical planning,
      // merge and external value types as the DataFrame read it
      // replaces): an LWT's point read is a replica-local read, not a
      // cluster job, and at sf0.1 the scheduled job was ~80 ms of
      // pure driver latency per statement.
      val row = CellSource.localReconciledRowsWhere(norm,
          Seq(EqualTo("pk", pk)), queryTimeOption(queryTimeMs))._2
        .filter(_.getInt(1) == ck)
      // `cur` is the condition column's winner; for a row-presence
      // condition it is None/Some(0) purely as an existence flag and
      // the result row reports no current value (Cassandra's
      // IF EXISTS miss row is just [applied] = false)
      val cur: Option[Any] = condCol match {
        case Some(c) =>
          row.find(_.getString(2) == c).map(_.get(3))
        case None =>
          if (row.nonEmpty) Some(0L) else None
      }
      val ok = condHolds(cond, cur)
      def reported = if (condCol.isDefined) cur else None
      if (!ok) CasResult(applied = false, reported)
      else {
        val wt = CellSource.lwwNowWt(norm)
        CellSource.localAppend(norm, KeySpec.Default,
          CellSource.valueTypeOf(norm),
          Seq((Seq[Any](pk, ck), writeCol, writeValue, wt,
            ttlWt.map(wt + _).getOrElse(Long.MaxValue))))
        CasResult(applied = true, reported)
      }
    }
  }

  /** The TYPED-table (CEL6/8) LWT round: the same ballot lock, point
    * read, test, and one-row staged-link flush as [[casApply]], with
    * the CAS row addressed by NAMED key parts (every pk and ck part
    * bound, Cassandra's own LWT rule). `keyVals` are (name, external
    * value) pairs in key order; the read pushes as the typed point
    * probe, and the applied cell writes through the keyed one-row
    * flush — no Spark job.
    */
  def casApplyKeyed(spark: SparkSession, dir: String,
      keyVals: Seq[(String, Any)],
      condCol: Option[String], cond: CasCond,
      writeCol: String, writeValue: Long,
      lockTimeoutMs: Long = 30000L,
      nowMs: Long = System.currentTimeMillis(),
      queryTimeMs: Long = Long.MaxValue): CasResult = {
    require(condCol.forall(!_.startsWith("!")),
      "CAS conditions target data cells, not markers")
    val norm = CellPlanning.normalize(dir)
    val d = Paths.get(norm)
    Files.createDirectories(d)
    val spec = CellPlanning.keySpecOf(norm, CellPlanning.listFiles(norm))
    require(!spec.isDefault,
      s"$dir is default-keyed; use casApply(pk, ck, …)")
    val names = (spec.pkParts ++ spec.ckParts).map(_.name.toLowerCase)
    require(keyVals.map(_._1.toLowerCase) == names,
      s"CAS must bind every key part in key order " +
        s"(${names.mkString(", ")}), got " +
        keyVals.map(_._1).mkString(", "))
    withBallot(d, lockTimeoutMs, nowMs) {
      // r19: the typed point probe runs DRIVER-LOCAL through the
      // same reconcile front door (pushed key-part equalities, same
      // merge readers, collect()-identical external values) — see
      // casApply.
      val (schema, row) = CellSource.localReconciledRowsWhere(norm,
        keyVals.map { case (n, v) => EqualTo(n, v) },
        queryTimeOption(queryTimeMs))
      val colIdx = schema.fieldIndex("col")
      val valIdx = schema.fieldIndex("value")
      val cur: Option[Any] = condCol match {
        case Some(c) =>
          row.find(_.getString(colIdx) == c).map(_.get(valIdx))
        case None =>
          if (row.nonEmpty) Some(0L) else None
      }
      val ok = condHolds(cond, cur)
      def reported = if (condCol.isDefined) cur else None
      if (!ok) CasResult(applied = false, reported)
      else {
        CellSource.localAppend(norm, spec, CellSource.valueTypeOf(norm),
          Seq((keyVals.map(_._2), writeCol, writeValue,
            CellSource.lwwNowWt(norm), Long.MaxValue)))
        CasResult(applied = true, reported)
      }
    }
  }

  /** C56d — SINGLE-PARTITION CONDITIONAL BATCH (Cassandra's LWT
    * batch form): every condition is tested against the partition's
    * current reconciled state under ONE ballot round, and on success
    * the batch's writes land ALL-or-NOTHING as one staged-link flush
    * at table-max-wt + 1 — one shared writetime, the batch-wide
    * version of the CAS "wins LWW now" rule. Cassandra runs exactly
    * this as one Paxos round over the partition (which is why it
    * refuses conditional batches that span partitions); the
    * single-filesystem coordinator form reuses [[casApply]]'s ballot
    * lock + pushed partition read + staged commit, generalized to N
    * conditions (each addressing its own clustering row) and N
    * written cells. The one partition read is bounded by CQL's own
    * partition-size discipline — the same statement-scoped point-read
    * collect every LWT round here performs.
    *
    * `conds`: (ck, condCol, cond) — `condCol = None` tests ROW
    * presence at ck. `writes`: (ck, col, value) — col may be a
    * tombstone marker. Returns `applied` plus the FIRST failing
    * condition's current value (Cassandra reports the unmet row).
    */
  def casBatch(spark: SparkSession, dir: String, pk: Long,
      conds: Seq[(Int, Option[String], CasCond)],
      writes: Seq[(Int, String, Any)],
      lockTimeoutMs: Long = 30000L,
      nowMs: Long = System.currentTimeMillis(),
      queryTimeMs: Long = Long.MaxValue,
      ttlWt: Option[Long] = None): CasResult = {
    require(writes.nonEmpty, "an empty conditional batch is a no-op")
    // static write columns (`!s:<name>`, C55f) are DATA — Cassandra
    // serves TTL on static LWT writes; only real markers refuse
    require(ttlWt.isEmpty || writes.forall(w =>
        !w._2.startsWith("!") ||
          w._2.startsWith(CellSource.StaticPrefix)),
      "tombstone markers never take TTL (an expiring tombstone " +
        "would resurrect the data it shadows)")
    // STATIC cells (C55f) are data at the partition-front coordinate
    // (ck = Int.MinValue, `!s:<name>`) — legal condition targets and
    // write columns; every OTHER marker prefix stays refused
    require(conds.forall(_._2.forall(c => !c.startsWith("!") ||
        c.startsWith(CellSource.StaticPrefix))),
      "CAS conditions target data cells, not markers")
    val norm = CellPlanning.normalize(dir)
    val d = Paths.get(norm)
    Files.createDirectories(d)
    require(CellPlanning.keySpecOf(norm,
      CellPlanning.listFiles(norm)).isDefault,
      s"conditional BATCH supports default-keyed tables " +
        s"(pk bigint, ck int); $dir is typed")
    // the value layout resolves BEFORE the partition read: the first
    // header's tag, else the catalog `_type` marker — on the
    // canonical first-write LWT (`CREATE TABLE (… v text); INSERT …
    // IF NOT EXISTS`) a long default would refuse the text write, or
    // stamp a bigint-tagged first file over a declared type
    val valueType = CellSource.valueTypeOf(norm)
    withBallot(d, lockTimeoutMs, nowMs) {
      // r19: driver-local partition read — same reconcile front door
      // as the DataFrame read it replaces, zero Spark jobs (see
      // casApply).
      val part = CellSource.localReconciledRowsWhere(norm,
        Seq(EqualTo("pk", pk)), queryTimeOption(queryTimeMs))._2
      val byCell: Map[(Int, String), Any] = part.iterator
        .map(r => (r.getInt(1), r.getString(2)) -> r.get(3)).toMap
      val liveCks: Set[Int] = part.iterator.map(_.getInt(1)).toSet
      val failed = conds.iterator.map { case (ck, condCol, cond) =>
        cond match {
          case c: CasCond.CollEq =>
            // whole-collection equality (C11k): the collection is a
            // SET OF CELLS of the partition read, never one cur
            val holds0 = c.kind match {
              case "list" =>
                val vs = byCell.iterator.collect {
                  case ((k, col), v) if col == c.name => (k, v)
                }.toSeq.sortBy(_._1).map(_._2)
                vs.size == c.vals.size &&
                  vs.zip(c.vals).forall { case (a, b) => valEq(a, b) }
              case "set" =>
                val vs = byCell.iterator.collect {
                  case ((_, col), v) if col == c.name => v }.toSet
                val want = c.vals
                vs.size == want.toSet.size &&
                  want.forall(w => vs.exists(valEq(_, w)))
              case "map" =>
                // the CAS row's live non-marker cells ARE the map
                // (the C11h contract; statics are '!'-prefixed)
                val got = byCell.iterator.collect {
                  case ((k, col), v)
                      if k == ck && !col.startsWith("!") =>
                    (col, v) }.toMap
                got.size == c.entries.size &&
                  c.entries.forall { case (ek, ev) =>
                    got.get(ek).exists(valEq(_, ev)) }
              case k => throw new IllegalArgumentException(
                s"unknown collection kind $k")
            }
            (holds0 != c.negate, None: Option[String],
              None: Option[Any])
          case _ =>
            val cur: Option[Any] = condCol match {
              case Some(c) => byCell.get((ck, c))
              case None => if (liveCks(ck)) Some(0L) else None
            }
            (condHolds(cond, cur), condCol, cur)
        }
      }.find(!_._1)
      failed match {
        case Some((_, condCol, cur)) =>
          CasResult(applied = false,
            if (condCol.isDefined) cur else None)
        case None =>
          // one staged-link flush, all at the shared writetime;
          // tombstone markers riding an expiring batch keep NO
          // expiry, static cells (`!s:`) are data and DO carry it
          // (C55f + C55g)
          val wt = CellSource.lwwNowWt(norm)
          val expiry = ttlWt.map(wt + _).getOrElse(Long.MaxValue)
          CellSource.localAppend(norm, KeySpec.Default, valueType,
            writes.map { case (ck, c, v) =>
              (Seq[Any](pk, ck), c, v, wt,
                if (c.startsWith("!") &&
                    !c.startsWith(CellSource.StaticPrefix)) Long.MaxValue
                else expiry) })
          CasResult(applied = true, None)
      }
    }
  }

  /** C56d, TYPED twin (r18) — the single-partition conditional batch
    * over a CEL6/8 typed-key table: the same ONE-ballot round as
    * [[casBatch]], with the partition addressed by NAMED pk parts
    * and each condition/write row by its clustering parts' external
    * values. Conditions resolve as typed point probes (the same
    * pushed reads [[casApplyKeyed]] performs) under the single
    * ballot — a consistent partition state, since every write to the
    * table rides the ballot or the ordinary append path and the
    * ballot holder sees a frozen file set. On success every write
    * lands as ONE staged-link keyed flush at table-max-wt + 1.
    * Bigint-valued typed tables only (the keyed CAS contract).
    *
    * `pkVals`: (name, external value) per partition-key part.
    * `conds`: (ckVals, condCol, cond) — ckVals in declared
    * clustering order; `condCol = None` tests ROW presence.
    * `writes`: (ckVals, col, value) — col may be a tombstone marker.
    */
  def casBatchKeyed(spark: SparkSession, dir: String,
      pkVals: Seq[(String, Any)],
      conds: Seq[(Seq[Any], Option[String], CasCond)],
      writes: Seq[(Seq[Any], String, Long)],
      lockTimeoutMs: Long = 30000L,
      nowMs: Long = System.currentTimeMillis(),
      queryTimeMs: Long = Long.MaxValue): CasResult = {
    require(writes.nonEmpty, "an empty conditional batch is a no-op")
    require(conds.forall(_._2.forall(c => !c.startsWith("!"))),
      "CAS conditions target data cells, not markers")
    val norm = CellPlanning.normalize(dir)
    val d = Paths.get(norm)
    Files.createDirectories(d)
    val spec = CellPlanning.keySpecOf(norm, CellPlanning.listFiles(norm))
    require(!spec.isDefault,
      s"$dir is default-keyed; use casBatch(pk, …)")
    require(pkVals.map(_._1.toLowerCase) ==
        spec.pkParts.map(_.name.toLowerCase),
      "conditional BATCH must bind every partition-key part in " +
        s"key order (${spec.pkParts.map(_.name).mkString(", ")})")
    require(conds.forall(_._1.length == spec.ckParts.length) &&
        writes.forall(_._1.length == spec.ckParts.length),
      "every conditional-BATCH row binds all clustering parts " +
        s"(${spec.ckParts.map(_.name).mkString(", ")})")
    withBallot(d, lockTimeoutMs, nowMs) {
      // r19: ONE driver-local partition read serves every condition
      // (it used to be one Spark job per condition) — same reconcile
      // front door, pushed pk-part equalities, external values.
      val (schema, part) = CellSource.localReconciledRowsWhere(norm,
        pkVals.map { case (n, v) => EqualTo(n, v) },
        queryTimeOption(queryTimeMs))
      val colIdx = schema.fieldIndex("col")
      val valIdx = schema.fieldIndex("value")
      val ckIdx = spec.ckParts.map(p =>
        schema.fields.indexWhere(_.name.equalsIgnoreCase(p.name)))
      def sameCk(r: org.apache.spark.sql.Row,
          ckVals: Seq[Any]): Boolean =
        ckIdx.zip(ckVals).forall { case (i, v) => r.get(i) == v }
      val failed = conds.iterator.map { case (ckVals, condCol, cond) =>
        val row = part.filter(sameCk(_, ckVals))
        val cur: Option[Any] = condCol match {
          case Some(c) =>
            row.find(_.getString(colIdx) == c).map(_.get(valIdx))
          case None => if (row.nonEmpty) Some(0L) else None
        }
        (condHolds(cond, cur), condCol, cur)
      }.find(!_._1)
      failed match {
        case Some((_, condCol, cur)) =>
          CasResult(applied = false,
            if (condCol.isDefined) cur else None)
        case None =>
          val wt = CellSource.lwwNowWt(norm)
          CellSource.localAppend(norm, spec, CellSource.valueTypeOf(norm),
            writes.map { case (ckVals, c, v) =>
              (pkVals.map(_._2) ++ ckVals, c, v, wt, Long.MaxValue) })
          CasResult(applied = true, None)
      }
    }
  }

  /** Claim the table's ballot lock, run `body`, release. A lock file
    * older than `timeoutMs` belongs to a dead coordinator and is
    * broken; an unexpired lock means an in-flight round — callers get
    * a ContentionException (Cassandra: WriteTimeout with CAS
    * contention) rather than a blocking wait, so schedulers stay in
    * control of retry policy.
    */
  final class ContentionException(msg: String)
    extends RuntimeException(msg)

  /** The read option pinning a CAS round's `queryTime` (TTL expiry
    * reference); `Long.MaxValue` is the reader's own "none" sentinel.
    */
  private def queryTimeOption(queryTimeMs: Long): Map[String, String] =
    if (queryTimeMs == Long.MaxValue) Map.empty
    else Map("queryTime" -> queryTimeMs.toString)

  private def withBallot[A](dir: Path, timeoutMs: Long, nowMs: Long)
      (body: => A): A = {
    val lock = dir.resolve(LockName)
    var claimed = false
    var attempts = 0
    while (!claimed) {
      try { Files.createFile(lock); claimed = true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val age = nowMs - Files.getLastModifiedTime(lock).toMillis
          if (age > timeoutMs && attempts < 3) {
            Files.deleteIfExists(lock) // break the dead ballot
            attempts += 1
          } else throw new ContentionException(
            s"CAS ballot held on $dir (age ${age}ms <= ${timeoutMs}ms)")
      }
    }
    try body finally Files.deleteIfExists(lock)
  }

  // ---- C56: logged batch -------------------------------------------

  /** C56 — LOGGED BATCH (CQL `BEGIN BATCH ... APPLY BATCH`): a
    * multi-table mutation with Cassandra's exact guarantee — ATOMIC
    * in the eventual sense (either every table eventually applies or
    * none does), NOT isolated (a reader can observe one table's part
    * before another's lands).
    *
    * Protocol, mirroring the batchlog: (1) the batch's rows are
    * STAGED under `logDir/.staging-<id>/t<k>` — each target's slice
    * as its own cell table — plus a `targets` manifest; (2) one
    * atomic rename publishes the journal entry (`logDir/<id>`) — the
    * point of no return: before it, a crash leaves an invisible
    * staging orphan and NO table was touched; after it, the batch is
    * guaranteed to complete; (3) each slice appends to its target;
    * (4) the entry is deleted. A crash inside (3)/(4) is healed by
    * [[replayBatchlog]], which re-applies EVERY slice of every
    * surviving entry — over-applying is safe because identical
    * records fold by LWW to the same winners (the idempotence every
    * replay path here rides on). Counter tables are the one exception
    * — double-applied shard deltas double-count — and are refused,
    * as Cassandra refuses counters in logged batches.
    *
    * Each DataFrame is one target's slice, collected to the driver and
    * staged like [[loggedBatchSlices]]' rows; with `withExpiry` it
    * carries an absolute `_expiry` column. Returns the batch id
    * (journal entry name while in flight).
    */
  def loggedBatch(spark: SparkSession,
      writes: Seq[(String, DataFrame)], logDir: String,
      applyNow: Boolean = true,
      withExpiry: Boolean = false): String =
    loggedBatchSlices(spark, writes.map { case (t, df) =>
      // the slice's key columns carry the target's DECLARED key names
      // (C51e renames); staging maps them back to storage names
      val norm = CellPlanning.normalize(t)
      val spec = CellPlanning.keySpecOf(norm, CellPlanning.listFiles(norm))
      val keys = (spec.pkParts ++ spec.ckParts)
        .map(p => df.schema.fieldIndex(p.name))
      val Seq(c, v, w) = Seq("col", "value", "wt").map(df.schema.fieldIndex)
      val e = if (withExpiry) df.schema.fieldIndex("_expiry") else -1
      val rows = df.collect().toSeq.map { r =>
        (keys.map(r.get), r.getString(c), r.get(v), r.getLong(w),
          if (e < 0) Long.MaxValue else r.getLong(e)): CellSource.LocalRow
      }
      (t, (spec, df.schema("value").dataType, rows))
    }, logDir, applyNow, withExpiry)

  /** [[loggedBatch]] over rows already in each target's declared key
    * layout: `(target, (spec, valueType, rows))`. Every slice is
    * staged DRIVER-LOCALLY through [[CellSource.localAppend]] (a batch
    * statement's few cells must not cost a one-task write job).
    */
  def loggedBatchSlices(spark: SparkSession,
      writes: Seq[(String, (KeySpec, org.apache.spark.sql.types.DataType,
        Seq[CellSource.LocalRow]))],
      logDir: String,
      applyNow: Boolean = true,
      withExpiry: Boolean = false): String = {
    require(writes.nonEmpty, "an empty batch is a no-op — refuse loudly")
    writes.foreach { case (t, _) =>
      require(!isCounterTable(t),
        s"counter table $t cannot join a LOGGED batch (replay would " +
          "double-count shard deltas) — Cassandra's rule, kept")
    }
    val root = Paths.get(CellPlanning.normalize(logDir))
    Files.createDirectories(root)
    val id = f"batch-${System.nanoTime()}%016x"
    val staging = root.resolve(s".staging-$id")
    Files.createDirectories(staging)
    writes.zipWithIndex.foreach { case ((t, (spec, valueType, rows)), k) =>
      // the slot has no `_props`: stage with the target's STORAGE key
      // names, so the slice's headers match the target's
      CellSource.localAppend(staging.resolve(f"t$k%03d").toString,
        CellPlanning.storageKeySpec(CellPlanning.normalize(t), spec),
        valueType, rows)
    }
    Files.writeString(staging.resolve("targets"),
      writes.zipWithIndex.map { case ((t, _), k) =>
        f"t$k%03d\t${CellPlanning.normalize(t)}\t$withExpiry"
      }.mkString("", "\n", "\n"))
    val entry = root.resolve(id)
    Files.move(staging, entry, StandardCopyOption.ATOMIC_MOVE)
    if (applyNow) applyEntry(spark, entry)
    id
  }

  /** Re-apply and clear every surviving journal entry (crash
    * recovery; also the tail of a normal [[loggedBatch]]). Returns
    * the number of entries completed. Staging orphans (`.staging-*`)
    * are NOT replayed — their batch never promised anything — and are
    * swept here once they are old enough to be dead.
    */
  def replayBatchlog(spark: SparkSession, logDir: String,
      orphanAgeMs: Long = 86400000L,
      nowMs: Long = System.currentTimeMillis()): Int = {
    val root = Paths.get(CellPlanning.normalize(logDir))
    if (!Files.isDirectory(root)) return 0
    val (entries, orphans) = Using.resource(Files.list(root)) { s =>
      val all = s.iterator().asScala.filter(Files.isDirectory(_)).toList
      all.partition(!_.getFileName.toString.startsWith("."))
    }
    entries.foreach(e => applyEntry(spark, e))
    orphans.filter(o =>
      Files.getLastModifiedTime(o).toMillis < nowMs - orphanAgeMs)
      .foreach(deleteTree)
    entries.size
  }

  private def applyEntry(spark: SparkSession, entry: Path): Unit = {
    val lines = Files.readAllLines(entry.resolve("targets")).asScala
    lines.filter(_.nonEmpty).foreach { line =>
      val Array(slot, target, _) = line.split("\t", 3)
      // r19: a journal slice IS a flush-file set in the target's
      // exact layout (staged with its key spec and value type), so
      // applying it is a FILE-LEVEL publish through the commit
      // protocol — type/layout check, monotonic staged-link indices,
      // manifest refresh, write-through 2i/MV maintenance — instead
      // of the read-job + rewrite-job pair per slice it used to
      // schedule. Bit-identical cells (no re-encode), and replay
      // over-application stays LWW-idempotent exactly as before.
      // deleteTree below unlinks only the ENTRY's names; the linked
      // target generations persist.
      val slotFiles = CellPlanning
        .listFiles(entry.resolve(slot).toString)
        .filter(f => CellSource.readHeader(f).count > 0)
      if (slotFiles.nonEmpty) {
        val tNorm = CellPlanning.normalize(target)
        val tDir = Paths.get(tNorm)
        Files.createDirectories(tDir)
        val existing = CellPlanning.listFiles(tNorm)
        existing.headOption.foreach { ef =>
          val ht = CellSource.readHeader(ef)
          val hs = CellSource.readHeader(slotFiles.head)
          require((ht.valueTag, ht.decPrec, ht.decScale, ht.keySpec) ==
              ((hs.valueTag, hs.decPrec, hs.decScale, hs.keySpec)),
            s"batch slice layout does not match target $target")
        }
        CellSource.publishFlush(tNorm, existing,
          slotFiles.map(Paths.get(_)))
      }
    }
    deleteTree(entry)
  }

  private def isCounterTable(dir: String): Boolean = {
    val p = Paths.get(CellPlanning.normalize(dir))
      .resolve("_props")
    Files.exists(p) && Files.readAllLines(p).asScala
      .exists(l => l.startsWith("counter") && l.contains("true"))
  }

  private def deleteTree(p: Path): Unit =
    Using.resource(Files.walk(p)) {
      _.iterator().asScala.toList.reverse.foreach(Files.delete)
    }
}
