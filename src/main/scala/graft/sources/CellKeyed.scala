package graft.sources

import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The reconcile read path, every key layout. CEL6 typed-key records
  * (SURVEY §1.1 "PRIMARY KEY ((p1, p2), c1)"; VERDICT r6 "Next round"
  * §1) carry a precomputed partition TOKEN followed by typed key-part
  * values, so all file/chunk pruning stays on the long token while
  * rows surface the real key columns. The plain scan of both layouts
  * is [[CellColumnarReader]].
  *
  * This file is the ONE merge path for every key layout:
  * [[CellKeyedStream]] also decodes default-layout records
  * (`pk(8) ck(4) colId value wt [expiry]`) as `token = pk` (the
  * identity token of a lone `bigint` pk), `pkVals = [pk]`,
  * `ckVals = [ck]` and one constant rank, so the heap order over a
  * default file is exactly its `(pk, ck, col)` order and one LWW /
  * counter / marker / TTL state machine serves both layouts.
  */

/** Per-file decoded record stream of one sub-split: token, typed pk
  * parts, marker rank, typed ck parts, column name, typed value,
  * writetime. The decoder follows the file header's layout — the
  * same fact [[CellColumnarReader]] picks its record format by.
  */
private[sources] final class CellKeyedStream(p: CellInputPartition) {
  private val spec = p.keySpec
  private val defaultLayout = p.defaultLayout
  private val cursor = new ChunkCursor(p)
  private var remaining = 0
  var token = 0L
  var pkVals: Array[Any] = _
  var rank: Byte = 1
  var ckVals: Array[Any] = _
  var colName: String = _
  var value: Any = _
  var wt = 0L
  var expiry = Long.MaxValue // CEL10/CEL11 per-record expiry

  /** One default-layout record. Key arrays are never mutated once
    * built, so a run of records sharing a pk (or a row) shares one.
    */
  private def readDefault(b: java.nio.ByteBuffer): Unit = {
    val pk = b.getLong()
    val ck = b.getInt()
    if (pkVals == null || pk != token) {
      pkVals = Array[Any](pk); ckVals = Array[Any](ck)
    } else if (ckVals(0).asInstanceOf[Int] != ck) ckVals = Array[Any](ck)
    token = pk
  }

  private def readKeyed(b: java.nio.ByteBuffer): Unit = {
    token = b.getLong()
    val pk = new Array[Any](spec.pkParts.length)
    var i = 0
    spec.pkParts.foreach { part =>
      pk(i) = ValueCodec.read(b, part.tag, part.prec, part.scale)
      i += 1
    }
    rank = b.get()
    val ck = new Array[Any](spec.ckParts.length)
    var j = 0
    spec.ckParts.foreach { part =>
      ck(j) = ValueCodec.read(b, part.tag, part.prec, part.scale)
      j += 1
    }
    pkVals = pk; ckVals = ck
  }

  /** Next record with token in [lo, hi]; false (and closed) when the
    * sub-split is exhausted.
    */
  def advance(lo: Long, hi: Long): Boolean = {
    while (true) {
      while (remaining > 0) {
        remaining -= 1
        val b = cursor.buf
        if (defaultLayout) readDefault(b) else readKeyed(b)
        // colId is an UNSIGNED byte (up to 255 columns)
        colName = p.colNames(b.get() & 0xff)
        value = ValueCodec.read(b, p.valueTag, p.decPrec, p.decScale)
        wt = b.getLong()
        expiry = if (p.hasExpiry) b.getLong() else Long.MaxValue
        if (token >= lo && token <= hi) return true
      }
      if (!cursor.nextChunk()) { cursor.close(); return false }
      remaining = cursor.chunkRecs
    }
    false
  }

  def close(): Unit = cursor.close()
}

/** Typed key-part / value → column vector slot, shared by the plain
  * scan ([[CellColumnarReader]]) and the reconcile batch reader.
  */
private[sources] object KeyedVec {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

  def put(vec: OnHeapColumnVector, n: Int, tag: Int, prec: Int,
      v: Any): Unit = tag match {
    case ValueCodec.LongTag | ValueCodec.TimestampTag =>
      vec.putLong(n, v.asInstanceOf[Long])
    case ValueCodec.IntTag => vec.putInt(n, v.asInstanceOf[Int])
    case ValueCodec.DoubleTag => vec.putDouble(n, v.asInstanceOf[Double])
    case ValueCodec.BoolTag => vec.putBoolean(n, v.asInstanceOf[Boolean])
    case ValueCodec.StringTag =>
      val b = v.asInstanceOf[UTF8String].getBytes
      vec.putByteArray(n, b, 0, b.length)
    case ValueCodec.BinaryTag =>
      val b = v.asInstanceOf[Array[Byte]]
      vec.putByteArray(n, b, 0, b.length)
    case ValueCodec.DecimalTag =>
      vec.putDecimal(n,
        v.asInstanceOf[org.apache.spark.sql.types.Decimal], prec)
  }
}

/** What the reconcile readers need from a winner stream — the k-way
  * merge cursor, its reversing wrapper and its paging wrapper all
  * provide it, over either key layout.
  */
private[sources] trait KeyedCursor {
  def nextWinner(): Boolean
  def close(): Unit
  def pkVals: Array[Any]
  def ckVals: Array[Any]
  def colName: String
  def value: Any
  def wt: Long
  /** The winning version's CEL10/CEL11 per-cell expiry (absolute ms;
    * Long.MaxValue = never).
    */
  def expiry: Long
  def valueTag: Int
  def decPrec: Int
  def decScale: Int
}

private[sources] object KeyedCursor {
  def of(part: CellReconcilePartition,
      opts: ReconcileOptions): KeyedCursor = {
    val base: KeyedCursor =
      if (opts.reverse) new CellKeyedReverseCursor(part, opts)
      else new CellKeyedMergeCursor(part, opts)
    // the default layout's `pageAfter=pk:ck:col` is the typed cursor
    // over its one pk and one ck part
    val pageAfter = opts.pageAfterTyped.orElse(opts.pageAfter.map {
      case (pk, ck, col) => (Array[Any](pk), Array[Any](ck), col)
    })
    pageAfter.fold(base)(pa => new CellKeyedPagedCursor(base, part, pa))
  }

  /** Key layout of a reconcile partition's files (uniform: the planner
    * refuses mixed layouts).
    */
  def specOf(part: CellReconcilePartition): KeySpec =
    if (part.fileParts.isEmpty) KeySpec.Default
    else part.fileParts(0).keySpec
}

/** C52/C52b — Cassandra PAGING STATE: drops winners at or before the
  * cursor position in the stream's OWN order — (token, pk parts, ck
  * parts, col) — so pages compose with tombstones, rewrites, and TTL
  * (markers at the cursor pk have already folded into shadowing state
  * by the time winners reach here). The cursor's token already seeded
  * the scan's lower bound, so only the cursor partition's (and token
  * collisions') already-served winners reach this skip.
  */
private[sources] final class CellKeyedPagedCursor(inner: KeyedCursor,
    part: CellReconcilePartition,
    pa: (Array[Any], Array[Any], String)) extends KeyedCursor {
  private val spec = KeyedCursor.specOf(part)
  private val paToken = KeyCodec.token(spec, pa._1)

  private def beforeOrAtCursor: Boolean = {
    val t = KeyCodec.token(spec, inner.pkVals)
    var c = java.lang.Long.compare(t, paToken)
    if (c == 0)
      c = KeyCodec.compareParts(spec.pkParts, inner.pkVals, pa._1)
    if (c == 0)
      c = KeyCodec.compareParts(spec.ckParts, inner.ckVals, pa._2)
    if (c == 0) c = inner.colName.compareTo(pa._3)
    c <= 0
  }

  // winner positions are MONOTONE in stream order: once one winner
  // passes the cursor, no later winner can precede it — the per-row
  // token/compare work stops after the first kept row
  private var passed = false

  def nextWinner(): Boolean = {
    var v = inner.nextWinner()
    if (!passed) {
      while (v && beforeOrAtCursor) v = inner.nextWinner()
      if (v) passed = true
    }
    v
  }
  def close(): Unit = inner.close()
  def pkVals: Array[Any] = inner.pkVals
  def ckVals: Array[Any] = inner.ckVals
  def colName: String = inner.colName
  def value: Any = inner.value
  def wt: Long = inner.wt
  def expiry: Long = inner.expiry
  def valueTag: Int = inner.valueTag
  def decPrec: Int = inner.decPrec
  def decScale: Int = inner.decScale
}

/** Reversed clustering order (C39, CQL `ORDER BY ck DESC`): winners
  * stream out per partition in DESCENDING clustering order (columns of
  * one row stay name-ascending). The inner merge still runs FORWARD —
  * markers sort first and must fold into shadowing state before the
  * data they cover — and each partition's surviving rows buffer in a
  * per-ck tail deque. With PER PARTITION LIMIT n the deque is a RING
  * holding only the LAST n clustering rows (CQL's reversed-limit
  * semantics: last n, not first n — the inner cursor's own first-n
  * counter is disabled), so memory is O(n·columns). Without a limit
  * the buffer is one whole partition, fail-fast bounded by
  * `reverseMaxRows` — the same wide-partition guard philosophy as
  * `graft_collect_bounded`.
  */
private[sources] final class CellKeyedReverseCursor(
    part: CellReconcilePartition, opts: ReconcileOptions)
    extends KeyedCursor {
  require(!opts.keepMarkers,
    "reverse reads cannot keepMarkers (compaction is forward-only)")
  private val spec = KeyedCursor.specOf(part)
  private val inner = new CellKeyedMergeCursor(part,
    opts.copy(perPartitionLimit = Int.MaxValue))
  private val ppl = opts.perPartitionLimit
  private val maxRows = opts.reverseMaxRows
  def valueTag: Int = inner.valueTag
  def decPrec: Int = inner.decPrec
  def decScale: Int = inner.decScale

  var pkVals: Array[Any] = _
  var ckVals: Array[Any] = _
  var colName: String = _
  var value: Any = _
  var wt = 0L
  var expiry = Long.MaxValue

  private var innerValid = inner.nextWinner()
  // the current partition's surviving rows, one entry per ck in
  // ASCENDING order; emitted back-to-front
  private val groups = new java.util.ArrayDeque[
    (Array[Any], scala.collection.mutable.ArrayBuffer[
      (String, Any, Long, Long)])]()
  private var bufferedRows = 0
  private var outPk: Array[Any] = _
  private var emit: Iterator[(Array[Any], String, Any, Long, Long)] =
    Iterator.empty

  /** Buffer the next partition's winners; false when drained. */
  private def fillNextPk(): Boolean = {
    if (!innerValid) return false
    val cur = inner.pkVals
    groups.clear(); bufferedRows = 0
    while (innerValid &&
        KeyCodec.compareParts(spec.pkParts, inner.pkVals, cur) == 0) {
      if (groups.isEmpty || KeyCodec.compareParts(spec.ckParts,
          groups.peekLast()._1, inner.ckVals) != 0) {
        groups.addLast((inner.ckVals, scala.collection.mutable
          .ArrayBuffer.empty[(String, Any, Long, Long)]))
        if (ppl != Int.MaxValue && groups.size > ppl)
          bufferedRows -= groups.removeFirst()._2.size // tail ring
      }
      groups.peekLast()._2 += ((inner.colName, inner.value, inner.wt,
        inner.expiry))
      bufferedRows += 1
      if (bufferedRows > maxRows)
        throw new IllegalStateException(
          s"reverse read buffered > $maxRows rows of partition " +
            s"${cur.mkString(":")}; add perPartitionLimit, a ck slice, " +
            "or raise reverseMaxRows")
      innerValid = inner.nextWinner()
    }
    outPk = cur
    emit = new Iterator[(Array[Any], String, Any, Long, Long)] {
      private val it = groups.descendingIterator()
      private var row: Iterator[(Array[Any], String, Any, Long, Long)] =
        Iterator.empty
      def hasNext: Boolean = {
        while (!row.hasNext && it.hasNext) {
          val (c, cells) = it.next()
          row = cells.iterator.map(x => (c, x._1, x._2, x._3, x._4))
        }
        row.hasNext
      }
      def next(): (Array[Any], String, Any, Long, Long) = {
        hasNext; row.next()
      }
    }
    true
  }

  def nextWinner(): Boolean = {
    while (!emit.hasNext) if (!fillNextPk()) return false
    val (c, n, v, w, e) = emit.next()
    pkVals = outPk; ckVals = c; colName = n; value = v; wt = w
    expiry = e
    true
  }

  def close(): Unit = inner.close()
}

/** K-way merge core of every reconcile read: streams each file's
  * (already key-sorted) records through a min-heap keyed on the
  * stream order (token, pk parts, rank, ck parts, col name) and yields
  * the LWW winner — max wt, ties to greater value under the typed
  * codec order, matching [[graft.cassandra.CellModel.lwwMerge]] — or,
  * in counter mode, the shard-SUM, once per key. Memory is O(open
  * files), independent of range size. Default-layout files enter with
  * `token = pk` and one constant rank (see [[CellKeyedStream]]).
  *
  * Clustering-RANGE tombstones (`!delr:<lo>:<hi>`) apply only to
  * single-`int`-clustering-key tables (the default layout included),
  * where the marker's textual bounds are unambiguous; other layouts
  * consume the marker without effect (writing one there is a modeling
  * error, not data loss — the marker survives compaction via
  * keepMarkers either way). Clustering-PREFIX tombstones
  * (`!delpfx:<j>`, multi-part ck layouts) shadow every row whose first
  * j clustering parts equal the marker row's — Cassandra's
  * prefix-bounded RangeTombstone.
  */
private[sources] final class CellKeyedMergeCursor(
    part: CellReconcilePartition,
    opts: ReconcileOptions = ReconcileOptions()) extends KeyedCursor {
  private val spec = KeyedCursor.specOf(part)
  private val queryTime = opts.queryTime
  private val keepMarkers = opts.keepMarkers
  private val gcGraceMs = opts.gcGraceMs
  private val gcNowMs = opts.gcNowMs
  val valueTag: Int =
    if (part.fileParts.isEmpty) ValueCodec.LongTag
    else part.fileParts(0).valueTag
  val decPrec: Int =
    if (part.fileParts.isEmpty) 0 else part.fileParts(0).decPrec
  val decScale: Int =
    if (part.fileParts.isEmpty) 0 else part.fileParts(0).decScale
  /** Single-int clustering key → range tombstones interpretable. */
  private val intCk = spec.ckParts match {
    case KeyPart(_, ValueCodec.IntTag, _, _) :: Nil => true
    case _ => false
  }
  /** Identity token (a lone `bigint` pk): equal tokens ARE equal pks. */
  private val tokenIsPk = KeyCodec.identityToken(spec)
  // pushed clustering slice (C37): the typed slice, or the default
  // layout's int `[ckLower, ckUpper]` as the same slice over its ck
  private val ckSlice: Option[CkSlice] = opts.ckSlice.orElse(
    if (opts.ckLower == Int.MinValue && opts.ckUpper == Int.MaxValue) None
    else Some(CkSlice(ValueCodec.IntTag, Some(opts.ckLower), loInc = true,
      Some(opts.ckUpper), hiInc = true)))

  private val heap = new java.util.PriorityQueue[CellKeyedStream](
    math.max(1, part.fileParts.length),
    (a: CellKeyedStream, b: CellKeyedStream) => {
      var c = java.lang.Long.compare(a.token, b.token)
      if (c == 0 && !tokenIsPk)
        c = KeyCodec.compareParts(spec.pkParts, a.pkVals, b.pkVals)
      if (c == 0) c = java.lang.Byte.compare(a.rank, b.rank)
      if (c == 0)
        c = KeyCodec.compareParts(spec.ckParts, a.ckVals, b.ckVals)
      if (c == 0) c = a.colName.compareTo(b.colName)
      c
    })
  part.fileParts.foreach { fp =>
    val st = new CellKeyedStream(fp)
    if (st.advance(part.pkLo, part.pkHi)) heap.add(st)
  }

  // The current winner, valid after nextWinner() returns true.
  var pkVals: Array[Any] = _
  var ckVals: Array[Any] = _
  var colName: String = _
  var value: Any = _
  var wt = 0L
  var expiry = Long.MaxValue // the WINNING version's per-cell expiry
  private var token = 0L
  private var rank: Byte = 1

  private def samePk(t: CellKeyedStream): Boolean =
    t.token == token && (tokenIsPk ||
      KeyCodec.compareParts(spec.pkParts, t.pkVals, pkVals) == 0)
  private def sameKey(t: CellKeyedStream): Boolean =
    samePk(t) && t.rank == rank &&
      KeyCodec.compareParts(spec.ckParts, t.ckVals, ckVals) == 0 &&
      t.colName == colName

  /** Raw key-winner step: LWW by default; under counter mode, DATA
    * versions are shard deltas that SUM (value = Σ shards, wt = max
    * shard wt) while marker cells keep LWW (their values are
    * metadata, not deltas). Markers included in the output either
    * way.
    */
  private def nextKeyWinner(): Boolean = {
    val s = heap.poll()
    if (s == null) return false
    token = s.token; pkVals = s.pkVals; rank = s.rank
    ckVals = s.ckVals; colName = s.colName
    val sumShards = opts.counter &&
      !(colName.length > 0 && colName.charAt(0) == '!')
    var bwt = s.wt; var bval = s.value; var bexp = s.expiry
    if (s.advance(part.pkLo, part.pkHi)) heap.add(s)
    // Drain every version of this key (later versions of the same key
    // in the same file re-enter the heap on advance).
    var top = heap.peek()
    while (top != null && sameKey(top)) {
      val t = heap.poll()
      if (sumShards) {
        bval = ValueCodec.add(valueTag, bval, t.value)
        if (t.wt > bwt) { bwt = t.wt; bexp = t.expiry }
      } else if (t.wt > bwt || (t.wt == bwt &&
          ValueCodec.compare(valueTag, t.value, bval) > 0)) {
        bwt = t.wt; bval = t.value; bexp = t.expiry
      }
      if (t.advance(part.pkLo, part.pkHi)) heap.add(t)
      top = heap.peek()
    }
    wt = bwt; value = bval; expiry = bexp
    true
  }

  // Tombstone/TTL state, carried across the sorted key stream (markers
  // sort FIRST — rank 0 on typed layouts; '!' precedes every
  // alphanumeric column name and partition markers sit at ck =
  // Int.MinValue on the default layout): the live partition-deletion
  // ts of the current pk, its default TTL, its range/prefix
  // tombstones, and the per-(pk, ck) row and cell deletions. O(columns)
  // state, reset on key-group change.
  private var havePos = false
  private var curToken = 0L
  private var curPk: Array[Any] = _
  private var curCk: Array[Any] = _
  private var pdts = Long.MinValue
  private var ttlMs = Long.MinValue // partition-default TTL, if any
  private var cellDel = Map.empty[String, Long]
  private var rangeDel: List[(Int, Int, Long)] = Nil
  // active clustering-PREFIX tombstones of the current pk — (prefix
  // ck values, bound part count, ts); rank 0 completes the set before
  // any data row of the pk
  private var prefixDel: List[(Array[Any], Int, Long)] = Nil
  private var rowDelTs = Long.MinValue // row tombstone of current ck
  // PER PARTITION LIMIT n (C22, CQL's clause) executed INSIDE the
  // merge: count distinct cks that emitted a live cell for the
  // current pk — cks stream in ascending order, so the first n
  // counted ARE the first n clustering rows — and skip live cells of
  // later rows. Shadowed rows never count (they emit nothing), same
  // as the post-scan window they replace.
  private val ppLimit = opts.perPartitionLimit
  private var cksEmitted = 0
  private var lastEmitCk: Array[Any] = _

  /** Expired at `queryTime`? A per-cell expiry (CEL10/11, `USING
    * TTL`) OVERRIDES the `!ttl*` partition default — Cassandra's own
    * precedence — and the default applies only to cells without one.
    */
  private def expired: Boolean = {
    val effExp =
      if (expiry != Long.MaxValue) expiry
      else if (ttlMs != Long.MinValue) wt + ttlMs
      else Long.MaxValue
    effExp != Long.MaxValue && queryTime != Long.MaxValue &&
      effExp < queryTime
  }

  /** Next LIVE cell: key winners minus tombstone-shadowed cells (C5
    * semantics inside the scan): a `!del*` marker deletes every cell
    * of its pk with wt <= deletion ts; a `!del:<col>` marker deletes
    * that column's cells of its (pk, ck). Marker rows are consumed
    * into state and — by default — never emitted. Tables without
    * markers take the `colName.charAt(0) != '!'` fast path.
    *
    * Under `keepMarkers` (the COMPACTION read mode) the marker winner
    * is ALSO re-emitted after being folded into state, so a
    * compaction rewrite preserves the table's deletion/TTL metadata:
    * the `!ttl*` config marker always survives (dropping it would
    * silently disable all future expiry), and tombstones survive
    * while younger than the gc-grace window (`wt >= gcNowMs -
    * gcGraceMs`, mirroring [[graft.cassandra.CellModel.tombstoneGc]])
    * — older ones are purged WITH the data they shadow, which this
    * same merge pass already dropped, exactly Cassandra's
    * gc_grace-expired tombstone drop during compaction.
    */
  def nextWinner(): Boolean = {
    while (nextKeyWinner()) {
      // group-change bookkeeping first, for markers and data alike
      val pkChanged = !havePos || curToken != token || (!tokenIsPk &&
        KeyCodec.compareParts(spec.pkParts, curPk, pkVals) != 0)
      if (pkChanged) {
        havePos = true; curToken = token; curPk = pkVals; curCk = ckVals
        pdts = Long.MinValue; ttlMs = Long.MinValue; cellDel = Map.empty
        rangeDel = Nil; prefixDel = Nil; rowDelTs = Long.MinValue
        cksEmitted = 0; lastEmitCk = null
      } else if (
          KeyCodec.compareParts(spec.ckParts, curCk, ckVals) != 0) {
        curCk = ckVals
        cellDel = Map.empty
        rowDelTs = Long.MinValue
      }
      if (colName.length > 0 && colName.charAt(0) == '!') {
        if (colName.startsWith(CellSource.StaticPrefix)) {
          // STATIC column cell (C15b): per-partition DATA at the
          // marker position — EMIT the LWW winner unless shadowed by
          // a partition tombstone or its own cell tombstone
          // (`!del:!s:<name>`, which sorts before it) or expired.
          // Row/range tombstones never cover it (the static row is
          // not a clustering row), slices and PER PARTITION LIMIT
          // never count it, and compaction always keeps survivors.
          val covered = (pdts != Long.MinValue && wt <= pdts) ||
            cellDel.get(colName).exists(wt <= _)
          if (!covered && (keepMarkers || !expired)) return true
        } else {
          foldMarker()
          // marker rows are metadata, not output — except under
          // keepMarkers, where surviving markers are re-emitted so
          // the rewrite keeps shadowing/expiring future data
          if (keepMarkers) {
            val isTtl = colName == CellSource.PartitionTtl
            val inGrace = gcGraceMs == Long.MaxValue ||
              wt >= gcNowMs - gcGraceMs
            if (isTtl || inGrace) return true
          }
        }
      } else if (ckSlice.exists(s => !s.contains(ckVals(0)))) {
        // pushed clustering slice (C37): out-of-slice data rows drop
        // pre-materialization and never count toward the
        // per-partition limit (CQL: slice first, then LIMIT). Marker
        // rows took the branch above, so shadowing state for in-slice
        // rows is already complete. Every version of an in-slice key
        // shares its ck, so skipping here cannot change a surviving
        // winner.
      } else {
        val coveredByPk = pdts != Long.MinValue && wt <= pdts
        val coveredByRow = rowDelTs != Long.MinValue && wt <= rowDelTs
        val coveredByCell = cellDel.get(colName).exists(wt <= _)
        val coveredByRange = rangeDel.nonEmpty && intCk && {
          val ck = ckVals(0).asInstanceOf[Int]
          rangeDel.exists { case (lo, hi, ts) =>
            ck >= lo && ck <= hi && wt <= ts
          }
        }
        val coveredByPrefix = prefixDel.nonEmpty && prefixDel.exists {
          case (pfx, j, ts) => wt <= ts &&
            KeyCodec.compareParts(spec.ckParts.take(j), ckVals, pfx) == 0
        }
        // C58: a cell written before its column's drop is invisible
        // forever (Cassandra dropped_columns); the skip sits before
        // PER PARTITION LIMIT counting, so hidden cells never consume
        // the row budget
        val droppedHide =
          opts.droppedColumns.nonEmpty &&
            opts.droppedColumns.get(colName).exists(wt <= _)
        if (!coveredByPk && !coveredByRow && !coveredByCell &&
            !coveredByRange && !coveredByPrefix && !expired &&
            !droppedHide) {
          if (ppLimit == Int.MaxValue) return true
          if (lastEmitCk != null &&
              KeyCodec.compareParts(spec.ckParts, ckVals,
                lastEmitCk) == 0) return true
          if (cksEmitted < ppLimit) {
            cksEmitted += 1; lastEmitCk = ckVals
            return true
          } // else: row past the partition's limit — keep draining
        }
      }
    }
    false
  }

  /** Fold the current marker winner into the shadowing state. */
  private def foldMarker(): Unit =
    if (colName == CellSource.PartitionTombstone)
      pdts = math.max(pdts, wt)
    else if (colName == CellSource.PartitionTtl)
      ttlMs = value match {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case _ => ttlMs
      }
    else if (colName == CellSource.RowTombstone)
      rowDelTs = math.max(rowDelTs, wt)
    else if (colName.startsWith(CellSource.RangeTombstonePrefix)) {
      // `!delr:<lo>:<hi>` — bounds in the name, ts in wt
      if (intCk) {
        val body = colName.substring(
          CellSource.RangeTombstonePrefix.length)
        val sep = body.indexOf(':')
        if (sep > 0) {
          val lo = body.substring(0, sep).toInt
          val hi = body.substring(sep + 1).toInt
          rangeDel = (lo, hi, wt) :: rangeDel
        }
      }
    }
    else if (colName.startsWith(CellSource.PrefixTombstonePrefix)) {
      // `!delpfx:<j>` — the first j clustering parts of THIS marker
      // row are the bound prefix; j must be a proper prefix (a full
      // binding would be a row tombstone)
      val j = try colName.substring(
        CellSource.PrefixTombstonePrefix.length).toInt
      catch { case _: NumberFormatException => 0 }
      if (j >= 1 && j < spec.ckParts.length)
        // copy the bound prefix rather than hold the row array: this
        // state outlives the row and must not depend on how streams
        // allocate key arrays (r12 buffered flushes put marker and
        // data rows in ONE file, so same-file shadowing is common)
        prefixDel = (ckVals.take(j), j, wt) :: prefixDel
    }
    else if (colName.startsWith(CellSource.CellTombstonePrefix)) {
      val target = colName.substring(
        CellSource.CellTombstonePrefix.length)
      cellDel = cellDel.updated(target,
        math.max(wt, cellDel.getOrElse(target, Long.MinValue)))
    }

  def close(): Unit = {
    val it = heap.iterator()
    while (it.hasNext) it.next().close()
    heap.clear()
  }
}

/** Batch-emitting reconcile reader, either key layout: the merge is
  * rows by nature, but packing winners into fixed-size ColumnarBatches
  * keeps downstream operators on ColumnarToRow + whole-stage codegen,
  * same as the plain scans.
  */
class CellKeyedReconcileColumnarReader(part: CellReconcilePartition,
    cols: Array[String], opts: ReconcileOptions = ReconcileOptions())
    extends PartitionReader[
      org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch
  private val BatchRows = 4096
  private val cursor = KeyedCursor.of(part, opts)
  private val spec =
    if (part.fileParts.isEmpty) KeySpec.Default
    else if (part.tablePath.nonEmpty)
      CellPlanning.applyKeyRenames(part.tablePath,
        part.fileParts(0).keySpec)
    else CellPlanning.declaredSpecFor(part.fileParts(0).file,
      part.fileParts(0).keySpec)
  private val valueType: DataType =
    ValueCodec.dataTypeFor(cursor.valueTag, cursor.decPrec,
      cursor.decScale)
  private val fullSchema: StructType =
    CellSource.schemaFor(spec, valueType)
  // -2 = the CEL11 pseudo-column `_expiry` (withTtl reconcile scans)
  private val projIdx: Array[Int] = cols.map(c =>
    if (c == "_expiry") -2 else fullSchema.fieldIndex(c))
  private val outSchema = StructType(projIdx.map {
    case -2 => org.apache.spark.sql.types.StructField("_expiry",
      org.apache.spark.sql.types.LongType, nullable = false)
    case f => fullSchema(f)
  })
  private val nPk = spec.pkParts.length
  private val nCk = spec.ckParts.length
  private val partTags: Array[Int] =
    (spec.pkParts ++ spec.ckParts).map(_.tag).toArray
  private val partPrec: Array[Int] =
    (spec.pkParts ++ spec.ckParts).map(_.prec).toArray
  private var batch: ColumnarBatch = _
  private var winners = 0L
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(CellTaskMetric("winners_emitted", winners),
      CellTaskMetric("merge_fan_in", part.fileParts.length.toLong))

  override def next(): Boolean = {
    if (batch != null) { batch.close(); batch = null }
    // no winner left: allocate nothing (a point read pays one batch)
    if (!cursor.nextWinner()) return false
    val vectors = OnHeapColumnVector.allocateColumns(BatchRows, outSchema)
    var n = 0
    var more = true
    while (more) {
      winners += 1
      var i = 0
      while (i < projIdx.length) {
        val f = projIdx(i)
        if (f == -2) vectors(i).putLong(n, cursor.expiry)
        else if (f < nPk)
          KeyedVec.put(vectors(i), n, partTags(f), partPrec(f),
            cursor.pkVals(f))
        else if (f < nPk + nCk)
          KeyedVec.put(vectors(i), n, partTags(f), partPrec(f),
            cursor.ckVals(f - nPk))
        else if (f == nPk + nCk) {
          val b = cursor.colName.getBytes("UTF-8")
          vectors(i).putByteArray(n, b, 0, b.length)
        } else if (f == nPk + nCk + 1)
          KeyedVec.put(vectors(i), n, cursor.valueTag, cursor.decPrec,
            cursor.value)
        else vectors(i).putLong(n, cursor.wt)
        i += 1
      }
      n += 1
      more = n < BatchRows && cursor.nextWinner()
    }
    batch = new ColumnarBatch(
      vectors.map(v => v: org.apache.spark.sql.vectorized.ColumnVector))
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = {
    if (batch != null) batch.close()
    cursor.close()
  }
}
