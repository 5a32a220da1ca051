package graft.cql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** C65 — a CQL front door over the cell connector: parse a (typed
  * subset of the) CQL grammar and execute it through the SAME read
  * and write paths every other entry point uses, so each CQL contract
  * lands on the machinery built for it:
  *
  *  - `SELECT` → reconciled DSv2 read; key predicates push
  *    (Summary/bloom/sparse-index pruning, C8/C8b), `PER PARTITION
  *    LIMIT` → the merge-cursor early-out (C22), missing `ALLOW
  *    FILTERING` → the strictCql guard (C57), `GROUP BY pk[, ck]` →
  *    the zero-exchange grouped pushdown (C49/C49c), `SELECT JSON` →
  *    C63's row rendering, `LIMIT` → scan limit pushdown.
  *  - `INSERT`/`UPDATE` → cell appends (one cell per SET/data column,
  *    writetime = `USING TIMESTAMP` or table-max-wt + 1 — the C38
  *    deterministic-timestamp rule).
  *  - `DELETE` → tombstone MARKER appends, never data rewrites:
  *    partition (`!del*`), row (`!delrow`), clustering range
  *    (`!delr:lo:hi`), single cell (`!del:<col>`) — the exact marker
  *    protocol the merge cursor shadows with (C5/C5b/C5c).
  *
  * The grammar is the default-layout (pk bigint, ck int) slice of
  * CQL; table names resolve to cell-table directories via the caller-
  * supplied `resolve` (identity = the name IS the path). Statements
  * the subset can't represent fail fast with a parse error — never a
  * silent wrong answer.
  *
  * Scale: the facade adds NOTHING to the execution path — it only
  * chooses read options and predicates; plans are identical to the
  * hand-built equivalents (CqlSpec asserts the pushed plans).
  */
object Cql {
  private val Fmt = "graft.sources.CellSource"

  /** C70 — `SELECT <cols> FROM ks.t ORDER BY <v> ANN OF [..] LIMIT k`
    * (Cassandra 5's vector search statement). Matched BEFORE the
    * general SELECT so the bracket literal never reaches the plain
    * ORDER BY grammar.
    */
  private val AnnSelectRe =
    ("""(?is)^\s*SELECT\s+(.+?)\s+FROM\s+([\w.]+)""" +
      """(?:\s+WHERE\s+(.+?))?\s+ORDER\s+BY\s+""" +
      """(\w+)\s+ANN\s+OF\s*(\[[^\]]*\])\s+LIMIT\s+(\d+)\s*;?\s*$""").r

  private val SelectRe =
    ("""(?is)^\s*SELECT\s+(JSON\s+)?(DISTINCT\s+)?(.+?)\s+FROM\s+(\S+?)""" +
      """(?:\s+WHERE\s+(.+?))?""" +
      """(?:\s+GROUP\s+BY\s+([\w\s,]+?))?""" +
      """(?:\s+ORDER\s+BY\s+([\w\s,]+?))?""" +
      """(?:\s+PER\s+PARTITION\s+LIMIT\s+(\d+))?""" +
      """(?:\s+LIMIT\s+(\d+))?""" +
      """(?:\s+PAGE\s+AFTER\s+'([^']*)')?""" +
      """(\s+ALLOW\s+FILTERING)?\s*;?\s*$""").r

  private val InsertRe =
    // the VALUES group admits TWO paren-nesting levels — the C72b
    // fcall-composition literals (`toTimestamp(now())`) nest a call
    // inside a call; C72's flat `now()` needs one
    ("""(?is)^\s*INSERT\s+INTO\s+(\S+?)\s*\(([^)]*)\)\s*""" +
      """VALUES\s*\(((?:[^)]|\((?:[^()]|\([^()]*\))*\))*)\)""" +
      """(?:\s+USING\s+(.+?))?\s*;?\s*$""").r

  private val InsertJsonRe =
    ("""(?is)^\s*INSERT\s+INTO\s+(\S+?)\s+JSON\s+'(.+?)'""" +
      """(?:\s+USING\s+TIMESTAMP\s+(\d+))?\s*;?\s*$""").r

  private val InsertIfNotExistsRe =
    ("""(?is)^\s*INSERT\s+INTO\s+(\S+?)\s*\(([^)]*)\)\s*""" +
      """VALUES\s*\(((?:[^)]|\([^()]*\))*)\)""" +
      """\s+IF\s+NOT\s+EXISTS""" +
      """(?:\s+USING\s+(.+?))?\s*;?\s*$""").r

  private val UpdateRe =
    ("""(?is)^\s*UPDATE\s+(\S+?)""" +
      """(?:\s+USING\s+((?:TIMESTAMP|TTL).+?))?""" +
      """\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*$""").r

  /** `USING TIMESTAMP n [AND TTL n]` (either order, either alone) →
    * (timestamp, ttl). TTL is CQL's per-cell expiry grant; it is
    * stored in the SAME unit as wt (the facade's writetimes are
    * logical), so `INSERT ... USING TTL n` round-trips to
    * `SELECT TTL(col) = n` — Cassandra's own behavior right after a
    * write, made deterministic (no wall clock in the engine).
    */
  private val UsingTsRe = """(?is)^TIMESTAMP\s+(\d+)$""".r
  private val UsingTtlRe = """(?is)^TTL\s+(\d+)$""".r
  private def parseUsing(clause: Option[String])
      : (Option[Long], Option[Long]) = {
    var ts: Option[Long] = None
    var ttl: Option[Long] = None
    clause.foreach(_.split("(?i)\\s+AND\\s+").map(_.trim).foreach {
      case UsingTsRe(v) =>
        if (ts.isDefined) fail("duplicate USING TIMESTAMP")
        ts = Some(v.toLong)
      case UsingTtlRe(v) =>
        if (ttl.isDefined) fail("duplicate USING TTL")
        val t = v.toLong
        if (t < 0) fail("USING TTL must be non-negative")
        // TTL 0 is legal CQL: "no expiry", explicitly — the spelling
        // that OVERRIDES a table default_time_to_live
        ttl = Some(t)
      case o => fail(s"unsupported USING option: $o")
    })
    (ts, ttl)
  }

  /** Cassandra's `default_time_to_live`: a DATA write without an
    * explicit `USING TTL` takes the table's default grant (assigned
    * AT WRITE TIME — a later ALTER never touches existing cells);
    * `USING TTL 0` is the explicit "no expiry" override. Tombstone
    * markers never take TTL — they are reclaimed by gc_grace
    * compaction, and an EXPIRING tombstone would resurrect the data
    * it shadows.
    */
  private def effectiveTtl(dir: String, ttl: Option[Long])
      : Option[Long] = ttl match {
    case Some(0L) => None
    case s @ Some(_) => s
    case None => graft.sources.CellSource.defaultTtl(dir)
  }

  // the IF value admits brace literals (packed frozen<udt> values,
  // C55i) alongside the scalar `\S+` forms; the IF column admits the
  // map-entry form `m['k']` (C11j)
  private val UpdateIfRe =
    ("""(?is)^\s*UPDATE\s+(\S+?)""" +
      """(?:\s+USING\s+((?:TIMESTAMP|TTL).+?))?""" +
      """\s+SET\s+(.+?)\s+WHERE\s+(.+?)""" +
      """\s+IF\s+(\w+(?:\s*\[\s*'(?:[^']|'')*'\s*\])?)""" +
      """\s*(!=|<=|>=|=|<|>)\s*(\{[^{}]*\}|\[[^\[\]]*\]|\S+?)""" +
      """\s*;?\s*$""").r

  /** `UPDATE ... IF col IN (v1, v2, ...)` — Cassandra's IN condition
    * (r16). Matched before [[UpdateIfRe]] in the dispatcher.
    */
  private val UpdateIfInRe =
    ("""(?is)^\s*UPDATE\s+(\S+?)""" +
      """(?:\s+USING\s+((?:TIMESTAMP|TTL).+?))?""" +
      """\s+SET\s+(.+?)\s+WHERE\s+(.+?)""" +
      """\s+IF\s+(\w+(?:\s*\[\s*'(?:[^']|'')*'\s*\])?)""" +
      """\s+IN\s*\(([^)]*)\)\s*;?\s*$""").r

  /** `UPDATE ... IF a = 1 AND b > 2 AND ...` — Cassandra's
    * MULTI-condition LWT (C55e, r16): every condition tested against
    * the row's current state under ONE ballot. The tail requires a
    * literal ` AND `, so single-condition forms keep their own
    * regexes (an AND inside a quoted literal is outside this
    * subset's grammar).
    */
  private val UpdateIfMultiRe =
    ("""(?is)^\s*UPDATE\s+(\S+?)""" +
      """(?:\s+USING\s+((?:TIMESTAMP|TTL).+?))?""" +
      """\s+SET\s+(.+?)\s+WHERE\s+(.+?)""" +
      """\s+IF\s+(.+?\s+AND\s+.+?)\s*;?\s*$""").r

  /** One IF-condition term: `col <op> value` with the full operator
    * family (C55d/C55e).
    */
  private val LwtCondRe =
    ("""(?is)^\s*(\w+)\s*(!=|<=|>=|=|<|>)""" +
      """\s*(\{[^{}]*\}|\S+?)\s*$""").r

  private val UpdateIfExistsRe =
    ("""(?is)^\s*UPDATE\s+(\S+?)""" +
      """(?:\s+USING\s+((?:TIMESTAMP|TTL).+?))?""" +
      """\s+SET\s+(.+?)\s+WHERE\s+(.+?)""" +
      """\s+IF\s+EXISTS\s*;?\s*$""").r

  private val DeleteIfRe =
    ("""(?is)^\s*DELETE\s*""" +
      """(\w+(?:\s*\[\s*'(?:[^']|'')*'\s*\])?)?""" +
      """\s*FROM\s+(\S+?)\s+WHERE\s+(.+?)""" +
      """\s+IF\s+(?:(EXISTS)|(\w+(?:\s*\[\s*'(?:[^']|'')*'\s*\])?)""" +
      """\s*(!=|<=|>=|=|<|>)""" +
      """\s*(\{[^{}]*\}|\[[^\[\]]*\]|\S+?))\s*;?\s*$""").r

  private val BatchRe =
    ("""(?is)^\s*BEGIN\s+BATCH(?:\s+USING\s+TIMESTAMP\s+(\d+))?""" +
      """\s+(.+?)\s+APPLY\s+BATCH\s*;?\s*$""").r

  private val UnloggedBatchRe =
    ("""(?is)^\s*BEGIN\s+UNLOGGED\s+BATCH""" +
      """(?:\s+USING\s+TIMESTAMP\s+(\d+))?""" +
      """\s+(.+?)\s+APPLY\s+BATCH\s*;?\s*$""").r

  private val CounterBatchRe =
    ("""(?is)^\s*BEGIN\s+COUNTER\s+BATCH""" +
      """(?:\s+USING\s+TIMESTAMP\s+(\d+))?""" +
      """\s+(.+?)\s+APPLY\s+BATCH\s*;?\s*$""").r

  // ---- DDL (catalog-bound statements) ----

  private val CreateKsRe =
    ("""(?is)^\s*CREATE\s+KEYSPACE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)""" +
      """(?:\s+WITH\s+.+)?\s*;?\s*$""").r
  private val DropKsRe =
    """(?is)^\s*DROP\s+KEYSPACE\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$""".r
  // the column group is LAZY so a parenthesized WITH option
  // (CLUSTERING ORDER BY (ck DESC)) isn't swallowed by the column
  // list's closing paren; backtracking still finds the true close of
  // nested PRIMARY KEY groups because the remainder must parse
  private val CreateTableRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """(\w+)\.(\w+)\s*\((.+?)\)(?:\s*WITH\s+(.+?))?\s*;?\s*$""").r
  /** `CREATE TABLE new LIKE src` (C51d, Cassandra 5's CEP-43). */
  private val CreateLikeRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """(\w+)\.(\w+)\s+LIKE\s+(\w+)\.(\w+)\s*;?\s*$""").r
  private val CopyToRe =
    ("""(?is)^\s*COPY\s+(\w+)\.(\w+)\s+TO\s+'([^']+)'""" +
      """(?:\s+WITH\s+HEADER\s*=\s*(\w+))?\s*;?\s*$""").r
  private val CopyFromRe =
    ("""(?is)^\s*COPY\s+(\w+)\.(\w+)\s+FROM\s+'([^']+)'""" +
      """(?:\s+WITH\s+HEADER\s*=\s*(\w+))?\s*;?\s*$""").r
  private val DropTableRe =
    """(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(\w+)\.(\w+)\s*;?\s*$""".r
  private val TruncateRe =
    """(?is)^\s*TRUNCATE\s+(?:TABLE\s+)?(\w+)\.(\w+)\s*;?\s*$""".r
  private val AlterDropRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(\w+)\.(\w+)\s+DROP\s+(\w+)""" +
      """(?:\s+USING\s+TIMESTAMP\s+(\d+))?\s*;?\s*$""").r
  private val ClusteringOrderRe =
    """(?is)^\s*CLUSTERING\s+ORDER\s+BY\s*\(([^)]*)\)\s*$""".r
  private val AlterAddRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(\w+)\.(\w+)\s+ADD\s+(\w+)""" +
      """\s+(\w+)(\s+STATIC)?\s*;?\s*$""").r
  private val AlterWithRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\.(\w+)\s+WITH\s+(.+?)\s*;?\s*$""".r
  /** C51e — `ALTER TABLE ks.t RENAME a TO b [AND c TO d …]`:
    * Cassandra's one legal column rename (PRIMARY KEY parts only).
    */
  private val AlterRenameRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(\w+)\.(\w+)\s+RENAME\s+""" +
      """(.+?)\s*;?\s*$""").r
  private val RenamePairRe =
    """(?is)^\s*(\w+)\s+TO\s+(\w+)\s*$""".r
  private val SysSchemaRe =
    ("""(?is)^\s*SELECT\s+(.+?)\s+FROM\s+system_schema\.(\w+)""" +
      """(?:\s+WHERE\s+(.+?))?\s*;?\s*$""").r
  private val SysLocalRe =
    ("""(?is)^\s*SELECT\s+(.+?)\s+FROM\s+system\.(\w+)""" +
      """(?:\s+WHERE\s+(.+?))?\s*;?\s*$""").r
  private val DescTableStmtRe =
    """(?is)^\s*DESC(?:RIBE)?\s+TABLE\s+(\w+)\.(\w+)\s*;?\s*$""".r
  private val DescTypeStmtRe =
    """(?is)^\s*DESC(?:RIBE)?\s+TYPE\s+(\w+)\.(\w+)\s*;?\s*$""".r
  private val DescIndexStmtRe =
    """(?is)^\s*DESC(?:RIBE)?\s+INDEX\s+(\w+)\.(\w+)\s*;?\s*$""".r
  private val DescKeyspaceStmtRe =
    """(?is)^\s*DESC(?:RIBE)?\s+KEYSPACE\s+(\w+)\s*;?\s*$""".r
  private val DescKeyspacesRe =
    """(?is)^\s*DESC(?:RIBE)?\s+KEYSPACES\s*;?\s*$""".r
  private val DescTablesRe =
    """(?is)^\s*DESC(?:RIBE)?\s+TABLES\s*;?\s*$""".r
  private val CreateIdxRe =
    ("""(?is)^\s*CREATE\s+INDEX\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """(?:(\w+)\s+)?ON\s+(\w+)\.(\w+)\s*\(\s*""" +
      """(?:(values|keys|entries|prefix|ann|contains)\s*\(\s*(\w+)\s*\)|(\w+))\s*\)""" +
      """(?:\s+WITH\s+OPTIONS\s*=\s*\{([^}]*)\})?\s*;?\s*$""").r
  /** C18m — `CREATE CUSTOM INDEX … USING '<class>'`: the spelling
    * real Cassandra applications write. SASIIndex desugars to the
    * order-preserving LIKE modes (PREFIX is SASI's default mode,
    * CONTAINS the substring one; SPARSE is the plain identity-token
    * index), StorageAttachedIndex (Cassandra 5's SAI) to the plain
    * equality index — or the ann(c) vector index when the column is
    * vector-typed (SAI IS the vector index upstream).
    */
  private val CreateCustomIdxRe =
    ("""(?is)^\s*CREATE\s+CUSTOM\s+INDEX\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """(?:(\w+)\s+)?ON\s+(\w+)\.(\w+)\s*\(\s*(\w+)\s*\)\s+""" +
      """USING\s+'([^']+)'""" +
      """(?:\s+WITH\s+OPTIONS\s*=\s*\{([^}]*)\})?\s*;?\s*$""").r
  private val DropIdxRe =
    """(?is)^\s*DROP\s+INDEX\s+(IF\s+EXISTS\s+)?(\w+)\.(\w+)\s*;?\s*$""".r

  /** The quoted-map OPTIONS body (`'k': 'v', …`) of a CREATE INDEX —
    * ONE parser for the canonical and CUSTOM (C18m) spellings, keys
    * and values lowercased (every recognized option value is an
    * identifier-class token: modes, booleans, integers).
    */
  private def parseIndexOptions(body: String): Map[String, String] =
    body.split(',').map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        kv.split(':') match {
          case Array(k, v) =>
            (literal(k).toString.toLowerCase,
              literal(v).toString.toLowerCase)
          case _ => fail(s"malformed index option: $kv")
        }
      }.toMap
  // C71 — function/aggregate DDL (Cassandra 2.2+ surface)
  private val CreateFnRe =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?FUNCTION\s+""" +
      """(IF\s+NOT\s+EXISTS\s+)?(\w+)\.(\w+)\s*\(([^)]*)\)\s+""" +
      """(RETURNS\s+NULL\s+ON\s+NULL\s+INPUT|CALLED\s+ON\s+NULL\s+INPUT)\s+""" +
      """RETURNS\s+(\w+)\s+LANGUAGE\s+(\w+)\s+AS\s+'(.*)'\s*;?\s*$""").r
  private val DropFnRe =
    """(?is)^\s*DROP\s+FUNCTION\s+(IF\s+EXISTS\s+)?(\w+)\.(\w+)\s*;?\s*$""".r
  private val CreateAggRe =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?AGGREGATE\s+""" +
      """(IF\s+NOT\s+EXISTS\s+)?(\w+)\.(\w+)\s*\(\s*(\w+)\s*\)\s+""" +
      """SFUNC\s+(\w+)\s+STYPE\s+(\w+)""" +
      """(?:\s+FINALFUNC\s+(\w+))?(?:\s+INITCOND\s+([^;]+?))?\s*;?\s*$""").r
  private val DropAggRe =
    """(?is)^\s*DROP\s+AGGREGATE\s+(IF\s+EXISTS\s+)?(\w+)\.(\w+)\s*;?\s*$""".r
  private val DescFnsRe =
    """(?is)^\s*DESC(?:RIBE)?\s+FUNCTIONS\s*;?\s*$""".r
  private val DescFnRe =
    """(?is)^\s*DESC(?:RIBE)?\s+FUNCTION\s+(\w+)\.(\w+)\s*;?\s*$""".r
  private val DescAggsRe =
    """(?is)^\s*DESC(?:RIBE)?\s+AGGREGATES\s*;?\s*$""".r
  private val DescAggRe =
    """(?is)^\s*DESC(?:RIBE)?\s+AGGREGATE\s+(\w+)\.(\w+)\s*;?\s*$""".r
  private val CreateMvRe =
    ("""(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+""" +
      """(IF\s+NOT\s+EXISTS\s+)?(\w+)\.(\w+)\s+AS\s+SELECT\s+\*\s+""" +
      """FROM\s+(\w+)\.(\w+)\s+WHERE\s+(\w+)\s+IS\s+NOT\s+NULL\s+""" +
      """PRIMARY\s+KEY\s*\(\s*\(?\s*(\w+)\s*\)?\s*,\s*""" +
      """([\w\s,]+?)\s*\)\s*;?\s*$""").r
  private val DropMvRe =
    ("""(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?""" +
      """(\w+)\.(\w+)\s*;?\s*$""").r
  // C59b — user-defined types through the front door. The TYPE is
  // pure schema (a named field layout); values stay ONE frozen blob
  // in the cell model (C59's storage rule), so CREATE TYPE touches no
  // data machinery — it registers the layout the pack/unpack schema
  // layer applies at statement boundaries.
  private val CreateTypeRe =
    ("""(?is)^\s*CREATE\s+TYPE\s+(IF\s+NOT\s+EXISTS\s+)?""" +
      """(\w+)\.(\w+)\s*\((.+)\)\s*;?\s*$""").r
  private val DropTypeRe =
    """(?is)^\s*DROP\s+TYPE\s+(IF\s+EXISTS\s+)?(\w+)\.(\w+)\s*;?\s*$""".r
  private val AlterTypeAddRe =
    """(?is)^\s*ALTER\s+TYPE\s+(\w+)\.(\w+)\s+ADD\s+(\w+)\s+(\w+)\s*;?\s*$""".r
  private val AlterTypeRenameRe =
    ("""(?is)^\s*ALTER\s+TYPE\s+(\w+)\.(\w+)\s+RENAME\s+(\w+)\s+""" +
      """TO\s+(\w+)\s*;?\s*$""").r

  // the target-cell group admits `col`, `m['key']`, and (for
  // unfrozen UDT columns, C59d) `col.field` — the arm validates
  // the dotted form against the table's layout
  private val DeleteRe =
    ("""(?is)^\s*DELETE\s*(\w+(?:\.\w+)?""" +
      """(?:\s*\[\s*(?:'(?:[^']|'')*'|\d+)\s*\])?)?""" +
      """\s*FROM\s+(\S+?)""" +
      """(?:\s+USING\s+TIMESTAMP\s+(\d+))?""" +
      """\s+WHERE\s+(.+?)\s*;?\s*$""").r

  /** `l[i]` DELETE target form (C11e index-addressed element). */
  private val ListIdxDelRe =
    """(?is)^\s*(\w+)\s*\[\s*(\d+)\s*\]\s*$""".r

  /** `col.field` DELETE target form (C59d field tombstone). */
  private val UdtFieldDelRe = """(?is)^\s*(\w+)\.(\w+)\s*$""".r

  /** DELETE's target-cell form: a plain column name is an IDENTIFIER
    * (folds to lowercase); the map-entry form `m['K']` resolves to the
    * entry KEY verbatim — map keys are DATA, stored case-sensitively
    * (C12's rule), and the entry's cell col IS the key.
    */
  private val MapEntryRe =
    """(?is)^\s*(\w+)\s*\[\s*('(?:[^']|'')*')\s*\]\s*$""".r
  private def deleteColName(c: String): String = c match {
    case MapEntryRe(_, kq) =>
      val k = literal(kq) match {
        case s: String => s
        case o => fail(s"map key must be a text literal, got $o")
      }
      if (k.isEmpty || k.startsWith("!"))
        fail(s"unsupported map key: '$k'")
      k
    case UdtFieldDelRe(_, _) =>
      // the unfrozen-UDT field form is expanded by ITS caller
      // (execute's DeleteRe arm) — reaching here means the table has
      // no field cells (plain/typed/batch paths), where a dotted
      // marker would silently tombstone nothing
      fail(s"per-field DELETE ($c) needs a non-frozen UDT value column")
    case _ => c.toLowerCase
  }

  // ---------------------------------------------------------------
  // prepared statements (C65 — the driver wire-protocol form: every
  // real client session PREPAREs once and BINDs per execution)

  /** A prepared statement: the text split at bind markers —
    * positional `?` or named `:name` (markers inside single-quoted
    * literals are data, not markers; one statement uses ONE style,
    * the drivers' rule). `bind`/`bindNamed` render each value as a
    * typed CQL literal — strings are quoted with `''`-escaping, so
    * injection-shaped values stay data — and return the executable
    * statement. A name repeated in the text binds ONE value, applied
    * at every occurrence.
    */
  final class Prepared private[cql] (
      private val parts: IndexedSeq[String],
      private val names: IndexedSeq[String]) {
    /** Number of bind markers in the text. */
    def markers: Int = parts.length - 1

    /** Distinct marker names, in first-occurrence order; empty for a
      * positional statement. */
    def markerNames: Seq[String] = names.distinct

    def bind(values: Any*): String = {
      if (names.nonEmpty)
        fail("this statement uses named markers (" +
          markerNames.mkString(", ") + ") — bind them with bindNamed")
      if (values.length != markers)
        fail(s"prepared statement has $markers bind markers, " +
          s"got ${values.length} values")
      render(values.toIndexedSeq)
    }

    def bindNamed(values: Map[String, Any]): String = {
      if (names.isEmpty && markers > 0)
        fail("this statement uses positional markers — bind with bind")
      val known = markerNames.toSet
      val unknown = values.keySet.map(_.toLowerCase) -- known
      if (unknown.nonEmpty)
        fail(s"unknown bind name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      val lower = values.map { case (k, v) => k.toLowerCase -> v }
      val missing = known -- lower.keySet
      if (missing.nonEmpty)
        fail(s"unbound marker(s): ${missing.toSeq.sorted.mkString(", ")}")
      render(names.map(lower))
    }

    private def render(vs: IndexedSeq[Any]): String = {
      val sb = new StringBuilder(parts.head)
      vs.iterator.zip(parts.iterator.drop(1)).foreach {
        case (v, tail) => sb.append(renderBind(v)).append(tail)
      }
      sb.toString
    }
  }

  private def renderBind(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "''") + "'"
    case b: Byte => b.toString
    case s: Short => s.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case f: Float => f.toString
    case d: Double => d.toString
    case b: BigInt => b.toString
    case other => fail(
      s"cannot bind value of type ${if (other == null) "null"
        else other.getClass.getName} (bind null by omitting the " +
        "column; collections bind as literals in the statement)")
  }

  /** Prepare a statement with positional `?` or named `:name` bind
    * markers (one style per statement — the drivers' rule). The shape
    * is checked NOW (Cassandra validates at prepare time): the text
    * with every marker bound to a placeholder must parse as a known
    * statement form. The returned [[Prepared]] is immutable and
    * reusable across binds.
    */
  def prepare(stmt: String): Prepared = {
    val parts = scala.collection.immutable.IndexedSeq.newBuilder[String]
    val names = scala.collection.immutable.IndexedSeq.newBuilder[String]
    var positional = 0
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < stmt.length) {
      val c = stmt.charAt(i)
      if (c == '\'') { inQ = !inQ; cur += c; i += 1 }
      else if (!inQ && c == '?') {
        parts += cur.toString; cur.clear(); positional += 1; i += 1
      } else if (!inQ && c == ':' && i + 1 < stmt.length &&
          (stmt.charAt(i + 1).isLetter || stmt.charAt(i + 1) == '_')) {
        var j = i + 1
        while (j < stmt.length && (stmt.charAt(j).isLetterOrDigit ||
            stmt.charAt(j) == '_')) j += 1
        parts += cur.toString; cur.clear()
        names += stmt.substring(i + 1, j).toLowerCase
        i = j
      } else { cur += c; i += 1 }
    }
    parts += cur.toString
    val nm = names.result()
    if (positional > 0 && nm.nonEmpty)
      fail("cannot mix positional (?) and named (:name) bind " +
        s"markers in one statement: $stmt")
    val p = new Prepared(parts.result(), nm)
    // prepare-time shape check: a statement no form recognizes must
    // fail HERE, not on the first bind in production
    val probe =
      if (nm.isEmpty) p.bind(Seq.fill(p.markers)(0L): _*)
      else p.bindNamed(p.markerNames.map(_ -> (0L: Any)).toMap)
    if (!shapeKnown(probe))
      fail(s"cannot prepare (no statement form matches): $stmt")
    p
  }

  private def shapeKnown(s: String): Boolean = s match {
    case UnloggedBatchRe(_, _) | BatchRe(_, _) | CounterBatchRe(_, _) |
        InsertJsonRe(_, _, _) |
        InsertIfNotExistsRe(_, _, _, _) | UpdateIfRe(_, _, _, _, _, _, _) |
        UpdateIfInRe(_, _, _, _, _, _) | UpdateIfMultiRe(_, _, _, _, _) |
        UpdateIfExistsRe(_, _, _, _) | DeleteIfRe(_, _, _, _, _, _, _) |
        SelectRe(_, _, _, _, _, _, _, _, _, _, _) |
        InsertRe(_, _, _, _) | UpdateRe(_, _, _, _) |
        DeleteRe(_, _, _, _) => true
    case _ => false
  }

  /** Prepare-bind-execute in one call (the session.execute(bound)
    * shape): `values` substitute the `?` markers positionally.
    */
  def executePrepared(spark: SparkSession, stmt: String,
      values: Seq[Any],
      resolve: String => String = identity): DataFrame =
    execute(spark, prepare(stmt).bind(values: _*), resolve)

  /** Named-marker form: `values` bind the `:name` markers by name. */
  def executePrepared(spark: SparkSession, stmt: String,
      values: Map[String, Any],
      resolve: String => String): DataFrame =
    execute(spark, prepare(stmt).bindNamed(values), resolve)

  /** Execute one CQL statement. SELECT returns its result; writes
    * return an empty DataFrame after committing.
    */
  def execute(spark: SparkSession, cql: String,
      resolve: String => String = identity): DataFrame = cql match {
    case CounterBatchRe(batchTs, body) =>
      // C10d — `BEGIN COUNTER BATCH`: Cassandra's dedicated grouping
      // form for counter increments. Counters are never journaled
      // (shard deltas are not idempotent, so a crash-replay would
      // double-count) and never take client timestamps (the shard
      // coordinate IS server-assigned), so the form is grouping-only
      // — exactly the UNLOGGED execution shape — and every statement
      // MUST be a counter UPDATE (Cassandra: "Cannot include
      // non-counter statement in a counter batch").
      if (batchTs != null)
        fail("Cannot provide custom timestamp for counter batches " +
          "(counter shard writetimes are server-assigned)")
      val stmts = splitOnSemis(body, batchAware = false)
      if (stmts.isEmpty) fail("empty BATCH")
      stmts.foreach {
        case UpdateRe(table, _, _, _) =>
          if (!isCounter(resolve(table)))
            fail("Cannot include non-counter statement in a " +
              s"counter batch (UPDATE on non-counter table $table)")
        case s => fail("Cannot include non-counter statement in a " +
          s"counter batch: $s")
      }
      val freshBuf = scriptBuf.get == null
      if (freshBuf) {
        scriptWts.set(scala.collection.mutable.Map.empty)
        scriptBuf.set(scala.collection.mutable.LinkedHashMap.empty)
      }
      try {
        stmts.foreach(s => execute(spark, s, resolve))
        if (freshBuf) flushAllBuffered(spark)
      } finally if (freshBuf) {
        try flushAllBuffered(spark)
        catch { case scala.util.control.NonFatal(e) =>
          warnFlushFailure("COUNTER BATCH", e) }
        scriptWts.remove(); scriptBuf.remove()
      }
      spark.emptyDataFrame
    case UnloggedBatchRe(batchTs, body) =>
      if (batchTs != null)
        fail("batch-level USING TIMESTAMP takes a LOGGED batch (an " +
          "unlogged batch has no shared writetime by definition here)")
      // UNLOGGED batch: no journal, no shared writetime, no atomicity
      // — Cassandra's grouping-only form. Each sub-statement executes
      // as itself (own deterministic writetime), which is exactly why
      // counter batches REQUIRE this form: per-statement wts keep
      // shard deltas distinct and nothing is crash-replayed.
      val stmts = splitOnSemis(body, batchAware = false)
      if (stmts.isEmpty) fail("empty BATCH")
      // Cassandra's batch-type rule: counter and non-counter
      // operations never share a batch (their write paths differ —
      // shard deltas vs LWW cells — so one batch cannot give both
      // their semantics). A PURE-counter UNLOGGED batch stays legal
      // (it IS what BEGIN COUNTER BATCH desugars to); a mixed one
      // refuses with Cassandra's own message.
      val counterOps = stmts.map {
        case InsertRe(t, _, _, _) => isCounter(resolve(t))
        case UpdateRe(t, _, _, _) => isCounter(resolve(t))
        case DeleteRe(_, t, _, _) => isCounter(resolve(t))
        case _ => false
      }
      if (counterOps.contains(true) && counterOps.contains(false))
        fail("Cannot mix counter operations and non-counter " +
          "operations in a batch (counters take BEGIN COUNTER BATCH " +
          "or a pure-counter UNLOGGED batch)")
      // Cassandra's grouping-only form groups the I/O too: the batch
      // body runs under its own write buffer (when no script already
      // provides one), so its appends land as ONE flush per table
      val freshBuf = scriptBuf.get == null
      if (freshBuf) {
        scriptWts.set(scala.collection.mutable.Map.empty)
        scriptBuf.set(scala.collection.mutable.LinkedHashMap.empty)
      }
      try {
        stmts.foreach {
          // LWT forms must be refused BEFORE the plain-DML match:
          // UpdateRe/DeleteRe's lazy WHERE group would absorb a
          // trailing IF clause and run the CAS as an ordinary write.
          // (Cassandra allows single-partition conditional batches —
          // that form is the LOGGED `BEGIN BATCH`; an UNLOGGED batch
          // refuses conditions exactly as Cassandra does.)
          case s @ (InsertIfNotExistsRe(_, _, _, _) |
              UpdateIfRe(_, _, _, _, _, _, _) |
              UpdateIfInRe(_, _, _, _, _, _) |
              UpdateIfMultiRe(_, _, _, _, _) | UpdateIfExistsRe(_, _, _, _) |
              DeleteIfRe(_, _, _, _, _, _, _)) =>
            fail("conditional statements are not allowed in an " +
              s"UNLOGGED BATCH: $s")
          case s @ (InsertRe(_, _, _, _) | UpdateRe(_, _, _, _) |
              DeleteRe(_, _, _, _)) => execute(spark, s, resolve)
          case s => fail(s"BATCH accepts INSERT/UPDATE/DELETE, got: $s")
        }
        // success path: flush HERE so an I/O failure propagates to
        // the caller instead of vanishing in the finally (r13 fix —
        // a swallowed flush failure silently dropped the whole batch
        // while the statement reported success)
        if (freshBuf) flushAllBuffered(spark)
      } finally if (freshBuf) {
        try flushAllBuffered(spark)
        catch { case scala.util.control.NonFatal(e) =>
          warnFlushFailure("UNLOGGED BATCH", e) }
        scriptWts.remove(); scriptBuf.remove()
      }
      spark.emptyDataFrame
    case BatchRe(batchTs, body) =>
      batch(spark, body, resolve, Option(batchTs).map(_.toLong))
    case InsertJsonRe(table, json, usingTs) =>
      val dir = resolve(table)
      refuseUdt(dir, "INSERT JSON")
      // blob/counter/vector documents have no JSON grammar in this
      // subset; every SCALAR declared type routes below through its
      // own literal grammar (C63b) — Cassandra's INSERT JSON contract
      // (the COLUMN type interprets the JSON value). The value type
      // is resolved once and routes the whole statement.
      val vt = graft.sources.CellSource.valueTypeOf(dir)
      locally {
        // an UNDECLARED storage type (no cqlValueType property) must
        // be one the bigint/text/C65q document grammars below can
        // serve — an int-storage table falling through to the bigint
        // path would stamp a long-typed flush over its layout (the
        // silent-type-flip class the batch gate closes)
        val undeclaredOk = vt == org.apache.spark.sql.types.LongType ||
          vt == org.apache.spark.sql.types.StringType ||
          vt == org.apache.spark.sql.types.DoubleType ||
          vt == org.apache.spark.sql.types.BooleanType ||
          vt == org.apache.spark.sql.types.TimestampType
        if (cqlValueTypeOf(dir).exists(_.startsWith("vector<")) ||
            (cqlValueTypeOf(dir).isEmpty && !undeclaredOk) ||
            isCounter(dir))
          fail("INSERT JSON serves scalar-valued tables in this " +
            "subset; table's value type is " +
            cqlValueTypeOf(dir).getOrElse(
              SystemSchema.cqlTypeName(vt)))
      }
      val wt = Option(usingTs).map(_.toLong).getOrElse(nextWt(spark, dir))
      val spec = graft.sources.CellSource.keySpec(dir)
      val ttlOpt = effectiveTtl(dir, None) // table default, if any
      if (spec.isDefault) {
        // the document's own types carry the cell type (Cassandra's
        // INSERT JSON rule): numbers on bigint tables, strings on
        // text-valued ones (C65o, r14); mapped and C65q scalar
        // declared types re-route each field through the SAME
        // literal grammar INSERT VALUES uses (C63b, r15)
        cqlValueTypeOf(dir) match {
          case Some(ct) => appendCells(dir, vt,
            jsonAnyCells(json, wt, mappedLiteral(ct)), ttlOpt)
          case None if vt == org.apache.spark.sql.types.StringType =>
            appendCells(dir, vt, jsonStringCells(json, wt), ttlOpt)
          case None => otherScalarType(vt) match {
            case Some(vt) => appendCells(dir, vt,
              jsonAnyCells(json, wt, scalarLiteral(vt)), ttlOpt)
            case None =>
              appendCells(dir, org.apache.spark.sql.types.LongType,
                jsonCells(json, wt), ttlOpt)
          }
        }
      }
      else appendRows(dir, spec,
        jsonCellsTyped(spec, json, wt), ttlOpt)
      if (usingTs != null) forgetWt(dir)
      spark.emptyDataFrame
    case InsertIfNotExistsRe(table, cols, vals, usingClause) =>
      flushBuffered(spark, resolve(table)) // CAS reads current state
      val r = lwtInsert(spark, resolve(table), cols, vals,
        lwtTtl(resolve(table), usingClause))
      forgetWt(resolve(table)); r
    case UpdateIfMultiRe(table, usingClause, sets, where, ifTail) =>
      flushBuffered(spark, resolve(table))
      val r = lwtUpdateMulti(spark, resolve(table), sets, where,
        ifTail, lwtTtl(resolve(table), usingClause))
      forgetWt(resolve(table)); r
    case UpdateIfInRe(table, usingClause, sets, where, ifCol,
        ifVals) =>
      flushBuffered(spark, resolve(table))
      val r = lwtUpdateIn(spark, resolve(table), sets, where, ifCol,
        ifVals, lwtTtl(resolve(table), usingClause))
      forgetWt(resolve(table)); r
    case UpdateIfRe(table, usingClause, sets, where, ifCol, ifOp,
        ifVal) =>
      flushBuffered(spark, resolve(table))
      val r = lwtUpdate(spark, resolve(table), sets, where, ifCol,
        ifOp, ifVal, lwtTtl(resolve(table), usingClause))
      forgetWt(resolve(table)); r
    case UpdateIfExistsRe(table, usingClause, sets, where) =>
      flushBuffered(spark, resolve(table))
      val r = lwtUpdateExists(spark, resolve(table), sets, where,
        lwtTtl(resolve(table), usingClause))
      forgetWt(resolve(table)); r
    case DeleteIfRe(colOpt, table, where, exists, ifCol, ifOp,
        ifVal) =>
      flushBuffered(spark, resolve(table))
      val r = lwtDelete(spark, resolve(table), Option(colOpt), where,
        Option(exists).isDefined, Option(ifCol), Option(ifOp),
        Option(ifVal))
      forgetWt(resolve(table)); r
    case AnnSelectRe(cols, table, where, vcol, vec, k) =>
      annSelect(spark, resolve(table), cols.trim, vcol.toLowerCase,
        vec, k.toInt, Option(where))
    case SelectRe(json, dist, cols, table, where, group, order, ppl,
        lim, page, af) =>
      select(spark, resolve(table), Option(json).isDefined,
        Option(dist).isDefined, cols.trim,
        Option(where), Option(group), Option(order),
        Option(ppl).map(_.toInt), Option(lim).map(_.toInt),
        Option(page), Option(af).isDefined)
    case InsertRe(table, cols, vals, usingClause) =>
      val dir = resolve(table)
      val spec = graft.sources.CellSource.keySpec(dir)
      if (isCounter(dir))
        fail("counter tables take UPDATE increments, not INSERT " +
          "(Cassandra's rule)")
      // INSERT with COLLECTION literals (C11f): `INSERT ... (pk, ck,
      // qty, tags) VALUES (1, 2, 5, [7, 8])` — Cassandra's insert
      // semantics on a collection column ARE replace (complex
      // deletion + new cells), and in this engine INSERT and UPDATE
      // write identical cells, so the statement desugars to the
      // UPDATE replace form: scalar columns become plain SET items,
      // collection literals the C11f replace items, keys the WHERE.
      // Vector (the bracket IS the scalar literal) and UDT (the
      // brace IS the value literal) tables are excluded — their own
      // arms below parse those shapes.
      if (spec.isDefault && udtLayoutOf(dir).isEmpty &&
          !cqlValueTypeOf(dir).exists(_.startsWith("vector<"))) {
        val names = cols.split(',').map(_.trim.toLowerCase)
        val values = splitValues(vals).map(_.trim)
        if (names.length == values.length && names.contains("pk") &&
            values.exists(v => v.startsWith("[") || v.startsWith("{"))) {
          val kv = names.zip(values)
          val where = "pk = " + kv.toMap.apply("pk") +
            kv.toMap.get("ck").map(c => s" AND ck = $c").getOrElse("")
          val sets = kv.toSeq.filterNot { case (n, _) =>
            n == "pk" || n == "ck" }
            .map { case (n, v) => s"$n = $v" }.mkString(", ")
          if (sets.isEmpty) fail("INSERT needs at least one data column")
          val using = Option(usingClause).map(" USING " + _.trim)
            .getOrElse("")
          return execute(spark,
            s"UPDATE $table$using SET $sets WHERE $where", resolve)
        }
      }
      val (tsOpt, rawTtl) = parseUsing(Option(usingClause))
      val ttlOpt = effectiveTtl(dir, rawTtl)
      val wt = tsOpt.getOrElse(nextWt(spark, dir))
      // the value type, resolved once, routes the plain arms below
      lazy val vt = graft.sources.CellSource.valueTypeOf(dir)
      udtLayoutOf(dir) match {
        case Some(layout) if spec.isDefault =>
          // frozen<udt> value (C59b): packed blobs; unfrozen (C59d):
          // field cells + unset-field tombstones (whole overwrite)
          appendCells(dir, org.apache.spark.sql.types.BinaryType,
            if (udtUnfrozenOf(dir))
              insertUnfrozenUdtCells(cols, vals, wt, layout,
                storageField(dir))
            else insertUdtCells(cols, vals, wt, layout), ttlOpt)
        case Some(layout) => // typed layout: frozen blobs (C59c) or
          // unfrozen per-field cells + unset-field markers (C59e)
          appendRows(dir, spec,
            if (udtUnfrozenOf(dir))
              insertUnfrozenUdtTypedRows(spec, cols, vals, wt, layout,
                storageField(dir))
            else insertUdtTypedRows(spec, cols, vals, wt, layout),
            ttlOpt, org.apache.spark.sql.types.BinaryType)
        case None if spec.isDefault =>
          // mapped types (C65r) route FIRST: a uuid table stores
          // text but must validate uuid literals, not accept any
          // string the text grammar would
          cqlValueTypeOf(dir) match {
            case Some(ct) => appendCells(dir, vt,
              insertScalarCells(fcallLiteral(ct, wt), cols, vals, wt,
                graft.sources.CellSource.staticCols(dir)),
              ttlOpt)
            case None if vt == org.apache.spark.sql.types.StringType =>
              appendCells(dir, vt, insertStringCells(cols, vals, wt,
                graft.sources.CellSource.staticCols(dir)), ttlOpt)
            case None if vt == org.apache.spark.sql.types.BinaryType =>
              appendCells(dir, vt, insertBlobCells(cols, vals, wt), ttlOpt)
            case None => otherScalarType(vt) match {
              case Some(vt) => appendCells(dir, vt,
                insertScalarCells(fcallScalar(vt, wt), cols, vals, wt,
                  graft.sources.CellSource.staticCols(dir)),
                ttlOpt)
              case None => appendCells(dir, org.apache.spark.sql.types.LongType,
                insertCells(cols, vals, wt,
                  graft.sources.CellSource.staticCols(dir)), ttlOpt)
            }
          }
        case None =>
          // typed vector tables (C70d): the bracket literal parses
          // through the declared grammar and writes binary cells
          cqlValueTypeOf(dir) match {
            case Some(ct) => appendRows(dir, spec,
              insertTypedRows(spec, cols, vals, wt,
                fcallLiteral(ct, wt)), ttlOpt, vt)
            case None =>
              insertTyped(spark, dir, spec, cols, vals, wt, ttlOpt)
          }
      }
      if (tsOpt.isDefined) forgetWt(dir)
      spark.emptyDataFrame
    case UpdateRe(table, usingClause, sets, where) =>
      val dir = resolve(table)
      val (tsOpt, rawTtl) = parseUsing(Option(usingClause))
      val ttlOpt = effectiveTtl(dir, rawTtl)
      val wt = tsOpt.getOrElse(nextWt(spark, dir))
      val spec = graft.sources.CellSource.keySpec(dir)
      // the value type, resolved once, routes the plain arms below
      lazy val vt = graft.sources.CellSource.valueTypeOf(dir)
      if (isCounter(dir)) {
        // counter arithmetic: each increment is one SHARD-DELTA cell
        // at a fresh writetime; the counter read mode SUMS shards
        // (C10) — no read-modify-write anywhere. TTL on counters is
        // refused (Cassandra's rule).
        if (rawTtl.isDefined) fail("counters cannot have TTL")
        if (spec.isDefault)
          appendCells(dir, org.apache.spark.sql.types.LongType,
            counterUpdateCells(sets, where, wt))
        else appendRows(dir, spec,
          counterUpdateTypedRows(spec, sets, where, wt), ttl = None)
      } else if (udtLayoutOf(dir).isDefined) {
        // frozen<udt> SET items are whole-value literals — routed
        // BEFORE the collection sniff ({...} would read as a map);
        // unfrozen (C59d) additionally patches single fields
        if (spec.isDefault)
          appendCells(dir, org.apache.spark.sql.types.BinaryType,
            if (udtUnfrozenOf(dir))
              unfrozenUdtUpdateCells(sets, where, wt,
                udtLayoutOf(dir).get, storageField(dir))
            else udtUpdateCells(sets, where, wt, udtLayoutOf(dir).get),
            ttlOpt)
        else appendRows(dir, spec,
          if (udtUnfrozenOf(dir))
            unfrozenUdtUpdateTypedRows(spec, sets, where, wt,
              udtLayoutOf(dir).get, storageField(dir))
          else updateUdtTypedRows(spec, sets, where, wt,
            udtLayoutOf(dir).get), ttlOpt,
          org.apache.spark.sql.types.BinaryType)
      } else if (spec.isDefault) {
        cqlValueTypeOf(dir) match {
          case Some(ct) =>
            // mapped types (C65r/C65x): element cells parse through
            // the DECLARED grammar — `set<inet>` adds validated
            // addresses, `map<text, date>` entries store day counts.
            // On a VECTOR table the bracket form IS the literal, so
            // collection syntax never routes there.
            if (hasCollectionSyntax(sets) && !ct.startsWith("vector<"))
              collectionUpdate(spark, dir, sets, where, wt, ttlOpt)
            else appendCells(dir, vt,
              updateScalarCells(fcallLiteral(ct, wt), sets, where, wt,
                graft.sources.CellSource.staticCols(dir)),
              ttlOpt)
          case None if hasCollectionSyntax(sets) =>
            // element cells take the table's value type: bigint on
            // the default, TEXT on a text-valued table (C65o, r14)
            collectionUpdate(spark, dir, sets, where, wt, ttlOpt)
          case None if vt == org.apache.spark.sql.types.StringType =>
            appendCells(dir, vt, updateStringCells(sets, where, wt,
              graft.sources.CellSource.staticCols(dir)), ttlOpt)
          case None if vt == org.apache.spark.sql.types.BinaryType =>
            appendCells(dir, vt, updateBlobCells(sets, where, wt), ttlOpt)
          case None => otherScalarType(vt) match {
            case Some(vt) => appendCells(dir, vt,
              updateScalarCells(fcallScalar(vt, wt), sets, where, wt,
                graft.sources.CellSource.staticCols(dir)),
              ttlOpt)
            case None => appendCells(dir, org.apache.spark.sql.types.LongType,
              updateCells(sets, where, wt,
                graft.sources.CellSource.staticCols(dir)), ttlOpt)
          }
        }
      } else cqlValueTypeOf(dir) match {
        // typed vector tables (C70d) route BEFORE the collection
        // sniff — the bracket form IS the vector literal
        case Some(ct) => appendRows(dir, spec,
          updateTypedRows(spec, sets, where, wt, fcallLiteral(ct, wt)),
          ttlOpt, vt)
        case None if hasCollectionSyntax(sets) =>
          collectionUpdateTyped(spark, dir, spec, sets, where, wt,
            ttlOpt)
        case None =>
          updateTyped(spark, dir, spec, sets, where, wt, ttlOpt)
      }
      if (tsOpt.isDefined) forgetWt(dir)
      spark.emptyDataFrame
    case DeleteRe(colOpt, table, usingTs, where) =>
      val dir = resolve(table)
      val dts = Option(usingTs).map(_.toLong).getOrElse(nextWt(spark, dir))
      val spec = graft.sources.CellSource.keySpec(dir)
      Option(colOpt).collect {
        case UdtFieldDelRe(c, f) => (c.toLowerCase, f.toLowerCase)
      }.foreach { case (c, f) =>
        if (!udtUnfrozenOf(dir))
          fail(s"DELETE $c.$f needs a non-frozen UDT value column " +
            "(frozen values delete whole; plain layouts have no " +
            "field cells)")
        val declared = graft.functions.UdtValues
          .fields(udtLayoutOf(dir).get)
        if (!declared.contains(f))
          fail(s"unknown UDT field $f of $c (declared: " +
            declared.mkString(", ") + ")")
      }
      if (udtLayoutOf(dir).isDefined && spec.isDefault) {
        // tombstones on a binary-valued table carry an EMPTY blob —
        // the marker col name is the whole message, and the append
        // must match the table's value type. Unfrozen columns (C59d)
        // tombstone per FIELD CELL: `DELETE c.f` marks that one
        // field, `DELETE c` expands to every declared field.
        val markers = unfrozenDeleteTargets(dir, Option(colOpt)) match {
          case Some(ts) =>
            val (pks, ckEq, ckLo, ckHi) = keyPredicate(where)
            // a field-cell delete addresses exactly one row — a
            // clustering RANGE alongside (ignored before r14) now
            // refuses, mirroring deleteMarkers' statement-shape
            // strictness instead of silently dropping the bounds
            if (ckLo != Int.MinValue || ckHi != Int.MaxValue)
              fail(s"DELETE ${ts.head} takes WHERE pk = ? AND " +
                "ck = ? exactly — clustering ranges cannot combine " +
                "with a field-cell delete")
            val ck = ckEq.getOrElse(
              fail(s"DELETE ${ts.mkString(", ")} needs " +
                "WHERE ... AND ck = ?"))
            for {
              pk <- pks.toSeq.sorted; t <- ts
            } yield (pk, ck, s"!del:$t", Array.empty[Byte], dts)
          case None =>
            deleteMarkers(Option(colOpt), where, dts).map {
              case (pk, ck, c, _, w) =>
                (pk, ck, c, Array.empty[Byte], w)
            }
        }
        appendCells(dir, org.apache.spark.sql.types.BinaryType, markers)
      }
      else if (udtLayoutOf(dir).isDefined) {
        // typed udt tombstones: frozen tables reuse the plain typed
        // marker rows with an empty-blob value slot; unfrozen (C59e)
        // expands per-FIELD markers over the named key parts, the
        // typed twin of the default branch above
        val rows = unfrozenDeleteTargets(dir, Option(colOpt)) match {
          case Some(ts) =>
            val (pks, ckOpt, range) = typedKeyPredicate(spec, where,
              ckPrefix = true)
            if (range.isDefined)
              fail(s"DELETE ${ts.head} takes every key part by " +
                "equality — clustering ranges cannot combine with " +
                "a field-cell delete")
            val ck = ckOpt.filter(_.length == spec.ckParts.length)
              .getOrElse(fail(s"DELETE ${ts.mkString(", ")} needs " +
                "every clustering part bound by equality"))
            for { pk <- pks; t <- ts }
              yield pk ++ ck ++
                Seq(s"!del:$t", Array.empty[Byte]: Any, dts)
          case None =>
            deleteTypedRows(spec, Option(colOpt), where, dts)
              .map(r =>
                r.updated(r.length - 2, Array.empty[Byte]: Any))
        }
        appendRows(dir, spec, rows, ttl = None,
          org.apache.spark.sql.types.BinaryType)
      }
      else if (spec.isDefault) {
        // index-addressed element delete (C11e): `DELETE l[i]`
        // tombstones the i-th LIVE element's cell — the target ck is
        // STATE-derived (Cassandra's read-before-write list
        // operation), so it cannot ride the pure marker builder
        val listIdxDel = Option(colOpt).collect {
          case ListIdxDelRe(c, i) => (c.toLowerCase, i.toInt) }
        val markers = listIdxDel match {
          case Some((name, idx)) =>
            if (name.startsWith("!"))
              fail(s"unsupported collection name: $name")
            cqlCollectionOf(dir).foreach(dc =>
              if (!dc.startsWith("list"))
                fail(s"DELETE $name[$idx] does not apply to a $dc " +
                  "column (declared list deletes only)"))
            val (pks, ckEq, ckLo, ckHi) = keyPredicate(where)
            if (ckEq.isDefined || ckLo != Int.MinValue ||
                ckHi != Int.MaxValue)
              fail(s"DELETE $name[$idx] binds the partition alone " +
                "(the index addresses the element row)")
            // the read below must see this script's buffered writes
            flushBuffered(spark, dir)
            listIndexTargets(dir, name, pks.toSeq.sorted, idx)
              .map { case (pk, ck) =>
                (pk, ck, s"!del:$name", 0L, dts) }
          case None =>
            // whole-collection DELETE (C11f): on a DECLARED list/set
            // table, `DELETE c FROM t WHERE pk = ?` (no clustering
            // bound — elements own the cks) shadows every live
            // element cell, the per-cell trade replace makes; with a
            // ck bound, or on undeclared tables, the plain per-cell
            // marker semantics below stay
            val (pks0, ckEq0, ckLo0, ckHi0) = keyPredicate(where)
            val statics = graft.sources.CellSource.staticCols(dir)
            val wholeColl = Option(colOpt).filter(c =>
              c.matches("""(?s)\w+""") &&
                ckEq0.isEmpty && ckLo0 == Int.MinValue &&
                ckHi0 == Int.MaxValue &&
                !statics.contains(c.toLowerCase) &&
                cqlCollectionOf(dir).exists(dc =>
                  dc.startsWith("list") || dc.startsWith("set")))
            // whole-MAP delete (C11h): on a DECLARED map column the
            // row's non-marker cells ARE the entries — the CK-LESS
            // `DELETE m FROM t WHERE pk = ?` clears every row's map
            // of the partition. The ck-BOUND bare-name form stays
            // the ENTRY delete (`DELETE start … AND ck = ?` shadows
            // the col-keyed entry cell — the pre-C11h contract C65z
            // depends on; the row-scoped clear is `SET m = {}`).
            // Statics are '!s:'-prefixed, so the marker filter
            // spares them.
            val wholeMap = Option(colOpt).filter(c =>
              c.matches("""(?s)\w+""") &&
                ckEq0.isEmpty &&
                ckLo0 == Int.MinValue && ckHi0 == Int.MaxValue &&
                !statics.contains(c.toLowerCase) &&
                cqlCollectionOf(dir).exists(_.startsWith("map")))
            (wholeColl, wholeMap) match {
              case (Some(c), _) =>
                val name = c.toLowerCase
                flushBuffered(spark, dir)
                localReconciled(dir, pks0.toSeq)
                  .filter(_.getString(2) == name)
                  .map(r => (r.getLong(0), r.getInt(1),
                    s"!del:$name", 0L, dts))
              case (None, Some(_)) =>
                flushBuffered(spark, dir)
                localReconciled(dir, pks0.toSeq)
                  .filter(r => !r.getString(2).startsWith("!"))
                  .map(r => (r.getLong(0), r.getInt(1),
                    s"!del:${r.getString(2)}", 0L, dts))
              case _ =>
                deleteMarkers(Option(colOpt), where, dts, statics)
            }
        }
        // tombstones carry the table's value type; the marker's value
        // slot is inert and takes its neutral (empty string on text
        // storage, empty blob on blob tables, the mapped types'
        // storage zero) — the marker col name is the whole message
        appendCells(dir, graft.sources.CellSource.valueTypeOf(dir),
          markers)
      }
      else deleteTyped(dir, spec, Option(colOpt), where, dts)
      if (usingTs != null) forgetWt(dir)
      spark.emptyDataFrame
    case _ => fail(s"unsupported CQL statement: $cql")
  }

  /** Run a multi-statement CQL script (cqlsh-style): statements split
    * on `;` outside quotes — BEGIN BATCH … APPLY BATCH stays one
    * statement — executed in order; the LAST statement's result is
    * returned (empty for a write/DDL tail).
    */
  def executeScript(spark: SparkSession, script: String,
      resolve: String => String = identity): DataFrame = {
    val stmts = splitStatements(script)
    if (stmts.isEmpty) fail("empty CQL script")
    // per-script writetime allocator (see nextWt): re-entrant calls
    // keep the outer script's counters
    val fresh = scriptWts.get == null
    if (fresh) {
      scriptWts.set(scala.collection.mutable.Map.empty)
      scriptBuf.set(scala.collection.mutable.LinkedHashMap.empty)
    }
    try {
      val r = stmts.map(execute(spark, _, resolve)).last
      if (fresh) flushAllBuffered(spark)
      r
    } finally if (fresh) {
      // error path: statements before the failure DID execute (CQL
      // scripts have no atomicity) — their buffered cells must land;
      // a failure of THIS flush is logged, not rethrown, so it cannot
      // mask the original statement error (the success path above
      // already flushed and propagated)
      try flushAllBuffered(spark)
      catch { case scala.util.control.NonFatal(e) =>
        warnFlushFailure("CQL script", e) }
      scriptWts.remove(); scriptBuf.remove()
    }
  }

  /** An end-of-script flush failed on an already-failing path: the
    * original error is about to propagate, so surface this one on
    * stderr instead of rethrowing over it (r13 — previously swallowed
    * silently, an error-path data-loss hole).
    */
  private def warnFlushFailure(where: String, e: Throwable): Unit =
    System.err.println(s"graft.cql: $where end-of-script flush " +
      s"failed — unflushed buffered writes were lost: $e")

  /** Split on `;` outside single quotes, keeping BATCH blocks whole.
    * Keyword detection uses length-preserving case-insensitive
    * regionMatches — NOT a pre-uppercased copy, whose locale/Unicode
    * case mappings can change string length (e.g. 'ß' → "SS" inside a
    * quoted literal) and desynchronize positions.
    */
  private def splitStatements(script: String): Seq[String] =
    splitOnSemis(script, batchAware = true)

  private def splitOnSemis(script: String, batchAware: Boolean)
      : Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var depth = 0 // BATCH nesting (BEGIN BATCH … APPLY BATCH)
    var i = 0
    while (i < script.length) {
      val c = script.charAt(i)
      if (c == '\'') inQ = !inQ
      if (batchAware && !inQ) {
        if (script.regionMatches(true, i, "BEGIN BATCH", 0, 11) ||
            script.regionMatches(true, i, "BEGIN UNLOGGED BATCH", 0, 20) ||
            script.regionMatches(true, i, "BEGIN COUNTER BATCH", 0, 19))
          depth += 1
        if (script.regionMatches(true, i, "APPLY BATCH", 0, 11)) depth -= 1
      }
      if (c == ';' && !inQ && depth == 0) {
        out += cur.toString; cur.clear()
      } else cur += c
      i += 1
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  // ---------------------------------------------------------------
  // LWT (C55) — `IF NOT EXISTS` / `IF col = v` route through the
  // ballot-locked compare-and-set; the result relation mirrors
  // Cassandra's `[applied]` row.

  private def setColNames(sets: String): Seq[String] =
    sets.split(',').toSeq.collect {
      case SetRe(c, _) => c.toLowerCase }

  /** Static columns address the partition; the CAS machinery here
    * addresses one (pk, ck) cell — refuse loudly instead of writing a
    * mispositioned cell.
    */
  private def refuseStaticLwt(dir: String, cols: Seq[String]): Unit = {
    val st = graft.sources.CellSource.staticCols(dir)
    if (st.nonEmpty && cols.exists(st.contains))
      fail("static columns in conditional statements are not " +
        "supported in this subset")
  }

  /** The optional USING clause of a conditional statement (C55g):
    * Cassandra serves TTL on conditional writes but never custom
    * timestamps (the CAS winner's coordinate IS the ballot's own
    * "wins LWW now" writetime). The table's default_time_to_live
    * applies exactly as on plain writes.
    */
  private def lwtTtl(dir: String, usingClause: String): Option[Long] = {
    val (ts, rawTtl) = parseUsing(Option(usingClause))
    if (ts.isDefined)
      fail("Cannot provide custom timestamp for conditional updates " +
        "(Cassandra's rule: the CAS winner takes the ballot's " +
        "writetime)")
    effectiveTtl(dir, rawTtl)
  }

  /** Cassandra's LWT result row: `[applied]` (a non-null boolean)
    * and the `current` value the condition saw, typed by that value —
    * text, timestamp, blob (packed udt or 0x), int-storage declared
    * types, double, boolean, decimal as `decimal(38,18)`, and bigint
    * for bigint cells or when no value is reported: one declared
    * schema and one local row.
    */
  private def lwtResult(spark: SparkSession,
      r: graft.sources.CellTransactions.CasResult): DataFrame = {
    import org.apache.spark.sql.types._
    val currentType: DataType = r.current match {
      case Some(_: String) => StringType
      case Some(_: java.sql.Timestamp) => TimestampType
      case Some(_: Array[Byte]) => BinaryType
      case Some(_: Int) => IntegerType
      case Some(_: Double) => DoubleType
      case Some(_: Boolean) => BooleanType
      case Some(_: java.math.BigDecimal) => DecimalType.SYSTEM_DEFAULT
      case _ => LongType
    }
    spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(r.applied,
        r.current.orNull): org.apache.spark.sql.Row),
      StructType(Seq(
        StructField("[applied]", BooleanType, nullable = false),
        StructField("current", currentType, nullable = true))))
  }

  /** The CAS row of a TYPED table, from a WHERE that must bind every
    * key part by equality (Cassandra's LWT rule) — (name, value)
    * pairs in key order for [[graft.sources.CellTransactions
    * .casApplyKeyed]].
    */
  private def typedCasKey(spec: graft.sources.KeySpec,
      where: String): Seq[(String, Any)] = {
    val (pkTuples, ckEq, range) = typedKeyPredicate(spec, where)
    if (range.isDefined)
      fail("conditional statements bind the CAS row exactly — no " +
        "clustering ranges")
    if (pkTuples.length != 1)
      fail("conditional statements bind exactly one partition key")
    if (spec.ckParts.nonEmpty && ckEq.isEmpty)
      fail("conditional statements must bind every clustering part " +
        "(the CAS row)")
    (spec.pkParts.map(_.name.toLowerCase)
      .zip(pkTuples.head)) ++
      (spec.ckParts.map(_.name.toLowerCase)
        .zip(ckEq.getOrElse(Seq.empty)))
  }

  /** The single `col = <bigint>` pair of a conditional SET clause. */
  private def casSet(sets: String): (String, Long) = sets.trim match {
    case SetRe(c, v) if !c.startsWith("!") =>
      (c.toLowerCase, longLiteral(v, s"value of $c"))
    case s => fail(s"conditional UPDATE takes exactly one " +
      s"SET col = <bigint>, got: $s")
  }

  private def lwtInsert(spark: SparkSession, dir: String,
      cols: String, vals: String,
      ttl: Option[Long] = None): DataFrame = {
    udtCasLayout(dir).foreach { layout =>
      // frozen<udt> (C55i): IF NOT EXISTS over the packed-blob cell
      val cs = insertUdtCells(cols, vals, AssignLater, layout)
      if (cs.length != 1)
        fail("INSERT ... IF NOT EXISTS takes exactly one data " +
          "column (the CAS cell)")
      return lwtResult(spark, graft.sources.CellTransactions.casApply(
        spark, dir, cs.head._1, cs.head._2,
        condCol = Some(cs.head._3),
        cond = graft.sources.CellTransactions.CasCond.Absent,
        writeCol = cs.head._3, writeValue = cs.head._4, ttlWt = ttl))
    }
    val mappedCas = refuseLwtValueType(dir, allowText = true)
    val spec = graft.sources.CellSource.keySpec(dir)
    import graft.sources.CellTransactions
    import graft.sources.CellTransactions.CasCond
    if (spec.isDefault && isMapDeclared(dir)) {
      // declared-map INSERT {…} IF NOT EXISTS (C11j): the write
      // applies only when the row is ABSENT, so the replace form's
      // clear set is EMPTY by construction — the literal's entry
      // puts are the whole write, and the row-absence condition + N
      // entry cells ride ONE casBatch round at one writetime
      val names = cols.split(',').map(_.trim.toLowerCase)
      val values = splitValues(vals).map(_.trim)
      if (names.length != values.length)
        fail(s"INSERT arity mismatch: ${names.length} columns, " +
          s"${values.length} values")
      val kv = names.zip(values).toMap
      val pk = longLiteral(
        kv.getOrElse("pk", fail("INSERT must bind pk")), "pk")
      val ck = ckLiteral(
        kv.getOrElse("ck", fail("INSERT must bind ck")))
      val data = names.filterNot(n => n == "pk" || n == "ck").toSeq
      if (data.length != 1)
        fail("INSERT ... IF NOT EXISTS takes exactly one data " +
          "column (the map literal)")
      val raw = kv(data.head)
      if (!(raw.startsWith("{") && raw.endsWith("}")))
        fail("INSERT on a declared map table takes a map literal " +
          s"{'k': v, …}, got: $raw")
      val entries = mapEntries(raw.substring(1, raw.length - 1),
        lwtValueParse(mappedCas, isStringValued(dir)))
      if (entries.isEmpty)
        fail("INSERT of an empty map literal under IF NOT EXISTS " +
          "writes nothing")
      return lwtResult(spark, CellTransactions.casBatch(
        spark, dir, pk,
        Seq((ck, None: Option[String], CasCond.Absent: CasCond)),
        entries.map { case (k, v) => (ck, k, v) },
        ttlWt = ttl))
    }
    if (spec.isDefault) {
      refuseStaticLwt(dir, cols.split(',').map(_.trim.toLowerCase))
      // text-valued tables (C65o, r14) CAS text cells; the condition
      // and write ride the same generalized round. Text-storage
      // mapped types (C55c, r15) ride it too — through their OWN
      // validated literal grammar.
      val (pk, ck, c, v) =
        if (mappedCas.isDefined) {
          val cs = insertScalarCells(mappedLiteral(mappedCas.get),
            cols, vals, AssignLater)
          if (cs.length != 1)
            fail("INSERT ... IF NOT EXISTS takes exactly one data " +
              "column (the CAS cell)")
          (cs.head._1, cs.head._2, cs.head._3, cs.head._4: Any)
        } else if (isStringValued(dir)) {
          val cs = insertStringCells(cols, vals, AssignLater, Set.empty)
          if (cs.length != 1)
            fail("INSERT ... IF NOT EXISTS takes exactly one data " +
              "column (the CAS cell)")
          (cs.head._1, cs.head._2, cs.head._3, cs.head._4: Any)
        } else {
          val cs = insertCells(cols, vals, AssignLater)
          if (cs.length != 1)
            fail("INSERT ... IF NOT EXISTS takes exactly one data " +
              "column (the CAS cell)")
          (cs.head._1, cs.head._2, cs.head._3, cs.head._4: Any)
        }
      lwtResult(spark, CellTransactions.casApply(
        spark, dir, pk, ck, condCol = Some(c), cond = CasCond.Absent,
        writeCol = c, writeValue = v, ttlWt = ttl))
    } else {
      if (ttl.isDefined)
        fail("LWT USING TTL serves the default ((pk), ck) layout " +
          "in this subset")
      // typed table: every key part bound by name + ONE data column
      val names = cols.split(',').map(_.trim.toLowerCase)
      val values = splitValues(vals).map(_.trim)
      if (names.length != values.length)
        fail(s"INSERT arity mismatch: ${names.length} columns, " +
          s"${values.length} values")
      val kv = names.zip(values).toMap
      val keyParts = spec.pkParts ++ spec.ckParts
      val keyNames = keyParts.map(_.name.toLowerCase)
      val keyVals = keyParts.map(p =>
        p.name.toLowerCase -> keyLiteral(p,
          kv.getOrElse(p.name.toLowerCase,
            fail(s"INSERT must bind key part ${p.name}")), "key part"))
      val data = names.filterNot(keyNames.contains).toSeq
      if (data.length != 1)
        fail("INSERT ... IF NOT EXISTS takes exactly one data column " +
          "(the CAS cell)")
      val c = data.head
      lwtResult(spark, CellTransactions.casApplyKeyed(
        spark, dir, keyVals, condCol = Some(c), cond = CasCond.Absent,
        writeCol = c, writeValue = longLiteral(kv(c), s"value of $c")))
    }
  }

  /** The IF condition's literal parser for a table: the declared
    * mapped grammar, text, or bigint — what `=`/`!=`/`IN` members
    * parse through (C55d, r16).
    */
  private def casCondLit(mappedCas: Option[String], str: Boolean)(
      raw: String): Any = mappedCas
    .map(ct => mappedLiteral(ct)(raw, "IF condition"))
    .getOrElse(collValue(str)(raw, "IF condition"))

  /** Build the operator condition (C55d): `=`/`!=` parse through the
    * table's grammar (an ABSENT cell satisfies `!=`, Cassandra's
    * null rule); the ORDERED comparisons compare in the DECLARED
    * type's order (C55h, r18) — bigint cells numerically, and the
    * text-storage renderings decode-then-compare (a timeuuid by its
    * 60-bit time, an inet by its address bytes — the canonical text
    * itself does not sort by the declared order).
    */
  private def casOpCond(mappedCas: Option[String], str: Boolean,
      op: String, raw: String)
      : graft.sources.CellTransactions.CasCond = {
    import graft.sources.CellTransactions.CasCond
    op match {
      case "=" => CasCond.Equals(casCondLit(mappedCas, str)(raw))
      case "!=" => CasCond.NotEquals(casCondLit(mappedCas, str)(raw))
      case o => mappedCas match {
        case Some(ct) =>
          CasCond.CmpBy(o, mappedLiteral(ct)(raw, "IF condition"),
            declaredOrder(ct))
        case None if str =>
          CasCond.CmpBy(o,
            collValue(stringValued = true)(raw, "IF condition"),
            declaredOrder("text"))
        case None => CasCond.Cmp(o, longLiteral(raw, "IF condition"))
      }
    }
  }

  /** C55h — the DECLARED type's total order over its text STORAGE
    * rendering, for ordered LWT conditions (Cassandra serves
    * `IF c > ?` on every scalar type; the rendering alone cannot
    * stand in — a timeuuid's canonical hex does not sort by time).
    * One comparator per admitted type:
    *   - timeuuid: the 60-bit time (Cassandra's TimeUUIDType order),
    *     canonical-text tiebreak;
    *   - uuid: version, then v1 time, then the unsigned 128-bit
    *     value — which the canonical lowercase rendering's lexical
    *     order equals (fixed-width hex, hyphens at fixed offsets);
    *   - inet: the address BYTES, unsigned lexicographic (an IPv4
    *     before the longer IPv6 on a shared prefix);
    *   - ascii / text: UTF-8 byte order (for ASCII, String order).
    * Both sides are validated renderings: the stored cell went
    * through the write grammar, the literal through
    * [[mappedLiteral]].
    */
  private def declaredOrder(ct: String): (Any, Any) => Int = {
    def u(x: Any) = java.util.UUID.fromString(x.asInstanceOf[String])
    def utf8Cmp(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
    ct match {
      case "timeuuid" => (a, b) => {
        val (ua, ub) = (u(a), u(b))
        val d = java.lang.Long.compare(ua.timestamp(), ub.timestamp())
        if (d != 0) d
        else ua.toString.compareTo(ub.toString)
      }
      case "uuid" => (a, b) => {
        val (ua, ub) = (u(a), u(b))
        val dv = Integer.compare(ua.version, ub.version)
        if (dv != 0) dv
        else if (ua.version == 1) {
          val dt = java.lang.Long.compare(ua.timestamp(), ub.timestamp())
          if (dt != 0) dt else ua.toString.compareTo(ub.toString)
        } else ua.toString.compareTo(ub.toString)
      }
      case "inet" => (a, b) => utf8Cmp(
        java.net.InetAddress.getByName(a.asInstanceOf[String])
          .getAddress,
        java.net.InetAddress.getByName(b.asInstanceOf[String])
          .getAddress)
      case "ascii" | "text" => (a, b) => utf8Cmp(
        a.asInstanceOf[String].getBytes(
          java.nio.charset.StandardCharsets.UTF_8),
        b.asInstanceOf[String].getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      case "timestamp" => (a, b) =>
        a.asInstanceOf[java.sql.Timestamp]
          .compareTo(b.asInstanceOf[java.sql.Timestamp])
      // C55j — the remaining declared scalar orders, all numeric /
      // byte-wise (each type's own Cassandra order)
      case "varint" | "time" => (a, b) => java.lang.Long.compare(
        a.asInstanceOf[Long], b.asInstanceOf[Long])
      case "date" | "smallint" | "tinyint" | "int" => (a, b) =>
        Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
      case "float" | "double" => (a, b) => java.lang.Double.compare(
        a.asInstanceOf[Double], b.asInstanceOf[Double])
      case "decimal" => (a, b) => a.asInstanceOf[java.math.BigDecimal]
        .compareTo(b.asInstanceOf[java.math.BigDecimal])
      case "boolean" => (a, b) => java.lang.Boolean.compare(
        a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
      case "blob" => (a, b) => utf8Cmp(a.asInstanceOf[Array[Byte]],
        b.asInstanceOf[Array[Byte]])
      case t => fail(s"IF <ordered> on $t-valued tables is outside " +
        "this subset")
    }
  }

  private def lwtUpdate(spark: SparkSession, dir: String, sets: String,
      where: String, ifCol: String, ifOp: String,
      ifVal: String, ttl: Option[Long] = None): DataFrame =
    udtCasLayout(dir) match {
      case Some(layout) => udtCas(spark, dir, layout, sets, where,
        Some(ifCol.toLowerCase), udtOpCond(layout, ifCol, ifOp, ifVal),
        ttl)
      case None =>
        // C11k: a whole-collection equality condition, or a
        // collection WRITE beyond the entry-put form (C11j owns
        // those) — both ride the staged casBatch route
        val collCond = collCondOf(dir, ifCol, ifOp, ifVal)
        val entryOnly = splitValues(sets).forall {
          case EntrySetRe(_, _, _) => true
          case _ => false
        }
        if (collCond.isDefined ||
            (hasCollectionSyntax(sets) && !entryOnly))
          lwtCollUpdate(spark, dir, sets, where, collCond, ifCol,
            ifOp, ifVal, ttl)
        else lwtUpdateCond(spark, dir, sets, where, ifCol,
          (mappedCas, str) => casOpCond(mappedCas, str, ifOp, ifVal),
          ttl)
    }

  /** `UPDATE ... IF col IN (v1, ...)` (C55d): the condition holds
    * when the cell's current winner equals ANY member; members parse
    * through the table's grammar. An empty IN list never applies
    * (Cassandra's semantics).
    */
  private def lwtUpdateIn(spark: SparkSession, dir: String,
      sets: String, where: String, ifCol: String,
      ifVals: String, ttl: Option[Long] = None): DataFrame =
    udtCasLayout(dir) match {
      case Some(layout) => udtCas(spark, dir, layout, sets, where,
        Some(ifCol.toLowerCase),
        graft.sources.CellTransactions.CasCond.In(
          splitValues(ifVals).toSeq.map(_.trim).filter(_.nonEmpty)
            .map(udtLiteral(layout, _, ifCol))), ttl)
      case None => lwtUpdateCond(spark, dir, sets, where, ifCol,
        (mappedCas, str) => graft.sources.CellTransactions.CasCond.In(
          splitValues(ifVals).toSeq.map(_.trim).filter(_.nonEmpty)
            .map(casCondLit(mappedCas, str))), ttl)
    }

  /** Parse the multi-condition IF tail (C55e): ` AND `-separated
    * terms, each an operator or IN condition on ANY data column of
    * the CAS row; every member literal routes through the table's
    * declared grammar.
    */
  private def lwtCondTerms(mappedCas: Option[String], str: Boolean,
      ck: Int, ifTail: String, statics: Set[String] = Set.empty)
      : Seq[(Int, Option[String],
        graft.sources.CellTransactions.CasCond)] = {
    import graft.sources.CellTransactions.CasCond
    // a STATIC condition column (C55f) addresses the partition-front
    // coordinate, not the CAS row
    def coord(cc: String): (Int, Option[String]) =
      if (statics.contains(cc.toLowerCase))
        (Int.MinValue, Some(
          graft.sources.CellSource.StaticPrefix + cc.toLowerCase))
      else (ck, Some(cc.toLowerCase))
    ifTail.split("(?i)\\s+AND\\s+").toSeq.map(_.trim)
      .filter(_.nonEmpty).map {
        case InRe(cc, vs) =>
          val (k, c) = coord(cc)
          (k, c,
            CasCond.In(splitValues(vs).toSeq.map(_.trim)
              .filter(_.nonEmpty)
              .map(casCondLit(mappedCas, str))): CasCond)
        case LwtCondRe(cc, op, raw) =>
          val (k, c) = coord(cc)
          (k, c, casOpCond(mappedCas, str, op, raw))
        case t => fail(s"unsupported IF condition: $t")
      }
  }

  /** `UPDATE ... IF a = 1 AND b > 2 ...` (C55e) — every condition
    * tested against the row's current reconciled state under ONE
    * ballot; the write applies only when ALL hold (the miss row
    * reports the FIRST failing condition's current value). Rides the
    * conditional-batch CAS machinery — a multi-condition statement
    * IS a one-write conditional batch.
    */
  private def lwtUpdateMulti(spark: SparkSession, dir: String,
      sets: String, where: String, ifTail: String,
      ttl: Option[Long] = None): DataFrame = {
    udtCasLayout(dir).foreach { layout =>
      // frozen<udt> (C55i): every term is an equality-family
      // condition over packed values at the CAS row
      val cs = udtUpdateCells(sets, where, AssignLater, layout)
      if (cs.length != 1)
        fail("UPDATE ... IF takes exactly one SET column and one pk")
      import graft.sources.CellTransactions.CasCond
      val conds = ifTail.split("(?i)\\s+AND\\s+").toSeq.map(_.trim)
        .filter(_.nonEmpty).map {
          case InRe(cc, vs) =>
            (cs.head._2, Some(cc.toLowerCase),
              CasCond.In(splitValues(vs).toSeq.map(_.trim)
                .filter(_.nonEmpty)
                .map(udtLiteral(layout, _, cc))): CasCond)
          case LwtCondRe(cc, op, raw) =>
            (cs.head._2, Some(cc.toLowerCase),
              udtOpCond(layout, cc, op, raw))
          case t => fail(s"unsupported IF condition: $t")
        }
      return lwtResult(spark, graft.sources.CellTransactions.casBatch(
        spark, dir, cs.head._1, conds,
        Seq((cs.head._2, cs.head._3, cs.head._4: Any)), ttlWt = ttl))
    }
    val mappedCas = refuseLwtValueType(dir, allowText = true)
    if (!graft.sources.CellSource.keySpec(dir).isDefault)
      fail("multi-condition LWT supports the default ((pk), ck) " +
        "layout only in this subset")
    val statics = graft.sources.CellSource.staticCols(dir)
    val str = isStringValued(dir)
    val cs =
      if (mappedCas.isDefined)
        updateScalarCells(mappedLiteral(mappedCas.get), sets, where,
          AssignLater, statics)
      else if (str)
        updateStringCells(sets, where, AssignLater, statics)
      else updateCells(sets, where, AssignLater, statics)
    if (cs.length != 1)
      fail("UPDATE ... IF takes exactly one SET column and one pk")
    val (pk, wck, c, v) =
      (cs.head._1, cs.head._2, cs.head._3, cs.head._4: Any)
    // non-static conditions address the CAS row — its ck comes from
    // the WHERE (a static SET's write ck is the partition front, so
    // it cannot stand in for the row)
    lazy val rowCk = {
      val (_, ckEq, _, _) = keyPredicate(where)
      ckEq.getOrElse(fail("a condition on a regular column needs " +
        "WHERE ... AND ck = ? (the CAS row)"))
    }
    val condCk =
      if (ifTailNamesOnlyStatics(ifTail, statics)) Int.MinValue
      else rowCk
    lwtResult(spark, graft.sources.CellTransactions.casBatch(
      spark, dir, pk,
      lwtCondTerms(mappedCas, str, condCk, ifTail, statics),
      Seq((wck, c, v)), ttlWt = ttl))
  }

  /** True when every IF term names a static column — then the
    * statement never needs a bound clustering key (Cassandra's
    * static-only conditional update binds the partition alone).
    */
  private def ifTailNamesOnlyStatics(ifTail: String,
      statics: Set[String]): Boolean =
    statics.nonEmpty && ifTail.split("(?i)\\s+AND\\s+").toSeq
      .map(_.trim).filter(_.nonEmpty).forall {
        case InRe(cc, _) => statics.contains(cc.toLowerCase)
        case LwtCondRe(cc, _, _) => statics.contains(cc.toLowerCase)
        case _ => false
      }

  private def lwtUpdateCond(spark: SparkSession, dir: String,
      sets: String, where: String, ifCol: String,
      mkCond: (Option[String], Boolean) =>
        graft.sources.CellTransactions.CasCond,
      ttl: Option[Long] = None): DataFrame = {
    val mappedCas = refuseLwtValueType(dir, allowText = true)
    val spec = graft.sources.CellSource.keySpec(dir)
    import graft.sources.CellTransactions
    if (spec.isDefault) {
      val statics = graft.sources.CellSource.staticCols(dir)
      val str = isStringValued(dir)
      val staticIf = statics.contains(ifCol.toLowerCase)
      val staticSet = setColNames(sets).exists(statics.contains)
      // STATIC columns in LWT (C55f): Cassandra serves conditions on
      // static columns (the partition-level flag idiom) and static
      // SETs under the same ballot. Statics live at the
      // partition-front coordinate, so the condition and the write
      // carry DIFFERENT cks — the one-write conditional-batch round
      // (casBatch) is the machinery with per-cell coordinates.
      if (staticIf || staticSet) {
        val cs =
          if (mappedCas.isDefined)
            updateScalarCells(mappedLiteral(mappedCas.get), sets,
              where, AssignLater, statics)
          else if (str)
            updateStringCells(sets, where, AssignLater, statics)
          else updateCells(sets, where, AssignLater, statics)
        if (cs.length != 1)
          fail("UPDATE ... IF takes exactly one SET column and one pk")
        val (pk, wck, wc, wv) =
          (cs.head._1, cs.head._2, cs.head._3, cs.head._4: Any)
        val condCoord: (Int, String) =
          if (staticIf)
            (Int.MinValue,
              graft.sources.CellSource.StaticPrefix + ifCol.toLowerCase)
          else {
            val (_, ckEq, _, _) = keyPredicate(where)
            (ckEq.getOrElse(fail("a condition on a regular column " +
              "needs WHERE ... AND ck = ? (the CAS row)")),
              ifCol.toLowerCase)
          }
        return lwtResult(spark, CellTransactions.casBatch(
          spark, dir, pk,
          Seq((condCoord._1, Some(condCoord._2),
            mkCond(mappedCas, str))),
          Seq((wck, wc, wv)), ttlWt = ttl))
      }
      val entrySets = splitValues(sets).exists {
        case EntrySetRe(_, _, _) => true
        case _ => false
      }
      val (pk, ck, c, v) =
        if (entrySets) {
          // declared-map ENTRY puts (C11j) — the key is the cell col
          if (!isMapDeclared(dir))
            fail("entry writes (m['k'] = v) under IF need a " +
              "DECLARED map<text, T> column")
          val cs = mapEntrySetCells(lwtValueParse(mappedCas, str),
            sets, where)
          if (cs.length != 1)
            fail("UPDATE ... IF takes exactly one SET column and " +
              "one pk")
          (cs.head._1, cs.head._2, cs.head._3, cs.head._4)
        } else if (mappedCas.isDefined) {
          val cs = updateScalarCells(mappedLiteral(mappedCas.get),
            sets, where, AssignLater)
          if (cs.length != 1)
            fail("UPDATE ... IF takes exactly one SET column and " +
              "one pk")
          (cs.head._1, cs.head._2, cs.head._3, cs.head._4: Any)
        } else if (str) {
          val cs = updateStringCells(sets, where, AssignLater,
            Set.empty)
          if (cs.length != 1)
            fail("UPDATE ... IF takes exactly one SET column and " +
              "one pk")
          (cs.head._1, cs.head._2, cs.head._3, cs.head._4: Any)
        } else {
          val cs = updateCells(sets, where, AssignLater)
          if (cs.length != 1)
            fail("UPDATE ... IF takes exactly one SET column and " +
              "one pk")
          (cs.head._1, cs.head._2, cs.head._3, cs.head._4: Any)
        }
      // the condition may target ANY data column of the row —
      // Cassandra's own rule (C55e lifts the old SET-column pin) —
      // including a map ENTRY (C11j: `IF m['k'] = v`)
      lwtResult(spark, CellTransactions.casApply(
        spark, dir, pk, ck, condCol = Some(lwtCondCol(dir, ifCol)),
        cond = mkCond(mappedCas, str),
        writeCol = c, writeValue = v, ttlWt = ttl))
    } else {
      if (ttl.isDefined)
        fail("LWT USING TTL serves the default ((pk), ck) layout " +
          "in this subset")
      val (c, v) = casSet(sets)
      lwtResult(spark, CellTransactions.casApplyKeyed(
        spark, dir, typedCasKey(spec, where),
        condCol = Some(ifCol.toLowerCase),
        cond = mkCond(None, false),
        writeCol = c, writeValue = v))
    }
  }

  /** `UPDATE ... IF EXISTS` — Cassandra's row-level condition: apply
    * iff the (pk, ck) row has ANY live cell.
    */
  private def lwtUpdateExists(spark: SparkSession, dir: String,
      sets: String, where: String,
      ttl: Option[Long] = None): DataFrame = {
    udtCasLayout(dir).foreach(layout =>
      return udtCas(spark, dir, layout, sets, where, condCol = None,
        cond = graft.sources.CellTransactions.CasCond.Present, ttl))
    locally {
      // C11k: collection writes under IF EXISTS (append-if-row-
      // exists) — staged cells ride the casBatch round; the row
      // presence tests the WHERE's bound ck
      val entryOnly = splitValues(sets).forall {
        case EntrySetRe(_, _, _) => true
        case _ => false
      }
      if (hasCollectionSyntax(sets) && !entryOnly) {
        import graft.sources.CellTransactions
        if (isCounter(dir))
          fail("conditional updates are not supported on counter " +
            "tables (Cassandra's rule)")
        if (!graft.sources.CellSource.keySpec(dir).isDefault)
          fail("conditional collection updates serve the default " +
            "((pk), ck) layout in this subset")
        val (cc, tt) = stageCollectionCells(spark, dir, sets, where,
          AssignLater, scala.collection.mutable.Map.empty)
        val writes = cc.map(c => (c._2, c._3, c._4)) ++
          tt.map(c => (c._2, c._3, c._4))
        if (writes.isEmpty)
          fail("this conditional collection statement writes nothing")
        val pks = (cc ++ tt).map(_._1).distinct
        if (pks.length != 1)
          fail("conditional statements bind exactly one partition key")
        val (_, ckEq, _, _) = keyPredicate(where)
        val condCk = ckEq.getOrElse(
          fail("UPDATE ... IF EXISTS needs WHERE ... AND ck = ? " +
            "(the CAS row)"))
        return lwtResult(spark, CellTransactions.casBatch(spark, dir,
          pks.head,
          Seq((condCk, None: Option[String],
            CellTransactions.CasCond.Present
              : CellTransactions.CasCond)),
          writes, ttlWt = ttl))
      }
    }
    val mappedCas = refuseLwtValueType(dir, allowText = true)
    val spec = graft.sources.CellSource.keySpec(dir)
    import graft.sources.CellTransactions
    import graft.sources.CellTransactions.CasCond
    if (spec.isDefault) {
      val entrySets = splitValues(sets).exists {
        case EntrySetRe(_, _, _) => true
        case _ => false
      }
      if (!entrySets) refuseStaticLwt(dir, setColNames(sets))
      val (pk, ck, c, v) =
        if (entrySets) {
          // declared-map ENTRY put under IF EXISTS (C11j)
          if (!isMapDeclared(dir))
            fail("entry writes (m['k'] = v) under IF need a " +
              "DECLARED map<text, T> column")
          val cs = mapEntrySetCells(
            lwtValueParse(mappedCas, isStringValued(dir)), sets, where)
          if (cs.length != 1)
            fail("UPDATE ... IF EXISTS takes exactly one SET column " +
              "and one pk (the CAS cell)")
          (cs.head._1, cs.head._2, cs.head._3, cs.head._4)
        } else if (mappedCas.isDefined) {
          val cs = updateScalarCells(mappedLiteral(mappedCas.get),
            sets, where, AssignLater)
          if (cs.length != 1)
            fail("UPDATE ... IF EXISTS takes exactly one SET column " +
              "and one pk (the CAS cell)")
          (cs.head._1, cs.head._2, cs.head._3, cs.head._4: Any)
        } else if (isStringValued(dir)) {
          val cs = updateStringCells(sets, where, AssignLater,
            Set.empty)
          if (cs.length != 1)
            fail("UPDATE ... IF EXISTS takes exactly one SET column " +
              "and one pk (the CAS cell)")
          (cs.head._1, cs.head._2, cs.head._3, cs.head._4: Any)
        } else {
          val cs = updateCells(sets, where, AssignLater)
          if (cs.length != 1)
            fail("UPDATE ... IF EXISTS takes exactly one SET column " +
              "and one pk (the CAS cell)")
          (cs.head._1, cs.head._2, cs.head._3, cs.head._4: Any)
        }
      lwtResult(spark, CellTransactions.casApply(
        spark, dir, pk, ck, condCol = None, cond = CasCond.Present,
        writeCol = c, writeValue = v, ttlWt = ttl))
    } else {
      if (ttl.isDefined)
        fail("LWT USING TTL serves the default ((pk), ck) layout " +
          "in this subset")
      val (c, v) = casSet(sets)
      lwtResult(spark, CellTransactions.casApplyKeyed(
        spark, dir, typedCasKey(spec, where), condCol = None,
        cond = CasCond.Present, writeCol = c, writeValue = v))
    }
  }

  /** Conditional DELETE — a CAS whose write is the tombstone:
    * `IF EXISTS` tests ROW presence (Cassandra's rule), `IF col = v`
    * tests the named cell's winner; the applied write is the row
    * (`!delrow`) or single-cell (`!del:<col>`) marker.
    */
  private def lwtDelete(spark: SparkSession, dir: String,
      colOpt: Option[String], where: String, exists: Boolean,
      ifCol: Option[String], ifOp: Option[String],
      ifVal: Option[String]): DataFrame = {
    // C11k: a whole-collection equality condition gating a DELETE —
    // the tombstone write rides the partition-reading casBatch
    // round. UDT tables route below (their brace literal is a packed
    // VALUE, not a collection).
    if (!exists && udtLayoutOf(dir).isEmpty)
      collCondOf(dir, ifCol.get, ifOp.get, ifVal.get).foreach { cc =>
        import graft.sources.CellTransactions
        if (!graft.sources.CellSource.keySpec(dir).isDefault)
          fail("conditional collection statements serve the default " +
            "((pk), ck) layout in this subset")
        val (pks, ckEq, _, _) = keyPredicate(where)
        if (pks.size != 1)
          fail("conditional DELETE binds exactly one pk")
        // the tombstone write addresses a ROW either way, so the ck
        // binds regardless of the condition's kind
        val ck = ckEq.getOrElse(
          fail("conditional DELETE WHERE must bind ck (the CAS row)"))
        val writeCol = colOpt match {
          case Some(c) =>
            // entry-capable on ANY table (deleteColName — the same
            // resolution the unconditional DELETE uses)
            graft.sources.CellSource.CellTombstonePrefix +
              deleteColName(c)
          case None => graft.sources.CellSource.RowTombstone
        }
        flushBuffered(spark, dir)
        val r = CellTransactions.casBatch(spark, dir, pks.head,
          Seq((ck, None: Option[String],
            cc: CellTransactions.CasCond)),
          Seq((ck, writeCol, 0L)))
        forgetWt(dir)
        return lwtResult(spark, r)
      }
    udtCasLayout(dir).foreach { layout =>
      // frozen<udt> (C55i): the applied write is the tombstone; the
      // condition is row presence or packed-value equality
      val (pks, ckEq, _, _) = keyPredicate(where)
      if (pks.size != 1)
        fail("conditional DELETE binds exactly one pk")
      val ck = ckEq.getOrElse(
        fail("conditional DELETE WHERE must bind ck (the CAS row)"))
      val (condCol, cond) =
        if (exists) (None,
          graft.sources.CellTransactions.CasCond.Present
            : graft.sources.CellTransactions.CasCond)
        else (Some(ifCol.get.toLowerCase),
          udtOpCond(layout, ifCol.get, ifOp.get, ifVal.get))
      val writeCol = colOpt match {
        case Some(c) =>
          graft.sources.CellSource.CellTombstonePrefix + c.toLowerCase
        case None => graft.sources.CellSource.RowTombstone
      }
      return lwtResult(spark, graft.sources.CellTransactions.casApply(
        spark, dir, pks.head, ck, condCol, cond, writeCol,
        writeValue = 0L))
    }
    val mappedCas = refuseLwtValueType(dir, allowText = true)
    val spec = graft.sources.CellSource.keySpec(dir)
    import graft.sources.CellTransactions
    import graft.sources.CellTransactions.CasCond
    val (condCol, cond) =
      if (exists) (None, CasCond.Present: CasCond)
      else (Some(lwtCondCol(dir, ifCol.get)),
        // the C55d operator family serves conditional DELETE too
        casOpCond(mappedCas, spec.isDefault && isStringValued(dir),
          ifOp.get, ifVal.get))
    val writeCol = colOpt match {
      case Some(c) =>
        // entry-aware (C11j): `DELETE m['k'] … IF …` tombstones the
        // ENTRY cell (the key, case-preserved) — deleteColName, the
        // same resolution the unconditional DELETE uses, so entry
        // deletes under scalar conditions serve on undeclared
        // row-is-map tables too
        graft.sources.CellSource.CellTombstonePrefix +
          deleteColName(c)
      case None => graft.sources.CellSource.RowTombstone
    }
    if (spec.isDefault) {
      val (pks, ckEq, _, _) = keyPredicate(where)
      if (pks.size != 1) fail("conditional DELETE binds exactly one pk")
      val pk = pks.head
      val ck = ckEq.getOrElse(
        fail("conditional DELETE WHERE must bind ck (the CAS row)"))
      lwtResult(spark, CellTransactions.casApply(
        spark, dir, pk, ck, condCol, cond, writeCol, writeValue = 0L))
    } else
      lwtResult(spark, CellTransactions.casApplyKeyed(
        spark, dir, typedCasKey(spec, where), condCol, cond, writeCol,
        writeValue = 0L))
  }

  // ---------------------------------------------------------------
  // BATCH (C56) — `BEGIN BATCH … APPLY BATCH` journals every
  // sub-statement's cells atomically through the logged-batch
  // machinery: one shared batch writetime, journal-then-apply, crash
  // replay from the log.

  /** LOGGED-batch value-type gate (r15): the journal's cell shape is
    * the bigint default, and the per-statement parse below uses the
    * bigint grammar — EVERY other declared value type must refuse up
    * front, or an int-storage table (date/smallint/tinyint) would get
    * a long-typed journal write stamped over its declared layout (the
    * silent-type-flip class the r15 LWT guard closed), and a
    * bigint-STORAGE mapped type (varint/time) would bypass its
    * declared range validation.
    */
  private def refuseBatchValueType(dir: String): Unit =
    cqlCollectionOf(dir) match {
      case Some(_) =>
        // C11i (r18): bigint-element declared collections journal
        // plain long cells like any other statement — only non-long
        // element storage keeps the refusal
        refuseBatchCollectionStorage(dir)
      case None =>
        val ct = cqlValueTypeOf(dir)
        val vt = graft.sources.CellSource.valueTypeOf(dir)
        if (ct.isDefined || vt != org.apache.spark.sql.types.LongType)
          fail("LOGGED BATCH journals bigint cells — " +
            ct.getOrElse(SystemSchema.cqlTypeName(vt)) +
            "-valued tables take UNLOGGED BATCH or single statements " +
            "in this subset")
    }

  /** C11i storage gate: batched collection updates journal through
    * the C56 default cell shape — (pk, ck, col, bigint value, wt) —
    * so only the default key layout with bigint element storage
    * qualifies; mapped grammars (`set<inet>`), text elements and
    * typed layouts refuse by name (their journal shapes differ).
    */
  private def refuseBatchCollectionStorage(dir: String): Unit = {
    if (mappedValueType(dir).isDefined || isStringValued(dir) ||
        graft.sources.CellSource.valueTypeOf(dir) !=
          org.apache.spark.sql.types.LongType)
      fail("LOGGED BATCH journals bigint cells — collection updates " +
        "on " + cqlValueTypeOf(dir).getOrElse(
          SystemSchema.cqlTypeName(
            graft.sources.CellSource.valueTypeOf(dir))) +
        "-element tables take single statements in this subset")
  }

  /** C11i DELETE-form gate: on a declared-collection table the
    * marker-expressible forms (entry `m['k']`, ck-bound element,
    * row/partition tombstones) journal fine; the STATE-DERIVED forms
    * — index-addressed `DELETE l[i]` and the ck-less
    * whole-collection clear, which read the live element set — stay
    * single-statement. Non-collection tables keep the plain
    * value-type gate.
    */
  private def refuseBatchDeleteForm(dir: String,
      colOpt: Option[String], where: String): Unit =
    cqlCollectionOf(dir) match {
      case Some(_) =>
        refuseBatchCollectionStorage(dir)
        colOpt.foreach {
          case ListIdxDelRe(c, i) =>
            fail(s"DELETE $c[$i] inside BATCH is outside this " +
              "subset (the index addresses a state-derived element " +
              "row — use a single statement)")
          case c
              if graft.sources.CellSource.keySpec(dir).isDefault =>
            val (_, ckEq, ckLo, ckHi) = keyPredicate(where)
            if (c.matches("""(?s)\w+""") && ckEq.isEmpty &&
                ckLo == Int.MinValue && ckHi == Int.MaxValue &&
                !graft.sources.CellSource.staticCols(dir)
                  .contains(c.toLowerCase))
              fail(s"whole-collection DELETE $c inside BATCH is " +
                "outside this subset (the clear set is " +
                "state-derived — use a single statement)")
          case _ =>
            // typed layouts (r18): every colOpt delete demands a
            // fully-bound ck (deleteTypedRows), so it is always the
            // marker-expressible ENTRY/CELL form — no state-derived
            // whole-collection clear exists there
        }
      case None => refuseBatchValueType(dir)
    }

  private def batch(spark: SparkSession, body: String,
      resolve: String => String,
      batchTs: Option[Long] = None): DataFrame = {
    // Cassandra's rule: a timestamp is set either on the BATCH or on
    // individual statements, never both
    def stmtTs(own: Option[Long]): Option[Long] = {
      if (batchTs.isDefined && own.isDefined)
        fail("timestamp must be set either on BATCH or individual " +
          "statements, not both")
      own.orElse(batchTs)
    }
    import spark.implicits._
    // quote-aware split (same rules as the script splitter, minus the
    // BATCH nesting) — a ';' inside a string literal is not a boundary
    val stmts = splitOnSemis(body, batchAware = false)
    if (stmts.isEmpty) fail("empty BATCH")
    // conditional (LWT) forms route to the single-partition CAS
    // round (C56d) — matched BEFORE the plain-DML parse, whose lazy
    // WHERE group would absorb a trailing IF clause and run the CAS
    // as an ordinary write
    val conditional = stmts.exists {
      case InsertIfNotExistsRe(_, _, _, _) |
          UpdateIfRe(_, _, _, _, _, _, _) | UpdateIfInRe(_, _, _, _, _, _) |
          UpdateIfMultiRe(_, _, _, _, _) |
          UpdateIfExistsRe(_, _, _, _) | DeleteIfRe(_, _, _, _, _, _, _) =>
        true
      case _ => false
    }
    if (conditional)
      return conditionalBatch(spark, stmts.toSeq, resolve, batchTs)
    // per-statement parse into rows in the TARGET table's key layout
    // (keyVals ++ (col, value, wt); `pk, ck` on the default layout) —
    // tables of either layout mix freely in one batch. Each row
    // carries its statement's optional USING TTL (relative, wt-units)
    // — resolved to an ABSOLUTE expiry once the batch wt is known.
    type Parsed = (String, Seq[(Seq[Any], Option[Long])])
    // a target's key layout and value-type gate, resolved once per
    // table per batch (each resolution lists the table directory)
    val specs = scala.collection.mutable.Map
      .empty[String, graft.sources.KeySpec]
    def spec(dir: String) = specs.getOrElseUpdate(dir,
      graft.sources.CellSource.keySpec(dir))
    val valueTypeChecked = scala.collection.mutable.Set.empty[String]
    def checkValueType(dir: String): Unit =
      if (valueTypeChecked.add(dir)) refuseBatchValueType(dir)
    // C11i — one append-position map per table, shared across the
    // batch's collection statements: two appends to the same
    // (pk, collection) claim disjoint cks in statement order, so
    // both elements land (Cassandra's same-batch appends are
    // distinct timeuuid cells in generation order)
    val batchNextCk = scala.collection.mutable.Map.empty[
      String, scala.collection.mutable.Map[(Long, String), Int]]
    // the TYPED twin (r18): append positions keyed by named pk tuple
    val batchNextCkTyped = scala.collection.mutable.Map.empty[
      String, scala.collection.mutable.Map[(Seq[Any], String), Int]]
    // C11i — INSERT with collection literals desugars to the UPDATE
    // replace form, exactly as the single-statement front door does
    // (Cassandra's INSERT on a collection column IS replace); the
    // rewrite happens pre-parse so the collection arm below serves it
    def desugarCollInsert(stmt: String): String = stmt match {
      case InsertRe(table, cols, vals, usingClause) =>
        val dir = resolve(table)
        if (!(spec(dir).isDefault && udtLayoutOf(dir).isEmpty &&
            !cqlValueTypeOf(dir).exists(_.startsWith("vector<"))))
          return stmt
        val names = cols.split(',').map(_.trim.toLowerCase)
        val values = splitValues(vals).map(_.trim)
        if (names.length == values.length && names.contains("pk") &&
            values.exists(v => v.startsWith("[") || v.startsWith("{"))) {
          val kv = names.zip(values)
          val where = "pk = " + kv.toMap.apply("pk") +
            kv.toMap.get("ck").map(c => s" AND ck = $c").getOrElse("")
          val sets = kv.toSeq.filterNot { case (n, _) =>
            n == "pk" || n == "ck" }
            .map { case (n, v) => s"$n = $v" }.mkString(", ")
          if (sets.isEmpty)
            fail("INSERT needs at least one data column")
          val using = Option(usingClause).map(" USING " + _.trim)
            .getOrElse("")
          s"UPDATE $table$using SET $sets WHERE $where"
        } else stmt
      case s => s
    }
    val parsed: Seq[Parsed] =
      stmts.toSeq.map(desugarCollInsert).map {
        case InsertRe(table, cols, vals, usingClause) =>
          val dir = resolve(table)
          // the journal's cell shape is scalar — frozen<udt> blobs
          // would need a binary journal column; refuse (C59b subset)
          refuseUdt(dir, "LOGGED BATCH")
          checkValueType(dir)
          val (ts0, rawTtl) = parseUsing(Option(usingClause))
          val ts = stmtTs(ts0)
          val ttl = effectiveTtl(dir, rawTtl)
          val sp = spec(dir)
          val rows =
            if (sp.isDefault)
              insertCells(cols, vals, ts.getOrElse(AssignLater),
                graft.sources.CellSource.staticCols(dir)).map(cellRow)
            else insertTypedRows(sp, cols, vals, ts.getOrElse(AssignLater))
          (dir, rows.map((_, ttl)))
        case UpdateRe(table, usingClause, sets, where) =>
          val dir = resolve(table)
          refuseUdt(dir, "LOGGED BATCH")
          val (ts0, rawTtl) = parseUsing(Option(usingClause))
          val ts = stmtTs(ts0)
          val ttl = effectiveTtl(dir, rawTtl)
          if (isCounter(dir))
            fail("counter increments are not supported inside a " +
              "LOGGED BATCH (Cassandra's rule: shard deltas are not " +
              "idempotent, so a crash-replay of the journal would " +
              "double-count)")
          if (hasCollectionSyntax(sets)) {
            // C11i — collection updates inside a LOGGED BATCH: the
            // single-statement read-before-write machinery (C11c-h)
            // stages its cells and tombstones, and they land
            // atomically under the C56 journal at the batch
            // writetime. Every statement reads the PRE-BATCH
            // reconciled state (Cassandra's batch semantics: no
            // intra-batch read-your-writes — a same-batch replace
            // does not clear a same-batch append); append positions
            // share one per-batch map so two appends to the same
            // collection claim disjoint cks in statement order
            // (Cassandra's same-batch appends land as distinct
            // timeuuid cells in generation order).
            refuseBatchCollectionStorage(dir)
            val sp0 = spec(dir)
            if (sp0.isDefault) {
              val (cc, tt) = stageCollectionCells(spark, dir, sets,
                where, ts.getOrElse(AssignLater),
                batchNextCk.getOrElseUpdate(dir,
                  scala.collection.mutable.Map.empty))
              // tombstone markers never carry the statement TTL — an
              // expiring tombstone would resurrect removed elements
              (dir,
                cc.map(c => (cellRow(c), ttl)) ++
                tt.map(c => (cellRow(c), None: Option[Long])))
            } else {
              // TYPED layouts (r18): the typed staging core journals
              // typed rows + tombstone rows under the same contract
              val (rr, tt) = stageCollectionRowsTyped(spark, dir,
                sp0, sets, where, ts.getOrElse(AssignLater),
                batchNextCkTyped.getOrElseUpdate(dir,
                  scala.collection.mutable.Map.empty))
              (dir, rr.map((_, ttl)) ++ tt.map((_, None: Option[Long])))
            }
          } else {
            checkValueType(dir)
            val sp = spec(dir)
            val rows =
              if (sp.isDefault)
                updateCells(sets, where, ts.getOrElse(AssignLater),
                  graft.sources.CellSource.staticCols(dir)).map(cellRow)
              else updateTypedRows(sp, sets, where,
                ts.getOrElse(AssignLater))
            (dir, rows.map((_, ttl)))
          }
        case DeleteRe(colOpt, table, usingTs, where) =>
          val dir = resolve(table)
          refuseUdt(dir, "LOGGED BATCH")
          refuseBatchDeleteForm(dir, Option(colOpt), where)
          val dts = stmtTs(Option(usingTs).map(_.toLong))
            .getOrElse(AssignLater)
          val sp = spec(dir)
          val rows =
            if (sp.isDefault)
              deleteMarkers(Option(colOpt), where, dts,
                graft.sources.CellSource.staticCols(dir)).map(cellRow)
            else deleteTypedRows(sp, Option(colOpt), where, dts)
          (dir, rows.map((_, None: Option[Long])))
        case s => fail(s"BATCH accepts INSERT/UPDATE/DELETE, got: $s")
      }
    // the batch journal + shared-wt protocol writes directly; the
    // involved tables' buffered cells must land first (and the wt
    // resolution below reads table maxes)
    parsed.map(_._1).distinct.foreach(flushBuffered(spark, _))
    // Cassandra's batch rule: one shared writetime for the whole
    // batch — the max of the involved tables' next writetimes, so the
    // batch shadows everything any member table holds
    val batchWt = parsed.map(_._1).distinct
      .map(nextWt(spark, _)).max
    def wtOf(wt: Long): Long = if (wt == AssignLater) batchWt else wt
    // any USING TTL in the batch marks the journal entry as
    // expiry-carrying; rows without a TTL carry Long.MaxValue = never
    val hasTtl = parsed.exists(_._2.exists(_._2.isDefined))
    // one journal slice per table, staged driver-local as rows in the
    // table's key layout (loggedBatchSlices → CellSource.localAppend)
    val writes = parsed
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (dir, group) =>
        val sp = spec(dir)
        val nKey = sp.pkParts.length + sp.ckParts.length
        val rows = group.flatMap(_._2).map { case (r, t) =>
          val w = wtOf(r.last.asInstanceOf[Long])
          (r.take(nKey), r(nKey).asInstanceOf[String], r(nKey + 1), w,
            t.map(w + _).getOrElse(Long.MaxValue))
        }
        (dir, (sp, org.apache.spark.sql.types.LongType, rows))
      }
    val logDir = writes.head._1 + ".batchlog"
    graft.sources.CellTransactions.loggedBatchSlices(spark, writes,
      logDir, withExpiry = hasTtl)
    // the shared batch wt (and any member's explicit ts) moved the
    // involved tables' max outside the allocator's local counters
    parsed.map(_._1).distinct.foreach(forgetWt)
    spark.emptyDataFrame
  }

  /** C56d — CONDITIONAL (LWT) LOGGED BATCH: Cassandra allows IF
    * forms inside `BEGIN BATCH` when every statement addresses the
    * SAME PARTITION of the SAME TABLE — one Paxos round arbitrates
    * the whole batch — and refuses spanning batches and custom
    * timestamps outright. This facade mirrors that: all conditions
    * (each addressing its own clustering row) are tested against the
    * partition's current reconciled state under one ballot, and on
    * success every statement's cells land all-or-nothing at ONE
    * shared writetime ([[graft.sources.CellTransactions.casBatch]]).
    * Unconditional INSERT/UPDATE/DELETE statements may ride along
    * (their writes join the atomic apply). Subset: default layout +
    * long values (the CAS machinery's contract), no USING
    * TIMESTAMP/TTL, no counters/collections/statics — each refusal
    * names its rule.
    */
  private def conditionalBatch(spark: SparkSession,
      stmts: Seq[String], resolve: String => String,
      batchTs: Option[Long]): DataFrame = {
    import graft.sources.CellTransactions
    import graft.sources.CellTransactions.CasCond
    if (batchTs.isDefined)
      fail("cannot provide custom timestamps for conditional BATCH " +
        "(Cassandra's rule)")
    // C56f (r18): typed/composite key layouts route to the keyed CAS
    // round — the table set is peeked BEFORE the default-layout
    // parse, whose cell parsers would reject a typed WHERE with a
    // misleading keys-only error
    locally {
      val tables = stmts.flatMap {
        case InsertIfNotExistsRe(t, _, _, _) => Some(t)
        case UpdateIfMultiRe(t, _, _, _, _) => Some(t)
        case UpdateIfInRe(t, _, _, _, _, _) => Some(t)
        case UpdateIfRe(t, _, _, _, _, _, _) => Some(t)
        case UpdateIfExistsRe(t, _, _, _) => Some(t)
        case DeleteIfRe(_, t, _, _, _, _, _) => Some(t)
        case InsertRe(t, _, _, _) => Some(t)
        case UpdateRe(t, _, _, _) => Some(t)
        case DeleteRe(_, t, _, _) => Some(t)
        case _ => None
      }
      val dirs = tables.map(resolve).distinct
      val anyTyped = dirs.exists(d =>
        !graft.sources.CellSource.keySpec(d).isDefault)
      if (anyTyped && dirs.size != 1)
        fail("batch with conditions cannot span multiple tables " +
          "(Cassandra's rule: one Paxos round arbitrates one " +
          "partition)")
      if (anyTyped)
        return conditionalBatchTyped(spark, stmts, resolve, dirs.head)
    }
    def noUsing(usingClause: String, what: String): Unit =
      if (usingClause != null)
        fail(s"$what in a conditional BATCH cannot carry USING " +
          "TIMESTAMP/TTL (Cassandra refuses custom timestamps on " +
          "conditional batches; TTL is outside this subset)")
    // layout gate BEFORE any per-statement parse: the default-layout
    // cell parsers would otherwise reject a typed WHERE with a
    // misleading keys-only error. Value types (C56e, r16): the same
    // Long/String pair the single-statement CAS serves — bigint,
    // text, and the text-storage mapped grammars (uuid/timeuuid/
    // inet/ascii); everything else refuses by name up front.
    def resolveDefault(table: String): String = {
      val dir = resolve(table)
      if (!graft.sources.CellSource.keySpec(dir).isDefault)
        fail("conditional BATCH supports the default ((pk), ck) " +
          "layout only in this subset")
      // the udt refusal carries the clearer message — fire it before
      // the generic value-type gate sees the binary storage
      refuseUdt(dir, "conditional BATCH")
      refuseLwtValueType(dir, allowText = true)
      dir
    }
    // the table's member-literal grammar — the SAME selector the
    // single-statement LWT paths use (every declared scalar type
    // since C55j), applied per statement
    def mappedCtOf(dir: String): Option[String] =
      refuseLwtValueType(dir, allowText = true)
    def parseIns(dir: String, cols: String, vals: String)
        : Seq[(Long, Int, String, Any, Long)] =
      mappedCtOf(dir) match {
        case Some(ct) =>
          insertScalarCells(mappedLiteral(ct), cols, vals, AssignLater)
        case None if isStringValued(dir) =>
          insertStringCells(cols, vals, AssignLater, Set.empty)
        case None => insertCells(cols, vals, AssignLater)
      }
    def parseUpd(dir: String, sets: String, where: String)
        : Seq[(Long, Int, String, Any, Long)] =
      mappedCtOf(dir) match {
        case Some(ct) =>
          updateScalarCells(mappedLiteral(ct), sets, where, AssignLater)
        case None if isStringValued(dir) =>
          updateStringCells(sets, where, AssignLater, Set.empty)
        case None => updateCells(sets, where, AssignLater)
      }
    def condLit(dir: String, raw: String): Any =
      mappedCtOf(dir) match {
        case Some(ct) => mappedLiteral(ct)(raw, "IF condition")
        case None => collValue(isStringValued(dir))(raw, "IF condition")
      }
    // a STATIC condition column (C55f) addresses the partition-front
    // coordinate, not the statement's CAS row — the batch path must
    // resolve it exactly as the front-door lwtUpdateMulti does, or
    // `IF <static> = v` would read a nonexistent regular cell at the
    // row ck and silently report not-applied
    def condCoord(dir: String, ck: Int, ifCol: String)
        : (Int, Option[String]) = {
      val c = ifCol.toLowerCase
      if (graft.sources.CellSource.staticCols(dir).contains(c))
        (Int.MinValue,
          Some(graft.sources.CellSource.StaticPrefix + c))
      else (ck, Some(c))
    }
    type Cond = (Int, Option[String], CasCond)
    type Cells = Seq[(Long, Int, String, Any, Long)]
    val parsed: Seq[(String, Seq[Cond], Cells)] = stmts.map {
      case InsertIfNotExistsRe(table, cols, vals, usingClause) =>
        noUsing(usingClause, "INSERT ... IF NOT EXISTS")
        val dir = resolveDefault(table)
        refuseUdt(dir, "lightweight transactions")
        refuseStaticLwt(dir, cols.split(',').map(_.trim.toLowerCase))
        val cells = parseIns(dir, cols, vals)
        // IF NOT EXISTS tests ROW presence at the insert's (pk, ck)
        (dir, Seq((cells.head._2, None: Option[String],
          CasCond.Absent: CasCond)), cells)
      case UpdateIfMultiRe(table, usingClause, sets, where, ifTail) =>
        noUsing(usingClause, "UPDATE ... IF")
        val dir = resolveDefault(table)
        refuseUdt(dir, "lightweight transactions")
        if (hasCollectionSyntax(sets))
          fail("collection updates are not supported inside BATCH " +
            "(appends need the current collection state)")
        refuseStaticLwt(dir, setColNames(sets))
        val cells = parseUpd(dir, sets, where)
        (dir, lwtCondTerms(mappedCtOf(dir), isStringValued(dir),
          cells.head._2, ifTail,
          graft.sources.CellSource.staticCols(dir)), cells)
      case UpdateIfInRe(table, usingClause, sets, where, ifCol,
          ifVals) =>
        noUsing(usingClause, "UPDATE ... IF")
        val dir = resolveDefault(table)
        refuseUdt(dir, "lightweight transactions")
        if (hasCollectionSyntax(sets))
          fail("collection updates are not supported inside BATCH " +
            "(appends need the current collection state)")
        refuseStaticLwt(dir, setColNames(sets))
        val cells = parseUpd(dir, sets, where)
        val (inCk, inCol) = condCoord(dir, cells.head._2, ifCol)
        (dir, Seq((inCk, inCol,
          CasCond.In(splitValues(ifVals).toSeq.map(_.trim)
            .filter(_.nonEmpty).map(condLit(dir, _))): CasCond)),
          cells)
      case UpdateIfRe(table, usingClause, sets, where, ifCol, ifOp,
          ifVal) =>
        noUsing(usingClause, "UPDATE ... IF")
        val dir = resolveDefault(table)
        refuseUdt(dir, "lightweight transactions")
        if (hasCollectionSyntax(sets))
          fail("collection updates are not supported inside BATCH " +
            "(appends need the current collection state)")
        refuseStaticLwt(dir, setColNames(sets))
        val cells = parseUpd(dir, sets, where)
        val (opCk, opCol) = condCoord(dir, cells.head._2, ifCol)
        (dir, Seq((opCk, opCol,
          casOpCond(mappedCtOf(dir), isStringValued(dir), ifOp,
            ifVal): CasCond)),
          cells)
      case UpdateIfExistsRe(table, usingClause, sets, where) =>
        noUsing(usingClause, "UPDATE ... IF EXISTS")
        val dir = resolveDefault(table)
        refuseUdt(dir, "lightweight transactions")
        if (hasCollectionSyntax(sets))
          fail("collection updates are not supported inside BATCH " +
            "(appends need the current collection state)")
        refuseStaticLwt(dir, setColNames(sets))
        val cells = parseUpd(dir, sets, where)
        (dir, Seq((cells.head._2, None: Option[String],
          CasCond.Present: CasCond)), cells)
      case DeleteIfRe(colOpt, table, where, exists, ifCol, ifOp,
          ifVal) =>
        val dir = resolveDefault(table)
        refuseUdt(dir, "lightweight transactions")
        val (pks, ckEq, _, _) = keyPredicate(where)
        if (pks.size != 1)
          fail("conditional DELETE binds exactly one pk")
        val ck = ckEq.getOrElse(
          fail("conditional DELETE WHERE must bind ck (the CAS row)"))
        val cond: Cond =
          if (exists != null) (ck, None, CasCond.Present)
          else {
            val (dCk, dCol) = condCoord(dir, ck, ifCol)
            (dCk, dCol,
              casOpCond(mappedCtOf(dir), isStringValued(dir), ifOp,
                ifVal))
          }
        val writeCol = Option(colOpt) match {
          case Some(c) =>
            // entry-capable (C11j harmonization): a widened colOpt
            // group can carry m['k'] — resolve like the
            // unconditional DELETE does
            graft.sources.CellSource.CellTombstonePrefix +
              deleteColName(c)
          case None => graft.sources.CellSource.RowTombstone
        }
        (dir, Seq(cond),
          Seq((pks.head, ck, writeCol, 0L: Any, AssignLater)))
      case InsertRe(table, cols, vals, usingClause) =>
        val dir = resolveDefault(table)
        refuseUdt(dir, "lightweight transactions")
        noUsing(usingClause, "INSERT")
        refuseStaticLwt(dir, cols.split(',').map(_.trim.toLowerCase))
        (dir, Seq.empty, parseIns(dir, cols, vals))
      case UpdateRe(table, usingClause, sets, where) =>
        val dir = resolveDefault(table)
        refuseUdt(dir, "lightweight transactions")
        noUsing(usingClause, "UPDATE")
        if (hasCollectionSyntax(sets))
          fail("collection updates are not supported inside BATCH " +
            "(appends need the current collection state)")
        refuseStaticLwt(dir, setColNames(sets))
        (dir, Seq.empty, parseUpd(dir, sets, where))
      case DeleteRe(colOpt, table, usingTs, where) =>
        val dir = resolveDefault(table)
        refuseUdt(dir, "lightweight transactions")
        if (usingTs != null) noUsing(usingTs, "DELETE")
        (dir, Seq.empty,
          deleteMarkers(Option(colOpt), where, AssignLater)
            .map { case (pk, ck, c, v, w) => (pk, ck, c, v: Any, w) })
      case s => fail(s"BATCH accepts INSERT/UPDATE/DELETE, got: $s")
    }
    val dirs = parsed.map(_._1).distinct
    if (dirs.size != 1)
      fail("batch with conditions cannot span multiple tables " +
        "(Cassandra's rule: one Paxos round arbitrates one partition)")
    val dir = dirs.head
    if (isCounter(dir))
      fail("counters do not support conditional updates " +
        "(Cassandra's rule)")
    if (!graft.sources.CellSource.keySpec(dir).isDefault)
      fail("conditional BATCH supports the default ((pk), ck) " +
        "layout only in this subset")
    val allCells = parsed.flatMap(_._3)
    val pks = allCells.map(_._1).distinct
    if (pks.size != 1)
      fail("batch with conditions cannot span multiple partitions " +
        "(Cassandra's rule)")
    flushBuffered(spark, dir) // the CAS round reads current state
    val r = CellTransactions.casBatch(spark, dir, pks.head,
      parsed.flatMap(_._2),
      allCells.map(c => (c._2, c._3, c._4)))
    forgetWt(dir)
    lwtResult(spark, r)
  }

  /** C56f (r18) — conditional BATCH over a TYPED (CEL6/8) key
    * layout: each member statement parses through the typed
    * single-statement LWT machinery (C55b) — every key part bound by
    * NAME, bigint data cells — and the whole set arbitrates under
    * ONE keyed ballot round
    * ([[graft.sources.CellTransactions.casBatchKeyed]]): conditions
    * read the partition's current reconciled state, and on success
    * all writes land as ONE staged keyed flush at a single shared
    * writetime. Cassandra's rules hold: one partition (every
    * statement binds the SAME pk part values), no USING
    * TIMESTAMP/TTL, counters refuse, and every condition/write
    * addresses a fully-bound clustering row. Typed layouts declare
    * no STATIC columns (the CREATE gate), so every IF column is a
    * data cell of its CAS row — no partition-front special case.
    */
  private def conditionalBatchTyped(spark: SparkSession,
      stmts: Seq[String], resolve: String => String,
      dir: String): DataFrame = {
    import graft.sources.CellTransactions
    import graft.sources.CellTransactions.CasCond
    refuseUdt(dir, "lightweight transactions")
    if (isCounter(dir))
      fail("counters do not support conditional updates " +
        "(Cassandra's rule)")
    // the keyed CAS flush journals bigint cells only — the same
    // contract the single-statement typed LWT carries (casSet parses
    // bigint); declared collections / mapped / text storage refuse
    // by name up front
    cqlCollectionOf(dir).foreach(sp =>
      fail(s"conditional BATCH on $sp collection columns is outside " +
        "this subset"))
    cqlValueTypeOf(dir).foreach(ct =>
      fail("conditional BATCH on typed layouts serves bigint cells " +
        s"only in this subset; table is $ct-valued (single " +
        "statements serve the mapped grammars)"))
    if (graft.sources.CellSource.valueTypeOf(dir) !=
        org.apache.spark.sql.types.LongType)
      fail("conditional BATCH on typed layouts serves bigint cells " +
        "only in this subset; table's value type is " +
        graft.sources.CellSource.valueTypeOf(dir).simpleString)
    val spec = graft.sources.CellSource.keySpec(dir)
    def noUsing(usingClause: String, what: String): Unit =
      if (usingClause != null)
        fail(s"$what in a conditional BATCH cannot carry USING " +
          "TIMESTAMP/TTL (Cassandra refuses custom timestamps on " +
          "conditional batches; TTL is outside this subset)")
    // the statement's fully-bound key, split into named pk parts and
    // clustering values — typedCasKey enforces the CAS-row shape
    // (one partition, every clustering part bound by equality)
    def splitKey(where: String): (Seq[(String, Any)], Seq[Any]) = {
      val kv = typedCasKey(spec, where)
      val (pkKv, ckKv) = kv.splitAt(spec.pkParts.length)
      (pkKv, ckKv.map(_._2))
    }
    def inCond(vs: String): CasCond =
      CasCond.In(splitValues(vs).toSeq.map(_.trim).filter(_.nonEmpty)
        .map(casCondLit(None, str = false)))
    type Cond = (Seq[Any], Option[String], CasCond)
    type Write = (Seq[Any], String, Long)
    // multi-condition IF tail: every term addresses a data column of
    // the statement's CAS row (bigint grammar — ordered comparisons
    // included, the C55d rule)
    def multiConds(ckVals: Seq[Any], ifTail: String): Seq[Cond] =
      ifTail.split("(?i)\\s+AND\\s+").toSeq.map(_.trim)
        .filter(_.nonEmpty).map {
          case InRe(cc, vs) =>
            (ckVals, Some(cc.toLowerCase), inCond(vs))
          case LwtCondRe(cc, op, raw) =>
            (ckVals, Some(cc.toLowerCase),
              casOpCond(None, str = false, op, raw))
          case t => fail(s"unsupported IF condition: $t")
        }
    // a typed-parser row (pk parts ++ ck parts ++ (col, value, wt))
    // split into the keyed-CAS write shape
    def rowWrite(row: Seq[Any]): (Seq[(String, Any)], Write) = {
      val keyLen = spec.pkParts.length + spec.ckParts.length
      val pkKv = spec.pkParts.map(_.name.toLowerCase)
        .zip(row.take(spec.pkParts.length))
      (pkKv, (row.slice(spec.pkParts.length, keyLen),
        row(keyLen).asInstanceOf[String],
        row(keyLen + 1).asInstanceOf[Long]))
    }
    val parsed: Seq[(Seq[(String, Any)], Seq[Cond], Seq[Write])] =
      stmts.map {
        case InsertIfNotExistsRe(table, cols, vals, usingClause) =>
          noUsing(usingClause, "INSERT ... IF NOT EXISTS")
          val rows = insertTypedRows(spec, cols, vals, AssignLater)
          if (rows.length != 1)
            fail("INSERT ... IF NOT EXISTS takes exactly one data " +
              "column (the CAS cell)")
          val (pkKv, w) = rowWrite(rows.head)
          // IF NOT EXISTS tests ROW presence at the insert's row
          (pkKv, Seq((w._1, None: Option[String],
            CasCond.Absent: CasCond)), Seq(w))
        case UpdateIfMultiRe(table, usingClause, sets, where, ifTail) =>
          noUsing(usingClause, "UPDATE ... IF")
          val (pkKv, ck) = splitKey(where)
          val (c, v) = casSet(sets)
          (pkKv, multiConds(ck, ifTail), Seq((ck, c, v)))
        case UpdateIfInRe(table, usingClause, sets, where, ifCol,
            ifVals) =>
          noUsing(usingClause, "UPDATE ... IF")
          val (pkKv, ck) = splitKey(where)
          val (c, v) = casSet(sets)
          (pkKv, Seq((ck, Some(ifCol.toLowerCase),
            inCond(ifVals): CasCond)), Seq((ck, c, v)))
        case UpdateIfRe(table, usingClause, sets, where, ifCol, ifOp,
            ifVal) =>
          noUsing(usingClause, "UPDATE ... IF")
          val (pkKv, ck) = splitKey(where)
          val (c, v) = casSet(sets)
          (pkKv, Seq((ck, Some(ifCol.toLowerCase),
            casOpCond(None, str = false, ifOp, ifVal))), Seq((ck, c, v)))
        case UpdateIfExistsRe(table, usingClause, sets, where) =>
          noUsing(usingClause, "UPDATE ... IF EXISTS")
          val (pkKv, ck) = splitKey(where)
          val (c, v) = casSet(sets)
          (pkKv, Seq((ck, None: Option[String],
            CasCond.Present: CasCond)), Seq((ck, c, v)))
        case DeleteIfRe(colOpt, table, where, exists, ifCol, ifOp,
            ifVal) =>
          val (pkKv, ck) = splitKey(where)
          val cond: Cond =
            if (exists != null) (ck, None, CasCond.Present)
            else (ck, Some(ifCol.toLowerCase),
              casOpCond(None, str = false, ifOp, ifVal))
          val writeCol = Option(colOpt) match {
            case Some(c) =>
              graft.sources.CellSource.CellTombstonePrefix +
                deleteColName(c)
            case None => graft.sources.CellSource.RowTombstone
          }
          (pkKv, Seq(cond), Seq((ck, writeCol, 0L)))
        case InsertRe(table, cols, vals, usingClause) =>
          noUsing(usingClause, "INSERT")
          val ws = insertTypedRows(spec, cols, vals, AssignLater)
            .map(rowWrite)
          (ws.head._1, Seq.empty[Cond], ws.map(_._2))
        case UpdateRe(table, usingClause, sets, where) =>
          noUsing(usingClause, "UPDATE")
          val ws = updateTypedRows(spec, sets, where, AssignLater)
            .map(rowWrite)
          // an IN over pk parts fans out to several partitions —
          // the one-ballot rule catches it here, not at the tail
          // distinct check (which only sees each statement's head)
          if (ws.map(_._1).distinct.length != 1)
            fail("batch with conditions cannot span multiple " +
              "partitions (Cassandra's rule)")
          (ws.head._1, Seq.empty[Cond], ws.map(_._2))
        case DeleteRe(colOpt, table, usingTs, where) =>
          if (usingTs != null) noUsing(usingTs, "DELETE")
          // the CAS-row delete shapes only: a single cell's tombstone
          // or the row tombstone at a FULLY-bound key (the default
          // layout's conditional-batch rule, typed)
          val (pkKv, ck) = splitKey(where)
          val writeCol = Option(colOpt) match {
            case Some(c) =>
              graft.sources.CellSource.CellTombstonePrefix +
                deleteColName(c)
            case None => graft.sources.CellSource.RowTombstone
          }
          (pkKv, Seq.empty[Cond], Seq((ck, writeCol, 0L)))
        case s => fail(s"BATCH accepts INSERT/UPDATE/DELETE, got: $s")
      }
    val pkSets = parsed.map(_._1).distinct
    if (pkSets.size != 1)
      fail("batch with conditions cannot span multiple partitions " +
        "(Cassandra's rule)")
    flushBuffered(spark, dir) // the CAS round reads current state
    val r = CellTransactions.casBatchKeyed(spark, dir, pkSets.head,
      parsed.flatMap(_._2), parsed.flatMap(_._3))
    forgetWt(dir)
    lwtResult(spark, r)
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"CQL: $msg")

  /** Catalog-persisted table properties (`_props`, written by the
    * CellCatalog) of a table directory — the facade consults them for
    * TABLE-LEVEL semantics Cassandra declares per table: counter-ness
    * (the shard-SUM read mode + increment-only write grammar).
    */
  private def tableProps(dir: String): Map[String, String] = {
    val f = java.nio.file.Paths.get(dir).resolve("_props")
    if (!java.nio.file.Files.exists(f)) return Map.empty
    val p = new java.util.Properties()
    val r = java.nio.file.Files.newBufferedReader(f)
    try p.load(r) finally r.close()
    scala.jdk.CollectionConverters.PropertiesHasAsScala(p).asScala.toMap
  }

  private def isCounter(dir: String): Boolean =
    tableProps(dir).get("counter").contains("true")

  /** The frozen-UDT value layout of a table, if its value column was
    * declared `frozen<type>` (persisted as the `udtLayout` table
    * property at CREATE TABLE).
    */
  private def udtLayoutOf(dir: String): Option[String] =
    tableProps(dir).get("udtLayout")

  /** True for a NON-frozen UDT value column (C59d): field-per-cell
    * storage, per-field updates/tombstones; frozen tables stay
    * whole-blob (C59b).
    */
  private def udtUnfrozenOf(dir: String): Boolean =
    tableProps(dir).get("udtUnfrozen").contains("true")

  /** C67e field-RENAME alias (r15): a non-frozen UDT column stores
    * one cell PER FIELD under the field's name, so a rename keeps the
    * STORED name and serves the new declared name through a per-table
    * `udtAlias.<declared> = <storage>` property — old cells keep
    * LWW-merging with new writes because both address the SAME cell
    * name. Declared field name -> storage field name (identity when
    * never renamed). SELECT * surfaces the storage cell names (the
    * raw cell view); field-ADDRESSED reads/writes serve the declared
    * name — documented subset shape, test-pinned.
    */
  private def storageField(dir: String)(f: String): String =
    tableProps(dir).getOrElse(s"udtAlias.$f", f)

  /** Remove ONE `_props` key (the RENAME alias handover). */
  private def removeTableProp(dir: String, key: String): Unit = {
    val f = java.nio.file.Paths.get(dir).resolve("_props")
    if (!java.nio.file.Files.exists(f)) return
    val p = new java.util.Properties()
    val r = java.nio.file.Files.newBufferedReader(f)
    try p.load(r) finally r.close()
    if (p.remove(key) != null) {
      val w = java.nio.file.Files.newBufferedWriter(f)
      try p.store(w, null) finally w.close()
    }
  }

  private def refuseUdt(dir: String, what: String): Unit =
    if (udtLayoutOf(dir).isDefined)
      fail(s"$what is not supported on frozen<udt>-valued tables " +
        "in this subset")

  /** C55i (r18) — LWT on frozen<udt>-valued tables. Cassandra serves
    * conditions on such tables, so the old table-wide refusal is now
    * SCOPED: whole-value equality (`IF c = {…}` / `!=` / `IN`) and
    * row presence ride the CAS round over the packed-blob cells
    * (frozen values compare as whole serialized values — Cassandra's
    * own frozen<> equality). Still out, each failing by name: the
    * non-frozen layout (its field-cell writes would need
    * read-modify-write under the ballot), typed key layouts (the
    * keyed CAS flush is bigint-only), and ordered comparisons (no
    * blob order in this subset). Returns the layout when the table
    * routes through the udt CAS arm.
    */
  private def udtCasLayout(dir: String): Option[String] =
    udtLayoutOf(dir).map { layout =>
      if (udtUnfrozenOf(dir))
        fail("lightweight transactions on non-frozen udt tables are " +
          "outside this subset (field-cell writes need " +
          "read-modify-write under the ballot)")
      if (!graft.sources.CellSource.keySpec(dir).isDefault)
        fail("LWT on frozen<udt> tables serves the default " +
          "((pk), ck) layout in this subset")
      layout
    }

  /** The C55d operator family over packed frozen<udt> values:
    * equality family packs the literal through the type's layout,
    * ordered comparisons refuse (no blob order).
    */
  private def udtOpCond(layout: String, col: String, op: String,
      raw: String): graft.sources.CellTransactions.CasCond = {
    import graft.sources.CellTransactions.CasCond
    op match {
      case "=" => CasCond.Equals(udtLiteral(layout, raw, col))
      case "!=" => CasCond.NotEquals(udtLiteral(layout, raw, col))
      case o => fail(s"IF $o on frozen<udt> values is outside this " +
        "subset (frozen blobs carry no order here)")
    }
  }

  /** C11j (r18) — map ENTRY addressing in LWT statements on a
    * DECLARED map<text, T> table: the entry key IS the cell col name
    * (case-preserved DATA — never lowercased), so `IF m['k'] = v`
    * conditions and `SET m['k'] = v` writes ride the ordinary CAS
    * round with col = 'k' and the ELEMENT type's literal grammar.
    */
  private def isMapDeclared(dir: String): Boolean =
    cqlCollectionOf(dir).exists(_.toLowerCase.startsWith("map"))

  /** An IF/DELETE column reference, entry-aware: the `m['k']` form
    * resolves to the entry's cell col (needs a declared map column);
    * bare names lowercase as usual.
    */
  private def lwtCondCol(dir: String, ref: String): String = ref match {
    case MapEntryRe(_, _) =>
      if (!isMapDeclared(dir))
        fail(s"entry conditions ($ref) need a DECLARED map<text, T> " +
          "column")
      deleteColName(ref)
    case c => c.toLowerCase
  }

  /** `m['k'] = v` entry-put SET item of a conditional UPDATE. */
  private val EntrySetRe =
    """(?is)^\s*(\w+)\s*\[\s*('(?:[^']|'')*')\s*\]\s*=\s*(.+?)\s*$""".r

  /** The element-grammar value parser of a table — what LWT entry
    * writes and conditions parse through.
    */
  private def lwtValueParse(mappedCas: Option[String],
      str: Boolean): (String, String) => Any =
    mappedCas match {
      case Some(ct) => mappedLiteral(ct)
      case None if str => collValue(stringValued = true)
      case None => longLiteral
    }

  /** Entry-put SET items (`m['k'] = v`) of a conditional UPDATE on a
    * declared-map table, through the ELEMENT grammar.
    */
  private def mapEntrySetCells(parse: (String, String) => Any,
      sets: String, where: String)
      : Seq[(Long, Int, String, Any, Long)] = {
    val (pks, ckEq, _, _) = keyPredicate(where)
    if (pks.size != 1)
      fail("conditional statements bind exactly one partition key")
    val ck = ckEq.getOrElse(fail("UPDATE WHERE must bind ck"))
    splitValues(sets).toSeq.map {
      case e @ EntrySetRe(m, kq, raw) =>
        val key = deleteColName(s"$m[$kq]")
        (pks.head, ck, key, parse(raw, s"value of $m[$kq]"),
          AssignLater)
      case x => fail("conditional updates on a declared map table " +
        s"take entry puts (m['k'] = v), got: $x")
    }
  }

  /** C11k (r18) — whole-collection EQUALITY conditions: Cassandra's
    * `IF tags = {…}` / `IF l = […]` / `IF m = {…}` (and `!=`). The
    * collection is a SET OF CELLS, so the condition rides the
    * partition-reading casBatch round as a [[graft.sources
    * .CellTransactions.CasCond.CollEq]]; literals parse through the
    * DECLARED element grammar. Returns None when the IF value is not
    * a collection literal (the scalar machinery owns it).
    */
  private def collCondOf(dir: String, ifCol: String, op: String,
      raw: String)
      : Option[graft.sources.CellTransactions.CasCond.CollEq] = {
    import graft.sources.CellTransactions.CasCond
    val t = raw.trim
    val bracket = t.startsWith("[") && t.endsWith("]")
    val brace = t.startsWith("{") && t.endsWith("}")
    if (!bracket && !brace) return None
    val sp = cqlCollectionOf(dir).getOrElse(
      fail(s"IF $ifCol $op <collection literal> needs a DECLARED " +
        "collection column"))
    val kind = sp.takeWhile(_ != '<').trim.toLowerCase
    val negate = op match {
      case "=" => false
      case "!=" => true
      case o => fail(s"IF $o does not apply to collection literals " +
        "(the equality family only)")
    }
    val parse = collElementParse(dir)
    val body = t.substring(1, t.length - 1)
    def vals(what: String): Seq[Any] =
      if (body.trim.isEmpty) Seq.empty
      else splitValues(body).toSeq.map(parse(_, what))
    Some(kind match {
      case "list" =>
        if (!bracket) fail(s"a $sp condition takes a [..] literal")
        CasCond.CollEq("list", ifCol.toLowerCase, vals("list element"),
          Seq.empty, negate)
      case "set" =>
        if (!brace) fail(s"a $sp condition takes a {..} literal")
        CasCond.CollEq("set", ifCol.toLowerCase, vals("set element"),
          Seq.empty, negate)
      case "map" =>
        if (!brace) fail(s"a $sp condition takes a {'k': v, ..} " +
          "literal")
        // duplicate literal keys keep the LAST value (Cassandra's
        // map-literal rule) — an inflated pair count would make the
        // size compare unsatisfiable
        val entries =
          if (body.trim.isEmpty) Seq.empty[(String, Any)]
          else {
            val pairs = mapEntries(body, parse)
            val last = pairs.toMap
            pairs.map(_._1).distinct.map(k => k -> last(k))
          }
        CasCond.CollEq("map", ifCol.toLowerCase, Seq.empty, entries,
          negate)
      case k => fail(s"unknown collection kind: $k")
    })
  }

  /** The declared ELEMENT grammar of a collection table (bypasses
    * the scalar-LWT selector's set/list refusal — C11k's paths own
    * their shapes).
    */
  private def collElementParse(dir: String): (String, String) => Any =
    cqlValueTypeOf(dir) match {
      case Some(ct) => mappedLiteral(ct)
      case None if isStringValued(dir) => collValue(stringValued = true)
      case None => longLiteral
    }

  /** C11k — a collection WRITE under a condition (`UPDATE … SET
    * l = l + [9] … IF …`) and/or a whole-collection equality
    * condition: the staged read-before-write cells + tombstones ride
    * ONE casBatch round, applied all-or-nothing at the ballot
    * writetime. The condition is the CollEq, or a scalar cell of the
    * bound CAS row.
    */
  private def lwtCollUpdate(spark: SparkSession, dir: String,
      sets: String, where: String,
      collCond: Option[graft.sources.CellTransactions.CasCond.CollEq],
      ifCol: String, ifOp: String, ifVal: String,
      ttl: Option[Long]): DataFrame = {
    import graft.sources.CellTransactions
    if (isCounter(dir))
      fail("conditional updates are not supported on counter " +
        "tables (Cassandra's rule)")
    if (!graft.sources.CellSource.keySpec(dir).isDefault)
      fail("conditional collection updates serve the default " +
        "((pk), ck) layout in this subset")
    val (cc, tt) = stageCollectionCells(spark, dir, sets, where,
      AssignLater, scala.collection.mutable.Map.empty)
    val writes = cc.map(c => (c._2, c._3, c._4)) ++
      tt.map(c => (c._2, c._3, c._4))
    if (writes.isEmpty)
      fail("this conditional collection statement writes nothing " +
        "(empty literal against an empty collection)")
    val pks = (cc ++ tt).map(_._1).distinct
    if (pks.length != 1)
      fail("conditional statements bind exactly one partition key")
    val cond: CellTransactions.CasCond = collCond.getOrElse {
      casOpCond(cqlValueTypeOf(dir).filter(MappedCqlTypes.contains),
        isStringValued(dir), ifOp, ifVal)
    }
    val (_, ckEq, _, _) = keyPredicate(where)
    val condCk = ckEq.getOrElse(
      if (collCond.exists(_.kind != "map")) 0
      else fail("this condition needs WHERE ... AND ck = ? (the " +
        "CAS row)"))
    val condCol =
      if (collCond.isDefined) None else Some(lwtCondCol(dir, ifCol))
    lwtResult(spark, CellTransactions.casBatch(spark, dir, pks.head,
      Seq((condCk, condCol, cond)), writes, ttlWt = ttl))
  }

  /** One-condition UDT CAS update: exactly one `SET c = {…}` packed
    * write, the condition against the row's current packed winner.
    */
  private def udtCas(spark: SparkSession, dir: String, layout: String,
      sets: String, where: String, condCol: Option[String],
      cond: graft.sources.CellTransactions.CasCond,
      ttl: Option[Long]): DataFrame = {
    val cs = udtUpdateCells(sets, where, AssignLater, layout)
    if (cs.length != 1)
      fail("UPDATE ... IF takes exactly one SET column and one pk")
    lwtResult(spark, graft.sources.CellTransactions.casApply(
      spark, dir, cs.head._1, cs.head._2, condCol, cond,
      writeCol = cs.head._3, writeValue = cs.head._4, ttlWt = ttl))
  }

  // Per-keyspace UDT registry: a `_types` java-properties file under
  // the keyspace directory (name -> layout in the C59 `f1 t1,f2 t2`
  // form) — catalog metadata, same residency class as `_props`.
  // Driver-side by design: the registry is bounded by type count and
  // consulted at statement-parse time only, never per row.
  private def udtTypesPath(root: String, ks: String): java.nio.file.Path =
    java.nio.file.Paths.get(root, ks, "_types")

  private def udtLayouts(root: String, ks: String): Map[String, String] = {
    val f = udtTypesPath(root, ks)
    if (!java.nio.file.Files.exists(f)) return Map.empty
    val p = new java.util.Properties()
    val r = java.nio.file.Files.newBufferedReader(f)
    try p.load(r) finally r.close()
    scala.jdk.CollectionConverters.PropertiesHasAsScala(p).asScala.toMap
  }

  /** Table dirs in `ks` whose `udtName` property references `name` —
    * ALTER/DROP TYPE's reference scan (one `_props` read per table in
    * the keyspace, catalog-sized).
    */
  private def typeUsers(root: String, ks: String,
      name: String): Seq[String] = {
    val ksDir = java.nio.file.Paths.get(root, ks)
    if (!java.nio.file.Files.isDirectory(ksDir)) return Seq.empty
    val s = java.nio.file.Files.list(ksDir)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator)
      .asScala
      .filter(java.nio.file.Files.isDirectory(_))
      .map(_.toString)
      .filter(d => tableProps(d).get("udtName").contains(name))
      .toSeq
    finally s.close()
  }

  /** Rewrite ONE key of a table's `_props` — ALTER TYPE propagates
    * the evolved layout to every referencing table, as Cassandra
    * pushes type changes into table metadata.
    */
  private def updateTableProp(dir: String, key: String,
      value: String): Unit = {
    val f = java.nio.file.Paths.get(dir).resolve("_props")
    val p = new java.util.Properties()
    if (java.nio.file.Files.exists(f)) {
      val r = java.nio.file.Files.newBufferedReader(f)
      try p.load(r) finally r.close()
    }
    p.setProperty(key, value)
    val w = java.nio.file.Files.newBufferedWriter(f)
    try p.store(w, null) finally w.close()
  }

  // ---------------------------------------------------------------
  // C71 — CQL user-defined FUNCTIONS and AGGREGATES (Cassandra 2.2+),
  // as a DETERMINISTIC EXPRESSION subset: a function body is one
  // scalar SQL expression over its named arguments (LANGUAGE sql —
  // the java bodies Cassandra executes in a sandbox are outside this
  // subset and refuse by name), validated at CREATE time to parse,
  // resolve over exactly the declared arguments, be deterministic,
  // and evaluate to the declared RETURNS type. An aggregate composes
  // registered functions Cassandra's way: SFUNC folds (state, value)
  // → state over the group's rows IN CLUSTERING ORDER (the
  // coordinator's own fold order), FINALFUNC maps the final state.
  //
  // Scale: a UDF applies inside whole-stage codegen like any
  // expression; a UDA evaluates as `aggregate(sorted collect_list)`,
  // bounded per group by CQL's partition-size discipline (the C11
  // collection bound) — the fold is sequential BY CONTRACT, which is
  // why Cassandra itself cannot distribute it either.
  // Registries are per-keyspace java-properties files (`_functions`,
  // `_aggregates`) — catalog metadata, the `_types` residency class.

  private[cql] final case class CqlFn(args: Seq[(String, String)],
      returns: String, body: String, calledOnNull: Boolean)

  private[cql] final case class CqlAgg(argType: String, sfunc: String,
      stype: String, finalFunc: Option[String], initcond: String)

  /** Registry field separator: a control character no validated
    * SQL body can contain.
    */
  private val FnSep = "\u0001"

  private def loadRegistry(f: java.nio.file.Path)
      : Map[String, String] = {
    if (!java.nio.file.Files.exists(f)) return Map.empty
    val p = new java.util.Properties()
    val r = java.nio.file.Files.newBufferedReader(f)
    try p.load(r) finally r.close()
    scala.jdk.CollectionConverters.PropertiesHasAsScala(p).asScala.toMap
  }

  private def storeRegistry(f: java.nio.file.Path,
      m: Map[String, String]): Unit = {
    if (m.isEmpty) { java.nio.file.Files.deleteIfExists(f); return }
    val p = new java.util.Properties()
    m.foreach { case (k, v) => p.setProperty(k, v) }
    val w = java.nio.file.Files.newBufferedWriter(f)
    try p.store(w, null) finally w.close()
  }

  private[cql] def fnsOf(ksDir: java.nio.file.Path)
      : Map[String, CqlFn] =
    loadRegistry(ksDir.resolve("_functions")).map { case (n, enc) =>
      val Array(argSpec, ret, called, body) = enc.split(FnSep, 4)
      val args = argSpec.split(',').filter(_.nonEmpty).toSeq
        .map { a => val Array(an, at) = a.split(':'); (an, at) }
      n -> CqlFn(args, ret, body, called == "true")
    }

  private[cql] def aggsOf(ksDir: java.nio.file.Path)
      : Map[String, CqlAgg] =
    loadRegistry(ksDir.resolve("_aggregates")).map { case (n, enc) =>
      val Array(at, sf, st, ff, init) = enc.split(FnSep, 5)
      n -> CqlAgg(at, sf, st, Some(ff).filter(_.nonEmpty), init)
    }

  private def writeFns(ksDir: java.nio.file.Path,
      m: Map[String, CqlFn]): Unit =
    storeRegistry(ksDir.resolve("_functions"), m.map { case (n, f) =>
      n -> (f.args.map { case (an, at) => s"$an:$at" }.mkString(",") +
        FnSep + f.returns + FnSep + f.calledOnNull + FnSep + f.body)
    })

  private def writeAggs(ksDir: java.nio.file.Path,
      m: Map[String, CqlAgg]): Unit =
    storeRegistry(ksDir.resolve("_aggregates"), m.map { case (n, a) =>
      n -> (a.argType + FnSep + a.sfunc + FnSep + a.stype + FnSep +
        a.finalFunc.getOrElse("") + FnSep + a.initcond)
    })

  /** The UDF/UDA type subset → Spark types (scalars the expression
    * layer evaluates natively).
    */
  private def fnTypeToSpark(t: String)
      : org.apache.spark.sql.types.DataType = t match {
    case "bigint" => org.apache.spark.sql.types.LongType
    case "int" => org.apache.spark.sql.types.IntegerType
    case "double" => org.apache.spark.sql.types.DoubleType
    case "boolean" => org.apache.spark.sql.types.BooleanType
    case "text" | "varchar" | "ascii" =>
      org.apache.spark.sql.types.StringType
    case o => fail(s"unsupported function argument/return type: $o " +
      "(bigint/int/double/boolean/text in this subset)")
  }

  /** CREATE-time body validation: parses, resolves over EXACTLY the
    * declared arguments, deterministic, no subqueries, evaluates to
    * the declared RETURNS type.
    */
  private def validateFnBody(spark: SparkSession,
      args: Seq[(String, String)], returns: String,
      body: String): Unit = {
    if ("""(?i)\bselect\b""".r.findFirstIn(body).isDefined)
      fail("function bodies are scalar expressions over their " +
        "arguments — subqueries are outside this subset")
    val base = spark.range(1).select(args.map { case (n, t) =>
      org.apache.spark.sql.functions.lit(null)
        .cast(fnTypeToSpark(t)).as(n) }.toIndexedSeq: _*)
    val out =
      try {
        val d = base.select(
          org.apache.spark.sql.functions.expr(body).as("r"))
        d.queryExecution.analyzed // force analysis
        d
      } catch {
        case e: Exception => fail("function body does not " +
          s"parse/resolve over its arguments: ${e.getMessage}")
      }
    if (!out.queryExecution.analyzed.expressions
        .forall(_.deterministic))
      fail("function bodies must be DETERMINISTIC — no now()/rand()/" +
        "uuid() (Cassandra executes java UDFs; this subset promises " +
        "replayable expressions)")
    val rt = out.schema("r").dataType
    val want = fnTypeToSpark(returns)
    if (rt != want)
      fail(s"function body evaluates to ${rt.simpleString}; " +
        s"declared RETURNS $returns is ${want.simpleString} — " +
        "cast explicitly in the body")
  }

  /** A registered scalar function APPLIED to actual column
    * expressions: each argument binds through a one-element
    * `transform(array(<actual>), <argname> -> …)` wrap, so the body
    * evaluates verbatim with its own argument names as lambda
    * variables — no textual substitution, no collision with column
    * names, still whole-stage codegen.
    */
  private def applyFnSql(fn: CqlFn, actuals: Seq[String]): String = {
    // RETURNS NULL ON NULL INPUT skips the body when any argument is
    // null (Cassandra's contract) — expressed as a null guard so
    // e.g. a coalesce() body still returns null on null input
    val guarded =
      if (fn.calledOnNull) s"(${fn.body})"
      else "IF(" + fn.args.map(_._1).map(a => s"$a IS NULL")
        .mkString(" OR ") + s", NULL, (${fn.body}))"
    fn.args.zip(actuals).foldRight(guarded) {
      case (((an, _), actual), acc) =>
        s"transform(array($actual), $an -> $acc)[0]"
    }
  }

  /** A registered aggregate over `argCol` of the current relation:
    * Cassandra's UDA contract — fold the group's values in CLUSTERING
    * order through SFUNC from INITCOND, then FINALFUNC. The sort is
    * by the table's own key columns (+ col), so the fold order is the
    * row order a coordinator would stream.
    *
    * The per-group buffer is the WIDTH-GUARDED collect
    * ([[graft.functions.BoundedCollectList]], the C23 machinery): a
    * coordinator-style fold buffers the whole group, and an
    * adversarially wide partition must raise the named
    * `graft.maxGroupWidth` error instead of an executor OOM.
    */
  private def udaFoldSql(spark: SparkSession,
      ksDir: java.nio.file.Path, agg: CqlAgg,
      argCol: String, orderCols: Seq[String]): String = {
    graft.GraftExtensions.register(spark)
    val limit = graft.functions.BoundedCollect.maxGroupWidth(spark)
    val fns = fnsOf(ksDir)
    val sf = fns(agg.sfunc)
    val stypeSql = fnTypeToSpark(agg.stype).sql
    val sorted = "transform(array_sort(graft_collect_bounded(struct(" +
      (orderCols :+ argCol).mkString(", ") +
      s"), $limit)), s -> s.$argCol)"
    val Seq((accN, _), (valN, _)) = sf.args
    val fold = s"aggregate($sorted, CAST((${agg.initcond}) AS " +
      s"$stypeSql), ($accN, $valN) -> (${sf.body}))"
    agg.finalFunc.map { fname =>
      val ff = fns(fname)
      val fa = ff.args.head._1
      s"transform(array($fold), $fa -> (${ff.body}))[0]"
    }.getOrElse(fold)
  }

  private def writeUdts(root: String, ks: String,
      types: Map[String, String]): Unit = {
    val f = udtTypesPath(root, ks)
    if (types.isEmpty) { java.nio.file.Files.deleteIfExists(f); return }
    val p = new java.util.Properties()
    types.foreach { case (k, v) => p.setProperty(k, v) }
    val w = java.nio.file.Files.newBufferedWriter(f)
    try p.store(w, null) finally w.close()
  }

  // ---------------------------------------------------------------
  // Catalog-bound execution: DDL routes through Spark SQL's catalog
  // commands against a registered `CellCatalog`; DML resolves
  // `ks.table` names to the catalog's table directories so every
  // statement form works against catalog tables.

  /** Execute one CQL statement (DDL or DML) against the cell catalog
    * registered as `catalog` (`spark.sql.catalog.<name>` +
    * `.root`). `CREATE/DROP KEYSPACE` ↔ namespaces, `CREATE TABLE`
    * maps the CQL column list onto the cell layout (a `counter`
    * column type sets the table's shard-SUM property, Cassandra's own
    * rule that counter-ness is declared per table), `gc_grace_seconds`
    * → the `gcGraceMs` property C17's compaction honors.
    */
  def catalogExecute(spark: SparkSession, cql: String,
      catalog: String = "gcells",
      defaultKs: Option[String] = None): DataFrame = {
    def root: String = {
      val k = s"spark.sql.catalog.$catalog.root"
      spark.conf.getOption(k).getOrElse(fail(s"$k is not set"))
    }
    cql match {
      case UseRe(_) =>
        // USE is SESSION state — a single statement has no session
        // to mutate; the script runner threads it (C65n)
        fail("USE sets the script's ambient keyspace — run it " +
          "inside catalogScript (a lone statement has no session)")
      case CreateKsRe(ifNot, ks) =>
        spark.sql(s"CREATE NAMESPACE " +
          (if (ifNot != null) "IF NOT EXISTS " else "") + s"$catalog.$ks")
      case DropKsRe(ifEx, ks) =>
        // Cassandra's DROP KEYSPACE drops everything inside it
        // (implicit cascade) — a plain DROP NAMESPACE would refuse a
        // non-empty keyspace. Buffered writes to its tables are
        // dropped with it, and their writetime counters forget.
        val ksDir = java.nio.file.Paths.get(root, ks)
        if (java.nio.file.Files.isDirectory(ksDir)) {
          import scala.jdk.CollectionConverters._
          scala.util.Using.resource(
              java.nio.file.Files.list(ksDir)) { s =>
            s.iterator.asScala
              .filter(java.nio.file.Files.isDirectory(_))
              .foreach { d =>
                discardBuffered(d.toString); forgetWt(d.toString)
              }
          }
        }
        spark.sql(s"DROP NAMESPACE " +
          (if (ifEx != null) "IF EXISTS " else "") +
          s"$catalog.$ks CASCADE")
      case CreateTypeRe(ifNot, ks, name, fieldSpec) =>
        // CREATE TYPE (C59b): register the field layout under its
        // keyspace. Field types are the CQL scalars the statement
        // grammar can literal-ize (text/bigint/int/double); the
        // layout string is UdtLayout's own form so pack/unpack and
        // the C18h key packer consume it verbatim.
        if (!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(root, ks)))
          fail(s"keyspace $ks does not exist")
        val fields = fieldSpec.split(',').map(_.trim).filter(_.nonEmpty)
          .map {
            case ColDefRe(n, t, st) =>
              if (st != null) fail("UDT fields cannot be STATIC")
              val lt = t.toLowerCase match {
                case "text" | "varchar" | "ascii" => "string"
                case "bigint" | "int" | "double" => t.toLowerCase
                case o => fail(s"unsupported UDT field type: $o " +
                  "(text/bigint/int/double in this subset)")
              }
              n.toLowerCase -> lt
            case f => fail(s"UDT field must be 'name type', got: $f")
          }.toSeq
        if (fields.isEmpty) fail("CREATE TYPE needs at least one field")
        if (fields.map(_._1).distinct.length != fields.length)
          fail("duplicate UDT field name")
        val layout = fields.map { case (n, t) => s"$n $t" }
          .mkString(",")
        val existing = udtLayouts(root, ks)
        existing.get(name.toLowerCase) match {
          case Some(l) =>
            if (ifNot == null) fail(s"type $ks.$name already exists")
            // IF NOT EXISTS is satisfied only by THE SAME layout —
            // the CREATE INDEX/MV rule: a different type squatting on
            // the name must fail loudly, not no-op
            if (l != layout)
              fail(s"type $ks.$name exists with a different layout " +
                s"($l)")
          case None =>
            writeUdts(root, ks, existing + (name.toLowerCase -> layout))
        }
        spark.emptyDataFrame
      case DropTypeRe(ifEx, ks, name) =>
        val existing = udtLayouts(root, ks)
        if (!existing.contains(name.toLowerCase)) {
          if (ifEx == null) fail(s"type $ks.$name does not exist")
        } else {
          // Cassandra refuses to drop a type a table still uses —
          // the blobs would become undecodable. Bounded scan: one
          // `_props` read per table in the keyspace (catalog-sized).
          val ksDir = java.nio.file.Paths.get(root, ks)
          val users = {
            val s = java.nio.file.Files.list(ksDir)
            try scala.jdk.CollectionConverters.IteratorHasAsScala(
              s.iterator).asScala
              .filter(java.nio.file.Files.isDirectory(_))
              .filter(d => tableProps(d.toString).get("udtName")
                .contains(name.toLowerCase))
              .map(_.getFileName.toString).toSeq
            finally s.close()
          }
          if (users.nonEmpty)
            fail(s"type $ks.$name is still used by: " +
              users.sorted.mkString(", "))
          writeUdts(root, ks, existing - name.toLowerCase)
        }
        spark.emptyDataFrame
      case AlterTypeAddRe(ks, name, f, t) =>
        // ALTER TYPE ADD appends at the END of the layout — the C59
        // wire format's evolution rule: pre-evolution blobs unpack
        // the new trailing field as null (frozen whole-value blobs
        // AND C59d single-field cells alike), so no data rewrite is
        // needed, exactly as in Cassandra. The evolved layout
        // propagates to every referencing table's `_props` and to
        // system_schema.types/DESCRIBE (both read the registry).
        val existing = udtLayouts(root, ks)
        val layout = existing.getOrElse(name.toLowerCase,
          fail(s"type $ks.$name does not exist"))
        val lt = t.toLowerCase match {
          case "text" | "varchar" | "ascii" => "string"
          case "bigint" | "int" | "double" => t.toLowerCase
          case o => fail(s"unsupported UDT field type: $o " +
            "(text/bigint/int/double in this subset)")
        }
        val fn = f.toLowerCase
        if (graft.functions.UdtValues.fields(layout).contains(fn))
          fail(s"field $fn already exists in $ks.$name")
        val grown = s"$layout,$fn $lt"
        writeUdts(root, ks, existing + (name.toLowerCase -> grown))
        typeUsers(root, ks, name.toLowerCase)
          .foreach(updateTableProp(_, "udtLayout", grown))
        spark.emptyDataFrame
      case AlterTypeRenameRe(ks, name, from, to) =>
        val existing = udtLayouts(root, ks)
        val layout = existing.getOrElse(name.toLowerCase,
          fail(s"type $ks.$name does not exist"))
        val (fn, tn) = (from.toLowerCase, to.toLowerCase)
        val fields = graft.functions.UdtValues.fields(layout)
        if (!fields.contains(fn))
          fail(s"unknown UDT field $fn of $ks.$name (declared: " +
            fields.mkString(", ") + ")")
        if (fields.contains(tn))
          fail(s"field $tn already exists in $ks.$name")
        val users = typeUsers(root, ks, name.toLowerCase)
        // frozen blobs pack fields POSITIONALLY — a rename is
        // metadata-only for them — but a NON-frozen column names its
        // cells `<col>.<field>`, so the rename records a per-table
        // ALIAS (r15): stored cells KEEP their original name, the new
        // declared name serves them through `udtAlias.<new>`, and new
        // writes land under the STORED name so LWW keeps folding old
        // and new versions of the field together. Chained renames
        // resolve to the original storage name.
        val unfrozenUsers = users.filter(d =>
          tableProps(d).get("udtUnfrozen").contains("true"))
        unfrozenUsers.foreach { d =>
          val storage = tableProps(d).getOrElse(s"udtAlias.$fn", fn)
          updateTableProp(d, s"udtAlias.$tn", storage)
          removeTableProp(d, s"udtAlias.$fn")
        }
        val renamed = layout.split(',').map(_.trim).map { fd =>
          val Array(n, ft) = fd.split("\\s+", 2)
          if (n == fn) s"$tn $ft" else fd
        }.mkString(",")
        writeUdts(root, ks, existing + (name.toLowerCase -> renamed))
        users.foreach(updateTableProp(_, "udtLayout", renamed))
        spark.emptyDataFrame
      // C51d — Cassandra 5's `CREATE TABLE ... LIKE` (CEP-43): the
      // new table copies the source's COLUMNS and recorded OPTIONS by
      // rendering the source through the round-trippable DESCRIBE and
      // replaying it under the new name — LIKE is definitionally
      // consistent with DESC output. Data, indexes and views are NOT
      // copied (upstream's rule); views and index tables refuse as
      // sources. Matched BEFORE the parenthesized CREATE form.
      case CreateLikeRe(ifNot, dks, dt, sks, st) =>
        val srcDir = s"$root/$sks/$st"
        if (!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(srcDir)))
          fail(s"table $sks.$st does not exist")
        if (graft.sources.CellView.baseOf(srcDir).isDefined)
          fail(s"$sks.$st is a materialized view — CREATE TABLE " +
            "LIKE copies tables only (Cassandra's rule)")
        if (graft.sources.CellIndex.columnOf(srcDir).isDefined)
          fail(s"$sks.$st is an index table — CREATE TABLE LIKE " +
            "copies tables only")
        flushBuffered(spark, srcDir)
        val stmt = SystemSchema.describeTable(spark, catalog, sks, st)
          .collect().head.getString(0)
        val prefix = s"CREATE TABLE $sks.$st ("
        if (!stmt.startsWith(prefix))
          fail(s"cannot render source $sks.$st for LIKE")
        catalogExecute(spark,
          "CREATE TABLE " +
            (if (ifNot != null) "IF NOT EXISTS " else "") +
            s"$dks.$dt (" + stmt.stripPrefix(prefix),
          catalog, defaultKs)
      case CreateTableRe(ifNot, ks, t, colSpec, withOpts) =>
        val cc = parseCreateColumns(colSpec,
          n => udtLayouts(root, ks).get(n.toLowerCase))
        val props = scala.collection.mutable.Map.empty[String, String]
        if (cc.counter) props += "counter" -> "true"
        if (cc.staticCols.nonEmpty)
          props += "staticCols" -> cc.staticCols.mkString(",")
        // frozen<udt> value (C59b): the type name + field layout ride
        // as table properties — the schema layer the C59 storage
        // model keeps OUTSIDE the cells
        cc.udt.foreach { case (tn, layout) =>
          props += "udtName" -> tn
          props += "udtLayout" -> layout
        }
        // non-frozen udt (C59d): same blob-valued cell layer, but the
        // write/read paths route per FIELD CELL instead of per blob
        if (cc.udtUnfrozen) props += "udtUnfrozen" -> "true"
        // mapped declared types (C65r/C36d): the declared CQL names
        // drive the literal grammar and DESCRIBE; storage rides the
        // schema/keyType props like any other table
        cc.cqlValue.foreach(ct => props += "cqlValueType" -> ct)
        // declared collection spelling (C65z): gates the write forms
        // and outranks cqlValueType in DESCRIBE's value rendering
        cc.cqlCollection.foreach(sp => props += "cqlCollection" -> sp)
        cc.cqlKeys.foreach { case (n, ct) =>
          props += s"cqlKeyType.$n" -> ct
        }
        // a TYPED layout travels as table properties: the catalog
        // persists them to `_props`, which serves the schema and the
        // first write's key layout BEFORE any flush exists, and
        // becomes read/write option defaults afterwards
        cc.pkSyntax.foreach { syn =>
          props += "primaryKey" -> syn
          cc.keyParts.foreach { case (n, tp) =>
            props += s"keyType.$n" -> tp
          }
        }
        Option(withOpts).foreach {
          splitWithOptions(_)
            .foreach {
              case ClusteringOrderRe(body) =>
                // Cassandra's physical-order declaration: the read
                // path serves partitions in this order (C39's reverse
                // cursor when DESC); the list must name every
                // clustering column in declared order
                val cks: Seq[String] = cc.pkSyntax match {
                  case None => Seq("ck")
                  case Some(syn) =>
                    val i = syn.indexOf("),")
                    if (i < 0) Seq.empty
                    else syn.substring(i + 2, syn.length - 1)
                      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
                }
                val items = body.split(',').map(_.trim)
                  .filter(_.nonEmpty).map { it =>
                    val ps = it.split("\\s+")
                    if (ps.length != 2 ||
                        !(ps(1).equalsIgnoreCase("ASC") ||
                          ps(1).equalsIgnoreCase("DESC")))
                      fail("CLUSTERING ORDER BY takes " +
                        s"'<ck> ASC|DESC' items, got: $it")
                    (ps(0).toLowerCase, ps(1).toUpperCase)
                  }.toSeq
                if (items.map(_._1) != cks)
                  fail("CLUSTERING ORDER BY must name every " +
                    s"clustering column in order (${cks.mkString(", ")})")
                if (items.map(_._2).distinct.length > 1)
                  fail("mixed ASC/DESC clustering order is not " +
                    "supported in this subset")
                if (items.headOption.exists(_._2 == "DESC"))
                  props += "clusteringOrder" -> "desc"
              case SetRe(k, v) if k.equalsIgnoreCase("gc_grace_seconds") =>
                props += "gcGraceMs" ->
                  (longLiteral(v, "gc_grace_seconds") * 1000L).toString
              case SetRe(k, v)
                  if k.equalsIgnoreCase("default_time_to_live") =>
                // wt units, like USING TTL (the facade's writetimes
                // are logical); 0 = no default, Cassandra's own
                val t = longLiteral(v, "default_time_to_live")
                if (t < 0) fail("default_time_to_live must be " +
                  "non-negative")
                if (cc.counter && t > 0)
                  fail("counter tables cannot have " +
                    "default_time_to_live (Cassandra's rule: " +
                    "counters cannot have TTL)")
                if (t > 0) props += "defaultTtl" -> t.toString
              case SetRe(k, v) if k.equalsIgnoreCase("compaction") =>
                val (pol, win) = parseCompaction(v)
                props += "compaction" -> pol
                win.foreach(w =>
                  props += "compactionWindowMs" -> w.toString)
              case SetRe(k, v) if k.equalsIgnoreCase("comment") =>
                val c = literal(v) match {
                  case s: String => s
                  case o => fail(s"comment takes a quoted string, " +
                    s"got: $o")
                }
                if (c.nonEmpty) props += "comment" -> c
              case SetRe(k, v)
                  if InertTableOptions.contains(k.toLowerCase) =>
                props += s"tblopt.${k.toLowerCase}" -> v.trim
              case o => fail(s"unsupported table option: $o")
            }
        }
        val keyCols =
          if (cc.keyParts.isEmpty) "pk bigint, ck int"
          else cc.keyParts.map { case (n, tp) => s"$n $tp" }
            .mkString(", ")
        val tbl = s"($keyCols, col string, value ${cc.valueType}, " +
          "wt bigint)"
        // comment text may carry quotes/backslashes — escape for the
        // Spark SQL literal (backslash first: Spark processes
        // backslash escapes in single-quoted strings)
        val propSql = if (props.isEmpty) ""
          else props.map { case (k, v) =>
            s"'$k'='${v.replace("\\", "\\\\").replace("'", "''")}'" }
            .mkString(" TBLPROPERTIES(", ", ", ")")
        spark.sql(s"CREATE TABLE " +
          (if (ifNot != null) "IF NOT EXISTS " else "") +
          s"$catalog.$ks.$t $tbl$propSql")
      case DropTableRe(ifEx, ks, t) =>
        discardBuffered(s"$root/$ks/$t") // dropped with the table
        val r = spark.sql(s"DROP TABLE " +
          (if (ifEx != null) "IF EXISTS " else "") + s"$catalog.$ks.$t")
        forgetWt(s"$root/$ks/$t"); r
      case TruncateRe(ks, t) =>
        // buffered cells all precede the TRUNCATE in script order —
        // it shadows them wholesale, so discarding == flush+truncate
        discardBuffered(s"$root/$ks/$t")
        val r = spark.sql(s"TRUNCATE TABLE $catalog.$ks.$t")
        forgetWt(s"$root/$ks/$t"); r
      // C68 — cqlsh's bulk round. COPY TO exports the reconciled LIVE
      // rows as CSV — a DIRECTORY of part files, the distributed twin
      // of cqlsh's single file (at 100 TB one file is the bottleneck;
      // cqlsh itself splits with NUMPROCESSES). The wt column rides
      // along, so a TO→FROM round trip preserves writetimes — better
      // than cqlsh, which re-stamps on load. COPY FROM appends
      // through the catalog write path (write-through index/view
      // maintenance included). HEADER defaults false, cqlsh's own.
      case CopyToRe(ks, t, path, header) =>
        val dir = s"$root/$ks/$t"
        flushBuffered(spark, dir) // the export reads the table
        var reader = spark.read.format(Fmt).option("reconcile", "true")
        if (isCounter(dir)) reader = reader.option("counter", "true")
        val df = reader.load(dir)
        df.write
          .option("header",
            (header != null && header.equalsIgnoreCase("true")).toString)
          .mode("overwrite").csv(path)
        val n = spark.read
          .schema(df.schema)
          .option("header",
            (header != null && header.equalsIgnoreCase("true")).toString)
          .csv(path).count()
        spark.createDataFrame(
          java.util.List.of(
            org.apache.spark.sql.Row(n): org.apache.spark.sql.Row),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("rows_exported",
              org.apache.spark.sql.types.LongType, nullable = false))))
      case CopyFromRe(ks, t, path, header) =>
        val dir = s"$root/$ks/$t"
        val schema = spark.table(s"$catalog.$ks.$t").schema
        val rows = spark.read
          .option("header",
            (header != null && header.equalsIgnoreCase("true")).toString)
          .schema(schema).csv(path)
        if (isCounter(dir)) {
          // C68b (r18) — cqlsh's own counter semantics: each imported
          // row is an INCREMENT (a fresh shard-delta cell), so a
          // TO→FROM round trip DOUBLES the counts. Shard writetimes
          // are server-assigned (Cassandra refuses client timestamps
          // on counters), so the CSV's wt column is ignored; same-key
          // rows pre-aggregate — counter addition commutes, and two
          // same-wt shards at one (key, col) would LWW-collapse
          // instead of summing.
          val keyCols = schema.fieldNames.toSeq
            .filterNot(n => n == "value" || n == "wt")
          val wt = nextWt(spark, dir)
          val deltas = rows
            .groupBy(keyCols.map(org.apache.spark.sql.functions.col): _*)
            .agg(org.apache.spark.sql.functions.sum("value").as("value"))
            .withColumn("wt", org.apache.spark.sql.functions.lit(wt))
            .select(schema.fieldNames.toSeq
              .map(org.apache.spark.sql.functions.col): _*)
          deltas.writeTo(s"$catalog.$ks.$t").append()
        } else rows.writeTo(s"$catalog.$ks.$t").append()
        val n = rows.count()
        spark.createDataFrame(
          java.util.List.of(
            org.apache.spark.sql.Row(n): org.apache.spark.sql.Row),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("rows_imported",
              org.apache.spark.sql.types.LongType, nullable = false))))
      case AlterDropRe(ks, t, c, usingTs) =>
        // Cassandra's ALTER TABLE DROP: record the drop timestamp in
        // system metadata; cells written at-or-before it become
        // invisible to reads forever (the C58 dropped_columns rule,
        // applied by the merge cursor from the `dropped.<col>` table
        // property). The deterministic "now" is the table's current
        // max wt, so every existing cell hides and the next write
        // (max + 1) is visible — a later re-ADD sees only new data,
        // Cassandra's own re-add behavior.
        val colName = c.toLowerCase
        if (Seq("pk", "ck", "col", "value", "wt").contains(colName))
          fail(s"cannot drop cell-model column $colName")
        val dir = s"$root/$ks/$t"
        val ts = Option(usingTs).map(_.toLong)
          .getOrElse(peekWt(spark, dir) - 1) // uses, doesn't consume
        spark.sql(s"ALTER TABLE $catalog.$ks.$t " +
          s"SET TBLPROPERTIES ('dropped.$colName' = '$ts')")
      case AlterAddRe(ks, t, c, typ, static) =>
        // ALTER TABLE ADD: the cell model's data columns are dynamic
        // (any `col` value), so ADD is pure metadata — validate the
        // names and type, keep any `dropped.<col>` timestamp in place
        // (pre-drop cells STAY hidden after a re-add; new writes get
        // fresh wts above the drop ts and are visible — Cassandra's
        // re-add rule), and succeed without touching data.
        val colName = c.toLowerCase
        if (Seq("pk", "ck", "col", "value", "wt").contains(colName))
          fail(s"cannot add cell-model column $colName")
        typ.toLowerCase match {
          case "text" | "varchar" | "ascii" | "bigint" | "int" |
              "double" | "boolean" | "blob" | "counter" |
              "timestamp" =>
          case m if MappedCqlTypes.contains(m) => // C65r names
          case o => fail(s"unsupported CQL type: $o")
        }
        // existence check only — fails fast on an unknown table
        spark.sql(s"DESCRIBE TABLE $catalog.$ks.$t")
        if (static != null) {
          // ALTER ... ADD <col> <type> STATIC (C15b): register the
          // per-partition column so writes/reads route to the
          // partition-front position; default layout only, and the
          // type must share the table's value type (one value column)
          val dir = s"$root/$ks/$t"
          if (!graft.sources.CellSource.keySpec(dir).isDefault)
            fail("static columns are supported on the default " +
              "((pk), ck) layout only in this subset")
          if (isCounter(dir))
            fail("counter tables cannot declare static columns")
          val st = graft.sources.CellSource.staticCols(dir) + colName
          spark.sql(s"ALTER TABLE $catalog.$ks.$t " +
            s"SET TBLPROPERTIES ('staticCols' = " +
            s"'${st.toSeq.sorted.mkString(",")}')")
        }
        spark.emptyDataFrame
      case AlterRenameRe(ks, t, pairs) =>
        // C51e — PRIMARY-KEY column renames (Cassandra's one legal
        // rename; it exists to fix legacy key names). Pure metadata:
        // file headers keep their STORAGE names forever and the
        // table-level spec serves the DECLARED names through the
        // `keyRename.<storage>` props (CellPlanning.applyKeyRenames),
        // so every key-addressed path — WHERE, DESCRIBE,
        // system_schema, INSERT/UPDATE/JSON, LWT, paging — resolves
        // the new name with zero data movement. Chained renames
        // re-point every history entry here, so reads stay one hop.
        val dir = s"$root/$ks/$t"
        if (!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(dir)))
          fail(s"table $ks.$t does not exist")
        flushBuffered(spark, dir)
        val spec0 = graft.sources.CellSource.keySpec(dir)
        if (spec0.isDefault)
          fail("RENAME serves typed layouts in this subset (the " +
            "default ((pk), ck) names ARE the layout)")
        // Cassandra refuses renames of columns materialized views or
        // secondary indexes depend on; key parts are in every view
        // and every index entry here, so any registration refuses
        if (graft.sources.CellIndex.registered(dir).nonEmpty)
          fail(s"cannot rename a column of $ks.$t: secondary " +
            "indexes depend on it (drop them first — Cassandra's " +
            "rule)")
        if (graft.sources.CellView.registered(dir).nonEmpty)
          fail(s"cannot rename a column of $ks.$t: materialized " +
            "views depend on it (drop them first — Cassandra's rule)")
        pairs.split("(?i)\\s+AND\\s+").map(_.trim)
          .filter(_.nonEmpty).foreach {
            case RenamePairRe(from0, to0) =>
              val (from, to) = (from0.toLowerCase, to0.toLowerCase)
              // resolve against the CURRENT spec each pair — chained
              // pairs in one statement compose left to right
              val spec = graft.sources.CellSource.keySpec(dir)
              val keyNames = (spec.pkParts ++ spec.ckParts)
                .map(_.name.toLowerCase)
              if (!keyNames.contains(from))
                fail(s"cannot rename non PRIMARY KEY column $from " +
                  "(Cassandra's rule: RENAME serves primary key " +
                  "columns only)")
              if (keyNames.contains(to) ||
                  Seq("col", "value", "wt").contains(to) ||
                  graft.sources.CellSource.staticCols(dir)
                    .contains(to))
                fail(s"cannot rename $from to $to: a column of " +
                  "that name already exists")
              val renames = graft.sources.CellSource.keyRenames(dir)
              // the table's STORAGE name set = every part's header
              // name. Renaming onto ANOTHER part's storage name is
              // refused: the storage→declared map would stop being
              // a bijection and the writers' inverse would stamp
              // duplicate header names. Renaming a part back to its
              // OWN storage name is the UNDO — the recorded entries
              // just drop.
              def storageOf(n: String): String =
                renames.find(_._2 == n).map(_._1).getOrElse(n)
              val storages = renames.filter(_._2 == from).keys.toSeq
              if (to == storageOf(from)) {
                storages.foreach(s =>
                  removeTableProp(dir, s"keyRename.$s"))
              } else {
                val allStorage = keyNames.map(storageOf).toSet
                if (allStorage.contains(to))
                  fail(s"cannot rename $from to $to: $to is a " +
                    "recorded STORAGE name of this table's key " +
                    "layout (file headers keep it forever; reusing " +
                    "it would make the rename map ambiguous)")
                // re-point every storage name currently serving
                // `from`
                val targets =
                  if (storages.isEmpty) Seq(from) else storages
                targets.foreach(s =>
                  updateTableProp(dir, s"keyRename.$s", to))
              }
              // the mtime cache key has ms granularity — chained
              // pairs and back-to-back statements must see THIS
              // pair's map immediately
              graft.sources.CellSource.forgetKeyRenames(dir)
              // the declared CQL type rides the DECLARED name
              tableProps(dir).get(s"cqlKeyType.$from").foreach { ct =>
                updateTableProp(dir, s"cqlKeyType.$to", ct)
                removeTableProp(dir, s"cqlKeyType.$from")
              }
            case p => fail(s"RENAME takes <old> TO <new> pairs, " +
              s"got: $p")
          }
        spark.emptyDataFrame
      case AlterWithRe(ks, t, opts) =>
        // Cassandra's ALTER TABLE WITH: table properties change for
        // FUTURE operations only — default_time_to_live is assigned
        // at write time, so existing cells keep the grant they were
        // written with; gc_grace_seconds steers the next compaction's
        // tombstone GC. Setting default_time_to_live = 0 REMOVES the
        // default (Cassandra's no-default spelling).
        val dir = s"$root/$ks/$t"
        splitWithOptions(opts)
          .foreach {
            case SetRe(k, v) if k.equalsIgnoreCase("gc_grace_seconds") =>
              val ms = longLiteral(v, "gc_grace_seconds") * 1000L
              spark.sql(s"ALTER TABLE $catalog.$ks.$t " +
                s"SET TBLPROPERTIES ('gcGraceMs' = '$ms')")
            case SetRe(k, v)
                if k.equalsIgnoreCase("default_time_to_live") =>
              val n = longLiteral(v, "default_time_to_live")
              if (n < 0) fail("default_time_to_live must be " +
                "non-negative")
              if (n > 0 && isCounter(dir))
                fail("counter tables cannot have " +
                  "default_time_to_live (Cassandra's rule: " +
                  "counters cannot have TTL)")
              if (n == 0)
                spark.sql(s"ALTER TABLE $catalog.$ks.$t " +
                  "UNSET TBLPROPERTIES IF EXISTS ('defaultTtl')")
              else
                spark.sql(s"ALTER TABLE $catalog.$ks.$t " +
                  s"SET TBLPROPERTIES ('defaultTtl' = '$n')")
            case SetRe(k, v) if k.equalsIgnoreCase("compaction") =>
              // strategy changes steer FUTURE maintenance passes
              // (Cassandra's rule; existing files stay put until the
              // next pass reorganizes them)
              val (pol, win) = parseCompaction(v)
              spark.sql(s"ALTER TABLE $catalog.$ks.$t " +
                s"SET TBLPROPERTIES ('compaction' = '$pol')")
              win match {
                case Some(w) =>
                  spark.sql(s"ALTER TABLE $catalog.$ks.$t " +
                    s"SET TBLPROPERTIES ('compactionWindowMs' = '$w')")
                case None =>
                  spark.sql(s"ALTER TABLE $catalog.$ks.$t " +
                    "UNSET TBLPROPERTIES IF EXISTS " +
                    "('compactionWindowMs')")
              }
            case SetRe(k, v) if k.equalsIgnoreCase("comment") =>
              val c = literal(v) match {
                case s: String => s
                case o => fail(s"comment takes a quoted string, " +
                  s"got: $o")
              }
              if (c.isEmpty)
                spark.sql(s"ALTER TABLE $catalog.$ks.$t " +
                  "UNSET TBLPROPERTIES IF EXISTS ('comment')")
              else
                spark.sql(s"ALTER TABLE $catalog.$ks.$t " +
                  "SET TBLPROPERTIES ('comment' = '" +
                  c.replace("\\", "\\\\").replace("'", "''") + "')")
            case SetRe(k, v)
                if InertTableOptions.contains(k.toLowerCase) =>
              // accepted-and-recorded physical tuning knobs (C51c)
              spark.sql(s"ALTER TABLE $catalog.$ks.$t " +
                s"SET TBLPROPERTIES ('tblopt.${k.toLowerCase}' = '" +
                v.trim.replace("\\", "\\\\").replace("'", "''") + "')")
            case o => fail(s"unsupported table option: $o")
          }
        spark.emptyDataFrame
      // ---- C71: CREATE/DROP FUNCTION / AGGREGATE + DESCRIBE -------
      case CreateFnRe(orRepl, ifNot, ks, name, argSpec, nullClause,
          returns, lang, bodyRaw) =>
        val ksDir = java.nio.file.Paths.get(root, ks)
        if (!java.nio.file.Files.isDirectory(ksDir))
          fail(s"keyspace $ks does not exist")
        if (!lang.equalsIgnoreCase("sql"))
          fail(s"LANGUAGE ${lang.toLowerCase} is outside this " +
            "subset — deterministic expression UDFs take LANGUAGE sql")
        val n = name.toLowerCase
        val body = bodyRaw.replace("''", "'").trim
        if (body.isEmpty) fail("empty function body")
        val args = argSpec.split(',').map(_.trim).filter(_.nonEmpty)
          .toSeq.map { a =>
            val ps = a.split("\\s+")
            if (ps.length != 2)
              fail(s"function argument must be 'name type', got: $a")
            (ps(0).toLowerCase, ps(1).toLowerCase)
          }
        if (args.isEmpty)
          fail("functions take at least one argument in this subset")
        if (args.map(_._1).distinct.length != args.length)
          fail("duplicate function argument name")
        args.foreach { case (_, t) => fnTypeToSpark(t) }
        val ret = returns.toLowerCase
        fnTypeToSpark(ret)
        validateFnBody(spark, args, ret, body)
        val fns = fnsOf(ksDir)
        if (fns.contains(n) && ifNot != null) {
          // IF NOT EXISTS: a no-op, Cassandra's own
        } else {
          if (fns.contains(n) && orRepl == null)
            fail(s"function $ks.$n already exists " +
              "(CREATE OR REPLACE to replace it)")
          if (fns.contains(n)) {
            val refs = aggsOf(ksDir).filter { case (_, a) =>
              a.sfunc == n || a.finalFunc.contains(n) }
            if (refs.nonEmpty)
              fail(s"function $ks.$n is used by aggregate(s) " +
                refs.keys.toSeq.sorted.mkString(", ") +
                " — drop them first (Cassandra's dependency rule)")
          }
          writeFns(ksDir, fns.updated(n, CqlFn(args, ret, body,
            nullClause.toUpperCase.startsWith("CALLED"))))
        }
        spark.emptyDataFrame
      case DropFnRe(ifEx, ks, name) =>
        val ksDir = java.nio.file.Paths.get(root, ks)
        val n = name.toLowerCase
        val fns = fnsOf(ksDir)
        if (!fns.contains(n)) {
          if (ifEx == null) fail(s"function $ks.$n does not exist")
        } else {
          val refs = aggsOf(ksDir).filter { case (_, a) =>
            a.sfunc == n || a.finalFunc.contains(n) }
          if (refs.nonEmpty)
            fail(s"function $ks.$n is still used by aggregate(s) " +
              refs.keys.toSeq.sorted.mkString(", ") +
              " (Cassandra's dependency rule)")
          writeFns(ksDir, fns - n)
        }
        spark.emptyDataFrame
      case CreateAggRe(orRepl, ifNot, ks, name, argType, sfunc,
          stype, finalFn, initcond) =>
        val ksDir = java.nio.file.Paths.get(root, ks)
        if (!java.nio.file.Files.isDirectory(ksDir))
          fail(s"keyspace $ks does not exist")
        val n = name.toLowerCase
        val at = argType.toLowerCase
        val st = stype.toLowerCase
        fnTypeToSpark(at); fnTypeToSpark(st)
        val fns = fnsOf(ksDir)
        val sfn = sfunc.toLowerCase
        val sf = fns.getOrElse(sfn,
          fail(s"SFUNC $sfn is not a registered function in $ks"))
        if (sf.args.length != 2 || sf.args(0)._2 != st ||
            sf.args(1)._2 != at || sf.returns != st)
          fail(s"SFUNC must take ($st, $at) and return $st (the " +
            s"state-transition shape); $sfn is " +
            s"(${sf.args.map(_._2).mkString(", ")}) -> ${sf.returns}")
        val ffnOpt = Option(finalFn).map(_.toLowerCase)
        ffnOpt.foreach { f =>
          val ff = fns.getOrElse(f,
            fail(s"FINALFUNC $f is not a registered function in $ks"))
          if (ff.args.length != 1 || ff.args.head._2 != st)
            fail(s"FINALFUNC must take ($st); $f is " +
              s"(${ff.args.map(_._2).mkString(", ")})")
        }
        val init = Option(initcond).map(_.trim).filter(_.nonEmpty)
          .getOrElse(fail("INITCOND is required in this subset (a " +
            "null initial state needs java CALLED ON NULL INPUT " +
            "semantics)"))
        // the initcond is a deterministic literal castable to STYPE
        validateFnBody(spark, Seq(("__x", st)), st,
          s"CAST(($init) AS ${fnTypeToSpark(st).sql})")
        val aggs = aggsOf(ksDir)
        if (aggs.contains(n) && ifNot != null) {
          // IF NOT EXISTS: a no-op
        } else {
          if (aggs.contains(n) && orRepl == null)
            fail(s"aggregate $ks.$n already exists " +
              "(CREATE OR REPLACE to replace it)")
          writeAggs(ksDir, aggs.updated(n,
            CqlAgg(at, sfn, st, ffnOpt, init)))
        }
        spark.emptyDataFrame
      case DropAggRe(ifEx, ks, name) =>
        val ksDir = java.nio.file.Paths.get(root, ks)
        val n = name.toLowerCase
        val aggs = aggsOf(ksDir)
        if (!aggs.contains(n)) {
          if (ifEx == null) fail(s"aggregate $ks.$n does not exist")
        } else writeAggs(ksDir, aggs - n)
        spark.emptyDataFrame
      case DescFnsRe() =>
        SystemSchema.describeFunctions(spark, catalog)
      case DescFnRe(ks, name) =>
        SystemSchema.describeFunction(spark, catalog, ks,
          name.toLowerCase)
      case DescAggsRe() =>
        SystemSchema.describeAggregates(spark, catalog)
      case DescAggRe(ks, name) =>
        SystemSchema.describeAggregate(spark, catalog, ks,
          name.toLowerCase)
      case CreateCustomIdxRe(ifNot, nameOpt, ks, t, c, clazz,
          optsOpt) =>
        // C18m — desugar to the canonical CREATE INDEX form and
        // recurse: one index machinery, two spellings, ONE options
        // parser (shared with the canonical arm so the grammars can
        // never drift).
        val opts: Map[String, String] = Option(optsOpt)
          .map(parseIndexOptions).getOrElse(Map.empty)
        val col0 = c.toLowerCase
        val short = clazz.trim
          .substring(clazz.trim.lastIndexOf('.') + 1).toLowerCase
        val (target, keep) = short match {
          case "sasiindex" =>
            val mode = opts.getOrElse("mode", "PREFIX").toUpperCase
            val rest = opts - "mode" - "case_sensitive"
            if (rest.nonEmpty)
              fail("unsupported SASI OPTIONS: " +
                rest.keys.toSeq.sorted.mkString(", ") +
                " (mode and case_sensitive are the supported ones)")
            val cs = opts.get("case_sensitive")
              .map(v => Map("case_sensitive" -> v))
              .getOrElse(Map.empty[String, String])
            mode match {
              case "PREFIX" => (s"prefix($col0)", cs)
              case "CONTAINS" => (s"contains($col0)", cs)
              case "SPARSE" =>
                // SASI SPARSE serves numeric ranges — exactly the
                // plain identity-token index's contract (C18e)
                if (cs.nonEmpty)
                  fail("case_sensitive applies to the SASI LIKE " +
                    "modes only (PREFIX/CONTAINS)")
                (col0, Map.empty[String, String])
              case o => fail(s"unsupported SASI mode: $o " +
                "(PREFIX, CONTAINS, SPARSE)")
            }
          case "storageattachedindex" =>
            val isVec = cqlValueTypeOf(s"$root/$ks/$t")
              .exists(_.startsWith("vector<"))
            if (isVec) {
              opts.get("similarity_function").foreach(f =>
                if (!f.equalsIgnoreCase("cosine"))
                  fail(s"similarity_function '$f' is outside this " +
                    "subset (cosine is the rerank metric)"))
              val rest = opts - "similarity_function"
              if (rest.nonEmpty)
                fail("unsupported SAI vector OPTIONS: " +
                  rest.keys.toSeq.sorted.mkString(", "))
              (s"ann($col0)", Map.empty[String, String])
            } else {
              if (opts.nonEmpty)
                fail("unsupported SAI OPTIONS: " +
                  opts.keys.toSeq.sorted.mkString(", "))
              (col0, Map.empty[String, String])
            }
          case o => fail(s"unsupported custom index class: $o " +
            "(SASIIndex and StorageAttachedIndex are the public " +
            "classes this subset serves)")
        }
        val keepS =
          if (keep.isEmpty) ""
          else keep.toSeq.sortBy(_._1)
            .map { case (k, v) => s"'$k': '$v'" }
            .mkString(" WITH OPTIONS = {", ", ", "}")
        catalogExecute(spark,
          s"CREATE INDEX ${if (ifNot != null) "IF NOT EXISTS " else ""}" +
            Option(nameOpt).map(_ + " ").getOrElse("") +
            s"ON $ks.$t ($target)$keepS", catalog)
      case CreateIdxRe(ifNot, nameOpt, ks, t, fnOpt, fnCol, plainCol,
          optsOpt) =>
        // CREATE INDEX → a C18 inverted index table next to its base
        // (default name <table>_<col>_idx, Cassandra's own), built
        // now and REGISTERED for write-through maintenance: every
        // later committed write refreshes it from the write path
        // (C18f); out-of-band flushes still heal on read (C18d).
        // Collection targets (C64c): `values(m)` IS the plain index
        // on m — element cells carry col = m, value = element, so
        // the element value is what a plain index stores; `keys(m)`
        // indexes the cell's COL NAME (map-entry keys ARE col names
        // in the C12 row-is-the-map encoding) for CONTAINS KEY.
        // `prefix(c)` (C18i): SASI-PREFIX-mode index — entries keyed
        // by the text value's order-preserving 64-bit code, so
        // `LIKE 'p%'` serves as one pruned pk range over the index
        // SASI analyzer options (C18k): case_sensitive is the one
        // supported OPTION, honored by the order-preserving LIKE
        // modes only — a case-insensitive index stores
        // lower(value) codes, so probes lowercase the needle and
        // the base re-read re-checks on lower(value)
        val opts: Map[String, String] = Option(optsOpt)
          .map(parseIndexOptions).getOrElse(Map.empty)
        val isAnnIdx = Option(fnOpt).exists(_.equalsIgnoreCase("ann"))
        // per-mode option vocabulary: the SASI LIKE modes take the
        // case_sensitive analyzer option; an ann index takes its LSH
        // geometry — planes (bucket count = 2^planes, persisted in
        // the index metadata so build/refresh/probe agree) and
        // probes (Hamming-ball width read per query)
        val legalOpts =
          if (isAnnIdx) Set("planes", "probes") else Set("case_sensitive")
        locally {
          val unknown = opts.keySet -- legalOpts
          if (unknown.nonEmpty)
            fail("unsupported index OPTIONS: " +
              unknown.toSeq.sorted.mkString(", ") +
              (if (isAnnIdx) " (an ann index takes planes/probes)"
               else " (case_sensitive is the supported analyzer " +
                 "option)"))
        }
        val ciOpt: Boolean = opts.get("case_sensitive") match {
          case Some("false") => true
          case Some("true") | None => false
          case Some(o) => fail("case_sensitive takes 'true' or " +
            s"'false', got: '$o'")
        }
        if (ciOpt && !Seq("prefix", "contains")
            .contains(Option(fnOpt).map(_.toLowerCase).getOrElse("")))
          fail("case_sensitive = false applies to the SASI LIKE " +
            "modes only (prefix(col) / contains(col))")
        // ann geometry options, validated here and persisted by the
        // build: a bad plane count must refuse at CREATE INDEX, not
        // surface as a malformed probe later
        val annOpts: Map[String, String] = if (!isAnnIdx) Map.empty
        else {
          val planes = opts.get("planes").map { p =>
            val n = try p.toInt catch { case _: NumberFormatException =>
              fail(s"planes takes an integer, got: '$p'") }
            if (n < 1 || n > graft.functions.VectorCodec.MaxPlanes)
              fail(s"planes must be in [1, " +
                s"${graft.functions.VectorCodec.MaxPlanes}], got $n")
            n
          }
          val probes = opts.get("probes").map { p =>
            val n = try p.toInt catch { case _: NumberFormatException =>
              fail(s"probes takes an integer, got: '$p'") }
            if (n < 1) fail(s"probes must be positive, got $n")
            val cap = 1L << planes.getOrElse(
              graft.functions.VectorCodec.Planes)
            if (n > cap)
              fail(s"probes must be <= 2^planes ($cap), got $n")
            n
          }
          planes.map(p => "planes" -> p.toString).toMap ++
            probes.map(p => "probes" -> p.toString).toMap
        }
        val ci = if (ciOpt) "_ci" else ""
        val colName = Option(fnOpt).map(_.toLowerCase) match {
          case Some("keys") => s"keys(${fnCol.toLowerCase})"
          case Some("entries") => s"entries(${fnCol.toLowerCase})"
          case Some("prefix") => s"prefix$ci(${fnCol.toLowerCase})"
          case Some("ann") => s"ann(${fnCol.toLowerCase})"
          case Some("contains") =>
            s"contains$ci(${fnCol.toLowerCase})"
          case Some(_) => fnCol.toLowerCase // values(m) == plain m
          case None => plainCol.toLowerCase
        }
        // entries() is Cassandra's MAP-entry mode: a declared
        // non-map collection (C65z) refuses by name; undeclared
        // tables serve it (the row IS the map in the C12 encoding)
        if (Option(fnOpt).exists(_.equalsIgnoreCase("entries")))
          cqlCollectionOf(s"$root/$ks/$t").foreach(sp =>
            if (!sp.startsWith("map<"))
              fail(s"entries(...) indexes map columns; " +
                s"${fnCol.toLowerCase} is declared $sp"))
        val idxName = Option(nameOpt).map(_.trim).filter(_.nonEmpty)
          .getOrElse(Option(fnOpt).map(_.toLowerCase) match {
            case Some("keys") => s"${t}_${fnCol.toLowerCase}_keys_idx"
            case Some("entries") =>
              s"${t}_${fnCol.toLowerCase}_entries_idx"
            case Some("prefix") =>
              s"${t}_${fnCol.toLowerCase}_prefix${ci}_idx"
            case Some("ann") => s"${t}_${fnCol.toLowerCase}_ann_idx"
            case Some("contains") =>
              s"${t}_${fnCol.toLowerCase}_contains${ci}_idx"
            case Some(_) => s"${t}_${fnCol.toLowerCase}_idx"
            case None => s"${t}_${plainCol.toLowerCase}_idx"
          })
        val baseDir = s"$root/$ks/$t"
        flushBuffered(spark, baseDir) // the index build reads the base
        // Cassandra refuses 2i on counter tables — and so must we:
        // the index build/refresh reads the base with reconcile-only
        // LWW, which would bake in the last shard DELTA instead of
        // the shard SUM, so index-routed reads would silently return
        // wrong counter values.
        if (isCounter(baseDir))
          fail(s"secondary indexes are not supported on counter " +
            s"table $ks.$t")
        // duration values refuse every index mode: a plain/values
        // index would serve equality probes on a non-comparable type,
        // and the base STORES text so the prefix/contains modes'
        // text-valued check alone would wrongly admit it
        if (cqlValueTypeOf(baseDir).contains("duration"))
          fail(s"secondary indexes are not supported on " +
            s"duration-valued table $ks.$t (durations are not " +
            "comparable)")
        val idxDir = s"$root/$ks/$idxName"
        if (java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(idxDir))) {
          if (ifNot == null) fail(s"index $ks.$idxName already exists")
          // IF NOT EXISTS is only satisfied by THE SAME index: an
          // unrelated table (or an index on a different base/column)
          // squatting on the name must fail loudly, not let the DDL
          // "succeed" without building anything.
          if (!graft.sources.CellIndex.isIndexOf(idxDir, baseDir,
              colName))
            fail(s"$ks.$idxName exists but is not an index on " +
              s"$ks.$t($colName)")
        } else {
          // ANN auto-geometry (r17): an index created WITHOUT an
          // explicit plane count derives it from the corpus — planes
          // = clamp(ceil(log2(rows / 1024)), 4, 20), targeting ~1K
          // vectors per bucket — and PERSISTS the derived value like
          // an explicit option, so build, write-through refresh and
          // the query-time probe all read the same geometry. The old
          // fixed default (4 planes = 16 buckets) was the one
          // 100 TB scale hazard left on this surface: a 1B-row
          // corpus would probe 25% of itself. The count is one
          // column-narrowed reconcile read at CREATE INDEX time —
          // the build scans the same rows right after.
          val effOpts: Map[String, String] =
            if (!isAnnIdx || annOpts.contains("planes")) annOpts
            else {
              val rows = spark.read.format(Fmt)
                .option("reconcile", "true").load(baseDir)
                .filter(col("col") === fnCol.toLowerCase).count()
              val buckets = math.max(1L, rows / 1024L)
              val lg =
                if (buckets <= 1L) 0
                else 64 - java.lang.Long.numberOfLeadingZeros(
                  buckets - 1L)
              val derived = math.min(
                graft.functions.VectorCodec.MaxPlanes,
                math.max(graft.functions.VectorCodec.Planes, lg))
              annOpts + ("planes" -> derived.toString)
            }
          graft.sources.CellIndex.build(spark, baseDir, idxDir,
            colName, writeThrough = true, opts = effOpts)
        }
        spark.emptyDataFrame
      case CreateMvRe(ifNot, vks, vname, bks, bt, whereCol, pkCol,
          keyTail) =>
        // Cassandra's MV statement shape — the view re-keys the base
        // by one column's value (C40): `WHERE <col> IS NOT NULL
        // PRIMARY KEY ((<col>), <base key parts>)`. The tail must
        // name the base's OWN key parts in key order (`pk, ck` only
        // on the default layout — on a typed/composite base the
        // literal names are required, or the declared key would
        // misdescribe the view). Built now and REGISTERED
        // for write-through maintenance: later committed base writes
        // refresh it with the delta tombstone protocol; out-of-band
        // flushes still heal on read.
        if (!whereCol.equalsIgnoreCase(pkCol))
          fail("materialized view WHERE column must be the view " +
            s"partition key ($whereCol vs $pkCol)")
        if (!vks.equalsIgnoreCase(bks))
          fail("materialized view must live in its base keyspace " +
            "(Cassandra's rule)")
        val baseDir = s"$root/$bks/$bt"
        flushBuffered(spark, baseDir) // the view build reads the base
        val tailParts = keyTail.split(',').map(_.trim.toLowerCase)
          .toSeq.filter(_.nonEmpty)
        val bspec = graft.sources.CellSource.keySpec(baseDir)
        val baseNames = (bspec.pkParts ++ bspec.ckParts)
          .map(_.name.toLowerCase)
        if ((tailParts != Seq("pk", "ck") || !bspec.isDefault) &&
            tailParts != baseNames)
          fail(s"materialized view PRIMARY KEY tail must name the " +
            s"base key parts (${baseNames.mkString(", ")}), got: " +
            tailParts.mkString(", "))
        // same counter refusal as CREATE INDEX: the view build and
        // its delta refresh read the base reconcile-only (LWW), which
        // merges counter shards wrongly. Cassandra refuses MVs on
        // counter tables too.
        if (isCounter(baseDir))
          fail(s"materialized views are not supported on counter " +
            s"table $bks.$bt")
        val viewDir = s"$root/$vks/$vname"
        if (java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(viewDir))) {
          if (ifNot == null)
            fail(s"materialized view $vks.$vname already exists")
          // same rule as CREATE INDEX IF NOT EXISTS: only THE SAME
          // view satisfies the clause — a name collision with an
          // unrelated table or a differently-keyed view must fail.
          if (!graft.sources.CellView.isViewOf(viewDir, baseDir,
              whereCol.toLowerCase))
            fail(s"$vks.$vname exists but is not a materialized view " +
              s"of $bks.$bt keyed by $whereCol")
        } else {
          graft.sources.CellView.build(spark, baseDir, viewDir,
            whereCol.toLowerCase)
          graft.sources.CellView.register(baseDir, viewDir)
        }
        spark.emptyDataFrame
      case DropMvRe(ifEx, ks, name) =>
        val viewDir = s"$root/$ks/$name"
        if (!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(viewDir))) {
          if (ifEx == null)
            fail(s"materialized view $ks.$name does not exist")
        } else {
          if (graft.sources.CellView.baseOf(viewDir).isEmpty)
            fail(s"$ks.$name is not a materialized view")
          graft.sources.CellView.drop(viewDir)
        }
        spark.emptyDataFrame
      case DropIdxRe(ifEx, ks, name) =>
        val idxDir = s"$root/$ks/$name"
        if (!java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(idxDir))) {
          if (ifEx == null) fail(s"index $ks.$name does not exist")
        } else {
          // refuse to DROP INDEX a non-index cell table (no _base
          // metadata) — that would be a disguised DROP TABLE
          if (graft.sources.CellIndex.baseOf(idxDir).isEmpty)
            fail(s"$ks.$name is not a secondary index")
          graft.sources.CellIndex.drop(idxDir)
        }
        spark.emptyDataFrame
      // C67 — the driver/cqlsh metadata round: `system_schema`
      // virtual relations and DESCRIBE, served from catalog metadata
      // (bounded by table count; no Spark job, no data read)
      case SysSchemaRe(cols, rel, where) =>
        flushAllBuffered(spark) // catalog-wide metadata read
        SystemSchema.select(spark, catalog, rel, cols.trim,
          Option(where))
      // C67b — the connect round proper: system.local (one row —
      // cluster name, partitioner, token map, schema fingerprint)
      // and system.peers (empty; single-node topology)
      case SysLocalRe(cols, rel, where) =>
        flushAllBuffered(spark)
        SystemSchema.selectSystem(spark, catalog, rel, cols.trim,
          Option(where))
      case DescTableStmtRe(ks, t) =>
        flushBuffered(spark, s"$root/$ks/$t")
        SystemSchema.describeTable(spark, catalog, ks, t)
      case DescTypeStmtRe(ks, n) =>
        SystemSchema.describeType(spark, catalog, ks, n)
      case DescIndexStmtRe(ks, n) =>
        SystemSchema.describeIndex(spark, catalog, ks, n.toLowerCase)
      case DescKeyspaceStmtRe(ks) =>
        // the schema-export round reads every table's metadata —
        // buffered DDL-adjacent writes must land first
        flushAllBuffered(spark)
        SystemSchema.describeKeyspace(spark, catalog, ks.toLowerCase)
      case DescKeyspacesRe() =>
        SystemSchema.describeKeyspaces(spark, catalog)
      case DescTablesRe() =>
        SystemSchema.describeTables(spark, catalog)
      case dml =>
        // ks.table in DML resolves to the catalog's table directory;
        // an unqualified name resolves against the script's USE
        // keyspace (C65n) — without one it would silently become a
        // cwd-relative path OUTSIDE the catalog root, so refuse
        execute(spark, dml, name =>
          if (name.matches("\\w+\\.\\w+")) {
            val Array(ks, t) = name.split("\\.")
            s"$root/$ks/$t"
          } else if (name.matches("\\w+") && defaultKs.isDefined)
            s"$root/${defaultKs.get}/$name"
          else fail(s"catalog statements need keyspace.table " +
            s"names (or USE <keyspace> first in a script), " +
            s"got: $name"))
    }
  }

  private val UseRe = """(?is)^\s*USE\s+(\w+)\s*;?\s*$""".r

  /** cqlsh-session script against the catalog (C65n): statements run
    * in order under one per-script writetime allocator; `USE <ks>`
    * sets the AMBIENT keyspace, after which DML may name tables
    * unqualified — Cassandra's session rule. DDL statements keep
    * requiring qualified names in this subset (their grammar is
    * qualified); an unqualified DML name without a prior USE fails
    * fast, and USE of a missing keyspace fails AT the USE.
    */
  def catalogScript(spark: SparkSession, script: String,
      catalog: String = "gcells"): DataFrame = {
    val stmts = splitStatements(script)
    if (stmts.isEmpty) fail("empty CQL script")
    var current: Option[String] = None
    val fresh = scriptWts.get == null
    if (fresh) {
      scriptWts.set(scala.collection.mutable.Map.empty)
      scriptBuf.set(scala.collection.mutable.LinkedHashMap.empty)
    }
    try {
      val r = stmts.map {
        case UseRe(ks) =>
          val k = s"spark.sql.catalog.$catalog.root"
          val root = spark.conf.getOption(k).getOrElse(
            fail(s"$k is not set"))
          if (!java.nio.file.Files.isDirectory(
              java.nio.file.Paths.get(root, ks.toLowerCase)))
            fail(s"keyspace $ks does not exist")
          current = Some(ks.toLowerCase)
          spark.emptyDataFrame
        case stmt => catalogExecute(spark, stmt, catalog, current)
      }.last
      // success path: flush before returning so a flush failure
      // propagates (r13 — mirroring executeScript; previously the
      // only flush sat in the finally with errors swallowed)
      if (fresh) flushAllBuffered(spark)
      r
    } finally if (fresh) {
      try flushAllBuffered(spark)
      catch { case scala.util.control.NonFatal(e) =>
        warnFlushFailure("catalog script", e) }
      scriptWts.remove(); scriptBuf.remove()
    }
  }

  private val ColDefRe =
    """(?is)^\s*(\w+)\s+(\w+)(\s+STATIC)?\s*$""".r

  /** `<name> vector<float, n>` (C70) — Cassandra 5's vector type. */
  private val VectorDefRe =
    ("""(?is)^\s*(\w+)\s+vector\s*<\s*float\s*,\s*(\d+)\s*>""" +
      """(\s+STATIC)?\s*$""").r

  /** Parse a CQL column list + PRIMARY KEY clause onto the cell
    * layout; only the default `((pk), ck)` shape is accepted, and the
    * data columns must be the cell model's (col, value, wt).
    */
  /** Parsed CREATE TABLE column section. The DEFAULT layout
    * (`PRIMARY KEY ((pk), ck)` over bigint/int, or no clause) keeps
    * `keyParts` empty; any other PRIMARY KEY declares a TYPED (CEL6/8)
    * layout — `pkSyntax` is the connector's `((p1,p2),c1)` form and
    * `keyParts` the (name, sparkType) pairs in key order.
    */
  private case class CreateCols(pkSyntax: Option[String],
      keyParts: Seq[(String, String)], valueType: String,
      counter: Boolean, staticCols: Seq[String] = Seq.empty,
      udt: Option[(String, String)] = None,
      udtUnfrozen: Boolean = false,
      // C65r/C36d: DECLARED CQL names of mapped value/key types
      // (uuid, decimal, float, ...) — storage rides keyParts/
      // valueType; these drive the literal grammar and DESCRIBE
      cqlValue: Option[String] = None,
      cqlKeys: Seq[(String, String)] = Seq.empty,
      // C65z: the DECLARED collection spelling of the value column
      // (`set<inet>` / `list<uuid>` / `map<text, date>`) — storage
      // is the ELEMENT type's layout; the kind gates the write forms
      // and DESCRIBE renders the spelling
      cqlCollection: Option[String] = None)

  private val FrozenDefRe =
    """(?is)^\s*(\w+)\s+frozen\s*<\s*(\w+)\s*>\s*$""".r

  /** `name set<T>` / `list<T>` / `map<text, T>` column definitions
    * (C65z) — the everyday Cassandra collection spellings over this
    * engine's element-per-cell encodings.
    */
  private val CollectionDefRe =
    ("""(?is)^\s*(\w+)\s+(set|list|map)\s*<\s*([\w\s,]+?)\s*>""" +
      """(\s+STATIC)?\s*$""").r

  private def parseCreateColumns(spec: String,
      resolveUdt: String => Option[String] = _ => None): CreateCols = {
    // split top-level commas (PRIMARY KEY ((pk), ck) nests parens;
    // vector<float, n> (C70) nests one in angle brackets)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    val cur = new StringBuilder
    spec.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case '<' => depth += 1; cur += '<'
      case '>' => depth -= 1; cur += '>'
      case ',' if depth == 0 => parts += cur.toString; cur.clear()
      case c => cur += c
    }
    parts += cur.toString
    val (pkClauses, colDefs) = parts.map(_.trim).filter(_.nonEmpty)
      .partition(_.toUpperCase.startsWith("PRIMARY KEY"))
    if (pkClauses.length > 1) fail("multiple PRIMARY KEY clauses")
    val statics = scala.collection.mutable.ArrayBuffer.empty[String]
    // frozen<type> declarations (C59b): legal on the VALUE column
    // only — keys and statics stay scalar in this subset
    val frozen = scala.collection.mutable.Map.empty[String, String]
    val cols = colDefs.map {
      case ColDefRe(n, t, st) =>
        if (st != null) statics += n.toLowerCase
        n.toLowerCase -> t.toLowerCase
      case CollectionDefRe(n, kind, elemSpec, st) =>
        // declared collections (C65z): storage is the ELEMENT type's
        // layout; Cassandra needs frozen<> for static collections —
        // outside this subset, so statics refuse
        if (st != null)
          fail(s"static column ${n.toLowerCase}: collection types " +
            "cannot be static in this subset (Cassandra requires " +
            "frozen<> there)")
        val k = kind.toLowerCase
        val elems = elemSpec.split(',').map(_.trim.toLowerCase)
          .filter(_.nonEmpty).toSeq
        val elem = k match {
          case "map" =>
            if (elems.length != 2 ||
                !Seq("text", "varchar").contains(elems.head))
              fail(s"map columns take map<text, T> in this subset " +
                "(entry keys ARE cell col names), got: " +
                s"map<${elems.mkString(", ")}>")
            elems(1)
          case _ =>
            if (elems.length != 1)
              fail(s"$k columns take one element type, got: " +
                s"$k<${elems.mkString(", ")}>")
            elems.head
        }
        if (!(MappedCqlTypes.contains(elem) ||
            Seq("text", "varchar", "bigint").contains(elem)))
          fail(s"unsupported collection element type: $elem " +
            "(text/bigint and the mapped scalar types)")
        val spelled =
          if (k == "map") s"map<text, $elem>" else s"$k<$elem>"
        n.toLowerCase -> spelled
      case VectorDefRe(n, dim, st) =>
        if (st != null)
          fail(s"static column ${n.toLowerCase}: mapped CQL types " +
            s"(vector<float,${dim.toInt}>) cannot be static in " +
            "this subset")
        if (dim.toInt < 1 || dim.toInt > 16384)
          fail(s"vector dimension must be in [1, 16384], got $dim")
        n.toLowerCase -> s"vector<float,${dim.toInt}>"
      case FrozenDefRe(n, tn) =>
        frozen(n.toLowerCase) = tn.toLowerCase
        n.toLowerCase -> s"frozen<${tn.toLowerCase}>"
      case c => fail(s"unsupported column definition: $c")
    }
    val colMap = cols.toMap
    if (colMap.size != cols.size)
      fail("duplicate column in CREATE TABLE")
    // declared collection spelling -> (kind, element type) (C65z)
    def collectionElem(t: String): Option[(String, String)] =
      if (t.startsWith("set<")) Some(("set",
        t.stripPrefix("set<").stripSuffix(">")))
      else if (t.startsWith("list<")) Some(("list",
        t.stripPrefix("list<").stripSuffix(">")))
      else if (t.startsWith("map<text, ")) Some(("map",
        t.stripPrefix("map<text, ").stripSuffix(">")))
      else None
    def mapType(t: String): String = t match {
      // declared collections (C65z) store their ELEMENT type's layout
      case c if collectionElem(c).isDefined =>
        mapType(collectionElem(c).get._2)
      // ascii is a MAPPED type since C65v (r15): same text storage,
      // but its own US-ASCII-validating literal grammar + rendering
      case "text" | "varchar" => "string"
      case "bigint" | "int" | "double" | "boolean" => t
      case "timestamp" => "timestamp"
      case "blob" => "binary"
      case "counter" => "bigint"
      // mapped types (C65r): uuid/timeuuid/inet store as text,
      // float as double, decimal as decimal(18,6), varint/time as
      // bigint, date/smallint/tinyint as int — the declared name
      // rides as a table property for grammar + DESCRIBE
      case m if MappedCqlTypes.contains(m) => MappedCqlTypes(m)
      // vector<float, n> (C70): 4n-byte IEEE-754 wire form
      case v if v.startsWith("vector<") => "binary"
      case o => fail(s"unsupported CQL type: $o")
    }
    // key part names from the PRIMARY KEY clause: ((p1, p2), c1, …)
    // with the one-part shorthand (p, c1, …); default when absent
    val (pkNames, ckNames) = pkClauses.headOption match {
      case None => (Seq("pk"), Seq("ck"))
      case Some(clause) =>
        val inner = clause.replaceAll("(?i)^PRIMARY\\s+KEY\\s*", "").trim
        if (!(inner.startsWith("(") && inner.endsWith(")")))
          fail(s"malformed PRIMARY KEY clause: $clause")
        val body = inner.substring(1, inner.length - 1).trim
        def names(x: String) = x.split(',').iterator.map(_.trim)
          .filter(_.nonEmpty).map(_.toLowerCase).toSeq
        if (body.startsWith("(")) {
          val close = body.indexOf(')')
          if (close < 0) fail(s"unclosed partition-key group: $clause")
          (names(body.substring(1, close)),
            names(body.substring(close + 1).dropWhile(c =>
              c == ',' || c == ' ')))
        } else {
          val all = names(body)
          (all.take(1), all.drop(1))
        }
    }
    if (pkNames.isEmpty) fail("empty partition key")
    val keyNames = pkNames ++ ckNames
    if (keyNames.distinct.length != keyNames.length)
      fail("duplicate key part in PRIMARY KEY")
    // the cell-model tail every table carries
    for (n <- Seq("col", "value", "wt"))
      if (!colMap.contains(n))
        fail(s"cell tables need a '$n' column — got " +
          cols.map(_._1).mkString(", "))
    if (mapType(colMap("col")) != "string") fail("col must be text")
    if (mapType(colMap("wt")) != "bigint") fail("wt must be bigint")
    // frozen<udt> (C59b): the VALUE column may be a frozen UDT — the
    // cell stores ONE blob (byte-compared by LWW, C59's rule), the
    // layout rides as table metadata. Keys/statics stay scalar.
    if (frozen.keys.exists(_ != "value"))
      fail("frozen<...> is supported for the value column only in " +
        "this subset, got: " +
        frozen.keys.filter(_ != "value").toSeq.sorted.mkString(", "))
    val udtOpt: Option[(String, String)] = frozen.get("value").map {
      tn =>
        val layout = resolveUdt(tn).getOrElse(
          fail(s"unknown type $tn (CREATE TYPE it first)"))
        (tn, layout)
    }
    // UNFROZEN udt value (C59d): `value <type>` without frozen<> —
    // Cassandra 3.x stores non-frozen UDT fields as SEPARATE cells
    // (one cell per set field, per-field writetimes and tombstones),
    // which is exactly this engine's element-per-cell encoding: each
    // field cell is `<col>.<field>` holding a single-field blob,
    // per-field LWW falls out of the ordinary cell merge.
    val unfrozenOpt: Option[(String, String)] =
      if (udtOpt.isDefined) None
      else resolveUdt(colMap("value")).map { layout =>
        (colMap("value"), layout)
      }
    if (statics.nonEmpty && (udtOpt.isDefined || unfrozenOpt.isDefined))
      fail("static columns cannot combine with a UDT value " +
        "column in this subset")
    // mapped value type (C65r): the declared CQL name when the type
    // stores as another scalar layout (only for plain-value tables —
    // UDT branches routed above)
    val collV: Option[(String, String)] =
      if (udtOpt.isDefined || unfrozenOpt.isDefined) None
      else collectionElem(colMap("value"))
    val mappedV: Option[String] =
      if (udtOpt.isDefined || unfrozenOpt.isDefined) None
      else collV match {
        // a declared collection's GRAMMAR is its element's (C65x
        // machinery); text/bigint elements keep the plain grammar
        case Some((_, elem)) =>
          Some(elem).filter(MappedCqlTypes.contains)
        case None => Some(colMap("value")).filter(t =>
          MappedCqlTypes.contains(t) || t.startsWith("vector<"))
      }
    // static columns over mapped declared types (C65x, r16): legal
    // when the static's declared type MATCHES the table's declared
    // value type exactly — the static cell then parses through the
    // same validated grammar as regular cells and stores the same
    // layout. Vector statics stay out (a per-partition embedding has
    // no write grammar distinct from the value column's).
    statics.foreach { n =>
      if (colMap(n).startsWith("vector<") ||
          colMap("value").startsWith("vector<"))
        fail(s"static column $n: vector types cannot be static in " +
          "this subset")
      if ((MappedCqlTypes.contains(colMap(n)) ||
          MappedCqlTypes.contains(colMap("value"))) &&
          colMap(n) != colMap("value"))
        fail(s"static column $n must share the table's declared " +
          s"value type (${colMap("value")}), got ${colMap(n)}")
    }
    // STATIC columns (C15b) are the one legal extra: per-partition
    // cells at the marker position, declared here so writes/reads can
    // route them (regular data columns stay dynamic in the cell model)
    statics.foreach { n =>
      if (keyNames.contains(n))
        fail(s"a key part cannot be static: $n")
      if (Seq("col", "value", "wt").contains(n))
        fail(s"a cell-model column cannot be static: $n")
      if (mapType(colMap(n)) != mapType(colMap("value")))
        fail(s"static column $n must share the table's value type " +
          s"(${colMap("value")}), got ${colMap(n)}")
      if (colMap("value") == "counter")
        fail("counter tables cannot declare static columns")
      if (mapType(colMap("value")) == "binary")
        fail("blob tables cannot declare static columns in this " +
          "subset")
    }
    val extras = cols.map(_._1)
      .filterNot(n => keyNames.contains(n) ||
        Seq("col", "value", "wt").contains(n) ||
        statics.contains(n))
    if (extras.nonEmpty)
      fail("columns outside the key and the (col, value, wt) cell " +
        s"tail: ${extras.mkString(", ")} (data columns live in the " +
        "cell model, not the table schema; per-partition columns " +
        "take the STATIC modifier)")
    val keyParts = keyNames.map { n =>
      val t = colMap.getOrElse(n,
        fail(s"PRIMARY KEY part '$n' is not a declared column"))
      if (t == "counter") fail("a key part cannot be a counter")
      if (collectionElem(t).isDefined)
        fail(s"a key part cannot be a collection: $n (Cassandra " +
          "requires frozen<> there; outside this subset)")
      if (t == "duration")
        fail(s"duration is not supported for PRIMARY KEY part $n " +
          "(durations are not comparable — Cassandra's rule)")
      n -> mapType(t)
    }
    // mapped KEY types (C36d): uuid/timeuuid/inet/varint/time/date/
    // smallint/tinyint parts ride the typed comparator as their
    // storage layout; the declared name is kept for DESCRIBE and a
    // mapped `pk`/`ck` pair must NOT collapse to the default layout
    // (the default has no _props to carry the declared names)
    val cqlKeys: Seq[(String, String)] = keyNames
      .filter(n => MappedCqlTypes.contains(colMap(n)))
      .map(n => n -> colMap(n))
    val default = keyParts == Seq("pk" -> "bigint", "ck" -> "int") &&
      cqlKeys.isEmpty
    keyParts.foreach { case (n, t) =>
      if (!default && !Seq("string", "bigint", "int").contains(t))
        fail(s"unsupported typed key part type for $n: $t " +
          "(text/bigint/int/uuid/timeuuid/inet/varint/time/date/" +
          "smallint/tinyint)")
    }
    // vector values ride TYPED layouts too (C70d, r16 — the
    // embedding store's `id uuid PRIMARY KEY, v vector<float, n>`
    // shape); the other mapped value types stay default-layout only
    if (mappedV.exists(v => !v.startsWith("vector<")) && !default)
      fail(s"${mappedV.get}-valued tables are supported on the " +
        "default ((pk), ck) layout only in this subset (typed " +
        "layouts serve mapped KEY types and vector values)")
    if (statics.nonEmpty && !default)
      fail("static columns are supported on the default ((pk), ck) " +
        "layout only in this subset")
    if (collV.isDefined && !default)
      fail("declared collection columns are supported on the " +
        "default ((pk), ck) layout only in this subset")
    // non-frozen UDT values work on BOTH layouts: the default
    // ((pk), ck) spec (C59d) and typed/composite named-part specs
    // (C59e) — field cells are `<col>.<field>` rows of the table's
    // own key layout either way
    CreateCols(
      if (default) None
      else Some(s"((${pkNames.mkString(",")})" +
        (if (ckNames.nonEmpty) s",${ckNames.mkString(",")}" else "") +
        ")"),
      if (default) Seq.empty else keyParts,
      if (udtOpt.isDefined || unfrozenOpt.isDefined) "binary"
      else mapType(colMap("value")),
      colMap("value") == "counter",
      statics.toSeq, udtOpt.orElse(unfrozenOpt),
      udtUnfrozen = unfrozenOpt.isDefined,
      cqlValue = mappedV, cqlKeys = cqlKeys,
      cqlCollection = collV.map(_ => colMap("value")))
  }

  /** "Assign the writetime later" sentinel for parsed cells. The CQL
    * grammar here only admits non-negative `USING TIMESTAMP \d+`, so
    * the sentinel can never collide with an explicit timestamp
    * (`USING TIMESTAMP 0` stays 0 — lowest LWW priority, as written).
    */
  private val AssignLater = Long.MinValue

  // ---------------------------------------------------------------
  // literals & predicates

  /** CQL uuid literals are UNQUOTED (`123e4567-e89b-12d3-a456-...`)
    * — the canonical 8-4-4-4-12 hex shape, recognized here so uuid
    * keys and values parse everywhere a literal does (C65r/C36d).
    */
  private val UuidShapeRe = java.util.regex.Pattern.compile(
    "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
      "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}")

  private def literal(s: String): Any = {
    val t = s.trim
    if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
      t.substring(1, t.length - 1).replace("''", "'")
    else if (t.matches("0[xX][0-9a-fA-F]*")) blobBytes(t)
    else if (t.equalsIgnoreCase("true")) true
    else if (t.equalsIgnoreCase("false")) false
    else if (t.matches("[-+]?\\d+")) t.toLong
    else if (t.matches("[-+]?\\d*\\.\\d+")) t.toDouble
    // unquoted uuid (CQL's own form) → its canonical lowercase text
    // (uuids STORE as text cells / text key parts in this subset)
    else if (UuidShapeRe.matcher(t).matches()) t.toLowerCase
    else fail(s"unsupported literal: $t")
  }

  /** CQL's blob literal `0x<hex>` → bytes (C65p — blob-valued
    * tables through the front door). `0x` alone is the empty blob,
    * Cassandra's own.
    */
  private def blobBytes(t: String): Array[Byte] = {
    val hex = t.substring(2)
    if (hex.length % 2 != 0)
      fail(s"blob literal needs an even number of hex digits: $t")
    hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  }

  /** A literal that must be a blob (cell values on blob tables). */
  private def blobLiteral(s: String, what: String): Array[Byte] =
    literal(s) match {
      case b: Array[Byte] => b
      case o => fail(s"$what takes a 0x<hex> blob literal on a " +
        s"blob-valued table, got: $o")
    }

  /** A literal that must be a bigint (cell values, CAS conditions). */
  private def longLiteral(s: String, what: String): Long =
    literal(s) match {
      case l: Long => l
      case other => fail(s"$what must be a bigint literal, got: $other")
    }

  /** A literal that must fit the default layout's int ck — a silent
    * `.toInt` wrap would tombstone/write a DIFFERENT row.
    */
  private def ckLiteral(s: String): Int = {
    val l = longLiteral(s, "ck")
    if (l < Int.MinValue || l > Int.MaxValue)
      fail(s"ck $l is outside the int clustering-key range")
    l.toInt
  }

  private val PredRe =
    """(?is)^\s*(\w+)\s*(=|<=|>=|<|>)\s*(.+?)\s*$""".r
  private val InRe = """(?is)^\s*(\w+)\s+IN\s*\(([^)]*)\)\s*$""".r

  /** `m['key'] = v` WHERE terms (C64d — Cassandra's map-entry
    * restriction, served by an entries(<map>) index).
    */
  private val MapEntryPredRe =
    ("""(?is)^\s*(\w+)\s*\[\s*('(?:[^']|'')*')\s*\]""" +
      """\s*=\s*(.+?)\s*$""").r
  /** `col LIKE '<pattern>'` (C18i — served by a prefix index only). */
  private val LikeRe =
    """(?is)^\s*(\w+)\s+LIKE\s+('(?:[^']|'')*')\s*$""".r
  private val ContainsRe =
    """(?is)^\s*(\w+)\s+CONTAINS\s+(KEY\s+)?(.+?)\s*$""".r

  /** One parsed WHERE term: the column as written, its operator
    * (`=`, `<`, `<=`, `>`, `>=` or `IN`) and its literal value(s).
    */
  private case class Pred(name: String, op: String, values: Seq[Any]) {
    def column: String = name.toLowerCase
    /** The term as a Spark filter (the Catalyst route of `select`). */
    def filter: Column = op match {
      case "IN" => col(name).isin(values: _*)
      case "=" => col(name) === lit(values.head)
      case "<" => col(name) < lit(values.head)
      case "<=" => col(name) <= lit(values.head)
      case ">" => col(name) > lit(values.head)
      case ">=" => col(name) >= lit(values.head)
    }
  }

  /** Parsed WHERE terms, literals parsed up front (a bad literal
    * refuses here, whichever route the statement then takes).
    */
  private def predicates(terms: Seq[String],
      vLit: (String, String) => Any = (_, v) => literal(v)): Seq[Pred] =
    // CQL WHERE is a pure AND-conjunction (no OR, no parens)
    terms.map {
      case InRe(c, vs) if c.equalsIgnoreCase("ck") =>
        // CQL's clustering multiget: the scan pushes In(ck) as the
        // bounding slice [min, max] at the merge cursor; the exact
        // isin residual drops rows between the named values — key-
        // served, no ALLOW FILTERING (typed ck parts keep the
        // generic path below and its guards)
        Pred("ck", "IN", splitValues(vs).map(v => ckLiteral(v): Any)
          .toIndexedSeq)
      case InRe(c, vs) =>
        Pred(c, "IN", splitValues(vs).map(vLit(c.toLowerCase, _))
          .toIndexedSeq)
      case PredRe(c, op, v) => Pred(c, op, Seq(vLit(c.toLowerCase, v)))
      case p => fail(s"unsupported predicate: $p")
    }

  /** The scan filters of a SELECT that binds every partition-key
    * part by `=` — the driver-local read's pushdown (see `select`).
    * Key terms translate the way Catalyst translates the same
    * predicates for the DataFrame scan: bigint/int/text key values,
    * an int part takes an in-range bigint literal (unwrap-cast), and
    * a one-value IN list becomes an equality (OptimizeIn) — so the
    * scan's pruning and its strictCql guard see exactly what they
    * would see there. Data-column terms stay Spark filters above the
    * local relation; the scan's guard waives them only under ALLOW
    * FILTERING (`relaxed`), so without it they keep the DataFrame
    * scan, which refuses them. None = not a single-partition read, or
    * a key term of another shape: the caller keeps the DataFrame scan.
    */
  private def partitionKeyFilters(spec: graft.sources.KeySpec,
      terms: Seq[String], relaxed: Boolean)
      : Option[Seq[org.apache.spark.sql.sources.Filter]] = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
      StringType}
    val parts = (spec.pkParts ++ spec.ckParts)
      .map(p => p.name.toLowerCase -> p).toMap
    def value(dt: DataType, v: Any): Option[Any] = (dt, v) match {
      case (LongType, l: Long) => Some(l)
      case (IntegerType, l: Long) if l.isValidInt => Some(l.toInt)
      case (StringType, s: String) => Some(s)
      case _ => None
    }
    // per term: None = no local read, Some(None) = a Spark-side filter
    def one(t: String): Option[Option[Filter]] = t match {
      case InRe(c, vs) if parts.contains(c.toLowerCase) =>
        val p = parts(c.toLowerCase)
        val xs = splitValues(vs).toSeq
          .map(v => value(p.dataType, literal(v)))
        if (xs.exists(_.isEmpty)) None
        else xs.flatten.distinct match {
          case Seq(x) => Some(Some(EqualTo(p.name, x)))
          case ys => Some(Some(In(p.name, ys.toArray)))
        }
      case PredRe(c, op, v) if parts.contains(c.toLowerCase) =>
        val p = parts(c.toLowerCase)
        value(p.dataType, literal(v)).map(x => Some(op match {
          case "=" => EqualTo(p.name, x)
          case "<" => LessThan(p.name, x)
          case "<=" => LessThanOrEqual(p.name, x)
          case ">" => GreaterThan(p.name, x)
          case ">=" => GreaterThanOrEqual(p.name, x)
        }))
      case _ => if (relaxed) Some(None) else None
    }
    val each = terms.map(one)
    if (each.exists(_.isEmpty)) None
    else {
      val fs = each.flatMap(_.get)
      val bound = spec.pkParts.forall(p => fs.exists {
        case EqualTo(n, _) => n == p.name
        case _ => false
      })
      if (bound) Some(fs) else None
    }
  }

  /** Parse WHERE into (pkSet, ckEq, ckLo, ckHi) for the write paths —
    * the Cassandra-shaped key-only predicate DELETE/UPDATE require.
    * Bounds are tracked as Longs so the exclusive-bound adjustment
    * can't wrap at the int boundary: `ck > Int.MaxValue` yields
    * lo > hi (a provably EMPTY range the caller must no-op on), never
    * a wrapped bound that deleteMarkers would misread as "unbounded"
    * and escalate to a partition tombstone.
    */
  private def keyPredicate(where: String)
      : (Set[Long], Option[Int], Long, Long) = {
    var pks = Set.empty[Long]
    var ckEq: Option[Int] = None
    var ckLo: Long = Int.MinValue
    var ckHi: Long = Int.MaxValue
    where.split("(?i)\\s+AND\\s+").foreach {
      case InRe(c, vs) if c.equalsIgnoreCase("pk") =>
        pks ++= splitValues(vs).map(longLiteral(_, "pk"))
      case PredRe(c, "=", v) if c.equalsIgnoreCase("pk") =>
        pks += longLiteral(v, "pk")
      case PredRe(c, "=", v) if c.equalsIgnoreCase("ck") =>
        ckEq = Some(ckLiteral(v))
      case PredRe(c, op, v) if c.equalsIgnoreCase("ck") =>
        val x: Long = ckLiteral(v)
        op match {
          case ">" => ckLo = math.max(ckLo, x + 1)
          case ">=" => ckLo = math.max(ckLo, x)
          case "<" => ckHi = math.min(ckHi, x - 1)
          case "<=" => ckHi = math.min(ckHi, x)
        }
      case p => fail(s"write WHERE must bind keys only, got: $p")
    }
    if (pks.isEmpty) fail("write WHERE must bind pk")
    (pks, ckEq, ckLo, ckHi)
  }

  // ---------------------------------------------------------------
  // SELECT

  private val AggRe = """(?is)^\s*(count|min|max|sum|avg)\s*\(\s*(\*|\w+)\s*\)\s*(?:AS\s+(\w+))?\s*$""".r

  /** A registered-function/aggregate CALL in a select list (C71):
    * `name(col[, col…]) [AS alias]` — only treated as a UDF/UDA when
    * the name resolves in the keyspace registry (builtin aggregates
    * and WRITETIME/TTL/token keep their own shapes).
    */
  private val FnCallRe =
    """(?is)^\s*(\w+)\s*\(\s*([\w\s,]*?)\s*\)\s*(?:AS\s+(\w+))?\s*$""".r

  /** Select-list items split on TOP-LEVEL commas — a multi-argument
    * function call (C71) nests commas in parens.
    */
  private def splitItems(cols: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    cols.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }
  private val ColRe = """(?is)^\s*(\w+)\s*(?:AS\s+(\w+))?\s*$""".r
  /** `CAST(col AS type) [AS alias]` in a select list (C65t —
    * Cassandra 3.2+ selection casts).
    */
  private val CastRe =
    ("""(?is)^\s*CAST\s*\(\s*(\w+)\s+AS\s+(\w+)\s*\)""" +
      """\s*(?:AS\s+(\w+))?\s*$""").r
  /** UDT field selection `c.f [AS alias]` (C59b) — Cassandra's own
    * field-access projection on a frozen UDT column.
    */
  private val UdtFieldSelRe =
    """(?is)^\s*(\w+)\.(\w+)\s*(?:AS\s+(\w+))?\s*$""".r
  // the argument admits `col` and (r14, non-frozen UDTs) `col.field`
  // — a FIELD CELL carries its own writetime/expiry, so the per-field
  // form narrows to that one cell exactly like a plain column's
  private val WriteTimeRe =
    ("""(?is)^\s*WRITETIME\s*\(\s*(\w+(?:\.\w+)?)\s*\)""" +
      """\s*(?:AS\s+(\w+))?\s*$""").r
  private val TtlRe =
    """(?is)^\s*TTL\s*\(\s*(\w+(?:\.\w+)?)\s*\)\s*(?:AS\s+(\w+))?\s*$""".r
  /** C15c — WRITETIME/TTL/MAXWRITETIME of a MAP ENTRY (Cassandra
    * 4.2's collection-element selection): `WRITETIME(m['k'])` — the
    * entry IS its own cell in the C12 row-is-the-map encoding, so
    * the fn narrows to that cell exactly like a plain column's.
    */
  private val WtFnEntryRe =
    ("""(?is)^\s*(MAXWRITETIME|WRITETIME|TTL)\s*\(\s*(\w+)\s*\[\s*""" +
      """('(?:[^']|'')*')\s*\]\s*\)\s*(?:AS\s+(\w+))?\s*$""").r
  /** C15c — `MAXWRITETIME(c)` (Cassandra 4.1): the row's largest
    * writetime across the column's cells — identical to WRITETIME on
    * a scalar column (one cell), a per-owner max over a DECLARED
    * collection's element cells.
    */
  private val MaxWriteTimeRe =
    ("""(?is)^\s*MAXWRITETIME\s*\(\s*(\w+)\s*\)""" +
      """\s*(?:AS\s+(\w+))?\s*$""").r

  /** C72b — `minTimeuuid(ts)` / `maxTimeuuid(ts)` WHERE bounds on a
    * timeuuid clustering part: Cassandra's documented "fake
    * inequality" idiom (`t > minTimeuuid(x) AND t < maxTimeuuid(y)`
    * selects rows whose TIME component lies in [x, y]). The argument
    * is a timestamp literal (ISO-8601 or epoch millis — the same
    * grammar timestamp values take).
    */
  private val TimeuuidBoundRe =
    ("""(?is)^\s*(\w+)\s*(<=|>=|<|>)\s*(MIN|MAX)TIMEUUID\s*\(\s*""" +
      """('(?:[^']|'')*'|\d+)\s*\)\s*$""").r

  /** C72c — Cassandra's timeuuid TIME-EXTRACTION functions in a
    * select list: `toTimestamp(c)` / `toDate(c)` /
    * `toUnixTimestamp(c)` and the legacy `dateOf(c)` /
    * `unixTimestampOf(c)` spellings. The argument is a plain column
    * (never `now()` — that is the C72 VALUE-side literal), so the
    * regexes cannot collide.
    */
  private val TimeFnSelRe =
    ("""(?is)^\s*(TOTIMESTAMP|TODATE|TOUNIXTIMESTAMP|DATEOF|""" +
      """UNIXTIMESTAMPOF)\s*\(\s*(\w+)\s*\)\s*(?:AS\s+(\w+))?\s*$""").r

  /** Cassandra 5's similarity functions in a select list (C70e):
    * `similarity_cosine(v, [q…]) [AS alias]` (and the euclidean /
    * dot_product variants) — the standard companion to `ORDER BY v
    * ANN OF` (reading the score of each hit), also served on a bare
    * key-restricted read. The vector literal dim-checks at parse
    * through the declared grammar.
    */
  private val SimilaritySelRe =
    ("""(?is)^\s*SIMILARITY_(COSINE|EUCLIDEAN|DOT_PRODUCT)\s*\(\s*""" +
      """(\w+)\s*,\s*(\[[^\]]*\])\s*\)\s*(?:AS\s+(\w+))?\s*$""").r

  private val TokenPredRe =
    """(?is)^\s*TOKEN\s*\(\s*([\w\s,]+?)\s*\)\s*(=|<=|>=|<|>)\s*([-+]?\d+)\s*$""".r
  private val TokenSelRe =
    """(?is)^\s*TOKEN\s*\(\s*([\w\s,]+?)\s*\)\s*(?:AS\s+(\w+))?\s*$""".r

  /** C70 — `SELECT … ORDER BY <v> ANN OF [..] LIMIT k`: Cassandra 5's
    * vector search, served index-then-fetch-then-rerank. The query
    * vector's LSH bucket plus its nearest Hamming neighbors
    * ([[graft.functions.VectorCodec.probeOrder]], nprobe = 4 of 16)
    * probe the `ann(v)` index as pruned pk point reads; the bounded
    * candidate set re-reads from the base (false positives and
    * refresh epochs drop there) and reranks by EXACT cosine inside
    * whole-stage codegen (`graft_vec_decode` + higher-order
    * aggregate), rounded and key-tie-broken for determinism. An ANN
    * statement without a vector index refuses — Cassandra's own rule.
    *
    * Scale: the probe bounds the index read to nprobe/2^planes of the
    * entries; the fetch is the C8b multiget; the rerank touches only
    * candidates. Nothing trains, nothing broadcasts but the literal.
    */
  /** Cassandra's fixed-width time rendering (HH:MM:SS.fffffffff,
    * nanos always 9 digits) over the stored nanos-since-midnight
    * count — shared by the SELECT JSON renderer (C63b) and the
    * declared-semantics CAST (C65y).
    */
  private val TimeRenderSql =
    "concat(lpad(cast(value div 3600000000000 as string), 2, '0'), " +
      "':', " +
      "lpad(cast(value div 60000000000 % 60 as string), 2, '0'), " +
      "':', " +
      "lpad(cast(value div 1000000000 % 60 as string), 2, '0'), " +
      "'.', lpad(cast(value % 1000000000 as string), 9, '0'))"

  private def annSelect(spark: SparkSession, dir: String, cols: String,
      vcol: String, vecLit: String, k: Int,
      whereOpt: Option[String] = None): DataFrame = {
    flushBuffered(spark, dir)
    if (k < 1) fail("ANN LIMIT must be positive")
    val ct = cqlValueTypeOf(dir).filter(_.startsWith("vector<"))
      .getOrElse(fail("ORDER BY ... ANN OF serves " +
        "vector<float, n>-valued tables"))
    // typed layouts (C70d, r16): the embedding store's natural shape
    // is `id uuid PRIMARY KEY, v vector<float, n>` — key columns are
    // the spec's NAMED parts; the rerank tie-breaks and the legal
    // projection follow the table's own key layout
    val spec = graft.sources.CellSource.keySpec(dir)
    val keyNames = (spec.pkParts ++ spec.ckParts)
      .map(_.name.toLowerCase)
    val idxDir = graft.sources.CellIndex.registered(dir).find(i =>
      graft.sources.CellIndex.columnOf(i).contains(s"ann($vcol)"))
      .getOrElse(fail(s"ANN OF needs a vector index on $vcol " +
        s"(CREATE INDEX ... ON <table> (ann($vcol))) — Cassandra " +
        "refuses vector search without one"))
    val qBytes = mappedLiteral(ct)(vecLit, "ANN OF vector")
      .asInstanceOf[Array[Byte]]
    // the index's DECLARED LSH geometry (persisted at CREATE INDEX):
    // the probe must bucket over the same planes the build wrote —
    // a mismatch would probe buckets no entry ever keyed
    val idxOpts = graft.sources.CellIndex.optionsOf(idxDir)
    val planes = idxOpts.get("planes").map(_.toInt)
      .getOrElse(graft.functions.VectorCodec.Planes)
    val nprobe = idxOpts.get("probes").map(_.toInt)
      .getOrElse(graft.functions.VectorCodec.DefaultProbes)
    val probes = graft.functions.VectorCodec.probeBuckets(
      graft.functions.VectorCodec.bucket(qBytes, planes), planes,
      nprobe)
    val cand = whereOpt match {
      case Some(PredRe(c, "=", rv))
          if !keyNames.contains(c.toLowerCase) =>
        // FILTERED ANN (C70c, Cassandra 5's SAI + vector shape:
        // `WHERE <indexed col> = ? ORDER BY v ANN OF … LIMIT k`).
        // PRE-filter semantics — the FAISS IDSelector rule N_SIM12
        // follows: resolve the restriction to its row set through
        // the column's OWN secondary index FIRST, then rerank that
        // slice's vectors by exact cosine; never post-filter a
        // short k-list (which would under-fill k whenever the
        // filter is selective). Recall is 1 within the slice, so
        // the result stays oracle-hashable. The restriction value
        // parses through the table's declared grammar (every data
        // cell of a vector table IS vector-valued in the cell
        // model); the base re-read re-applies the predicate, so
        // index false positives drop before the rerank.
        val cl = c.toLowerCase
        if (cl == vcol)
          fail(s"ANN orders by $vcol — filtering on the same " +
            "column selects exact matches; use a plain indexed " +
            "equality SELECT for that")
        val iv = mappedLiteral(ct)(rv, s"$cl predicate")
        val idx2 = graft.sources.CellIndex.registered(dir)
          .find(i => graft.sources.CellIndex.columnOf(i).contains(cl))
          .getOrElse(fail(s"ANN with a $cl restriction needs a " +
            s"secondary index on $cl (CREATE INDEX ... ON <table> " +
            s"($cl)) — the filter resolves through its index, " +
            "never by scanning (Cassandra's SAI rule)"))
        val fetched = graft.sources.CellIndex
          .lookupBase(spark, dir, idx2, iv)
        val rows = fetched
          .filter(col("col") === cl && col("value") === lit(iv))
          .select(keyNames.map(col).toIndexedSeq: _*)
        // the row set is index-pruned small: broadcast it onto the
        // slice's vector cells — no shuffle, pre-filter intersection
        fetched.filter(col("col") === vcol)
          .join(org.apache.spark.sql.functions.broadcast(rows),
            keyNames, "left_semi")
      case Some(w) if spec.isDefault =>
        // partition-RESTRICTED ANN (C70b, Cassandra 5's WHERE +
        // ANN OF): the restriction bounds the read EXACTLY, so the
        // pruned partition point read replaces the LSH probe — the
        // rerank is over the partition's own vectors, recall 1
        // within the slice. The vector index must still exist
        // (Cassandra's planner rule, kept above). ck restrictions
        // refuse: ANN's output order is similarity, not clustering.
        val (pks, ckEq, ckLo, ckHi) = keyPredicate(w)
        if (ckEq.isDefined || ckLo != Int.MinValue.toLong ||
            ckHi != Int.MaxValue.toLong)
          fail("ANN WHERE takes partition-key restrictions only " +
            "(pk = ... / pk IN (...)) or ONE indexed data-column " +
            "equality")
        spark.read.format(Fmt).option("reconcile", "true").load(dir)
          .filter(col("pk").isin(pks.toSeq: _*) &&
            col("col") === vcol)
      case Some(w) =>
        // typed-layout partition restriction (C70d): every pk part
        // bound by name (IN allowed) — the typed point read bounds
        // the rerank exactly; ck bindings/ranges refuse as above
        val (pks, ckOpt, range) = typedKeyPredicate(spec, w)
        if (ckOpt.isDefined || range.isDefined)
          fail("ANN WHERE takes partition-key restrictions only " +
            "(every partition-key part by = / IN) or ONE indexed " +
            "data-column equality")
        val pkNames = spec.pkParts.map(_.name)
        spark.read.format(Fmt).option("reconcile", "true").load(dir)
          .filter(col("col") === vcol &&
            pks.map(t => pkNames.zip(t).map { case (n, v) =>
              col(n) === lit(v) }.reduce(_ && _)).reduce(_ || _))
      case None =>
        graft.sources.CellIndex
          .lookupBaseAnn(spark, dir, idxDir, probes)
          .filter(col("col") === vcol)
    }
    graft.GraftExtensions.register(spark)
    val dim = ct.stripPrefix("vector<float,").stripSuffix(">").toInt
    val qArr = (0 until dim).map(i =>
      graft.functions.VectorCodec.floatAt(qBytes, i).toDouble)
    val qLit = qArr.mkString("array(", "D, ", "D)")
    // exact-cosine rerank via the NATIVE fused expression
    // ([[graft.functions.CosineSim]]) — bit-identical to the HOF
    // aggregate/zip_with fold (same ascending accumulation order),
    // but one primitive loop per candidate instead of three
    // lambda-bound array passes; at scale the rerank loop is the
    // dominant per-candidate cost
    val ranked = cand
      .withColumn("__vec",
        expr("cast(graft_vec_decode(value) as array<double>)"))
      .withColumn("__score",
        round(expr(s"graft_cosine(__vec, $qLit)"), 6))
      .orderBy((col("__score").desc +:
        keyNames.map(col)).toIndexedSeq: _*)
      .limit(k)
    val legal = keyNames.toSet + "value"
    // C70e: similarity_* items render the hit's score through the
    // SAME native expressions the rerank ranks by — `__vec` is still
    // in scope on `ranked`, so the score column is one more codegen'd
    // projection, not a second decode pass
    val proj: Seq[org.apache.spark.sql.Column] =
      if (cols.trim == "*") (keyNames :+ "value").map(col)
      else splitItems(cols).map {
        case SimilaritySelRe(kind, c, vlit, alias) =>
          val cl = c.toLowerCase
          if (cl != vcol && cl != "value")
            fail(s"similarity functions score the ANN column " +
              s"($vcol), got: $cl")
          simScore(ct, kind, vlit).as(Option(alias)
            .getOrElse(s"similarity_${kind.toLowerCase}"))
        case ColRe(n, alias) if legal.contains(n.toLowerCase) =>
          Option(alias).map(col(n.toLowerCase).as(_))
            .getOrElse(col(n.toLowerCase))
        case x =>
          fail(s"ANN SELECT projects key parts and value (plus " +
            s"similarity functions) in this subset " +
            s"(${(keyNames :+ "value").mkString(", ")}), got: $x")
      }
    ranked.select(proj.toIndexedSeq: _*)
  }

  /** The rendered score of one similarity select item (C70e) over
    * the decoded candidate vector `__vec` — Lucene's score
    * normalizations, which are what Cassandra 5 serves: cosine
    * (1+cos)/2, dot_product (1+dot)/2, euclidean 1/(1+d²). The
    * query literal parses (and dim-checks) through the declared
    * vector grammar; everything folds into the native codegen'd
    * graft_cosine/graft_dot expressions, so the score is one fused
    * loop per candidate. Rounded like annSelect's rank key for
    * deterministic hashing.
    */
  private def simScore(ct: String, kind: String,
      vecLit: String): org.apache.spark.sql.Column = {
    val dim = ct.stripPrefix("vector<float,").stripSuffix(">").toInt
    val qBytes = mappedLiteral(ct)(vecLit,
      s"similarity_${kind.toLowerCase} vector")
      .asInstanceOf[Array[Byte]]
    val arr = (0 until dim).map(i =>
      graft.functions.VectorCodec.floatAt(qBytes, i).toDouble)
    val q = arr.mkString("array(", "D, ", "D)")
    val raw = kind.toLowerCase match {
      case "cosine" => s"(1.0D + graft_cosine(__vec, $q)) / 2.0D"
      case "dot_product" => s"(1.0D + graft_dot(__vec, $q)) / 2.0D"
      case _ => // euclidean: d² = |v|² + |q|² − 2·v·q, all dot folds
        val qq = arr.map(x => x * x).sum
        s"1.0D / (1.0D + graft_dot(__vec, __vec) + ${qq}D - " +
          s"2.0D * graft_dot(__vec, $q))"
    }
    round(expr(raw), 6)
  }

  /** C70e — the BARE similarity select (no ANN ordering): `SELECT
    * pk, similarity_cosine(v, [q…]) FROM t WHERE pk = ?` scores the
    * restriction's own rows. The read is the ordinary pushed point
    * read narrowed to the scored column's cells; no index is
    * consulted (the key restriction bounds the read exactly —
    * Cassandra's rule that a non-ANN select never scans for scores).
    */
  private def similaritySelect(spark: SparkSession, dir: String,
      cols: String, whereOpt: Option[String],
      lim: Option[Int]): DataFrame = {
    val ct = cqlValueTypeOf(dir).filter(_.startsWith("vector<"))
      .getOrElse(fail("similarity functions serve " +
        "vector<float, n>-valued tables"))
    val spec = graft.sources.CellSource.keySpec(dir)
    val keyNames = (spec.pkParts ++ spec.ckParts)
      .map(_.name.toLowerCase)
    val items = splitItems(cols)
    val simCols = items.collect {
      case SimilaritySelRe(_, c, _, _) => c.toLowerCase }.distinct
    val target = simCols match {
      case Seq(c) => c
      case cs => fail("similarity functions score ONE vector " +
        s"column per statement, got: ${cs.mkString(", ")}")
    }
    if (keyNames.contains(target))
      fail(s"similarity functions take a vector data column, " +
        s"$target is a key part")
    val w = whereOpt.getOrElse(
      fail("a bare similarity SELECT binds its rows (WHERE on the " +
        "key) — the scan form is ORDER BY <v> ANN OF [..] LIMIT k"))
    val base = spark.read.format(Fmt)
      .option("reconcile", "true").load(dir)
    val cand =
      if (spec.isDefault) {
        val (pks, ckEq, ckLo, ckHi) = keyPredicate(w)
        var d = base.filter(col("pk").isin(pks.toSeq: _*) &&
          col("col") === target)
        ckEq.foreach(ck => d = d.filter(col("ck") === ck))
        if (ckEq.isEmpty &&
            (ckLo != Int.MinValue || ckHi != Int.MaxValue))
          d = d.filter(col("ck") >= ckLo && col("ck") <= ckHi)
        d
      } else {
        val (pks, ckOpt, range) = typedKeyPredicate(spec, w)
        if (range.isDefined)
          fail("a bare similarity SELECT binds keys by equality")
        val pkNames = spec.pkParts.map(_.name)
        var d = base.filter(col("col") === target &&
          pks.map(t => pkNames.zip(t).map { case (n, v) =>
            col(n) === lit(v) }.reduce(_ && _)).reduce(_ || _))
        ckOpt.foreach(ckVals => spec.ckParts.map(_.name).zip(ckVals)
          .foreach { case (n, v) => d = d.filter(col(n) === v) })
        d
      }
    graft.GraftExtensions.register(spark)
    val scored = cand.withColumn("__vec",
      expr("cast(graft_vec_decode(value) as array<double>)"))
    val proj = items.map {
      case SimilaritySelRe(kind, _, vlit, alias) =>
        simScore(ct, kind, vlit).as(Option(alias)
          .getOrElse(s"similarity_${kind.toLowerCase}"))
      case ColRe(n, alias) if keyNames.contains(n.toLowerCase) =>
        Option(alias).map(col(n.toLowerCase).as(_))
          .getOrElse(col(n.toLowerCase))
      case x => fail(s"a similarity SELECT projects key parts and " +
        s"similarity functions, got: $x")
    }
    val out = scored.select(proj.toIndexedSeq: _*)
    lim.map(out.limit).getOrElse(out)
  }

  /** The canonical timeuuid rendering's 60-bit time as a SQL
    * expression — hi12 (chars 16-18, behind the version nibble)
    * << 48 | mid16 (chars 10-13) << 32 | low32 (chars 1-8). ONE
    * definition: the C72b range probe and the C72c extraction
    * functions must never drift on these offsets.
    */
  private def timeuuid60(c: String): String =
    s"(cast(conv(substring($c, 16, 3), 16, 10) as bigint) * " +
      "281474976710656 + " +
      s"cast(conv(substring($c, 10, 4), 16, 10) as bigint) * " +
      "4294967296 + " +
      s"cast(conv(substring($c, 1, 8), 16, 10) as bigint))"

  /** C72c — the timeuuid time-extraction SELECT: `SELECT pk,
    * toUnixTimestamp(ev) FROM t WHERE …` reads the 60-bit time of a
    * timeuuid column as the C72 clock (epoch ms) and renders it as
    * the target type — toTimestamp/dateOf → the instant, toDate →
    * its UTC day, toUnixTimestamp/unixTimestampOf → the millis. The
    * column may be a DECLARED timeuuid KEY part (the expression
    * reads the key column directly — typed layouts) or the table's
    * timeuuid VALUE column (the select narrows to its cells, the
    * WRITETIME contract). Key restrictions push exactly as on a
    * plain select of the same shape.
    */
  private def timeuuidFnSelect(spark: SparkSession, dir: String,
      cols: String, whereOpt: Option[String],
      lim: Option[Int]): DataFrame = {
    val spec = graft.sources.CellSource.keySpec(dir)
    val keyNames = (spec.pkParts ++ spec.ckParts)
      .map(_.name.toLowerCase)
    val props = tableProps(dir)
    val items = splitItems(cols)
    val fnCols = items.collect {
      case TimeFnSelRe(_, c, _) => c.toLowerCase }.distinct
    val target = fnCols match {
      case Seq(c) => c
      case cs => fail("time-extraction functions serve ONE timeuuid " +
        s"column per statement, got: ${cs.mkString(", ")}")
    }
    val isKey = keyNames.contains(target)
    if (isKey) {
      if (!props.get(s"cqlKeyType.$target").contains("timeuuid"))
        fail(s"toTimestamp/toDate/toUnixTimestamp serve timeuuid " +
          s"columns; key part $target is declared " +
          props.getOrElse(s"cqlKeyType.$target", "bigint/int/text"))
    } else if (!cqlValueTypeOf(dir).contains("timeuuid"))
      fail("toTimestamp/toDate/toUnixTimestamp serve timeuuid " +
        "columns; this table's value column is declared " +
        cqlValueTypeOf(dir).getOrElse(
          graft.cql.SystemSchema.cqlTypeName(
            graft.sources.CellSource.valueTypeOf(dir))))
    val base = spark.read.format(Fmt)
      .option("reconcile", "true").load(dir)
    var df = if (isKey) base else base.filter(col("col") === target)
    whereOpt.foreach { w =>
      if (spec.isDefault) {
        val (pks, ckEq, ckLo, ckHi) = keyPredicate(w)
        df = df.filter(col("pk").isin(pks.toSeq: _*))
        ckEq.foreach(ck => df = df.filter(col("ck") === ck))
        if (ckEq.isEmpty &&
            (ckLo != Int.MinValue || ckHi != Int.MaxValue))
          df = df.filter(col("ck") >= ckLo && col("ck") <= ckHi)
      } else {
        val (pks, ckOpt, range) = typedKeyPredicate(spec, w)
        if (range.isDefined)
          fail("a time-extraction SELECT binds keys by equality")
        val pkNames = spec.pkParts.map(_.name)
        df = df.filter(
          pks.map(t => pkNames.zip(t).map { case (n, v) =>
            col(n) === lit(v) }.reduce(_ && _)).reduce(_ || _))
        ckOpt.foreach(ckVals => spec.ckParts.map(_.name).zip(ckVals)
          .foreach { case (n, v) => df = df.filter(col(n) === v) })
      }
    }
    val src = if (isKey) target else "value"
    val t60 = timeuuid60(src)
    def rendered(fn: String): org.apache.spark.sql.Column =
      fn.toLowerCase match {
        case "tounixtimestamp" | "unixtimestampof" => expr(t60)
        case "totimestamp" | "dateof" =>
          expr(s"timestamp_millis($t60)")
        case _ => // toDate: the instant's UTC day
          expr(s"date_from_unix_date(cast($t60 div 86400000 as int))")
      }
    val legal = keyNames.toSet ++ Set("col", "value", "wt")
    val proj = items.map {
      case TimeFnSelRe(fn, _, alias) =>
        rendered(fn).as(Option(alias)
          .getOrElse(s"${fn.toLowerCase}($target)"))
      case ColRe(n, alias) if legal.contains(n.toLowerCase) =>
        Option(alias).map(col(n.toLowerCase).as(_))
          .getOrElse(col(n.toLowerCase))
      case x => fail(s"a time-extraction SELECT projects key parts " +
        s"and cell columns, got: $x")
    }
    val out = df.select(proj.toIndexedSeq: _*)
    lim.map(out.limit).getOrElse(out)
  }

  /** C72b — the timeuuid range-probe SELECT: `WHERE <pk parts by
    * equality> AND <ck> > minTimeuuid('ts') [AND <ck> <
    * maxTimeuuid('ts')]` on a typed table whose single clustering
    * part is a DECLARED timeuuid. Comparison is by the 60-bit TIME
    * component (Cassandra's timeuuid comparator is time-first) —
    * extracted from the stored canonical text, because canonical
    * text order is NOT time order (time-low renders first; pushing
    * a text range would select garbage). The partition probe still
    * pushes to the typed scan; the time bound is a residual over
    * the partition's own rows — the same bounded-read class as
    * every other ck residual here. Bound semantics are Cassandra's:
    * `>`/`>=` minTimeuuid(x) → time >= x, `<`/`<=` minTimeuuid(x) →
    * time < x, `>`/`>=` maxTimeuuid(x) → time > x, `<`/`<=`
    * maxTimeuuid(x) → time <= x (no real uuid ever equals the
    * minted extremes).
    */
  private def timeuuidRangeSelect(spark: SparkSession, dir: String,
      cols: String, w: String, lim: Option[Int]): DataFrame = {
    val spec = graft.sources.CellSource.keySpec(dir)
    val props = tableProps(dir)
    if (spec.isDefault)
      fail("minTimeuuid/maxTimeuuid bounds serve a timeuuid " +
        "clustering part (typed layouts) — the default ck is int")
    val ckName = spec.ckParts match {
      case p :: Nil if props.get(s"cqlKeyType.${p.name.toLowerCase}")
          .contains("timeuuid") => p.name.toLowerCase
      case _ => fail("minTimeuuid/maxTimeuuid bounds need a SINGLE " +
        "clustering part declared timeuuid")
    }
    val pkNames = spec.pkParts.map(_.name.toLowerCase)
    def time60(c: String): String = timeuuid60(c)
    var lo = Long.MinValue // inclusive time lower bound
    var hi = Long.MaxValue // inclusive time upper bound
    val pkTerms = scala.collection.mutable.ArrayBuffer.empty[
      (String, Any)]
    w.split("(?i)\\s+AND\\s+").map(_.trim).filter(_.nonEmpty)
      .foreach {
        case TimeuuidBoundRe(c, op, kind, raw) =>
          if (c.toLowerCase != ckName)
            fail(s"minTimeuuid/maxTimeuuid bounds apply to the " +
              s"timeuuid clustering part ($ckName), got: $c")
          val t = scalarLiteral(
            org.apache.spark.sql.types.TimestampType)(raw,
            s"${kind.toLowerCase}Timeuuid argument")
            .asInstanceOf[java.sql.Timestamp].getTime
          (op, kind.toLowerCase) match {
            case (">" | ">=", "min") => lo = math.max(lo, t)
            case ("<" | "<=", "min") => hi = math.min(hi, t - 1)
            case (">" | ">=", "max") => lo = math.max(lo, t + 1)
            case _ => hi = math.min(hi, t) // < / <= maxTimeuuid
          }
        case PredRe(c, "=", v) if pkNames.contains(c.toLowerCase) =>
          val part = spec.pkParts.find(_.name.equalsIgnoreCase(c)).get
          pkTerms += ((c.toLowerCase, keyLiteral(part, v, "key part")))
        case t => fail("a timeuuid range SELECT binds every " +
          "partition-key part by equality plus min/maxTimeuuid " +
          s"bounds on $ckName, got: $t")
      }
    if (pkTerms.map(_._1).toSet != pkNames.toSet)
      fail("a timeuuid range SELECT binds every partition-key part " +
        s"(${pkNames.mkString(", ")})")
    var df = spark.read.format(Fmt)
      .option("reconcile", "true").load(dir)
    pkTerms.foreach { case (n, v) => df = df.filter(col(n) === v) }
    if (lo != Long.MinValue)
      df = df.filter(expr(time60(ckName)) >= lo)
    if (hi != Long.MaxValue)
      df = df.filter(expr(time60(ckName)) <= hi)
    val legal = pkNames.toSet + ckName ++ Set("col", "value", "wt")
    val items = splitItems(cols).map {
      case ColRe(n, alias) if legal.contains(n.toLowerCase) =>
        Option(alias).map(col(n.toLowerCase).as(_))
          .getOrElse(col(n.toLowerCase))
      case x => fail(s"a timeuuid range SELECT projects key parts " +
        s"and cell columns, got: $x")
    }
    val out = df.select(items.toIndexedSeq: _*)
    lim.map(out.limit).getOrElse(out)
  }

  private def select(spark: SparkSession, dir: String, json: Boolean,
      distinct: Boolean, cols: String, where: Option[String],
      group: Option[String], order: Option[String], ppl: Option[Int],
      lim: Option[Int], page: Option[String],
      allowFiltering: Boolean): DataFrame = {
    // read-your-writes: a SELECT inside a script sees the script's
    // buffered cells — flush them before the scan plans its files
    flushBuffered(spark, dir)
    // C70e: similarity functions in a bare select list route to
    // their own narrowed read (the ANN statement serves the ordered
    // form; this one scores a key-restricted row set)
    if (splitItems(cols)
        .exists(SimilaritySelRe.findFirstIn(_).isDefined)) {
      if (json || distinct || group.isDefined || order.isDefined ||
          ppl.isDefined || page.isDefined || allowFiltering)
        fail("similarity functions serve plain selects (optionally " +
          "LIMIT) in this subset")
      return similaritySelect(spark, dir, cols, where, lim)
    }
    // C72c: time-extraction functions in the select list route to
    // their own narrowed read
    if (splitItems(cols)
        .exists(TimeFnSelRe.findFirstIn(_).isDefined)) {
      if (json || distinct || group.isDefined || order.isDefined ||
          ppl.isDefined || page.isDefined || allowFiltering)
        fail("time-extraction functions serve plain selects " +
          "(optionally LIMIT) in this subset")
      return timeuuidFnSelect(spark, dir, cols, where, lim)
    }
    // C72b: minTimeuuid/maxTimeuuid WHERE bounds route to the
    // timeuuid range probe (time-component comparison — the text
    // comparator must never see these). Detection matches PARSED
    // terms against the bound grammar, never the raw text — a quoted
    // string literal containing "minTimeuuid(" must not hijack an
    // ordinary select.
    if (where.exists(_.split("(?i)\\s+AND\\s+").exists(t =>
        TimeuuidBoundRe.findFirstIn(t.trim).isDefined))) {
      if (json || distinct || group.isDefined || order.isDefined ||
          ppl.isDefined || page.isDefined || allowFiltering)
        fail("min/maxTimeuuid bounds serve plain selects " +
          "(optionally LIMIT) in this subset")
      return timeuuidRangeSelect(spark, dir, cols, where.get, lim)
    }
    val spec = graft.sources.CellSource.keySpec(dir)
    // key columns of THIS table's layout (pk/ck on the default spec,
    // the named parts on a typed one) — the ALLOW FILTERING guards
    // below must not mistake a typed key predicate for a data one
    val keyCols: Set[String] =
      (spec.pkParts ++ spec.ckParts).map(_.name.toLowerCase).toSet
    val modelCols = Set("col", "value", "wt")
    // frozen<udt> value layout (C59b): selecting the value column (or
    // a field of it) unpacks through the schema layer
    val udtL = udtLayoutOf(dir)
    // mapped declared value type (C65r): DATA-column literals in the
    // WHERE parse through the declared grammar, producing the
    // storage-typed compare value (a date predicate must compare as
    // the stored day count, not the raw string); key and cell-model
    // columns keep the plain literal grammar
    val mappedCt = cqlValueTypeOf(dir)
    def dataLit(c: String, v: String): Any =
      if (mappedCt.isDefined && !keyCols.contains(c) &&
          c != "col" && c != "wt") {
        // durations are NOT comparable — a (months, days, nanos)
        // triple has no total order (Cassandra refuses duration
        // restrictions outright), so no predicate may compare the
        // canonical rendering either
        if (mappedCt.contains("duration"))
          fail(s"predicates on duration cells are not supported " +
            "(durations are not comparable)")
        mappedLiteral(mappedCt.get)(v, s"$c predicate")
      } else literal(v)
    // min/max order and sum/avg arithmetic are both undefined on the
    // duration triple — count alone is legal (Cassandra's rule)
    def checkAgg(fn: String, arg: String): Unit =
      if (mappedCt.contains("duration") && fn.toLowerCase != "count" &&
          !keyCols.contains(arg.toLowerCase) && arg.toLowerCase != "wt")
        fail(s"${fn.toLowerCase}() over duration cells is not " +
          "supported (durations are not comparable)")
    // The aggregate expression for one select item (r17 tightening
    // of C65u): timeuuid is the SECOND mapped type whose storage
    // does not preserve the declared order (the canonical text
    // renders time-low first), so min/max compare by the 60-bit
    // TIME then the text (Cassandra's time-first comparator) via
    // min_by/max_by — one pass, codegen'd — and sum/avg refuse; and
    // sum/avg refuse on EVERY non-numeric value storage (Cassandra:
    // arithmetic aggregates take numeric types; Spark's silent
    // cast-to-double would return nulls).
    def aggColumn(fn: String, arg: String): Column = {
      checkAgg(fn, arg)
      val a = arg.toLowerCase
      val tu = (a == "value" && mappedCt.contains("timeuuid")) ||
        (keyCols.contains(a) && tableProps(dir)
          .get(s"cqlKeyType.$a").contains("timeuuid"))
      def numericValue: Boolean = {
        import org.apache.spark.sql.types._
        graft.sources.CellSource.valueTypeOf(dir) match {
          case LongType | IntegerType | DoubleType => true
          case _: DecimalType => true
          case _ => false
        }
      }
      fn.toLowerCase match {
        case "count" => count(lit(1)).cast("long")
        case "min" if tu =>
          expr(s"min_by($a, struct(${timeuuid60(a)}, $a))")
        case "max" if tu =>
          expr(s"max_by($a, struct(${timeuuid60(a)}, $a))")
        case "min" => min(col(arg))
        case "max" => max(col(arg))
        case f @ ("sum" | "avg")
            if tu || (a == "value" && !numericValue) =>
          fail(s"$f() takes numeric types — value is declared " +
            mappedCt.getOrElse(SystemSchema.cqlTypeName(
              graft.sources.CellSource.valueTypeOf(dir))))
        case "sum" => sum(col(arg))
        case _ => avg(col(arg))
      }
    }
    // C71 UDF/UDA registries of this table's keyspace (a property
    // read, catalog-sized; absent file = empty map)
    val ksDirPath = java.nio.file.Paths
      .get(dir).toAbsolutePath.normalize.getParent
    lazy val udfs: Map[String, CqlFn] =
      if (ksDirPath == null) Map.empty else fnsOf(ksDirPath)
    lazy val udas: Map[String, CqlAgg] =
      if (ksDirPath == null) Map.empty else aggsOf(ksDirPath)
    def udaItem(i: String): Option[(String, String, Option[String])] =
      i match {
        case FnCallRe(f, arg, alias)
            if udas.contains(f.toLowerCase) &&
              arg.matches("\\w+") =>
          Some((f.toLowerCase, arg.toLowerCase, Option(alias)))
        case _ => None
      }
    def udfItem(i: String)
        : Option[(String, Seq[String], Option[String])] = i match {
      case FnCallRe(f, argsCsv, alias)
          if udfs.contains(f.toLowerCase) =>
        Some((f.toLowerCase, argsCsv.split(',').map(_.trim.toLowerCase)
          .filter(_.nonEmpty).toSeq, Option(alias)))
      case _ => None
    }
    def isAggItem(i: String): Boolean =
      AggRe.findFirstIn(i).isDefined || udaItem(i).isDefined
    def udaOrder: Seq[String] =
      (spec.pkParts ++ spec.ckParts).map(_.name.toLowerCase) :+ "col"
    val terms = where.map(_.split("(?i)\\s+AND\\s+").toSeq)
      .getOrElse(Seq.empty)
    // `token(pk[, ...])` range predicates → the C41 physical
    // token-range scan (Cassandra's full-scan/paging/repair idiom).
    // Bounds saturate at the ring edges: an exclusive bound AT the
    // edge is a provably empty range, never a wrapped one.
    var tokLo = Long.MinValue
    var tokHi = Long.MaxValue
    var tokEmpty = false
    var hasTok = false
    val nonTokenTerms = terms.filter {
      case TokenPredRe(parts, op, v) =>
        val named = parts.split(',').map(_.trim.toLowerCase).toSeq
        if (named != spec.pkParts.map(_.name.toLowerCase))
          fail("token() must name the partition key (" +
            spec.pkParts.map(_.name).mkString(", ") + ")")
        hasTok = true
        val x = v.toLong
        op match {
          case "=" =>
            tokLo = math.max(tokLo, x); tokHi = math.min(tokHi, x)
          case ">" =>
            if (x == Long.MaxValue) tokEmpty = true
            else tokLo = math.max(tokLo, x + 1)
          case ">=" => tokLo = math.max(tokLo, x)
          case "<" =>
            if (x == Long.MinValue) tokEmpty = true
            else tokHi = math.min(tokHi, x - 1)
          case "<=" => tokHi = math.min(tokHi, x)
        }
        false
      case _ => true
    }
    if (tokLo > tokHi) tokEmpty = true
    // Equality on a column that is neither a key part nor a
    // cell-model column = a DATA-column predicate; Cassandra serves
    // it without ALLOW FILTERING iff a secondary index exists.
    val idxPreds = scala.collection.mutable.ArrayBuffer
      .empty[(String, Any)]
    // RANGE predicates on a data column served by a registered
    // LONG-valued (identity-token) index — the C18e/SASI sparse rule:
    // only that layout keeps adjacent values adjacent on the ring, so
    // only it serves ranges without ALLOW FILTERING. Columns with a
    // typed (hashed) index, or none, keep demanding ALLOW FILTERING.
    val idxRanges = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    def rangeIndexOf(c: String): Option[String] =
      graft.sources.CellIndex.registered(dir)
        .find(i => graft.sources.CellIndex.columnOf(i).contains(c) &&
          graft.sources.CellIndex.servesRanges(i))
    // `col LIKE 'p%'` / `'%s%'` probes served by a prefix(<col>) /
    // contains(<col>) index (C18i/C18j — SASI PREFIX and CONTAINS
    // modes): (column, needle, index dir, mode)
    val idxLikes = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String, String)]
    // CONTAINS / CONTAINS KEY residual predicates (collections are
    // element-per-cell, C11b: an element IS a (col, value) cell, a
    // map entry's key IS its col name — so containment is a cell
    // filter, and the result relation surfaces the MATCHING element
    // cells, whose keys are exactly the rows Cassandra would return)
    val containsPreds = scala.collection.mutable.ArrayBuffer
      .empty[Column]
    // CONTAINS KEY probes served by a keys(<map>) index (C64c): the
    // entry key to look up, plus the map column for the message
    val idxKeyPreds = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)]
    // `m['k'] = v` probes served by an entries(<map>) index (C64d):
    // (map column, entry key, storage-typed value)
    val idxEntryPreds = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Any)]
    val regularTerms = nonTokenTerms.filter {
      case ContainsRe(c, kw, v)
          if !keyCols.contains(c.toLowerCase) &&
            !modelCols.contains(c.toLowerCase) =>
        val cl = c.toLowerCase
        def keysIdx = graft.sources.CellIndex.registered(dir)
          .exists(i => graft.sources.CellIndex.columnOf(i)
            .contains(s"keys($cl)"))
        if (kw == null && graft.sources.CellIndex.registered(dir)
            .exists(i => graft.sources.CellIndex.columnOf(i)
              .contains(cl))) {
          // a secondary index on a collection column stores ELEMENT
          // values (one entry per element cell), so a CONTAINS probe
          // IS the index equality route — Cassandra's collection 2i
          idxPreds += ((cl, literal(v)))
        } else if (kw != null && keysIdx) {
          // a keys(<map>) index stores entry KEYS (cell col names in
          // the C12 row-is-the-map encoding) — CONTAINS KEY is its
          // equality probe, Cassandra's map-key 2i
          val k = literal(v) match {
            case s: String => s
            case _ => fail(s"CONTAINS KEY takes a text key, got: $v")
          }
          idxKeyPreds += ((cl, k))
        } else if (!allowFiltering)
          fail(s"$cl CONTAINS ${if (kw != null) "KEY " else ""}" +
            "needs ALLOW FILTERING (or a secondary index on " +
            s"$cl for CONTAINS, a keys($cl) index for CONTAINS KEY)")
        else if (kw != null) {
          // map-entry presence: entry keys are stored verbatim as
          // col names on these layouts (the row IS the map)
          val k = literal(v) match {
            case s: String => s
            case _ => fail(s"CONTAINS KEY takes a text key, got: $v")
          }
          containsPreds += (col("col") === k)
        } else
          containsPreds += (col("col") === cl &&
            col("value") === lit(literal(v)))
        false
      case PredRe(c, "=", v)
          if udtL.isDefined && v.trim.startsWith("{") &&
            !keyCols.contains(c.toLowerCase) &&
            !modelCols.contains(c.toLowerCase) =>
        // frozen-UDT WHOLE-VALUE equality (C59b): frozen values
        // compare as their blobs (C59's byte-compare rule), so the
        // literal packs once at parse time and the probe is an
        // ordinary binary cell filter — indexed if a value index
        // exists, ALLOW FILTERING otherwise (Cassandra's contract)
        val cl = c.toLowerCase
        if (udtUnfrozenOf(dir))
          fail("whole-value equality byte-compares FROZEN blobs — " +
            s"an unfrozen UDT column ($cl) stores per-field cells; " +
            "compare fields in the application after selecting them")
        val blob = udtLiteral(udtL.get, v, cl)
        if (graft.sources.CellIndex.registered(dir).exists(i =>
            graft.sources.CellIndex.columnOf(i).contains(cl)))
          idxPreds += ((cl, blob))
        else if (!allowFiltering)
          fail(s"$cl = <udt literal> needs ALLOW FILTERING (or a " +
            s"secondary index on $cl)")
        else
          containsPreds += (col("col") === cl &&
            col("value") === lit(blob))
        false
      case LikeRe(c, q)
          if !keyCols.contains(c.toLowerCase) &&
            !modelCols.contains(c.toLowerCase) =>
        // LIKE serves ONLY from a SASI-style prefix index (C18i) —
        // Cassandra's rule: LIKE needs a properly indexed column,
        // and ALLOW FILTERING does not unlock it
        val cl = c.toLowerCase
        val pat = literal(q) match {
          case s: String => s
          case o => fail(s"LIKE takes a text pattern, got: $o")
        }
        // classify: 'p%' = PREFIX mode (C18i), '%s%' = CONTAINS
        // mode (C18j, suffix index), '%s' = SUFFIX (C18l — served
        // from the SAME suffix-entry index with a NARROWER probe:
        // value ends with s iff s IS one of its indexed suffixes, so
        // the probe is the single code point, not a range); other
        // wildcard shapes refuse
        val isContains = pat.length > 2 && pat.startsWith("%") &&
          pat.endsWith("%") &&
          !pat.substring(1, pat.length - 1)
            .exists(ch => ch == '%' || ch == '_')
        val isSuffix = !isContains && pat.startsWith("%") &&
          !pat.drop(1).exists(ch => ch == '%' || ch == '_')
        val isPrefix = !isContains && !isSuffix && pat.endsWith("%") &&
          !pat.dropRight(1).exists(ch => ch == '%' || ch == '_')
        if (!isContains && !isPrefix && !isSuffix)
          fail("supported LIKE shapes: '<literal>%' (SASI PREFIX " +
            "mode), '%<literal>%' and '%<literal>' (SASI CONTAINS " +
            "mode)")
        val needle =
          if (isContains) pat.substring(1, pat.length - 1)
          else if (isSuffix) pat.drop(1)
          else pat.dropRight(1)
        if (needle.isEmpty)
          fail("LIKE '%' matches every row — scan without the " +
            "predicate instead")
        // the suffix shape is served by the CONTAINS-mode index
        // (its entries ARE the suffixes)
        val mode0 = if (isPrefix) "prefix" else "contains"
        val kind =
          if (isContains) "contains"
          else if (isSuffix) "suffix" else "prefix"
        val reg = graft.sources.CellIndex.registered(dir)
        def byCol(m: String) = reg.find(i =>
          graft.sources.CellIndex.columnOf(i).contains(s"$m($cl)"))
        // a case-SENSITIVE index serves the pattern verbatim; absent
        // that, a case-insensitive one (C18k) serves it with the
        // LOWERCASED needle and a lower(value) residual re-check
        val (idx, mode) = byCol(mode0).map((_, mode0))
          .orElse(byCol(mode0 + "_ci").map((_, mode0 + "_ci")))
          .getOrElse(fail(s"$cl LIKE needs a $mode0 index (CREATE " +
            s"INDEX ... ON <table> ($mode0($cl))) — hash-keyed " +
            "indexes scatter adjacent values and cannot serve " +
            s"LIKE (SASI's order-preserving ${mode0.toUpperCase} " +
            "mode)"))
        idxLikes += ((cl, needle, idx, mode, kind))
        false
      case MapEntryPredRe(mc, kq, v)
          if !keyCols.contains(mc.toLowerCase) &&
            !modelCols.contains(mc.toLowerCase) =>
        // map-ENTRY restriction (C64d): `m['k'] = v` — entry keys
        // ARE col names (the row IS the map), so the probe is a
        // (col, value) pair; an entries(<map>) index serves it as
        // one typed point read, ALLOW FILTERING as a cell filter
        val cl = mc.toLowerCase
        val k = literal(kq) match {
          case ks: String => ks
          case o => fail(s"map entry key must be a text literal, " +
            s"got $o")
        }
        if (k.isEmpty || k.startsWith("!"))
          fail(s"unsupported map key: '$k'")
        val pv = dataLit(k, v)
        if (graft.sources.CellIndex.registered(dir)
            .exists(i => graft.sources.CellIndex.columnOf(i)
              .contains(s"entries($cl)")))
          idxEntryPreds += ((cl, k, pv))
        else if (!allowFiltering)
          fail(s"$cl['$k'] = ? needs ALLOW FILTERING (or an " +
            s"entries($cl) index — Cassandra's map-entry 2i)")
        else containsPreds += (col("col") === k &&
          col("value") === lit(pv))
        false
      case PredRe(c, "=", v)
          if !keyCols.contains(c.toLowerCase) &&
            !modelCols.contains(c.toLowerCase) =>
        idxPreds += ((c.toLowerCase, dataLit(c.toLowerCase, v)))
        false
      case PredRe(c, op, v)
          if op != "=" && !keyCols.contains(c.toLowerCase) &&
            !modelCols.contains(c.toLowerCase) &&
            literal(v).isInstanceOf[Long] &&
            rangeIndexOf(c.toLowerCase).isDefined =>
        idxRanges += ((c.toLowerCase, op,
          literal(v).asInstanceOf[Long]))
        false
      case _ => true
    }
    val preds = predicates(regularTerms, dataLit)
    // PER PARTITION LIMIT counts rows INSIDE the merge cursor, i.e.
    // before any residual data predicate — combining them would
    // silently return wrong rows vs CQL (which filters first), so the
    // combination refuses. Key predicates commute with the early-out.
    if (ppl.isDefined && (idxPreds.nonEmpty || idxRanges.nonEmpty ||
        idxLikes.nonEmpty || idxKeyPreds.nonEmpty ||
        containsPreds.nonEmpty ||
        preds.exists(p => !keyCols.contains(p.column))))
      fail("PER PARTITION LIMIT cannot combine with non-key " +
        "predicates (the limit counts rows before the filter)")
    // ck IN pushes only its BOUNDING slice — the in-between rows drop
    // in the residual, AFTER the cursor counted them
    if (ppl.isDefined && regularTerms.exists {
        case InRe(c, _) => c.equalsIgnoreCase("ck")
        case _ => false })
      fail("PER PARTITION LIMIT cannot combine with ck IN (the " +
        "limit counts rows before the IN filter)")
    // WRITETIME(c) / TTL(c) narrow the cell relation with an INTERNAL
    // `col = c` filter — selecting a column by name is key-served in
    // CQL, so that filter must not trip the strictCql guard. The
    // guard's user-facing contract is enforced manually instead: the
    // USER's predicates must still be key-only without ALLOW FILTERING.
    val hasWt = group.isEmpty && cols != "*" &&
      cols.split(',').exists(i =>
        WriteTimeRe.findFirstIn(i).isDefined ||
        MaxWriteTimeRe.findFirstIn(i).isDefined ||
        WtFnEntryRe.findFirstIn(i).isDefined)
    val hasTtl = group.isEmpty && cols != "*" &&
      cols.split(',').exists(i => i.trim match {
        case WtFnEntryRe(fn, _, _, _) => fn.equalsIgnoreCase("TTL")
        case _ => TtlRe.findFirstIn(i).isDefined
      })
    // STATIC columns (C15b): selecting a declared-static name narrows
    // the cell relation to its partition-front `!s:<name>` cell, the
    // same internal-filter contract as WRITETIME/TTL
    val statics = graft.sources.CellSource.staticCols(dir)
    val hasStatic = group.isEmpty && !distinct && cols != "*" &&
      statics.nonEmpty && cols.split(',').exists {
        case ColRe(c, _) => statics.contains(c.toLowerCase)
        case _ => false
      }
    // token() in the SELECT list: the partition token column — pk
    // itself on the default layout (identity tokens), the `_token`
    // pseudo-column on typed layouts (hashed ring position)
    val hasTokSel = group.isEmpty && !distinct && cols != "*" &&
      cols.split(',').exists(i => TokenSelRe.findFirstIn(i).isDefined &&
        TokenPredRe.findFirstIn(i).isEmpty)
    // selecting a frozen<udt> data column (or a field of one, c.f)
    // narrows to that cell — the same internal-filter contract as
    // WRITETIME/TTL/static
    val hasUdtSel = group.isEmpty && !distinct && cols != "*" &&
      udtL.isDefined && cols.split(',').map(_.trim).exists {
        case ColRe(c, _) => !keyCols.contains(c.toLowerCase) &&
          !modelCols.contains(c.toLowerCase)
        case UdtFieldSelRe(_, _, _) => true
        case _ => false
      }
    // a reassembled collection SELECT (C11g) narrows to the named
    // collection's cells — the same relaxed-reader class as the
    // static/WRITETIME narrowing (the col filter is the narrowing,
    // not an unbounded data-filter scan)
    val hasCollSel = group.isEmpty && !distinct && cols != "*" &&
      cqlCollectionOf(dir).isDefined &&
      cols.split(',').map(_.trim).exists {
        case ColRe(c, _) => !keyCols.contains(c.toLowerCase) &&
          !modelCols.contains(c.toLowerCase) &&
          !statics.contains(c.toLowerCase)
        case _ => false
      }
    val fnNarrows = hasWt || hasTtl || hasStatic || hasUdtSel ||
      hasCollSel
    if (fnNarrows && !allowFiltering &&
        preds.exists(p => !keyCols.contains(p.column)))
      fail("WRITETIME/TTL/static with data predicates needs " +
        "ALLOW FILTERING")
    // CQL: SELECT DISTINCT <partition key parts> [, <static cols>] —
    // Cassandra's per-partition listing idiom; statics ride along
    // because they are partition-scoped values (C15b)
    val distinctStatics: Seq[String] =
      if (!distinct) Seq.empty
      else {
        if (group.isDefined || fnNarrows)
          fail("SELECT DISTINCT takes only the partition key")
        val named = cols.split(',').map(_.trim.toLowerCase).toSeq
        val pkN = spec.pkParts.map(_.name.toLowerCase)
        if (named == pkN) Seq.empty
        else if (named.take(pkN.length) == pkN &&
            named.drop(pkN.length).nonEmpty &&
            named.drop(pkN.length).forall(statics.contains))
          named.drop(pkN.length)
        else fail("SELECT DISTINCT must name exactly the partition " +
          s"key (${spec.pkParts.map(_.name).mkString(", ")}), " +
          "optionally followed by static columns")
      }
    // PAGE AFTER '<state>' — C52's paging state through the front
    // door. The state is what a driver would hand back with a page:
    // `pk:ck:col` on the default layout (C52), or per-part
    // `name=value;...;col=<c>` pairs on a typed one (C52b). It lands
    // verbatim on the scan's pageAfter options — the cursor narrows
    // the MERGED read, so it composes with key predicates, but not
    // with index routes or token ranges (each is its own read path
    // with its own resume rules; Cassandra's paging state is likewise
    // bound to the statement shape that produced it).
    if (page.isDefined && (idxPreds.nonEmpty || idxRanges.nonEmpty ||
        idxLikes.nonEmpty || idxKeyPreds.nonEmpty ||
        idxEntryPreds.nonEmpty))
      fail("PAGE AFTER cannot combine with an indexed predicate")
    if (page.isDefined && hasTok)
      fail("PAGE AFTER cannot combine with token() ranges (the " +
        "cursor already fixes the resume position)")
    var df =
      if (idxPreds.nonEmpty) {
        // Index-routed read (C18): restrict the base to the hit pks
        // via the registered index, then re-apply the predicate on
        // the base cells — Cassandra's own index-then-fetch-then-
        // filter contract (index false positives drop here).
        if (idxPreds.length > 1 || idxRanges.nonEmpty ||
            idxLikes.nonEmpty || idxKeyPreds.nonEmpty ||
            idxEntryPreds.nonEmpty)
          fail("one indexed data predicate per statement")
        val (ic, iv) = idxPreds.head
        if (hasTok)
          fail("token ranges cannot combine with an indexed predicate")
        if (fnNarrows || hasTokSel)
          fail("WRITETIME/TTL/token() projections cannot combine " +
            "with an indexed predicate")
        val idxDir = graft.sources.CellIndex.registered(dir)
          .find(i => graft.sources.CellIndex.columnOf(i).contains(ic))
          .getOrElse(fail(s"no secondary index on $ic — create one " +
            "(CREATE INDEX) or use the cell-model columns with " +
            "ALLOW FILTERING"))
        graft.sources.CellIndex.lookupBase(spark, dir, idxDir, iv)
          .filter(col("col") === ic && col("value") === lit(iv))
      } else if (idxEntryPreds.nonEmpty) {
        // entries-index route (C64d): the (key, value) pair packs to
        // the SAME bytes the build wrote (the C59 wire format), so
        // the probe is ONE typed point read of the index — then the
        // hit set composes into the base multiget and the (col,
        // value) predicate re-applies on the base cells (refresh
        // epochs and overwritten entries drop there). The result
        // relation surfaces the matching ENTRY cells.
        if (idxEntryPreds.length > 1 || idxRanges.nonEmpty ||
            idxLikes.nonEmpty || idxKeyPreds.nonEmpty)
          fail("one indexed data predicate per statement")
        val (mc, k, pv) = idxEntryPreds.head
        if (hasTok)
          fail("token ranges cannot combine with an indexed predicate")
        if (fnNarrows || hasTokSel)
          fail("WRITETIME/TTL/token() projections cannot combine " +
            "with an indexed predicate")
        val idxDir = graft.sources.CellIndex.registered(dir)
          .find(i => graft.sources.CellIndex.columnOf(i)
            .contains(s"entries($mc)")).get
        val lt = graft.sources.CellIndex.entriesLayoutType(
          graft.sources.CellSource.valueTypeOf(dir))
        val packExternal: Any = pv match {
          case i: Int => i.toLong // the pack layer's int-field input
          case o => o
        }
        val packed = graft.functions.UdtValues.pack(
          s"k string,v $lt", Map("k" -> k, "v" -> packExternal))
        graft.sources.CellIndex.lookupBase(spark, dir, idxDir, packed)
          .filter(col("col") === k && col("value") === lit(pv))
      } else if (idxKeyPreds.nonEmpty) {
        // keys-index route (C64c): restrict the base to the pks whose
        // rows carry the entry key, then re-apply the col predicate
        // on the base cells — the same index-then-fetch-then-filter
        // contract as the values route (refresh-epoch false positives
        // drop on the re-read). The result relation surfaces the
        // matching ENTRY cells, as the ALLOW FILTERING form does.
        if (idxKeyPreds.length > 1 || idxRanges.nonEmpty ||
            idxLikes.nonEmpty)
          fail("one indexed data predicate per statement")
        val (mc, k) = idxKeyPreds.head
        if (hasTok)
          fail("token ranges cannot combine with an indexed predicate")
        if (fnNarrows || hasTokSel)
          fail("WRITETIME/TTL/token() projections cannot combine " +
            "with an indexed predicate")
        val idxDir = graft.sources.CellIndex.registered(dir)
          .find(i => graft.sources.CellIndex.columnOf(i)
            .contains(s"keys($mc)")).get
        graft.sources.CellIndex.lookupBase(spark, dir, idxDir, k)
          .filter(col("col") === k)
      } else if (idxRanges.nonEmpty) {
        // Indexed RANGE read (C18e through the front door): the value
        // bounds push as a Summary-pruned pk range over the
        // identity-token index — only index files OVERLAPPING the
        // value range open — then the hit set composes into the base
        // read and the predicate re-applies on the base cells
        // (refresh-epoch false positives drop), Cassandra's
        // index-then-fetch-then-filter, SASI sparse mode.
        val rangeCols = idxRanges.map(_._1).distinct
        if (rangeCols.length > 1 || idxLikes.nonEmpty)
          fail("one indexed data column per statement")
        val ic = rangeCols.head
        if (hasTok)
          fail("token ranges cannot combine with an indexed predicate")
        if (fnNarrows || hasTokSel)
          fail("WRITETIME/TTL/token() projections cannot combine " +
            "with an indexed predicate")
        var lo = Long.MinValue
        var hi = Long.MaxValue
        var empty = false
        idxRanges.foreach { case (_, op, x) => op match {
          case ">" =>
            if (x == Long.MaxValue) empty = true
            else lo = math.max(lo, x + 1)
          case ">=" => lo = math.max(lo, x)
          case "<" =>
            if (x == Long.MinValue) empty = true
            else hi = math.min(hi, x - 1)
          case "<=" => hi = math.min(hi, x)
        }}
        if (empty || lo > hi) { lo = 1L; hi = 0L } // provably empty
        graft.sources.CellIndex.lookupBaseRange(spark, dir,
            rangeIndexOf(ic).get, lo, hi)
          .filter(col("col") === ic &&
            col("value") >= lo && col("value") <= hi)
      } else if (idxLikes.nonEmpty) {
        // Indexed PREFIX read (C18i through the front door): the
        // pattern's prefix becomes ONE closed pk range over the
        // order-preserving prefix index — the exact C18e plan shape,
        // Summary-pruned — then the hit set composes into the base
        // read and the LIKE predicate re-applies on the base cells
        // (8-byte key collisions and refresh-epoch false positives
        // drop), SASI's index-then-fetch-then-filter in PREFIX mode.
        if (idxLikes.length > 1)
          fail("one indexed data predicate per statement")
        val (lc, needle, idxDir, mode, kind) = idxLikes.head
        if (hasTok)
          fail("token ranges cannot combine with an indexed predicate")
        if (fnNarrows || hasTokSel)
          fail("WRITETIME/TTL/token() projections cannot combine " +
            "with an indexed predicate")
        // CONTAINS mode (C18j) rides the SAME closed code range —
        // `sub` is a substring iff it PREFIXES one of the indexed
        // suffixes — with the residual re-check being contains().
        // The SUFFIX shape (C18l) narrows further: `s` is a suffix
        // iff it EQUALS one of the indexed suffixes, so the probe is
        // the single code POINT [encode(s), encode(s)] (plus 8-byte
        // collisions the endswith re-check drops) — one pruned point
        // read instead of a range.
        // The _ci analyzer modes (C18k) indexed lower(value), so the
        // probe lowercases the needle and the re-check compares on
        // lower(value).
        val ciMode = mode.endsWith("_ci")
        // Locale.ROOT: the index side lowercases with Spark's
        // lower() (locale-independent UTF8String semantics) — a
        // locale-sensitive default here (Turkish dotted/dotless I)
        // would derive a DIFFERENT probe code and miss matches
        val probe =
          if (ciMode) needle.toLowerCase(java.util.Locale.ROOT)
          else needle
        val hits =
          if (kind == "suffix") {
            val code = graft.functions.PrefixCodec.lowBound(
              org.apache.spark.unsafe.types.UTF8String
                .fromString(probe).getBytes)
            graft.sources.CellIndex.lookupBaseRange(spark, dir,
              idxDir, code, code)
          } else
            graft.sources.CellIndex.lookupBasePrefix(spark, dir,
              idxDir, probe)
        hits
          .filter(col("col") === lc && {
            val v = if (ciMode) lower(col("value")) else col("value")
            kind match {
              case "contains" => v.contains(probe)
              case "suffix" => v.endsWith(probe)
              case _ => v.startsWith(probe)
            }
          })
      } else {
        // a MATERIALIZED VIEW directory heals before serving — a
        // stale view (out-of-band base flush that bypassed the
        // write-through commit) must never answer silently wrong
        if (graft.sources.CellView.isStale(dir))
          graft.sources.CellView.refresh(spark, dir)
        val relaxed = allowFiltering || fnNarrows ||
          distinctStatics.nonEmpty
        val aggOnly = cols != "*" && splitItems(cols).forall(isAggItem)
        // the scan's options — one map, handed to either the
        // DataFrame reader or the driver-local read below
        val opts = scala.collection.mutable.LinkedHashMap(
          "reconcile" -> "true",
          "strictCql" -> (!relaxed).toString,
          "allowFiltering" -> relaxed.toString)
        // WITH CLUSTERING ORDER BY (... DESC): serve the DECLARED
        // order — partitions stream tail-first through the C39
        // reverse cursor, so LIMIT takes the newest rows and PER
        // PARTITION LIMIT keeps the last n (THE time-series idiom).
        // Explicit ORDER BY, paging, DISTINCT and aggregates define
        // their own order and skip the reversal.
        if (order.isEmpty && page.isEmpty && group.isEmpty &&
            !distinct && !aggOnly &&
            graft.sources.CellSource.clusteringDesc(dir))
          opts("reverse") = "true"
        // counter tables read in shard-SUM mode (C10): value = Σ
        // deltas per (pk, ck, col), wt = max shard wt
        if (isCounter(dir)) opts("counter") = "true"
        // a DDL-created frozen<udt> table serves binary cells BEFORE
        // its first flush (headers win once they exist)
        if (udtL.isDefined) opts("valueType") = "binary"
        // TTL(c) needs the winning cell's absolute expiry pseudo-column
        if (hasTtl) opts("withTtl") = "true"
        if (hasTok && !tokEmpty) opts("tokenRange") = s"$tokLo:$tokHi"
        page.foreach { st =>
          // route on the TABLE's key layout, not the state string's
          // content — on a default-layout table the col segment is a
          // verbatim data cell and may itself contain '='
          if (!spec.isDefault) {
            // typed per-part form: name=value pairs, one per pk/ck
            // part plus col — the scan validates completeness and
            // parses each by the part's key type
            st.split(';').iterator.map(_.trim).filter(_.nonEmpty)
              .foreach { kv =>
                val i = kv.indexOf('=')
                if (i <= 0) fail(s"PAGE AFTER pair must be " +
                  s"name=value, got '$kv'")
                opts(s"pageAfter.${kv.substring(0, i).trim.toLowerCase}") =
                  kv.substring(i + 1).trim
              }
          } else opts("pageAfter") = st
        }
        ppl.foreach(n => opts("perPartitionLimit") = n.toString)
        // A single-partition SELECT whose only operators above the
        // scan are filters, projections and LIMIT reads DRIVER-LOCAL
        // (Cassandra's replica-local read): the same scan builder,
        // options and pushed key filters, run on the driver — no Spark
        // job. Forms that need an operator above the scan (ORDER BY,
        // GROUP BY and aggregates, DISTINCT, paging, token() ranges,
        // collection/unfrozen-UDT reassembly) and the index routes
        // above keep the DataFrame scan.
        val pointFilters =
          if (hasTok || page.isDefined || order.isDefined ||
              group.isDefined || distinct || aggOnly ||
              (cols != "*" && (cqlCollectionOf(dir).isDefined ||
                (udtL.isDefined && udtUnfrozenOf(dir))))) None
          else partitionKeyFilters(spec, regularTerms, relaxed)
        // When every WHERE term is a key term pushed as a filter (the
        // local read re-applies each exactly) and the select list is
        // `*` or plain key and cell-model columns, the driver also
        // projects and limits the rows and returns ONE local relation
        // of final rows. Every other shape (WRITETIME/TTL, CAST, UDFs,
        // UDT fields, statics, token(), JSON, CONTAINS and data
        // predicates under ALLOW FILTERING) keeps Catalyst's filter,
        // projection and LIMIT over the local relation.
        val plainItems: Option[Seq[(String, String)]] =
          if (cols == "*") Some(Nil)
          else {
            val items = splitItems(cols)
            val plain = items.collect {
              case ColRe(c, alias)
                  if keyCols(c.toLowerCase) || modelCols(c.toLowerCase) =>
                (c, Option(alias).getOrElse(c))
            }
            if (plain.length == items.length) Some(plain) else None
          }
        val loaded = pointFilters match {
          case Some(fs) =>
            import scala.jdk.CollectionConverters._
            val (schema, rows) = graft.sources.CellSource
              .localReconciledRowsWhere(dir, fs, opts.toMap)
            if (!json && !fnNarrows && !hasTokSel && containsPreds.isEmpty &&
                fs.length == regularTerms.length && plainItems.isDefined)
              return localResult(spark, schema, rows, plainItems.get, lim)
            spark.createDataFrame(rows.asJava, schema)
          case None =>
            spark.read.format(Fmt).options(opts).load(dir)
        }
        if (tokEmpty) loaded.filter(lit(false)) else loaded
      }
    preds.foreach(p => df = df.filter(p.filter))
    containsPreds.foreach(p => df = df.filter(p))
    if (distinct) {
      val pkCols = spec.pkParts.map(p => col(p.name))
      val base = df
      df = df.select(pkCols.toIndexedSeq: _*).distinct()
      // distinct partitions LEFT-JOIN their static cells (an absent
      // static is null, Cassandra's own shape); both sides key on the
      // partition key, so the join co-partitions with the distinct
      distinctStatics.foreach { c =>
        val sc = base
          .filter(col("col") ===
            (graft.sources.CellSource.StaticPrefix + c))
          .select((pkCols :+ col("value").as(c)).toIndexedSeq: _*)
        df = df.join(sc, spec.pkParts.map(_.name), "left")
      }
    }
    group match {
      case _ if distinct => // projection handled above
      case None if cols != "*" && splitItems(cols).forall(isAggItem) =>
        // global aggregates (no GROUP BY): SELECT count(*) / max(wt)
        // … over the RECONCILED relation — deliberately NOT the C20
        // header pushdown (headers describe RAW cells; CQL aggregates
        // are post-merge), so the plan is the column-pruned reconcile
        // scan + map-side partial aggregation. Registered UDAs (C71)
        // fold in clustering order via the sorted-collect aggregate.
        val aggs = splitItems(cols).map { item =>
          udaItem(item) match {
            case Some((f, arg, alias)) =>
              expr(udaFoldSql(spark, ksDirPath, udas(f), arg, udaOrder))
                .as(alias.getOrElse(s"$f($arg)"))
            case None => item match {
              case AggRe(fn, arg, alias) =>
                aggColumn(fn, arg).as(Option(alias).getOrElse(
                  s"${fn.toLowerCase}(${arg.toLowerCase})"))
            }
          }
        }
        df = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
      case g => g match {
      case Some(g) =>
        val keys = g.split(',').map(_.trim).filter(_.nonEmpty)
        // Cassandra's GROUP BY rule (3.10+): the group columns must
        // be a PREFIX of the primary key — partition parts first,
        // then clustering parts in declared order. Grouping by a
        // data column has no single-pass order to exploit and
        // Cassandra refuses it.
        val keyOrder = (spec.pkParts ++ spec.ckParts)
          .map(_.name.toLowerCase).toSeq
        if (keys.map(_.toLowerCase).toSeq !=
            keyOrder.take(keys.length))
          fail("GROUP BY must name a primary-key prefix (" +
            keyOrder.mkString(", ") + "), got: " +
            keys.mkString(", "))
        // a PARTIAL partition key never groups: Cassandra's rule —
        // partitions hash on the WHOLE key, so pk1 of ((pk1, pk2))
        // rows are scattered and no single-pass order exists
        if (keys.length < spec.pkParts.length)
          fail("Group by is not supported on only a part of the " +
            "partition key (bind all of " +
            spec.pkParts.map(_.name.toLowerCase).mkString(", ") + ")")
        val aggs = splitItems(cols).flatMap { item =>
          udaItem(item) match {
            case Some((f, arg, alias)) =>
              Some(expr(udaFoldSql(spark, ksDirPath, udas(f), arg, udaOrder))
                .as(alias.getOrElse(s"$f($arg)")))
            case None => item match {
              case ColRe(c, _)
                  if keys.exists(_.equalsIgnoreCase(c)) => None
              case AggRe(fn, arg, alias) =>
                Some(aggColumn(fn, arg).as(Option(alias).getOrElse(
                  s"${fn.toLowerCase}(${arg.toLowerCase})")))
              case c =>
                fail(s"non-aggregate select item under GROUP BY: $c")
            }
          }
        }
        if (aggs.isEmpty) fail("GROUP BY needs at least one aggregate")
        df = df.groupBy(keys.map(col).toIndexedSeq: _*)
          .agg(aggs.head, aggs.tail.toIndexedSeq: _*)
      case None if cols != "*" &&
          splitItems(cols).exists(i => udfItem(i).isDefined) =>
        // C71 scalar UDFs in the select list: registered function
        // calls over key/cell-model columns, mixed with plain
        // columns; each call binds its declared argument names as
        // one-element-transform lambda variables, so the validated
        // body applies verbatim inside whole-stage codegen
        val legal = keyCols ++ modelCols
        val items = splitItems(cols).map { i =>
          udfItem(i) match {
            case Some((f, actuals, alias)) =>
              val fn = udfs(f)
              if (actuals.length != fn.args.length)
                fail(s"$f takes ${fn.args.length} argument(s), " +
                  s"got ${actuals.length}")
              actuals.foreach(a => if (!legal.contains(a))
                fail(s"$f arguments are key/cell-model columns, " +
                  s"got: $a"))
              expr(applyFnSql(fn, actuals))
                .as(alias.getOrElse(s"$f(${actuals.mkString(", ")})"))
            case None => i match {
              case ColRe(c, alias) if legal.contains(c.toLowerCase) =>
                col(c.toLowerCase)
                  .as(Option(alias).getOrElse(c.toLowerCase))
              case o => fail("cannot combine " + o + " with UDF " +
                "projections in this subset")
            }
          }
        }
        df = df.select(items.toIndexedSeq: _*)
      case None if cols != "*" &&
          splitItems(cols).exists(CastRe.findFirstIn(_).isDefined) =>
        // C65t — CAST(col AS type) selection casts (Cassandra 3.2+):
        // a PROJECTION-ONLY rewrite over key/cell-model columns, so
        // the cast runs inside whole-stage codegen on the reconciled
        // relation and never touches the scan's pushdown. The target
        // subset is text/bigint/int/double with Cassandra's own
        // direction rules: numerics cast anywhere (narrowing
        // TRUNCATES toward zero — Java/Cassandra semantics),
        // boolean/timestamp render to text only, text casts to text
        // alone (string-to-number casts are NOT in Cassandra's CAST
        // matrix), binary refuses.
        //
        // MAPPED declared types serve through their DECLARED
        // semantics (C65y, r16) — never the storage rendering:
        // `CAST(value AS text)` on a date table prints the ISO date
        // (Cassandra's own CAST(date AS text)), a time value its
        // fixed-width HH:MM:SS.fffffffff, uuid/timeuuid/inet/ascii
        // their canonical text; the numeric-storage mapped types
        // (float/decimal/varint/smallint/tinyint) cast exactly as
        // their numeric storage does (the declared semantics ARE the
        // number); duration and vector refuse — outside Cassandra's
        // CAST matrix.
        if (udtL.isDefined || udtUnfrozenOf(dir))
          fail("CAST on UDT-valued tables is outside this subset")
        if (mappedCt.exists(t => t == "duration" ||
            t.startsWith("vector<")))
          fail(s"CAST on ${mappedCt.get}-valued tables is outside " +
            "Cassandra's CAST matrix")
        val castLegal = keyCols ++ modelCols
        def sparkCastTarget(t: String)
            : org.apache.spark.sql.types.DataType = t match {
          case "text" | "varchar" | "ascii" =>
            org.apache.spark.sql.types.StringType
          case "bigint" => org.apache.spark.sql.types.LongType
          case "int" => org.apache.spark.sql.types.IntegerType
          case "double" => org.apache.spark.sql.types.DoubleType
          case o => fail(s"CAST target $o is outside this subset " +
            "(text/bigint/int/double)")
        }
        val castItems = splitItems(cols).map {
          case CastRe(c0, t0, alias) =>
            val c = c0.toLowerCase
            val t = t0.toLowerCase
            if (!castLegal.contains(c))
              fail("CAST argument must be a key or cell-model " +
                s"column, got: $c")
            val tgt = sparkCastTarget(t)
            import org.apache.spark.sql.types._
            val outName = Option(alias).getOrElse(s"cast($c as $t)")
            val declared = mappedCt.filter(_ => c == "value")
            declared match {
              // declared-semantics renderings: text targets only
              case Some("date") =>
                if (tgt != StringType)
                  fail(s"cannot CAST date column $c to $t " +
                    "(date casts to text in this subset)")
                expr("cast(date_from_unix_date(value) as string)")
                  .as(outName)
              case Some("time") =>
                if (tgt != StringType)
                  fail(s"cannot CAST time column $c to $t " +
                    "(time casts to text in this subset)")
                expr(TimeRenderSql).as(outName)
              case Some(dt @ ("uuid" | "timeuuid" | "inet" |
                  "ascii")) =>
                if (tgt != StringType)
                  fail(s"cannot CAST $dt column $c to $t " +
                    s"($dt casts to text)")
                col(c).as(outName)
              case _ =>
                // plain columns, and the numeric-storage mapped
                // types whose declared semantics ARE the number
                val src = df.schema(c).dataType
                val ok = src match {
                  case LongType | IntegerType | DoubleType |
                      _: DecimalType => true
                  case BooleanType | TimestampType =>
                    tgt == StringType
                  case StringType => tgt == StringType
                  case _ => false
                }
                if (!ok)
                  fail(s"cannot CAST " +
                    s"${SystemSchema.cqlTypeName(src)} " +
                    s"column $c to $t (Cassandra's CAST matrix: " +
                    "numerics anywhere, boolean/timestamp to text, " +
                    "text to text)")
                col(c).cast(tgt).as(outName)
            }
          case i => i match {
            case ColRe(c, alias) if castLegal.contains(c.toLowerCase) =>
              col(c.toLowerCase)
                .as(Option(alias).getOrElse(c.toLowerCase))
            case o => fail("cannot combine " + o + " with CAST " +
              "projections in this subset")
          }
        }
        df = df.select(castItems.toIndexedSeq: _*)
      case None if cols != "*" =>
        val rawItems = cols.split(',').map(_.trim)
        // CQL's WRITETIME(c) / TTL(c): the named cell's writetime /
        // stored ttl. The cell relation stores wt (and, under
        // withTtl, the absolute `_expiry`) per cell, so the select
        // narrows to that ONE data column (filter col = c) and
        // projects value/wt/expiry — mixing data columns under these
        // needs the wide view and refuses here. TTL(c) = expiry - wt
        // (the ttl the cell was WRITTEN with, in wt-units; NULL for
        // no expiry) — `USING TTL n` round-trips to n.
        val wtCols = rawItems.collect {
          case WriteTimeRe(c, _) => c.toLowerCase }
        val ttlCols = rawItems.collect {
          case TtlRe(c, _) => c.toLowerCase }
        // C15c — entry-addressed fns (`WRITETIME(m['k'])`): the
        // target cell is the ENTRY's own (col = key, case preserved
        // — map keys are data); declared non-map collections refuse
        val entryFns: Seq[(String, String, String)] =
          rawItems.toSeq.collect {
            case WtFnEntryRe(fn, m, kq, _) =>
              val k = literal(kq) match {
                case s: String => s
                case o => fail(s"map entry key must be a text " +
                  s"literal, got $o")
              }
              if (k.isEmpty || k.startsWith("!"))
                fail(s"unsupported map key: '$k'")
              cqlCollectionOf(dir).foreach(sp =>
                if (!sp.startsWith("map<"))
                  fail(s"${fn.toLowerCase}(${m.toLowerCase}['…']) " +
                    s"addresses map entries; ${m.toLowerCase} is " +
                    s"declared $sp"))
              (fn.toLowerCase, m.toLowerCase, k)
          }
        // C15c — MAXWRITETIME(c): scalar columns ride the ordinary
        // narrowing (one cell = its writetime); declared collections
        // take the grouped-max arm below
        val maxWtCols = rawItems.collect {
          case MaxWriteTimeRe(c, _)
              if !keyCols.contains(c.toLowerCase) &&
                !modelCols.contains(c.toLowerCase) => c.toLowerCase }
        val dataCols = rawItems.collect {
          case ColRe(c, _)
              if !keyCols.contains(c.toLowerCase) &&
                !Seq("col", "value", "wt").contains(c.toLowerCase) =>
            c.toLowerCase
        }
        // UDT field selections c.f (C59b) target their parent column
        val udtFields = rawItems.collect {
          case UdtFieldSelRe(c, f, _) => (c.toLowerCase, f.toLowerCase)
        }
        if (udtFields.nonEmpty && udtL.isEmpty)
          fail("field selection (column.field) needs a UDT " +
            "value column")
        // per-FIELD WRITETIME/TTL (r14): `WRITETIME(c.f)` on a
        // NON-frozen UDT column narrows to that one field cell —
        // which carries its own writetime/expiry by construction —
        // through the ordinary narrowing path below; frozen/plain
        // tables refuse the dotted form (one cell, one writetime)
        val dottedFns = (wtCols ++ ttlCols).filter(_.contains("."))
        if (dottedFns.nonEmpty) {
          if (udtL.isEmpty || !udtUnfrozenOf(dir))
            fail("WRITETIME/TTL(col.field) needs a non-frozen UDT " +
              "column (frozen values carry ONE writetime — use " +
              "WRITETIME(col))")
          val declared = graft.functions.UdtValues.fields(udtL.get)
          dottedFns.foreach { t =>
            val f = t.substring(t.indexOf('.') + 1)
            if (!declared.contains(f))
              fail(s"unknown UDT field $f of " +
                s"${t.takeWhile(_ != '.')} (declared: " +
                declared.mkString(", ") + ")")
          }
        }
        if (udtL.isDefined && udtUnfrozenOf(dir) &&
            (udtFields.nonEmpty || dataCols.nonEmpty ||
             wtCols.exists(!_.contains(".")) ||
             ttlCols.exists(!_.contains(".")))) {
          // UNFROZEN udt projection (C59d): the value lives as one
          // cell PER FIELD (`c.f` → single-field blob), so the select
          // pivots the row's live field cells back into one output
          // row — group by the key, one agg slot per declared field
          // (the reconcile merge already picked each field's LWW
          // winner, so the agg sees at most one cell per slot). A row
          // with NO live field cells has no cells to group — it
          // disappears, exactly like a fully-shadowed frozen blob.
          if (wtCols.nonEmpty || ttlCols.nonEmpty)
            fail("WRITETIME/TTL of an unfrozen UDT column takes a " +
              "FIELD — WRITETIME(col.field) — each field cell " +
              "carries its own writetime; the whole column has none")
          val targets = (udtFields.map(_._1) ++ dataCols).distinct
          if (targets.length != 1)
            fail("select exactly one UDT data column per " +
              s"statement, got: ${targets.mkString(", ")}")
          val c = targets.head
          val layout = udtL.get
          val declared = graft.functions.UdtValues.fields(layout)
          udtFields.foreach { case (_, f) =>
            if (!declared.contains(f))
              fail(s"unknown UDT field $f of $c (declared: " +
                declared.mkString(", ") + ")")
          }
          graft.GraftExtensions.register(spark)
          // the cells live under the STORAGE field names (C67e
          // rename alias); output slots keep the declared names
          val fieldCells = declared.map(f =>
            s"$c.${storageField(dir)(f)}")
          val cells = df.filter(
            col("col").isin(fieldCells.map(x => x: Any): _*))
          val aggs = declared.map(f =>
            max(when(col("col") === s"$c.${storageField(dir)(f)}",
              col("value"))).as(s"_b_$f"))
          // group by THIS table's key layout: (pk, ck) on the
          // default spec, the named parts on a typed one (C59e)
          val keyParts = (spec.pkParts ++ spec.ckParts).map(_.name)
          val grouped = cells
            .groupBy(keyParts.map(col).toIndexedSeq: _*)
            .agg(aggs.head, aggs.tail.toIndexedSeq: _*)
          def fieldOf(f: String): Column =
            expr(s"graft_udt_unpack('$layout', _b_$f)").getField(f)
          val items = rawItems.map {
            case UdtFieldSelRe(nm, f, alias)
                if nm.equalsIgnoreCase(c) =>
              fieldOf(f.toLowerCase)
                .as(Option(alias).getOrElse(s"$c.${f.toLowerCase}"))
            case ColRe(n, alias) if n.equalsIgnoreCase(c) =>
              // whole-column selection re-assembles the struct from
              // the per-field slots (Cassandra renders the same row)
              struct(declared.map(f => fieldOf(f).as(f))
                .toIndexedSeq: _*).as(Option(alias).getOrElse(c))
            case ColRe(n, alias) if keyCols.contains(n.toLowerCase) =>
              Option(alias).map(col(n).as(_)).getOrElse(col(n))
            case x => fail("unsupported select item with an " +
              s"unfrozen UDT column: $x")
          }
          df = grouped.select(items.toIndexedSeq: _*)
        } else if (cqlCollectionOf(dir).isDefined && dataCols.nonEmpty &&
            wtCols.isEmpty && ttlCols.isEmpty &&
            !dataCols.exists(statics.contains)) {
          // C11g — REASSEMBLED collection SELECT (r16): on a DECLARED
          // collection table (C65z), naming the column returns the
          // whole collection per row — Cassandra's own result shape —
          // instead of the element-cell relation. Lists reassemble in
          // ck (position) order, sets sorted-distinct, maps as the
          // (pk, ck) row's entries sorted by key. The groupBy keys on
          // the partition (the collection's owner), so a pk-restricted
          // statement stays a pushed point read + tiny local agg.
          val kind = cqlCollectionOf(dir).get.takeWhile(_ != '<')
          if (dataCols.length != 1)
            fail("select exactly one collection column per " +
              s"statement, got: ${dataCols.mkString(", ")}")
          val c = dataCols.head
          val groupKeys =
            if (kind == "map") Seq("pk", "ck") else Seq("pk")
          rawItems.foreach {
            case ColRe(n, _) if n.equalsIgnoreCase(c) ||
                groupKeys.contains(n.toLowerCase) =>
            case x => fail(s"a reassembled $kind select takes " +
              s"${groupKeys.mkString(", ")} and the collection " +
              s"column, got: $x")
          }
          // graft_collect_bounded: the fold is bounded by the
          // collection's element count — an adversarially wide one
          // fails by name instead of an executor OOM (the C71/C11
          // wide-partition guard)
          graft.GraftExtensions.register(spark)
          val lim = graft.functions.BoundedCollect.maxGroupWidth(spark)
          val assembled = kind match {
            case "list" =>
              df.filter(col("col") === c)
                .groupBy(col("pk"))
                .agg(expr("transform(array_sort(" +
                  s"graft_collect_bounded(struct(ck, value), $lim)), " +
                  "x -> x.value)").as(c))
            case "set" =>
              df.filter(col("col") === c)
                .groupBy(col("pk"))
                .agg(expr("array_sort(array_distinct(" +
                  s"graft_collect_bounded(value, $lim)))").as(c))
            case _ => // map: the (pk, ck) row IS the map, entries
              // col-keyed. Tombstone markers never reach a
              // reconciled read, but STATIC cells (`!s:<name>`,
              // C15b) are data and DO — without the filter a map
              // table with a static column would emit a phantom
              // (pk, Int.MinValue) row whose "map" holds the
              // static's marker-prefixed cell
              df.filter(!col("col").startsWith("!"))
                .groupBy(col("pk"), col("ck"))
                .agg(expr("map_from_entries(array_sort(" +
                  s"graft_collect_bounded(struct(col, value), $lim)))")
                  .as(c))
          }
          val items = rawItems.map {
            case ColRe(n, alias) =>
              Option(alias).map(col(n.toLowerCase).as(_))
                .getOrElse(col(n.toLowerCase))
          }
          df = assembled.select(items.toIndexedSeq: _*)
        } else if (maxWtCols.nonEmpty &&
            cqlCollectionOf(dir).isDefined &&
            !maxWtCols.exists(statics.contains)) {
          // (a STATIC target on a collection table is NOT the
          // collection — it falls to the scalar arm below, whose
          // cellName routes to the '!s:' partition-front cell)
          // C15c — MAXWRITETIME over a DECLARED collection: the
          // row's largest element writetime, a per-owner max over
          // the collection's cells (the C11g owner-key discipline:
          // lists/sets own per pk, maps per (pk, ck) row); the
          // filter IS the narrowing, statics/markers excluded
          val kind = cqlCollectionOf(dir).get.takeWhile(_ != '<')
          if (maxWtCols.length != 1 || wtCols.nonEmpty ||
              ttlCols.nonEmpty || dataCols.nonEmpty ||
              entryFns.nonEmpty)
            fail("MAXWRITETIME of a collection selects exactly one " +
              "column per statement")
          val c = maxWtCols.head
          val groupKeys =
            if (kind == "map") Seq("pk", "ck") else Seq("pk")
          val grouped = (kind match {
            case "map" => df.filter(!col("col").startsWith("!"))
              .groupBy(col("pk"), col("ck"))
            case _ => df.filter(col("col") === c).groupBy(col("pk"))
          }).agg(max(col("wt")).as("__mwt"))
          val items = rawItems.map {
            case MaxWriteTimeRe(_, alias) =>
              col("__mwt").as(Option(alias)
                .getOrElse(s"maxwritetime($c)"))
            case ColRe(n, alias) if groupKeys.contains(n.toLowerCase) =>
              Option(alias).map(col(n.toLowerCase).as(_))
                .getOrElse(col(n.toLowerCase))
            case x => fail(s"MAXWRITETIME of a collection projects " +
              s"${groupKeys.mkString(", ")} and the function, got: $x")
          }
          df = grouped.select(items.toIndexedSeq: _*)
        } else if (wtCols.nonEmpty || ttlCols.nonEmpty ||
            maxWtCols.nonEmpty || entryFns.nonEmpty ||
            dataCols.exists(statics.contains) ||
            udtFields.nonEmpty ||
            (udtL.isDefined && dataCols.nonEmpty)) {
          val targets = (wtCols ++ ttlCols ++ maxWtCols ++
            entryFns.map(_._3) ++ dataCols ++
            udtFields.map(_._1)).distinct
          if (targets.length != 1)
            fail("WRITETIME/TTL/static select exactly one data " +
              s"column per statement, got: ${targets.mkString(", ")}")
          val c = targets.head
          val cellName =
            if (statics.contains(c))
              graft.sources.CellSource.StaticPrefix + c
            else if (c.contains(".") && udtUnfrozenOf(dir)) {
              // per-field narrowing addresses the STORAGE field name
              // (C67e rename alias)
              val i = c.indexOf('.')
              c.substring(0, i + 1) +
                storageField(dir)(c.substring(i + 1))
            } else c
          df = df.filter(col("col") === cellName)
          // frozen<udt> projection (C59b): unpack the winning blob
          // through the schema layer — LWW ran on the BLOB (C59's
          // byte-compare rule); only the projection knows fields
          def udtUnpack: Column = {
            graft.GraftExtensions.register(spark)
            expr(s"graft_udt_unpack('${udtL.get}', value)")
          }
          val items = rawItems.map {
            case WriteTimeRe(_, alias) =>
              col("wt").as(Option(alias).getOrElse(s"writetime($c)"))
            case TtlRe(_, alias) =>
              when(col("_expiry") === lit(Long.MaxValue), lit(null))
                .otherwise(col("_expiry") - col("wt"))
                .as(Option(alias).getOrElse(s"ttl($c)"))
            // C15c — entry fns narrow to the entry's own cell: its
            // writetime IS the max (one cell), TTL reads its expiry
            case WtFnEntryRe(fn, m, kq, alias) =>
              val k = literal(kq).asInstanceOf[String]
              val name = Option(alias).getOrElse(
                s"${fn.toLowerCase}(${m.toLowerCase}['$k'])")
              if (fn.equalsIgnoreCase("TTL"))
                when(col("_expiry") === lit(Long.MaxValue), lit(null))
                  .otherwise(col("_expiry") - col("wt")).as(name)
              else col("wt").as(name)
            // C15c — MAXWRITETIME on a scalar column: one cell per
            // row, so the max IS the writetime
            case MaxWriteTimeRe(n, alias) if n.equalsIgnoreCase(c) =>
              col("wt").as(Option(alias)
                .getOrElse(s"maxwritetime($c)"))
            case UdtFieldSelRe(nm, f, alias) if nm.equalsIgnoreCase(c) =>
              val fn = f.toLowerCase
              if (!graft.functions.UdtValues.fields(udtL.get)
                  .contains(fn))
                fail(s"unknown UDT field $fn of $c (declared: " +
                  graft.functions.UdtValues.fields(udtL.get)
                    .mkString(", ") + ")")
              udtUnpack.getField(fn)
                .as(Option(alias).getOrElse(s"$c.$fn"))
            case ColRe(n, alias)
                if n.equalsIgnoreCase(c) && udtL.isDefined =>
              udtUnpack.as(Option(alias).getOrElse(c))
            case ColRe(n, alias) if n.equalsIgnoreCase(c) =>
              col("value").as(Option(alias).getOrElse(c))
            case ColRe(n, alias) =>
              Option(alias).map(col(n).as(_)).getOrElse(col(n))
            case x => fail(s"unsupported select item: $x")
          }
          df = df.select(items.toIndexedSeq: _*)
        } else {
          val items = rawItems.map {
            case t @ TokenSelRe(parts, alias)
                if TokenPredRe.findFirstIn(t).isEmpty =>
              val named = parts.split(',').map(_.trim.toLowerCase).toSeq
              if (named != spec.pkParts.map(_.name.toLowerCase))
                fail("token() must name the partition key (" +
                  spec.pkParts.map(_.name).mkString(", ") + ")")
              // identity tokens on the default layout; typed layouts
              // compute the ring position with the connector's own
              // codec (the C45 graft_token expression — part types
              // come from the key columns, so type-strictness holds)
              val src =
                if (spec.isDefault) col("pk")
                else {
                  graft.GraftExtensions.register(spark)
                  expr(s"graft_token(${named.mkString(", ")})")
                }
              src.as(Option(alias).getOrElse("token"))
            case ColRe(c, alias) =>
              Option(alias).map(col(c).as(_)).getOrElse(col(c))
            case c => fail(s"unsupported select item: $c")
          }
          df = df.select(items.toIndexedSeq: _*)
        }
      case None => // SELECT *
      }
    }
    // ORDER BY / LIMIT run on the row relation BEFORE any JSON
    // rendering (cqlsh orders rows, then renders each as JSON) — the
    // ordering columns no longer exist after the to_json projection.
    order.foreach { o =>
      val keys = o.split(',').map(_.trim).filter(_.nonEmpty).map { k =>
        val parts = k.split("\\s+")
        if (parts.length > 1 && parts(1).equalsIgnoreCase("DESC"))
          col(parts(0)).desc
        else col(parts(0)).asc
      }
      df = df.orderBy(keys.toIndexedSeq: _*)
    }
    lim.foreach(n => df = df.limit(n))
    if (json) {
      // C63b: a DATE-typed value column renders as Cassandra's JSON
      // date string, not the stored day count — the one mapped type
      // whose storage is not already its JSON rendering in this
      // subset (uuid/inet/duration are their text, the numerics are
      // their numbers; timestamps take to_json's ISO instant form)
      if (mappedCt.contains("date") &&
          df.schema.fieldNames.contains("value"))
        df = df.withColumn("value", expr("date_from_unix_date(value)"))
      // ... and a VECTOR value as its float array (Cassandra's JSON
      // form), not the 4n-byte wire blob
      if (mappedCt.exists(_.startsWith("vector<")) &&
          df.schema.fieldNames.contains("value")) {
        graft.GraftExtensions.register(spark)
        df = df.withColumn("value", expr("graft_vec_decode(value)"))
      }
      // ... and a TIME value as Cassandra's fixed-width
      // HH:MM:SS.fffffffff form (nanos always 9 digits), not the
      // stored nanos-since-midnight count
      if (mappedCt.contains("time") &&
          df.schema.fieldNames.contains("value"))
        df = df.withColumn("value", expr(TimeRenderSql))
      val names = df.schema.fieldNames
      df = df.select(
        to_json(struct(names.map(col).toIndexedSeq: _*)).as("[json]"))
    }
    df
  }

  /** The driver-local finish of a point SELECT (see `select`): the
    * local read's rows cut to `lim` and projected onto `items`
    * ((column, output name) pairs; empty = `*`), wrapped as one local
    * relation of final rows. A projected field keeps the read
    * schema's type, nullability and metadata under the name the
    * statement wrote, as Catalyst's projection names it.
    */
  private def localResult(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row], items: Seq[(String, String)],
      lim: Option[Int]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val kept = lim.fold(rows)(rows.take)
    if (items.isEmpty) spark.createDataFrame(kept.asJava, schema)
    else {
      val at = items.map { case (c, _) =>
        val i = schema.fields.indexWhere(_.name.equalsIgnoreCase(c))
        require(i >= 0,
          s"no column $c in ${schema.fieldNames.mkString(",")}")
        i
      }
      spark.createDataFrame(
        kept.map(r => org.apache.spark.sql.Row.fromSeq(at.map(r.get)))
          .asJava,
        org.apache.spark.sql.types.StructType(items.zip(at).map {
          case ((_, name), i) => schema(i).copy(name = name) }))
    }
  }

  // ---------------------------------------------------------------
  // writes

  /** CQL's deterministic default writetime: table max wt + 1 (the
    * C38 DELETE rule) — one header-agg-pushed scan, no data read.
    *
    * Inside [[executeScript]] the table max is resolved ONCE per
    * target table and incremented locally: statements in a script
    * are ordered, so the max+1 rule yields the identical writetime
    * sequence while paying one planning round-trip per TABLE instead
    * of one per STATEMENT (the job-count tax a cqlsh-style ingest
    * script would otherwise pay, zero data bytes each). The local
    * counter stays truthful because every consuming call site writes
    * exactly at the returned value; sites that don't either peek
    * ([[peekWt]], ALTER DROP's max-not-max-plus-one) or invalidate
    * after ([[forgetWt]]: explicit USING TIMESTAMP, BATCH's shared
    * wt, LWT's internal resolution, TRUNCATE/DROP).
    */
  private val scriptWts =
    new ThreadLocal[scala.collection.mutable.Map[String, Long]]

  /** Canonical cache key for a table dir: two spellings of the same
    * path within one script ('t' vs './t' vs 'file:t') must share
    * one counter, or the sequential max+1 model silently breaks
    * (two statements allocating the SAME writetime).
    */
  private def wtKey(dir: String): String = {
    val p = if (dir.startsWith("file:")) dir.stripPrefix("file:") else dir
    try java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
    catch { case _: Exception => p }
  }

  private def nextWt(spark: SparkSession, dir: String): Long = {
    val cache = scriptWts.get
    if (cache == null) resolveNextWt(spark, dir)
    else {
      val k = wtKey(dir)
      val n = cache.getOrElseUpdate(k, seedWt(spark, dir))
      cache.update(k, n + 1L)
      n
    }
  }

  /** Allocator seed: the table max from FILES, raised past any
    * BUFFERED rows — after a forgetWt (explicit timestamp, batch,
    * LWT) the re-seed must not re-issue a writetime a buffered row
    * already holds.
    */
  private def seedWt(spark: SparkSession, dir: String): Long =
    math.max(resolveNextWt(spark, dir),
      bufferedMaxWt(dir).map(_ + 1L).getOrElse(Long.MinValue))

  /** Next writetime WITHOUT consuming it (repeatable, like the
    * uncached read) — for statements that use the value as a
    * timestamp but write no cell at it.
    */
  private def peekWt(spark: SparkSession, dir: String): Long = {
    val cache = scriptWts.get
    if (cache == null) resolveNextWt(spark, dir)
    else cache.getOrElseUpdate(wtKey(dir), seedWt(spark, dir))
  }

  /** Drop the script-local counter for a table whose max wt changed
    * outside the allocator's view (explicit-timestamp write, batch
    * shared wt, LWT, truncate); the next [[nextWt]] re-resolves.
    */
  private def forgetWt(dir: String): Unit = {
    val cache = scriptWts.get
    if (cache != null) { cache.remove(wtKey(dir)); () }
  }

  /** Table max wt + 1, HEADER-served (r15): the per-chunk max-wt
    * stats every flush header carries replace the previous
    * max(wt)-scan Spark job — a write statement's timestamp mint is
    * now #files small header reads on the driver, zero data bytes,
    * zero job scheduling (the C55 CAS round always resolved its
    * ballot writetime this way; the allocator now matches it).
    */
  private def resolveNextWt(spark: SparkSession, dir: String): Long =
    graft.sources.CellSource.maxWt(dir).map(_ + 1L).getOrElse(1L)

  // ---------------------------------------------------------------
  // Per-script write buffering (r12) — the memtable analog. Inside a
  // script, cell appends of either key layout accumulate per TABLE
  // and flush as ONE file at script end, instead of one flush file
  // per statement — the shape a cqlsh ingest
  // script pays for on a real cluster too, where the memtable absorbs
  // statements and the flush is the unit of I/O. Sequential-model
  // correctness is preserved by two rules: (a) every statement that
  // READS a table flushes its buffer first (read-your-writes), and
  // (b) writetime allocation sees buffered rows ([[seedWt]]), so a
  // post-forget re-seed can never re-issue a buffered wt. The LWW
  // merge handles duplicate keys and tombstones WITHIN one file, so
  // a buffered flush is semantically identical to N per-statement
  // flushes at the same writetimes.

  /** One table's buffered rows: the table's key spec and value type
    * plus [[graft.sources.CellSource.LocalRow]]s (expiry already
    * absolute). A table is ONE layout, so a key never mixes specs or
    * value types.
    */
  private final class Buffered(val spec: graft.sources.KeySpec,
      val valueType: org.apache.spark.sql.types.DataType) {
    val rows = scala.collection.mutable
      .ArrayBuffer.empty[graft.sources.CellSource.LocalRow]
    def maxWt: Long = rows.iterator.map(_._4).max
    def isEmpty: Boolean = rows.isEmpty
    /** Set once the buffer has been HANDED to a writer. A flush retry
      * after a commit-then-throw must not blindly re-write COUNTER
      * buffers: shard deltas SUM on read (C10), so a duplicate file
      * double-applies increments — unlike LWW cell layouts, where a
      * duplicate flush merges away. See [[flushAllBuffered]].
      */
    var writeAttempted: Boolean = false
  }
  private val scriptBuf = new ThreadLocal[
    scala.collection.mutable.LinkedHashMap[String, Buffered]]

  /** Test-only fault injection (CqlSpec): buffered flushes whose
    * canonical table dir this predicate matches throw before reaching
    * the writer — proving the write-then-remove flush contract
    * (earlier tables land, the error propagates, the error-path warn
    * fires) without manufacturing real I/O faults.
    */
  @volatile private[graft] var failFlushOf: String => Boolean =
    _ => false

  /** The memtable flush: one node-local write through
    * [[graft.sources.CellSource.localAppend]], never a Spark job.
    */
  private def writeBuffered(dir: String, b: Buffered): Unit = {
    if (failFlushOf(dir))
      throw new java.io.IOException(s"injected flush failure: $dir")
    graft.sources.CellSource.localAppend(dir, b.spec, b.valueType,
      b.rows.toSeq)
  }

  /** Flush (and drop) one table's buffered cells, if any.
    * Write-then-remove, like [[flushAllBuffered]]: a throw leaves the
    * buffer intact for the finally-path flush to retry (counter
    * buffers excepted — see [[Buffered.writeAttempted]]).
    */
  private def flushBuffered(spark: SparkSession, dir: String): Unit = {
    val buf = scriptBuf.get
    if (buf == null) return
    buf.get(wtKey(dir)).foreach { b =>
      if (!b.isEmpty) { b.writeAttempted = true
        writeBuffered(wtKey(dir), b) }
    }
    buf.remove(wtKey(dir)); ()
  }

  /** Flush every buffered table (script end; catalog-wide reads).
    * Write-then-remove, NOT clear-then-write (r13): each table's
    * entry leaves the buffer only after its write lands, so a
    * mid-loop I/O failure keeps the remaining tables' cells
    * recoverable by a later flush instead of silently dropping them.
    */
  private def flushAllBuffered(spark: SparkSession): Unit = {
    val buf = scriptBuf.get
    if (buf == null) return
    val pending = buf.keys.toSeq // LinkedHashMap: first-write order
    var firstErr: Throwable = null
    pending.foreach { k =>
      try {
        buf.get(k).foreach { b =>
          if (!b.isEmpty) {
            if (b.writeAttempted && isCounter(k))
              // a prior attempt may have committed before throwing;
              // counter shard deltas SUM on read, so a blind re-write
              // double-applies increments — drop the retry (the first
              // attempt either landed, or its increments are lost
              // with the error the caller already saw)
              ()
            else { b.writeAttempted = true; writeBuffered(k, b) }
          }
        }
        buf.remove(k); ()
      } catch { case scala.util.control.NonFatal(e) =>
        // keep the failed table buffered (write-then-remove) and KEEP
        // GOING — one table's writer failure must not drop the other
        // tables' buffered cells; the first error still surfaces
        if (firstErr == null) firstErr = e
      }
    }
    if (firstErr != null) throw firstErr
  }

  /** Discard a table's buffer (TRUNCATE/DROP shadow it wholesale). */
  private def discardBuffered(dir: String): Unit = {
    val buf = scriptBuf.get
    if (buf != null) { buf.remove(wtKey(dir)); () }
  }

  /** Max buffered writetime for a table — the allocator's view of
    * rows that exist but haven't flushed.
    */
  private def bufferedMaxWt(dir: String): Option[Long] = {
    val buf = scriptBuf.get
    if (buf == null) None
    else buf.get(wtKey(dir)).filter(!_.isEmpty).map(_.maxWt)
  }

  /** Buffer (inside a script) or flush one statement's rows, whatever
    * the table's key layout and value type. Rows are the key parts'
    * values in key order, then (col, value, wt); `USING TTL n`
    * becomes the absolute expiry wt + n, the CEL10/CEL11 shape.
    */
  private def appendRows(dir: String, spec: graft.sources.KeySpec,
      rows: Seq[Seq[Any]], ttl: Option[Long],
      valueType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType): Unit = {
    if (rows.isEmpty) return // zero-row statement: no empty flush
    val nKey = spec.pkParts.length + spec.ckParts.length
    val local = rows.map { r =>
      val wt = r(nKey + 2).asInstanceOf[Long]
      (r.take(nKey), r(nKey).asInstanceOf[String], r(nKey + 1), wt,
        ttl.map(wt + _).getOrElse(Long.MaxValue))
    }
    val buf = scriptBuf.get
    if (buf == null)
      graft.sources.CellSource.localAppend(dir, spec, valueType, local)
    else {
      val b = buf.getOrElseUpdate(wtKey(dir),
        new Buffered(spec, valueType))
      if (b.spec != spec || b.valueType != valueType)
        fail(s"layout mix-up buffering cells for $dir")
      b.rows ++= local
    }
  }

  /** [[appendRows]] for default-layout (pk, ck, col, value, wt)
    * cells.
    */
  private def appendCells(dir: String,
      valueType: org.apache.spark.sql.types.DataType,
      cells: Seq[(Long, Int, String, Any, Long)],
      ttl: Option[Long] = None): Unit =
    appendRows(dir, graft.sources.KeySpec.Default, cells.map(cellRow),
      ttl, valueType)

  /** A default-layout cell as an [[appendRows]] row. */
  private def cellRow(c: (Long, Int, String, Any, Long)): Seq[Any] =
    Seq(c._1, c._2, c._3, c._4, c._5)

  /** A UDT literal `{field: value, ...}` against a declared layout →
    * the packed C59 blob. Unnamed fields pack as null (Cassandra's
    * unset-field rule); an unknown field name refuses.
    */
  private val UdtEntryRe = """(?is)^\s*(\w+)\s*:\s*(.+?)\s*$""".r

  private def udtLiteral(layout: String, raw: String,
      colName: String): Array[Byte] =
    try graft.functions.UdtValues.pack(layout,
      udtEntries(layout, raw, colName))
    catch {
      case e: IllegalArgumentException => fail(e.getMessage)
    }

  /** Parse a UDT literal into its (lowercased) field → value entries
    * WITHOUT packing — the unfrozen write path (C59d) expands these
    * into one cell per field instead of one blob.
    */
  private def udtEntries(layout: String, raw: String,
      colName: String): Map[String, Any] = {
    val t = raw.trim
    if (!(t.startsWith("{") && t.endsWith("}")))
      fail(s"$colName takes a UDT literal {field: value, ...}, " +
        s"got: $t")
    val body = t.substring(1, t.length - 1).trim
    val declared = graft.functions.UdtValues.fields(layout).toSet
    if (body.isEmpty) Map.empty
    else splitValues(body).toSeq.map {
      case UdtEntryRe(f, v) =>
        val fn = f.toLowerCase
        if (!declared.contains(fn))
          fail(s"unknown UDT field $fn (declared: " +
            graft.functions.UdtValues.fields(layout)
              .mkString(", ") + ")")
        fn -> literal(v)
      case e => fail(s"UDT literal entries are field: value, " +
        s"got: $e")
    }.toMap
  }

  /** Pack ONE field's scalar as a single-field blob: the full layout
    * with only that field set — so [[graft.functions.UdtUnpack]]
    * reads field cells and whole frozen blobs with the same codec.
    */
  private def udtFieldBlob(layout: String, field: String,
      v: Any): Array[Byte] =
    try graft.functions.UdtValues.pack(layout, Map(field -> v))
    catch {
      case e: IllegalArgumentException => fail(e.getMessage)
    }

  /** One UDT-literal write on an UNFROZEN column (C59d), expanded to
    * the field cells Cassandra 3.x writes for a whole-value UDT
    * mutation: set fields become value cells `<col>.<field>`, UNSET
    * declared fields become field tombstones at the same writetime —
    * the whole value is overwritten, per-field LWW does the rest.
    * (Cassandra emits a range tombstone over the UDT path plus the
    * set field cells; with the layout bounded, per-field markers
    * state the same shadow exactly.)
    */
  private def expandUnfrozenUdtWrite(pk: Long, ck: Int, c: String,
      entries: Map[String, Any], layout: String, wt: Long,
      sf: String => String)
      : Seq[(Long, Int, String, Array[Byte], Long)] =
    graft.functions.UdtValues.fields(layout).map { f =>
      entries.get(f).flatMap(Option(_)) match {
        case Some(v) =>
          (pk, ck, s"$c.${sf(f)}", udtFieldBlob(layout, f, v), wt)
        case None =>
          (pk, ck, s"!del:$c.${sf(f)}", Array.empty[Byte], wt)
      }
    }

  /** Cells a frozen<udt>-table INSERT contributes: same key grammar
    * as [[insertCells]], data values are UDT literals packed to the
    * C59 wire format.
    */
  private def insertUdtCells(cols: String, vals: String, wt: Long,
      layout: String): Seq[(Long, Int, String, Array[Byte], Long)] = {
    val names = cols.split(',').map(_.trim)
    val values = splitValues(vals)
    if (names.length != values.length)
      fail(s"INSERT arity mismatch: ${names.length} columns, " +
        s"${values.length} values")
    val kv = names.map(_.toLowerCase).zip(values.map(_.trim)).toMap
    val pk = longLiteral(
      kv.getOrElse("pk", fail("INSERT must bind pk")), "pk")
    val ck = ckLiteral(
      kv.getOrElse("ck", fail("INSERT must bind ck")))
    val data = names.map(_.toLowerCase)
      .filterNot(n => n == "pk" || n == "ck")
    if (data.isEmpty) fail("INSERT needs at least one data column")
    data.map(c => (pk, ck, c, udtLiteral(layout, kv(c), c), wt)).toSeq
  }

  /** Cells an UNFROZEN-udt-table INSERT contributes (C59d): one cell
    * per SET field, one tombstone per unset declared field — the
    * whole-value-overwrite shape of [[expandUnfrozenUdtWrite]].
    */
  private def insertUnfrozenUdtCells(cols: String, vals: String,
      wt: Long, layout: String, sf: String => String)
      : Seq[(Long, Int, String, Array[Byte], Long)] = {
    val names = cols.split(',').map(_.trim)
    val values = splitValues(vals)
    if (names.length != values.length)
      fail(s"INSERT arity mismatch: ${names.length} columns, " +
        s"${values.length} values")
    val kv = names.map(_.toLowerCase).zip(values.map(_.trim)).toMap
    val pk = longLiteral(
      kv.getOrElse("pk", fail("INSERT must bind pk")), "pk")
    val ck = ckLiteral(
      kv.getOrElse("ck", fail("INSERT must bind ck")))
    val data = names.map(_.toLowerCase)
      .filterNot(n => n == "pk" || n == "ck")
    if (data.isEmpty) fail("INSERT needs at least one data column")
    data.flatMap { c =>
      if (c.contains("."))
        fail(s"INSERT binds whole UDT values — use UPDATE SET $c " +
          "for a single field")
      // names stay dynamic (the cell model declares no data columns —
      // SELECT <c>.<f> reads back whatever <c> the write used), but a
      // bracketed/quoted token would mint unreadable `<c>['k'].f`
      // cells, so only plain identifiers expand
      if (!c.matches("""\w+"""))
        fail(s"INSERT column $c is not a plain identifier — an " +
          "unfrozen UDT table binds whole UDT values to named columns")
      expandUnfrozenUdtWrite(pk, ck, c,
        udtEntries(layout, kv(c), c), layout, wt, sf)
    }.toSeq
  }

  /** DELETE targets of an unfrozen-UDT table, expanded to FIELD-cell
    * marker suffixes: `c.f` → that one field, a bare column → every
    * declared field (Cassandra's whole-column delete); None when the
    * table is not unfrozen or the DELETE has no column target.
    * Collection/entry targets (m['k'], l[0]) refuse — they have no
    * field cells to shadow, and minting `!del:m['k'].f` markers
    * would silently delete nothing. Plain identifiers stay dynamic:
    * the cell model declares no data-column names, and
    * `SELECT <c>.<f>` reads back exactly the cells any spelling of
    * <c> wrote, so an unknown-but-well-formed name shadows-nothing
    * by the same rule as every other layout's DELETE.
    */
  private def unfrozenDeleteTargets(dir: String,
      colOpt: Option[String]): Option[Seq[String]] =
    colOpt.filter(_ => udtUnfrozenOf(dir)).map {
      case UdtFieldDelRe(c, f) =>
        Seq(s"${c.toLowerCase}." +
          storageField(dir)(f.toLowerCase))
      case c if !c.trim.matches("""\w+""") =>
        fail(s"DELETE ${c.trim} is not a UDT column delete — " +
          "an unfrozen UDT table takes DELETE <col> or " +
          "DELETE <col>.<field> (collection/entry deletes " +
          "need a collection-valued table)")
      case c =>
        graft.functions.UdtValues
          .fields(udtLayoutOf(dir).get)
          .map(f => s"${c.trim.toLowerCase}.${storageField(dir)(f)}")
    }

  /** Typed-layout (CEL6/8) twin of [[insertUnfrozenUdtCells]]
    * (C59e): one BINARY row per SET field, one `!del:` field marker
    * per unset declared field — the whole-value overwrite over named
    * key parts.
    */
  private def insertUnfrozenUdtTypedRows(spec: graft.sources.KeySpec,
      cols: String, vals: String, wt: Long,
      layout: String, sf: String => String): Seq[Seq[Any]] = {
    val names = cols.split(',').map(_.trim.toLowerCase)
    val values = splitValues(vals).map(_.trim)
    if (names.length != values.length)
      fail(s"INSERT arity mismatch: ${names.length} columns, " +
        s"${values.length} values")
    val kv = names.zip(values).toMap
    val keyNames = (spec.pkParts ++ spec.ckParts).map(_.name.toLowerCase)
    val keyVals = (spec.pkParts ++ spec.ckParts).map(p =>
      keyLiteral(p, kv.getOrElse(p.name.toLowerCase,
        fail(s"INSERT must bind key part ${p.name}")), "key part"))
    val data = names.filterNot(keyNames.contains).toSeq
    if (data.isEmpty) fail("INSERT needs at least one data column")
    data.flatMap { c =>
      if (c.contains("."))
        fail(s"INSERT binds whole UDT values — use UPDATE SET $c " +
          "for a single field")
      if (!c.matches("""\w+"""))
        fail(s"INSERT column $c is not a plain identifier — an " +
          "unfrozen UDT table binds whole UDT values to named columns")
      val entries = udtEntries(layout, kv(c), c)
      graft.functions.UdtValues.fields(layout).map { f =>
        entries.get(f).flatMap(Option(_)) match {
          case Some(v) =>
            keyVals ++ Seq(s"$c.${sf(f)}",
              udtFieldBlob(layout, f, v), wt)
          case None =>
            keyVals ++ Seq(s"!del:$c.${sf(f)}", Array.empty[Byte], wt)
        }
      }
    }
  }

  /** Typed-layout twin of [[unfrozenUdtUpdateCells]] (C59e):
    * per-field `c.f = v` patches ONE field cell, whole-value
    * `c = {…}` overwrites every declared field — over named key
    * parts, every clustering part bound by equality.
    */
  private def unfrozenUdtUpdateTypedRows(spec: graft.sources.KeySpec,
      sets: String, where: String, wt: Long,
      layout: String, sf: String => String): Seq[Seq[Any]] = {
    val (pks, ckOpt, range) = typedKeyPredicate(spec, where)
    if (range.isDefined)
      fail("UPDATE WHERE binds clustering keys by equality, not range")
    val ck = ckOpt.getOrElse(
      if (spec.ckParts.isEmpty) Seq.empty
      else fail("UPDATE WHERE must bind every clustering part (" +
        spec.ckParts.map(_.name).mkString(", ") + ")"))
    val declared = graft.functions.UdtValues.fields(layout)
    def notKey(c: String): String = {
      if ((spec.pkParts ++ spec.ckParts)
          .exists(_.name.equalsIgnoreCase(c)))
        fail(s"cannot SET key part $c")
      c.toLowerCase
    }
    for {
      item <- splitSetItems(sets)
      pk <- pks
      row <- item match {
        case UdtFieldSetRe(c, f, v) =>
          val cl = notKey(c)
          val fn = f.toLowerCase
          if (!declared.contains(fn))
            fail(s"unknown UDT field $fn of $cl " +
              s"(declared: ${declared.mkString(", ")})")
          Seq(pk ++ ck ++ Seq(s"$cl.${sf(fn)}",
            udtFieldBlob(layout, fn, literal(v)), wt))
        case SetRe(c, v) =>
          val cl = notKey(c)
          val entries = udtEntries(layout, v, cl)
          declared.map { f =>
            entries.get(f).flatMap(Option(_)) match {
              case Some(x) =>
                pk ++ ck ++ Seq(s"$cl.${sf(f)}",
                  udtFieldBlob(layout, f, x), wt)
              case None =>
                pk ++ ck ++ Seq(s"!del:$cl.${sf(f)}",
                  Array.empty[Byte], wt)
            }
          }
        case x => fail(s"unsupported SET item: $x")
      }
    } yield row
  }

  /** SET items an unfrozen-udt UPDATE accepts (C59d): whole-value
    * `c = {f: v, ...}` (overwrite — field cells + unset-field
    * tombstones) or per-field `c.f = <scalar>` (ONE field cell, the
    * other fields untouched — Cassandra's non-frozen patch, the whole
    * point of leaving a UDT unfrozen).
    *
    * Column NAMES stay dynamic, as on every other cell layout: the
    * cell model declares no data columns at CREATE TABLE (they are
    * refused as "extras"), so `SET c.f = v` accepts any identifier c
    * and `SELECT c.f` reads those exact cells back — there is no
    * declared-column list to validate against, only the field list
    * of the table's single UDT layout (which IS validated).
    */
  private val UdtFieldSetRe =
    """(?is)^\s*(\w+)\.(\w+)\s*=\s*(.+?)\s*$""".r

  private def unfrozenUdtUpdateCells(sets: String, where: String,
      wt: Long, layout: String, sf: String => String)
      : Seq[(Long, Int, String, Array[Byte], Long)] = {
    val (pks, ckEq, _, _) = keyPredicate(where)
    val ck = ckEq.getOrElse(fail("UPDATE WHERE must bind ck"))
    val declared = graft.functions.UdtValues.fields(layout)
    for {
      item <- splitSetItems(sets)
      cell <- item match {
        case UdtFieldSetRe(c, f, v) =>
          val fn = f.toLowerCase
          if (!declared.contains(fn))
            fail(s"unknown UDT field $fn of ${c.toLowerCase} " +
              s"(declared: ${declared.mkString(", ")})")
          val value = literal(v)
          pks.toSeq.sorted.map(pk => (pk, ck,
            s"${c.toLowerCase}.${sf(fn)}",
            udtFieldBlob(layout, fn, value), wt))
        case SetRe(c, v) =>
          val entries = udtEntries(layout, v, c.toLowerCase)
          pks.toSeq.sorted.flatMap(pk =>
            expandUnfrozenUdtWrite(pk, ck, c.toLowerCase, entries,
              layout, wt, sf))
        case x => fail(s"unsupported SET item: $x")
      }
    } yield cell
  }

  /** Cells a frozen<udt>-table UPDATE contributes — SET items are
    * whole-value UDT literals (frozen values replace, never patch:
    * C59/Cassandra's frozen rule).
    */
  private def udtUpdateCells(sets: String, where: String, wt: Long,
      layout: String): Seq[(Long, Int, String, Array[Byte], Long)] = {
    val (pks, ckEq, _, _) = keyPredicate(where)
    val ck = ckEq.getOrElse(fail("UPDATE WHERE must bind ck"))
    for {
      s <- splitSetItems(sets)
      (c, v) = s match {
        case SetRe(c, v) => (c.toLowerCase,
          udtLiteral(layout, v, c.toLowerCase))
        case x => fail(s"unsupported SET item: $x")
      }
      pk <- pks.toSeq.sorted
    } yield (pk, ck, c, v, wt)
  }

  /** Typed-table (CEL6/8) frozen<udt> INSERT rows: the key grammar
    * of [[insertTypedRows]], data values packed UDT literals (C59c).
    */
  private def insertUdtTypedRows(spec: graft.sources.KeySpec,
      cols: String, vals: String, wt: Long,
      layout: String): Seq[Seq[Any]] = {
    val names = cols.split(',').map(_.trim.toLowerCase)
    val values = splitValues(vals).map(_.trim)
    if (names.length != values.length)
      fail(s"INSERT arity mismatch: ${names.length} columns, " +
        s"${values.length} values")
    val kv = names.zip(values).toMap
    val keyNames = (spec.pkParts ++ spec.ckParts).map(_.name.toLowerCase)
    val keyVals = (spec.pkParts ++ spec.ckParts).map(p =>
      keyLiteral(p, kv.getOrElse(p.name.toLowerCase,
        fail(s"INSERT must bind key part ${p.name}")), "key part"))
    val data = names.filterNot(keyNames.contains).toSeq
    if (data.isEmpty) fail("INSERT needs at least one data column")
    data.map(c =>
      keyVals ++ Seq(c, udtLiteral(layout, kv(c), c), wt))
  }

  /** Typed-table frozen<udt> UPDATE rows — whole-value literals
    * (frozen values replace, never patch).
    */
  private def updateUdtTypedRows(spec: graft.sources.KeySpec,
      sets: String, where: String, wt: Long,
      layout: String): Seq[Seq[Any]] = {
    val (pks, ckOpt, range) = typedKeyPredicate(spec, where)
    if (range.isDefined)
      fail("UPDATE WHERE binds clustering keys by equality, not range")
    val ck = ckOpt.getOrElse(
      if (spec.ckParts.isEmpty) Seq.empty
      else fail("UPDATE WHERE must bind every clustering part (" +
        spec.ckParts.map(_.name).mkString(", ") + ")"))
    for {
      item <- splitSetItems(sets)
      (c, v) = item match {
        case SetRe(c, v) =>
          if ((spec.pkParts ++ spec.ckParts)
              .exists(_.name.equalsIgnoreCase(c)))
            fail(s"cannot SET key part $c")
          (c.toLowerCase, udtLiteral(layout, v, c.toLowerCase))
        case x => fail(s"unsupported SET item: $x")
      }
      pk <- pks
    } yield pk ++ ck ++ Seq(c, v, wt)
  }

  /** Cells an INSERT contributes (wt = AssignLater defers to the
    * executing statement's writetime resolution).
    */
  private def insertCells(cols: String, vals: String, wt: Long,
      statics: Set[String] = Set.empty)
      : Seq[(Long, Int, String, Long, Long)] = {
    val names = cols.split(',').map(_.trim)
    val values = splitValues(vals)
    if (names.length != values.length)
      fail(s"INSERT arity mismatch: ${names.length} columns, " +
        s"${values.length} values")
    val kv = names.map(_.toLowerCase).zip(values.map(_.trim)).toMap
    val pk = longLiteral(
      kv.getOrElse("pk", fail("INSERT must bind pk")), "pk")
    val data = names.map(_.toLowerCase)
      .filterNot(n => n == "pk" || n == "ck")
    if (data.isEmpty) fail("INSERT needs at least one data column")
    val (st, reg) = data.toSeq.partition(statics.contains)
    // ck binds the clustering row for REGULAR cells; a static-only
    // INSERT addresses the partition alone (Cassandra's rule), and
    // static cells land at the partition-front `!s:` position
    // whatever ck says
    lazy val ck =
      ckLiteral(kv.getOrElse("ck", fail("INSERT must bind ck")))
    reg.map(c =>
      (pk, ck, c, longFcall(wt)(kv(c), s"value of $c"), wt)) ++
      st.map(c => (pk, Int.MinValue,
        graft.sources.CellSource.StaticPrefix + c,
        longFcall(wt)(kv(c), s"value of $c"), wt))
  }

  /** Cells an `INSERT INTO t JSON '...'` contributes (C63's write
    * half — Cassandra 2.2's JSON support). The document must bind pk
    * and ck; every other field is a bigint data cell. Parsed with the
    * Jackson shipped inside Spark — no extra dependency.
    */
  private def jsonCells(json: String, wt: Long)
      : Seq[(Long, Int, String, Long, Long)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = try mapper.readTree(json.replace("''", "'"))
      catch { case e: Exception => fail(s"bad JSON document: ${e.getMessage}") }
    if (node == null || !node.isObject) fail("INSERT JSON needs an object")
    val fields = scala.jdk.CollectionConverters
      .CollectionHasAsScala(node.properties()).asScala.toSeq
      .map(e => e.getKey.toLowerCase -> e.getValue)
    val kv = fields.toMap
    def num(k: String): Long = kv.get(k) match {
      // isIntegralNumber too: canConvertToLong alone passes 7.5 and
      // asLong() would silently truncate it
      case Some(v) if v.isIntegralNumber && v.canConvertToLong =>
        v.asLong()
      case Some(v) => fail(s"$k must be an integer, got $v")
      case None => fail(s"INSERT JSON must bind $k")
    }
    val pk = num("pk")
    val ck = {
      val c = num("ck")
      if (c < Int.MinValue || c > Int.MaxValue)
        fail(s"ck $c is outside the int clustering-key range")
      c.toInt
    }
    val data = fields.collect {
      case (k, v) if k != "pk" && k != "ck" =>
        if (!v.isIntegralNumber || !v.canConvertToLong)
          fail(s"$k must be an integer, got $v")
        (pk, ck, k, v.asLong(), wt)
    }
    if (data.isEmpty) fail("INSERT JSON needs at least one data column")
    data
  }

  /** TEXT-valued twin of [[jsonCells]] (C65o, r14): data values are
    * JSON STRINGS — the document's own type system carries the cell
    * type, exactly Cassandra's INSERT JSON typing rule.
    */
  private def jsonStringCells(json: String, wt: Long)
      : Seq[(Long, Int, String, String, Long)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = try mapper.readTree(json.replace("''", "'"))
      catch { case e: Exception =>
        fail(s"bad JSON document: ${e.getMessage}") }
    if (node == null || !node.isObject)
      fail("INSERT JSON needs an object")
    val fields = scala.jdk.CollectionConverters
      .CollectionHasAsScala(node.properties()).asScala.toSeq
      .map(e => e.getKey.toLowerCase -> e.getValue)
    val kv = fields.toMap
    def num(k: String): Long = kv.get(k) match {
      case Some(v) if v.isIntegralNumber && v.canConvertToLong =>
        v.asLong()
      case Some(v) => fail(s"$k must be an integer, got $v")
      case None => fail(s"INSERT JSON must bind $k")
    }
    val pk = num("pk")
    val ck = {
      val c = num("ck")
      if (c < Int.MinValue || c > Int.MaxValue)
        fail(s"ck $c is outside the int clustering-key range")
      c.toInt
    }
    val data = fields.collect {
      case (k, v) if k != "pk" && k != "ck" =>
        if (!v.isTextual)
          fail(s"$k must be a JSON string on a text-valued table, " +
            s"got $v")
        (pk, ck, k, v.asText(), wt)
    }
    if (data.isEmpty) fail("INSERT JSON needs at least one data column")
    data
  }

  /** Declared-type twin of [[jsonCells]] (C63b, r15): data values
    * route through the table's OWN literal grammar — a JSON string
    * re-quotes as a CQL string literal, numbers and booleans pass
    * verbatim — so a uuid document field gets uuid validation, a date
    * field day-count storage, a double field CQL's bigint-widening
    * rule: exactly the typing INSERT VALUES would apply. This is
    * Cassandra's INSERT JSON contract (the column type interprets
    * the JSON value) generalized past bigint/text.
    */
  private def jsonAnyCells(json: String, wt: Long,
      parse: (String, String) => Any)
      : Seq[(Long, Int, String, Any, Long)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = try mapper.readTree(json.replace("''", "'"))
      catch { case e: Exception =>
        fail(s"bad JSON document: ${e.getMessage}") }
    if (node == null || !node.isObject)
      fail("INSERT JSON needs an object")
    val fields = scala.jdk.CollectionConverters
      .CollectionHasAsScala(node.properties()).asScala.toSeq
      .map(e => e.getKey.toLowerCase -> e.getValue)
    val kv = fields.toMap
    def num(k: String): Long = kv.get(k) match {
      case Some(v) if v.isIntegralNumber && v.canConvertToLong =>
        v.asLong()
      case Some(v) => fail(s"$k must be an integer, got $v")
      case None => fail(s"INSERT JSON must bind $k")
    }
    val pk = num("pk")
    val ck = {
      val c = num("ck")
      if (c < Int.MinValue || c > Int.MaxValue)
        fail(s"ck $c is outside the int clustering-key range")
      c.toInt
    }
    val data = fields.collect {
      case (k, v) if k != "pk" && k != "ck" =>
        val lit =
          if (v.isTextual) "'" + v.asText().replace("'", "''") + "'"
          else if (v.isNumber || v.isBoolean) v.asText()
          else fail(s"$k: unsupported JSON value $v")
        (pk, ck, k, parse(lit, s"JSON value of $k"), wt)
    }
    if (data.isEmpty) fail("INSERT JSON needs at least one data column")
    data
  }

  /** Typed twin of [[jsonCells]]: key parts bound by NAME and parsed
    * by the part's key type (text parts take JSON strings, int/bigint
    * parts integral numbers); data fields stay bigint cells.
    */
  private def jsonCellsTyped(spec: graft.sources.KeySpec, json: String,
      wt: Long): Seq[Seq[Any]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = try mapper.readTree(json.replace("''", "'"))
      catch { case e: Exception =>
        fail(s"bad JSON document: ${e.getMessage}") }
    if (node == null || !node.isObject) fail("INSERT JSON needs an object")
    val fields = scala.jdk.CollectionConverters
      .CollectionHasAsScala(node.properties()).asScala.toSeq
      .map(e => e.getKey.toLowerCase -> e.getValue)
    val kv = fields.toMap
    val keyParts = spec.pkParts ++ spec.ckParts
    val keyNames = keyParts.map(_.name.toLowerCase)
    import org.apache.spark.sql.types._
    val keyVals: Seq[Any] = keyParts.map { p =>
      val v = kv.getOrElse(p.name.toLowerCase,
        fail(s"INSERT JSON must bind key part ${p.name}"))
      (p.dataType, v) match {
        case (StringType, n) if n.isTextual => n.asText()
        case (LongType, n) if n.isIntegralNumber &&
            n.canConvertToLong => n.asLong()
        case (IntegerType, n) if n.isIntegralNumber &&
            n.canConvertToLong &&
            n.asLong() >= Int.MinValue && n.asLong() <= Int.MaxValue =>
          n.asLong().toInt
        case (t, n) => fail(s"key part ${p.name} needs a " +
          s"${t.simpleString} value, got $n")
      }
    }
    val data = fields.collect {
      case (k, v) if !keyNames.contains(k) =>
        if (!v.isIntegralNumber || !v.canConvertToLong)
          fail(s"$k must be an integer, got $v")
        keyVals ++ Seq(k, v.asLong(), wt)
    }
    if (data.isEmpty) fail("INSERT JSON needs at least one data column")
    data
  }

  /** Coerce a CQL literal onto a typed key part's type — the facade's
    * typed-key slice is string / bigint / int parts; a silent wrap or
    * cast would address a DIFFERENT row, so out-of-range refuses.
    */
  private def keyLiteral(p: graft.sources.KeyPart, raw: String,
      what: String): Any =
    (p.dataType, literal(raw)) match {
      case (org.apache.spark.sql.types.StringType, s: String) => s
      case (org.apache.spark.sql.types.LongType, l: Long) => l
      case (org.apache.spark.sql.types.IntegerType, l: Long) =>
        if (l < Int.MinValue || l > Int.MaxValue)
          fail(s"${p.name} $l is outside the int range")
        l.toInt
      case (t, v) =>
        fail(s"$what ${p.name} needs a ${t.simpleString} " +
          s"literal, got $v")
    }

  /** The neutral value a typed marker row carries in a ck slot the
    * marker does not address (rank ordering puts partition/range
    * markers ahead of all data rows regardless of these).
    */
  private def neutralKey(dt: org.apache.spark.sql.types.DataType): Any =
    dt match {
      case org.apache.spark.sql.types.StringType => ""
      case org.apache.spark.sql.types.LongType => 0L
      case org.apache.spark.sql.types.IntegerType => 0
      case t => fail(s"unsupported typed key part type: $t")
    }

  /** Typed-table (CEL6) INSERT: the column list must bind EVERY pk
    * and ck part by name (CQL's own rule — an unbound key part is an
    * error, not a null), and data values stay bigint. `USING TTL`
    * lands on the CEL11 per-record expiry shape.
    */
  private def insertTyped(spark: SparkSession, dir: String,
      spec: graft.sources.KeySpec, cols: String, vals: String,
      wt: Long, ttl: Option[Long] = None): Unit =
    appendRows(dir, spec,
      insertTypedRows(spec, cols, vals, wt), ttl)

  /** The typed INSERT's rows (keyVals ++ (col, value, wt)) — shared
    * by the direct write and the BATCH journal path.
    */
  private def insertTypedRows(spec: graft.sources.KeySpec,
      cols: String, vals: String, wt: Long,
      parseValue: (String, String) => Any = longLiteral)
      : Seq[Seq[Any]] = {
    val names = cols.split(',').map(_.trim.toLowerCase)
    val values = splitValues(vals).map(_.trim)
    if (names.length != values.length)
      fail(s"INSERT arity mismatch: ${names.length} columns, " +
        s"${values.length} values")
    val kv = names.zip(values).toMap
    val keyNames = (spec.pkParts ++ spec.ckParts).map(_.name.toLowerCase)
    val keyVals = (spec.pkParts ++ spec.ckParts).map(p =>
      keyLiteral(p, kv.getOrElse(p.name.toLowerCase,
        fail(s"INSERT must bind key part ${p.name}")), "key part"))
    val data = names.filterNot(keyNames.contains).toSeq
    if (data.isEmpty) fail("INSERT needs at least one data column")
    data.map(c =>
      keyVals ++ Seq(c, parseValue(kv(c), s"value of $c"), wt))
  }

  /** Parse a typed-table WHERE with NAMED key parts into (pk tuples,
    * full-ck tuple, int-ck range). CQL shape: every pk part bound by
    * equality (IN allowed on a single-part pk), clustering parts
    * either ALL bound by equality, or a range on a single int ck, or
    * unbound. Range bounds are Longs so exclusive-bound arithmetic
    * can't wrap (lo > hi = provably empty, the caller no-ops).
    */
  private def typedKeyPredicate(spec: graft.sources.KeySpec,
      where: String, ckPrefix: Boolean = false)
      : (Seq[Seq[Any]], Option[Seq[Any]], Option[(Long, Long)]) = {
    val pkParts = spec.pkParts
    val ckParts = spec.ckParts
    val pkNames = pkParts.map(_.name.toLowerCase)
    val ckNames = ckParts.map(_.name.toLowerCase)
    val intCk = ckParts match {
      case p :: Nil
        if p.dataType == org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    val eqs = scala.collection.mutable.Map.empty[String, Any]
    // IN lists per pk part (Cassandra allows IN on ANY partition-key
    // part; several INs form a cartesian product of partitions)
    val pkIns = scala.collection.mutable.Map.empty[String, Seq[Any]]
    var lo: Long = Int.MinValue
    var hi: Long = Int.MaxValue
    var hasRange = false
    where.split("(?i)\\s+AND\\s+").foreach {
      case InRe(c, vs)
          if pkNames.contains(c.toLowerCase) &&
            !pkIns.contains(c.toLowerCase) =>
        val part = pkParts.find(_.name.equalsIgnoreCase(c)).get
        pkIns(c.toLowerCase) = splitValues(vs).toSeq
          .map(v => keyLiteral(part, v.trim, "key part")).distinct
      case PredRe(c, "=", v)
          if pkNames.contains(c.toLowerCase) ||
            ckNames.contains(c.toLowerCase) =>
        val n = c.toLowerCase
        if (eqs.contains(n)) fail(s"duplicate predicate on $n")
        val part = (pkParts ++ ckParts)
          .find(_.name.equalsIgnoreCase(c)).get
        eqs(n) = keyLiteral(part, v, "key part")
      case PredRe(c, op, v)
          if intCk && ckNames.contains(c.toLowerCase) =>
        val x: Long = keyLiteral(ckParts.head, v, "key part")
          .asInstanceOf[Int].toLong
        hasRange = true
        op match {
          case ">" => lo = math.max(lo, x + 1)
          case ">=" => lo = math.max(lo, x)
          case "<" => hi = math.min(hi, x - 1)
          case "<=" => hi = math.min(hi, x)
        }
      case p => fail(s"typed write WHERE binds key parts only " +
        s"(range on a single int clustering key), got: $p")
    }
    val pkTuples: Seq[Seq[Any]] = {
      pkNames.find(n => pkIns.contains(n) && eqs.contains(n))
        .foreach(n => fail(s"$n cannot be bound by both IN and " +
          "equality"))
      val unbound = pkNames
        .filterNot(n => pkIns.contains(n) || eqs.contains(n))
      if (unbound.nonEmpty)
        fail("write WHERE must bind every partition-key part " +
          s"(${pkParts.map(_.name).mkString(", ")})")
      // cartesian product over the IN lists, Cassandra's own
      // semantics — bounded like its cartesian-product threshold
      val combos = pkNames.foldLeft(Seq(Seq.empty[Any])) { (acc, n) =>
        val vals = pkIns.getOrElse(n, Seq(eqs(n)))
        acc.flatMap(t => vals.map(v => t :+ v))
      }
      if (combos.length > 128)
        fail(s"IN restrictions form a cartesian product of " +
          s"${combos.length} partitions (max 128)")
      combos
    }
    val boundCks = ckNames.filter(eqs.contains)
    if (hasRange && boundCks.nonEmpty)
      fail("clustering equality and range cannot combine")
    val ckTuple =
      if (boundCks.isEmpty) None
      else if (boundCks.length == ckNames.length)
        Some(ckNames.map(eqs))
      else if (ckPrefix && boundCks == ckNames.take(boundCks.length))
        // Cassandra's multi-row DELETE shape: a CONTIGUOUS prefix of
        // clustering parts, in declared order — the caller reads the
        // shorter tuple as a prefix binding
        Some(boundCks.map(eqs))
      else if (ckPrefix)
        fail("clustering parts must be bound front-to-back (" +
          s"${ckParts.map(_.name).mkString(", ")}); cannot bind " +
          boundCks.mkString(", ") + " without the parts before them")
      else fail("bind every clustering-key part by equality, or none" +
        s" (${ckParts.map(_.name).mkString(", ")})")
    (pkTuples, ckTuple, if (hasRange) Some((lo, hi)) else None)
  }

  /** Typed-table UPDATE: WHERE binds the FULL primary key by name
    * (CQL's own rule); each SET column contributes one typed cell.
    */
  private def updateTyped(spark: SparkSession, dir: String,
      spec: graft.sources.KeySpec, sets: String, where: String,
      wt: Long, ttl: Option[Long]): Unit =
    appendRows(dir, spec,
      updateTypedRows(spec, sets, where, wt), ttl)

  private def updateTypedRows(spec: graft.sources.KeySpec,
      sets: String, where: String, wt: Long,
      parseValue: (String, String) => Any = longLiteral)
      : Seq[Seq[Any]] = {
    val (pks, ckOpt, range) = typedKeyPredicate(spec, where)
    if (range.isDefined)
      fail("UPDATE WHERE binds clustering keys by equality, not range")
    val ck = ckOpt.getOrElse(
      if (spec.ckParts.isEmpty) Seq.empty
      else fail("UPDATE WHERE must bind every clustering-key part"))
    val keyNames = (spec.pkParts ++ spec.ckParts).map(_.name.toLowerCase)
    // SET items split bracket-aware — a vector literal (C70d) nests
    // commas inside its brackets
    val setKvs = splitValues(sets).toSeq.map {
      case SetRe(c, v) =>
        if (keyNames.contains(c.toLowerCase))
          fail(s"cannot SET key part $c")
        (c.toLowerCase, parseValue(v, s"value of $c"))
      case x => fail(s"unsupported SET item: $x")
    }
    for {
      pk <- pks
      (c, v) <- setKvs
    } yield pk ++ ck ++ Seq(c, v, wt)
  }

  /** Typed-table DELETE: the same marker protocol as the default
    * layout — partition (`!del*`), row (`!delrow`), int-ck range
    * (`!delr:lo:hi`), clustering prefix (`!delpfx:<j>`), single cell
    * (`!del:<col>`) — with typed keys. An empty range (lo > hi)
    * contributes NO markers (CQL matches zero rows; escalating would
    * wipe the partition). Markers carry the table's value type; their
    * value slot takes its neutral (empty blob on vector tables, empty
    * string on text storage).
    */
  private def deleteTyped(dir: String, spec: graft.sources.KeySpec,
      colOpt: Option[String], where: String, dts: Long): Unit =
    appendRows(dir, spec, deleteTypedRows(spec, colOpt, where, dts),
      ttl = None, graft.sources.CellSource.valueTypeOf(dir))

  private def deleteTypedRows(spec: graft.sources.KeySpec,
      colOpt: Option[String], where: String,
      dts: Long): Seq[Seq[Any]] = {
    val (pks, ckOpt0, range) = typedKeyPredicate(spec, where,
      ckPrefix = true)
    val ckZeros = spec.ckParts.map(p => neutralKey(p.dataType))
    val nCk = spec.ckParts.length
    // a CK-LESS layout (C70d's `id uuid PRIMARY KEY` shape) binds
    // its full — empty — clustering tuple implicitly: a CELL DELETE
    // with every pk part bound addresses the row exactly. Row-level
    // deletes keep the partition-tombstone shape (a partition IS the
    // row there).
    val ckOpt =
      if (nCk == 0 && colOpt.isDefined && ckOpt0.isEmpty &&
          range.isEmpty)
        Some(Seq.empty[Any])
      else ckOpt0
    val rows: Seq[Seq[Any]] = (colOpt, ckOpt, range) match {
      case (Some(c), Some(ck), None) if ck.length == nCk =>
        pks.map(pk => pk ++ ck ++
          Seq(graft.sources.CellSource.CellTombstonePrefix +
            deleteColName(c), 0L, dts))
      case (Some(_), _, _) =>
        fail("DELETE <col> needs every clustering part bound by " +
          "equality")
      case (None, Some(ck), None) if ck.length == nCk =>
        pks.map(pk => pk ++ ck ++
          Seq(graft.sources.CellSource.RowTombstone, 0L, dts))
      case (None, Some(pfx), None) =>
        // Cassandra's multi-row DELETE: a contiguous clustering-key
        // PREFIX bound by equality — one prefix tombstone per pk,
        // prefix values in the marker row's leading ck parts
        pks.map(pk => pk ++ pfx ++ ckZeros.drop(pfx.length) ++
          Seq(graft.sources.CellSource.prefixTombstoneCol(pfx.length),
            0L, dts))
      case (None, None, Some((lo, hi))) =>
        if (lo > hi) Seq.empty // provably-empty range: no-op
        else pks.map(pk => pk ++ ckZeros ++
          Seq(graft.sources.CellSource.rangeTombstoneCol(
            lo.toInt, hi.toInt), 0L, dts))
      case (None, None, None) =>
        pks.map(pk => pk ++ ckZeros ++
          Seq(graft.sources.CellSource.PartitionTombstone, 0L, dts))
      case (None, Some(_), Some(_)) =>
        fail("clustering equality and range cannot combine")
    }
    rows
  }

  /** Parse Cassandra's `compaction = {'class': '...'}` map onto the
    * engine's policy names (C51/C54's strategies, declared in DDL the
    * way Cassandra declares them). The class is accepted short or
    * fully-qualified; TWCS takes the window unit/size pair (default
    * 1 DAY — Cassandra's own).
    */
  private def parseCompaction(v: String): (String, Option[Long]) = {
    val body = v.trim
    if (!(body.startsWith("{") && body.endsWith("}")))
      fail(s"compaction takes a map, got: $v")
    def unq(s: String): String = {
      val t = s.trim
      if (t.length >= 2 && t.startsWith("'") && t.endsWith("'"))
        t.substring(1, t.length - 1)
      else t
    }
    val kvs = splitValues(body.substring(1, body.length - 1))
      .map(_.trim).filter(_.nonEmpty).map { item =>
        val i = item.indexOf(':')
        if (i <= 0)
          fail(s"compaction map entry must be 'k': 'v', got: $item")
        (unq(item.substring(0, i)).toLowerCase,
          unq(item.substring(i + 1)))
      }.toMap
    val cls = kvs.getOrElse("class",
      fail("compaction map needs a 'class'")).split('.').last
    val pol = cls match {
      case "SizeTieredCompactionStrategy" => "stcs"
      case "LeveledCompactionStrategy" => "lcs"
      case "TimeWindowCompactionStrategy" => "twcs"
      case o => fail(s"unknown compaction class: $o " +
        "(SizeTiered/Leveled/TimeWindow)")
    }
    val extras = kvs.keySet --
      Set("class", "compaction_window_unit", "compaction_window_size")
    if (extras.nonEmpty)
      fail(s"unsupported compaction options: ${extras.mkString(", ")}")
    if (pol != "twcs" && kvs.size > 1)
      fail("compaction_window_* options take " +
        "TimeWindowCompactionStrategy")
    val win =
      if (pol != "twcs") None
      else {
        val unitMs = kvs.getOrElse("compaction_window_unit", "DAYS")
          .toUpperCase match {
            case "MINUTES" => 60000L
            case "HOURS" => 3600000L
            case "DAYS" => 86400000L
            case o => fail(s"unknown compaction_window_unit: $o")
          }
        val n = try kvs.getOrElse("compaction_window_size", "1").toLong
          catch { case _: NumberFormatException =>
            fail("compaction_window_size must be an integer") }
        if (n <= 0) fail("compaction_window_size must be positive")
        Some(unitMs * n)
      }
    (pol, win)
  }

  /** Split a VALUES list on commas outside quotes. */
  private def splitValues(vals: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var depth = 0 // UDT literals ({f: v, ...}) nest commas (C59b)
    vals.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case c @ '{' if !inQ => depth += 1; cur += c
      case c @ '}' if !inQ => depth -= 1; cur += c
      // vector literals (C70) nest commas in brackets too
      case c @ '[' if !inQ => depth += 1; cur += c
      case c @ ']' if !inQ => depth -= 1; cur += c
      case ',' if !inQ && depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.toArray
  }

  private val SetRe = """(?is)^\s*(\w+)\s*=\s*(.+?)\s*$""".r

  /** WITH-clause split on top-level AND — quote- and brace-aware, so
    * a `comment = 'orders AND lineitems'` or a `caching = {...}` map
    * never splits mid-option (the bare regex split would).
    */
  private def splitWithOptions(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) { cur += c; if (c == '\'') inQ = false }
      else if (c == '\'') { inQ = true; cur += c }
      else if (c == '{') { depth += 1; cur += c }
      else if (c == '}') { depth -= 1; cur += c }
      else if (depth == 0 && (c == 'A' || c == 'a') &&
          s.regionMatches(true, i, "AND", 0, 3) &&
          (i == 0 || s.charAt(i - 1).isWhitespace) &&
          i + 3 < s.length && s.charAt(i + 3).isWhitespace) {
        out += cur.toString; cur.clear(); i += 2
      } else cur += c
      i += 1
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Real-world schema dumps carry physical-storage tuning knobs this
    * parquet-backed engine has no analog for — ACCEPTED and RECORDED
    * verbatim (as `tblopt.<name>` properties) so `cqlsh -e 'DESC
    * KEYSPACE'` output replays through the front door, and DESCRIBE
    * renders them back (C51c).
    */
  private val InertTableOptions = Set("caching", "compression",
    "speculative_retry", "read_repair", "memtable_flush_period_in_ms",
    "bloom_filter_fp_chance", "crc_check_chance", "max_index_interval",
    "min_index_interval", "cdc", "additional_write_policy",
    "memtable", "allow_auto_snapshot", "incremental_backups")

  private val CounterIncRe =
    """(?is)^\s*(\w+)\s*=\s*(\w+)\s*([+-])\s*(\d+)\s*$""".r

  /** Shard-delta cells for counter-table UPDATE increments: CQL's
    * `SET c = c + n` / `c = c - n` — each one cell whose value is the
    * SIGNED delta; the counter read mode sums shards per (pk, ck,
    * col), so increments never read, never lock, and commute (C10).
    */
  private def counterUpdateCells(sets: String, where: String, wt: Long)
      : Seq[(Long, Int, String, Long, Long)] = {
    val (pks, ckEq, _, _) = keyPredicate(where)
    val ck = ckEq.getOrElse(fail("counter UPDATE WHERE must bind ck"))
    sets.split(',').toSeq.flatMap {
      case CounterIncRe(c1, c2, sign, n) =>
        if (!c1.equalsIgnoreCase(c2))
          fail(s"counter increment must update the same column " +
            s"($c1 vs $c2)")
        val delta = (if (sign == "-") -1L else 1L) * n.toLong
        pks.toSeq.sorted.map(pk => (pk, ck, c1.toLowerCase, delta, wt))
      case x => fail("counter tables take only 'c = c + n' / " +
        s"'c = c - n' SET items, got: $x")
    }
  }

  /** Typed twin of [[counterUpdateCells]]: shard-delta rows with
    * NAMED key parts — every pk and ck part bound by equality (the
    * counter UPDATE addresses one row per pk tuple).
    */
  private def counterUpdateTypedRows(spec: graft.sources.KeySpec,
      sets: String, where: String, wt: Long): Seq[Seq[Any]] = {
    val (pks, ckOpt, range) = typedKeyPredicate(spec, where)
    if (range.isDefined)
      fail("counter UPDATE WHERE binds clustering keys by equality")
    val ck = ckOpt.getOrElse(
      if (spec.ckParts.isEmpty) Seq.empty
      else fail("counter UPDATE WHERE must bind every clustering part"))
    sets.split(',').toSeq.flatMap {
      case CounterIncRe(c1, c2, sign, n) =>
        if (!c1.equalsIgnoreCase(c2))
          fail(s"counter increment must update the same column " +
            s"($c1 vs $c2)")
        val delta = (if (sign == "-") -1L else 1L) * n.toLong
        pks.map(pk => pk ++ ck ++ Seq(c1.toLowerCase, delta, wt))
      case x => fail("counter tables take only 'c = c + n' / " +
        s"'c = c - n' SET items, got: $x")
    }
  }

  /** Cells an UPDATE contributes (wt = AssignLater defers). */
  /** LWT value-type gate: lightweight transactions serve bigint- and
    * text-valued plain tables; conditional BATCH bigint only. Refuse
    * every other DECLARED value type up front — before the partition
    * read — so a double/boolean/timestamp/blob table gets this
    * message instead of a read-path ClassCastException, and a FRESH
    * non-bigint table can never have an integer-literal CAS stamp a
    * bigint-tagged first file over its declared `_type`.
    */
  /** The mapped declared types LWT can serve (C55c, r15): text
    * STORAGE + well-defined equality on the canonical rendering —
    * uuid, timeuuid, inet AND ascii — so the existing string CAS
    * round works verbatim once the statements' literals parse
    * through the declared grammar. (duration stays out — not
    * comparable; the numerics stay out — their storage tags are
    * outside the CAS machinery's Long/String pair.)
    */
  private val LwtMappedCts = Set("uuid", "timeuuid", "inet", "ascii")

  /** LWT value-type gate. Returns the declared mapped type when the
    * single-statement CAS round can serve it through its validated
    * grammar (C55c); refuses every other non-bigint/text declared
    * type up front — before the partition read — so a
    * double/boolean/timestamp/blob table gets this message instead
    * of a read-path ClassCastException, and a FRESH non-bigint table
    * can never have an integer-literal CAS stamp a bigint-tagged
    * first file over its declared `_type`.
    */
  /** The LWT value-grammar selector (generalized to EVERY declared
    * scalar type in C55j, r18 — Cassandra serves conditions on all
    * of them): returns Some(grammar-name) when the CAS paths must
    * parse literals through [[mappedLiteral]] (the declared mapped
    * types, the C65q scalars, timestamps, plain int storage, blobs);
    * None for plain bigint (longLiteral) and plain text (the str
    * routing). Refuses by name: collections (conditions on
    * collections are not in the facade), counters (Cassandra's own
    * rule), durations (not comparable — Cassandra refuses conditions
    * on them too), and vectors.
    */
  private def refuseLwtValueType(dir: String,
      allowText: Boolean): Option[String] = {
    cqlCollectionOf(dir).foreach { sp =>
      // declared MAP columns serve ENTRY conditions/writes (C11j):
      // the entry key IS the cell col name and the ELEMENT type the
      // grammar, so the selector below routes them like any scalar;
      // set/list conditions (CONTAINS, index addressing) stay out
      if (!sp.toLowerCase.startsWith("map"))
        fail(s"lightweight transactions on $sp collection columns " +
          "are outside this subset (conditions on collections are " +
          "not in the facade)")
    }
    if (isCounter(dir))
      fail("conditional updates are not supported on counter " +
        "tables (Cassandra's rule)")
    cqlValueTypeOf(dir) match {
      case Some("duration") =>
        fail("lightweight transactions on duration-valued tables " +
          "are outside this subset (durations are not comparable — " +
          "Cassandra's rule)")
      case Some(ct) if ct.startsWith("vector<") =>
        fail(s"lightweight transactions on $ct-valued tables are " +
          "outside this subset")
      case Some(ct) => return Some(ct)
      case None =>
    }
    import org.apache.spark.sql.types._
    graft.sources.CellSource.valueTypeOf(dir) match {
      case LongType => None
      case StringType if allowText => None
      case TimestampType => Some("timestamp") // C55h
      case DoubleType => Some("double") // C55j: the C65q scalars
      case BooleanType => Some("boolean")
      case IntegerType => Some("int")
      case BinaryType => Some("blob") // plain 0x tables (udt routed
                                      // earlier via udtCasLayout)
      case dt =>
        fail("lightweight transactions and conditional BATCH do " +
          "not serve this storage type: " + dt.simpleString)
    }
  }

  /** True for a TEXT-valued plain table (C65o): text write grammar,
    * empty-string tombstones. UDT/counter tables route earlier in
    * every statement arm, so only the plain paths consult this.
    */
  private def isStringValued(dir: String): Boolean =
    graft.sources.CellSource.valueTypeOf(dir) ==
      org.apache.spark.sql.types.StringType

  /** The remaining front-door scalar value types (C65q, r14):
    * double, boolean, timestamp — one generic cell path serves all
    * three (the file writer is value-tagged already; only the
    * LITERAL grammar is type-specific). `vt` is the table's value
    * type, which the write arms resolve once per statement after
    * routing UDT and counter tables elsewhere.
    */
  private def otherScalarType(vt: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] =
    vt match {
      case t @ (org.apache.spark.sql.types.DoubleType |
          org.apache.spark.sql.types.BooleanType |
          org.apache.spark.sql.types.TimestampType) => Some(t)
      case _ => None
    }

  // ---------------------------------------------------------------
  // C65r — MAPPED CQL value types: uuid/timeuuid/inet/float/decimal/
  // varint/time/date/smallint/tinyint STORE as one of the cell
  // layer's existing scalar layouts (the file format gains nothing);
  // the DECLARED name rides as the `cqlValueType` table property and
  // drives the literal grammar, refusals, and DESCRIBE/system_schema
  // rendering. Mapped KEY parts (`cqlKeyType.<n>`) work the same way
  // over the CEL6 typed comparator — a uuid key is a text key whose
  // literals happen to be unquoted and shape-validated (C36d).

  /** declared CQL type → storage layout (a `valueType` option /
    * `keyType.<n>` Spark type string).
    */
  private val MappedCqlTypes: Map[String, String] = Map(
    "uuid" -> "string", "timeuuid" -> "string", "inet" -> "string",
    "float" -> "double", "decimal" -> "decimal(18,6)",
    "varint" -> "bigint", "time" -> "bigint",
    "date" -> "int", "smallint" -> "int", "tinyint" -> "int",
    // duration (C65s): canonical (months, days, nanos) rendering as
    // text — durations are NOT comparable (Cassandra's rule), so the
    // WHERE/index/agg paths refuse rather than compare the rendering
    "duration" -> "string",
    // ascii (C65v): text storage + a US-ASCII-validating grammar
    "ascii" -> "string")

  /** The DECLARED mapped value type of a table, if any (`_props`
    * `cqlValueType`, written at CREATE TABLE).
    */
  private def cqlValueTypeOf(dir: String): Option[String] =
    tableProps(dir).get("cqlValueType")

  /** The DECLARED collection spelling of a table's value column
    * (C65z — `set<inet>` / `list<uuid>` / `map<text, date>`), if any.
    */
  private def cqlCollectionOf(dir: String): Option[String] =
    tableProps(dir).get("cqlCollection")

  /** (declared CQL name, storage DataType) for a mapped-value table
    * — the write paths route literals by the declared name and hand
    * storage-typed values to the generic value-tagged cell path.
    */
  private def mappedValueType(dir: String)
      : Option[(String, org.apache.spark.sql.types.DataType)] =
    cqlValueTypeOf(dir).map(ct =>
      (ct, graft.sources.CellSource.valueTypeOf(dir)))

  /** Validated literal for a mapped CQL type, producing the STORAGE
    * external value. Each arm enforces the declared type's own
    * grammar — this is where `uuid` differs from the text it stores
    * as: a non-uuid string refuses instead of writing garbage.
    */
  /** C72 — deterministic FUNCTION-CALL literals: `now()` mints a
    * version-1 timeuuid whose 60-bit time IS the statement's
    * writetime coordinate (the engine's logical clock — no wall
    * time, so lifecycles replay bit-identically), `uuid()` a
    * version-4 uuid derived from the same coordinate. Every call in
    * ONE statement returns the SAME value — Cassandra's own rule
    * (all now() calls in a statement are identical). The node field
    * is a fixed engine constant; uniqueness rides the writetime,
    * which is unique per statement by construction.
    */
  def mintTimeuuid(wt: Long): String = {
    val time = wt & 0x0FFFFFFFFFFFFFFFL
    f"${time & 0xFFFFFFFFL}%08x-${(time >> 32) & 0xFFFFL}%04x-" +
      f"${((time >> 48) & 0x0FFFL) | 0x1000L}%04x-8000-677261667401"
  }

  def mintUuid(wt: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"uuid:$wt".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    h(6) = ((h(6) & 0x0f) | 0x40).toByte // version 4
    h(8) = ((h(8) & 0x3f) | 0x80).toByte // variant 10
    val bb = java.nio.ByteBuffer.wrap(h)
    new java.util.UUID(bb.getLong, bb.getLong).toString
  }

  /** The mapped grammar extended with the fcall literals (C72):
    * `now()` serves timeuuid AND uuid columns (a timeuuid IS a uuid,
    * Cassandra's own assignability), `uuid()` uuid columns only.
    * Everything else parses through the declared grammar unchanged.
    */
  private def fcallLiteral(ct: String, wt: Long)(
      raw: String, what: String): Any = raw.trim.toLowerCase match {
    case "now()" if ct == "uuid" || ct == "timeuuid" =>
      mappedLiteral(ct)(s"'${mintTimeuuid(wt)}'", what)
    case "uuid()" if ct == "uuid" =>
      mappedLiteral(ct)(s"'${mintUuid(wt)}'", what)
    case "uuid()" if ct == "timeuuid" =>
      fail(s"$what: uuid() mints a version-4 uuid — a timeuuid " +
        "column takes now()")
    // C72b — toDate(now()): the statement clock read as epoch
    // milliseconds (the SAME coordinate now()'s 60-bit time is),
    // rendered as its UTC day through the declared date grammar
    case "todate(now())" if ct == "date" =>
      mappedLiteral(ct)(s"'${java.time.LocalDate.ofEpochDay(
        Math.floorDiv(wt, 86400000L)).toString}'", what)
    case _ => mappedLiteral(ct)(raw, what)
  }

  /** C72b — the fcall family over the OTHER scalar value types:
    * `toTimestamp(now())` on timestamp columns mints the instant
    * epoch + wt milliseconds — the statement's writetime coordinate
    * read as a clock, exactly the C72 rule (every call in one
    * statement returns the same value; lifecycles replay
    * bit-identically because no wall time is consulted). Everything
    * else parses through the plain scalar grammar.
    */
  private def fcallScalar(vt: org.apache.spark.sql.types.DataType,
      wt: Long)(raw: String, what: String): Any =
    raw.trim.toLowerCase match {
      case "totimestamp(now())"
          if vt == org.apache.spark.sql.types.TimestampType =>
        new java.sql.Timestamp(wt)
      case _ => scalarLiteral(vt)(raw, what)
    }

  /** C72b — `toUnixTimestamp(now())` on plain bigint columns: the
    * statement clock's epoch-millisecond reading IS the writetime
    * coordinate, so the minted value is `wt` itself.
    */
  private def longFcall(wt: Long)(raw: String, what: String): Long =
    raw.trim.toLowerCase match {
      case "tounixtimestamp(now())" => wt
      case _ => longLiteral(raw, what)
    }

  private def mappedLiteral(ct: String)(raw: String, what: String)
      : Any = {
    val t = raw.trim
    ct match {
      case "uuid" | "timeuuid" =>
        val s = literal(t) match {
          case s: String => s
          case o => fail(s"$what takes a uuid literal " +
            "(xxxxxxxx-xxxx-xxxx-xxxx-xxxxxxxxxxxx), got: $o")
        }
        val u = try java.util.UUID.fromString(s)
          catch { case _: Exception =>
            fail(s"$what takes a uuid literal, got: '$s'") }
        if (ct == "timeuuid" && u.version != 1)
          fail(s"$what takes a version-1 (time-based) uuid, got " +
            s"version ${u.version}: $s")
        u.toString // canonical lowercase
      case "inet" =>
        val s = literal(t) match {
          case s: String => s
          case o => fail(s"$what takes a quoted IPv4/IPv6 address " +
            s"literal, got: $o")
        }
        if (!isInetLiteral(s))
          fail(s"$what takes an IPv4/IPv6 address literal, got: '$s'")
        s.toLowerCase
      case "float" => literal(t) match {
        // Cassandra's float is 32-bit: the literal ROUNDS to float
        // precision, then stores as its exact double widening
        case d: Double => d.toFloat.toDouble
        case l: Long => l.toFloat.toDouble
        case o => fail(s"$what takes a float literal, got: $o")
      }
      case "decimal" =>
        if (!t.matches("[-+]?\\d+(\\.\\d+)?"))
          fail(s"$what takes a decimal literal, got: $t")
        val bd = new java.math.BigDecimal(t)
        val scaled = try bd.setScale(6,
            java.math.RoundingMode.UNNECESSARY)
          catch { case _: ArithmeticException =>
            fail(s"$what: scale beyond 6 digits is outside this " +
              s"subset's decimal(18,6) layout: $t") }
        if (scaled.precision > 18)
          fail(s"$what: precision beyond 18 digits is outside this " +
            s"subset's decimal(18,6) layout: $t")
        scaled
      case "varint" =>
        if (!t.matches("[-+]?\\d+"))
          fail(s"$what takes an integer literal, got: $t")
        val bi = BigInt(t)
        if (!bi.isValidLong)
          fail(s"$what: varint beyond 64 bits is outside this " +
            s"subset (bigint-backed): $t")
        bi.toLong
      case "time" => literal(t) match {
        // Cassandra's own representation: nanos since midnight
        case l: Long =>
          if (l < 0 || l >= 86400L * 1000000000L)
            fail(s"$what: nanos-since-midnight out of range: $l")
          l
        case s: String =>
          try java.time.LocalTime.parse(s).toNanoOfDay
          catch { case _: Exception =>
            fail(s"$what takes 'HH:MM:SS[.fffffffff]' or nanos " +
              s"since midnight, got: '$s'") }
        case o => fail(s"$what takes a time literal, got: $o")
      }
      case "date" => literal(t) match {
        // days since epoch (signed int — Cassandra stores unsigned
        // epoch-centered; the SIGNED day count is this subset's
        // storage, same ordering)
        case s: String =>
          val d = try java.time.LocalDate.parse(s).toEpochDay
            catch { case _: Exception =>
              fail(s"$what takes a 'YYYY-MM-DD' date literal, " +
                s"got: '$s'") }
          if (d < Int.MinValue || d > Int.MaxValue)
            fail(s"$what: date out of range: $s")
          d.toInt
        case o => fail(s"$what takes a 'YYYY-MM-DD' date literal, " +
          s"got: $o")
      }
      case "smallint" => literal(t) match {
        case l: Long =>
          if (l < Short.MinValue || l > Short.MaxValue)
            fail(s"$what: $l is outside the smallint range")
          l.toInt
        case o => fail(s"$what takes a smallint literal, got: $o")
      }
      case "tinyint" => literal(t) match {
        case l: Long =>
          if (l < Byte.MinValue || l > Byte.MaxValue)
            fail(s"$what: $l is outside the tinyint range")
          l.toInt
        case o => fail(s"$what takes a tinyint literal, got: $o")
      }
      case "duration" => durationLiteral(t, what)
      // C55h/C55j (r18): not declared MAPPED types — their storage
      // IS the Spark type — but the LWT grammar selector routes
      // their literals here so every CAS path shares one parser
      case "timestamp" =>
        scalarLiteral(org.apache.spark.sql.types.TimestampType)(t, what)
      case "double" =>
        scalarLiteral(org.apache.spark.sql.types.DoubleType)(t, what)
      case "boolean" =>
        scalarLiteral(org.apache.spark.sql.types.BooleanType)(t, what)
      case "int" => literal(t) match {
        case l: Long =>
          if (l < Int.MinValue || l > Int.MaxValue)
            fail(s"$what: $l is outside the int range")
          l.toInt
        case o => fail(s"$what takes an int literal, got: $o")
      }
      case "blob" => blobLiteral(t, what)
      case "ascii" => literal(t) match {
        case s: String =>
          s.find(_ > 127).foreach(c =>
            fail(f"$what: ascii values take US-ASCII only, got " +
              f"'$c' (U+${c.toInt}%04X)"))
          s
        case o => fail(s"$what takes a quoted ascii string, got: $o")
      }
      case v if v.startsWith("vector<") =>
        // `[f1, f2, ...]` with exactly the declared dimension; wire
        // form = 4n bytes IEEE-754 big-endian (Cassandra's own)
        val dim = v.stripPrefix("vector<float,").stripSuffix(">").toInt
        if (!(t.startsWith("[") && t.endsWith("]")))
          fail(s"$what takes a vector literal [f1, f2, ...], got: $t")
        val items = t.substring(1, t.length - 1).split(',')
          .map(_.trim).filter(_.nonEmpty)
        if (items.length != dim)
          fail(s"$what: vector literal has ${items.length} " +
            s"components, the declared type $v takes $dim")
        val fs = items.map(x => literal(x) match {
          case d: Double => d.toFloat
          case l: Long => l.toFloat
          case o => fail(s"$what: vector components are floats, " +
            s"got: $o")
        })
        graft.functions.VectorCodec.encode(fs)
      case o => fail(s"unsupported mapped CQL type: $o")
    }
  }

  /** One `<n><unit>` component of Cassandra's duration grammar. */
  private val DurUnitRe = """(\d+)(y|mo|w|d|h|ms|us|µs|ns|m|s)""".r

  /** ISO-8601 duration (`P1Y2M3DT4H5M6.5S`, weeks form `PnW`). */
  private val DurIsoRe = ("""(?i)P(?:(\d+)Y)?(?:(\d+)M)?(?:(\d+)D)?""" +
    """(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+)(?:\.(\d{1,9}))?S)?)?""").r
  private val DurIsoWeeksRe = """(?i)P(\d+)W""".r

  /** Cassandra duration literal → the canonical text rendering this
    * subset stores. Two public grammars (Cassandra's own): the
    * unit-suffixed form `12h30m` (units y mo w d h m s ms us µs ns in
    * strictly DESCENDING order, optional leading `-` negating the
    * whole value) and ISO-8601 (`P1Y2M3DT4H5M6S`, `P2W`). Durations
    * decompose into Cassandra's (months, days, nanoseconds) triple —
    * three INDEPENDENT axes (a month is not a fixed day count), which
    * is why durations are not comparable and every ordering path
    * refuses. The canonical rendering mirrors Cassandra's own
    * Duration.toString: nonzero components largest-unit-first.
    */
  private def durationLiteral(raw: String, what: String): String = {
    val t0 = raw.trim
    // the quoted form is accepted too (cqlsh renders both)
    val t1 = if (t0.startsWith("'") && t0.endsWith("'") &&
        t0.length >= 2)
      t0.substring(1, t0.length - 1).replace("''", "'").trim else t0
    val neg = t1.startsWith("-")
    val t = (if (neg) t1.substring(1) else t1).trim
    if (t.isEmpty) fail(s"$what takes a duration literal " +
      "(e.g. 12h30m, P1Y2M3D), got an empty string")
    var months = 0L; var days = 0L; var nanos = 0L
    def add(unit: String, n: Long): Unit = unit match {
      case "y" => months = Math.addExact(months, Math.multiplyExact(n, 12L))
      case "mo" => months = Math.addExact(months, n)
      case "w" => days = Math.addExact(days, Math.multiplyExact(n, 7L))
      case "d" => days = Math.addExact(days, n)
      case "h" => nanos = Math.addExact(nanos,
        Math.multiplyExact(n, 3600000000000L))
      case "m" => nanos = Math.addExact(nanos,
        Math.multiplyExact(n, 60000000000L))
      case "s" => nanos = Math.addExact(nanos,
        Math.multiplyExact(n, 1000000000L))
      case "ms" => nanos = Math.addExact(nanos,
        Math.multiplyExact(n, 1000000L))
      case "us" | "µs" => nanos = Math.addExact(nanos,
        Math.multiplyExact(n, 1000L))
      case "ns" => nanos = Math.addExact(nanos, n)
    }
    try t match {
      case DurIsoWeeksRe(w) => add("w", w.toLong)
      case DurIsoRe(y, mo, d, h, mi, s, frac)
          if Seq(y, mo, d, h, mi, s).exists(_ != null) =>
        if (y != null) add("y", y.toLong)
        if (mo != null) add("mo", mo.toLong)
        if (d != null) add("d", d.toLong)
        if (h != null) add("h", h.toLong)
        if (mi != null) add("m", mi.toLong)
        if (s != null) add("s", s.toLong)
        if (frac != null) add("ns", frac.padTo(9, '0').toLong)
      case _ =>
        // unit-suffixed form: the whole string must be consumed by
        // `<n><unit>` components in strictly descending unit order
        // (Cassandra's parser refuses `1m2h` and repeated units)
        val unitRank = Map("y" -> 0, "mo" -> 1, "w" -> 2, "d" -> 3,
          "h" -> 4, "m" -> 5, "s" -> 6, "ms" -> 7, "us" -> 8,
          "µs" -> 8, "ns" -> 9)
        var pos = 0; var lastRank = -1
        val lower = t.toLowerCase
        val m = DurUnitRe.pattern.matcher(lower)
        while (pos < lower.length) {
          if (!m.find(pos) || m.start != pos)
            fail(s"$what takes a duration literal (digits + units " +
              s"y/mo/w/d/h/m/s/ms/us/ns, or ISO-8601 P...), got: '$t1'")
          val rank = unitRank(m.group(2))
          if (rank <= lastRank)
            fail(s"$what: duration units must appear once, in " +
              s"descending order (y mo w d h m s ms us ns): '$t1'")
          lastRank = rank
          add(m.group(2), m.group(1).toLong)
          pos = m.end
        }
    } catch { case _: ArithmeticException =>
      fail(s"$what: duration overflows the (months, days, nanos) " +
        s"representation: '$t1'")
    }
    // Cassandra's Duration is (int months, int days, long nanos) —
    // month/day counts beyond 32 bits are invalid upstream and must
    // not round-trip here as if they were representable
    if (months > Int.MaxValue || days > Int.MaxValue)
      fail(s"$what: duration overflows the (months, days, nanos) " +
        s"representation (months and days are 32-bit): '$t1'")
    renderDuration(neg && (months | days | nanos) != 0L,
      months, days, nanos)
  }

  /** Canonical rendering of a (months, days, nanos) duration —
    * Cassandra's Duration.toString shape: nonzero components
    * largest-unit-first (`1y2mo3d4h5m6s7ms8us9ns`), `0s` for zero.
    */
  private def renderDuration(neg: Boolean, months: Long, days: Long,
      nanos: Long): String = {
    if ((months | days | nanos) == 0L) return "0s"
    val sb = new StringBuilder(if (neg) "-" else "")
    if (months / 12 > 0) sb.append(months / 12).append('y')
    if (months % 12 > 0) sb.append(months % 12).append("mo")
    if (days > 0) sb.append(days).append('d')
    var ns = nanos
    def part(div: Long, unit: String): Unit = {
      if (ns / div > 0) sb.append(ns / div).append(unit)
      ns %= div
    }
    part(3600000000000L, "h"); part(60000000000L, "m")
    part(1000000000L, "s"); part(1000000L, "ms"); part(1000L, "us")
    if (ns > 0) sb.append(ns).append("ns")
    sb.toString
  }

  /** Textual IPv4/IPv6 address validation — REGEX-SHAPED on purpose:
    * InetAddress.getByName resolves non-address strings through DNS,
    * which a literal parser must never do.
    */
  private def isInetLiteral(s: String): Boolean = {
    val v4 = s.split('.')
    if (v4.length == 4 && v4.forall(p => p.nonEmpty && p.length <= 3 &&
        p.forall(_.isDigit) && p.toInt <= 255))
      return true
    if (!s.contains(':')) return false
    val compressed = s.indexOf("::")
    if (compressed >= 0 && s.indexOf("::", compressed + 1) >= 0)
      return false // at most one '::'
    val groups = s.split(":", -1).filter(_.nonEmpty)
    groups.nonEmpty && groups.length <= 8 &&
      (compressed >= 0 || groups.length == 8) &&
      groups.forall(g => g.length <= 4 &&
        g.forall(c => Character.digit(c, 16) >= 0))
  }

  /** An explicit trailing UTC offset ('-05:00', '+0530') on an
    * ISO-8601 timestamp literal — the one zone form a bare
    * contains("+") test misses is the negative offset.
    */
  private val TrailingOffsetRe = "[+-]\\d{2}:?\\d{2}$".r

  /** CQL literal for a C65q scalar type: doubles widen bigint
    * literals (CQL's own rule), booleans take true/false, timestamps
    * take epoch millis or an ISO-8601 instant string (UTC — the
    * session timezone everywhere here).
    */
  private def scalarLiteral(
      vt: org.apache.spark.sql.types.DataType)(
      raw: String, what: String): Any = vt match {
    case org.apache.spark.sql.types.DoubleType => literal(raw) match {
      case d: Double => d
      case l: Long => l.toDouble
      case o => fail(s"$what takes a double literal, got: $o")
    }
    case org.apache.spark.sql.types.BooleanType => literal(raw) match {
      case b: Boolean => b
      case o => fail(s"$what takes true/false, got: $o")
    }
    case org.apache.spark.sql.types.TimestampType =>
      literal(raw) match {
        case l: Long => new java.sql.Timestamp(l)
        case str: String =>
          // ISO-8601 instant; the space form and a missing zone
          // normalize to UTC (the session timezone everywhere here).
          // An EXPLICIT trailing offset — including a negative one
          // like '-05:00', which a bare contains("+") check misses —
          // must not get a 'Z' appended (Java 17's Instant.parse
          // accepts non-Z offsets directly).
          val iso0 = if (str.contains("T")) str
            else str.trim.replace(" ", "T")
          val hasZone = iso0.endsWith("Z") || iso0.contains("+") ||
            TrailingOffsetRe.findFirstIn(iso0).isDefined
          val iso = if (hasZone) iso0 else iso0 + "Z"
          try java.sql.Timestamp.from(java.time.Instant.parse(iso))
          catch { case _: Exception =>
            fail(s"$what takes epoch millis or an ISO-8601 " +
              s"instant ('2020-01-02T03:04:05Z'), got: '$str'")
          }
        case o => fail(s"$what takes epoch millis or an ISO-8601 " +
          s"instant, got: $o")
      }
    case t => fail(s"unsupported scalar value type: $t")
  }

  /** C65q/C65r INSERT cells: [[insertCells]]'s key/static grammar
    * with the type's literal in the value slot. Static columns
    * (C65x) land at the partition's marker position exactly as on
    * bigint/text tables — the literal parses through the SAME
    * declared grammar as regular cells.
    */
  private def insertScalarCells(
      parse: (String, String) => Any, cols: String,
      vals: String, wt: Long,
      statics: Set[String] = Set.empty)
      : Seq[(Long, Int, String, Any, Long)] = {
    val names = cols.split(',').map(_.trim)
    val values = splitValues(vals)
    if (names.length != values.length)
      fail(s"INSERT arity mismatch: ${names.length} columns, " +
        s"${values.length} values")
    val kv = names.map(_.toLowerCase).zip(values.map(_.trim)).toMap
    val pk = longLiteral(
      kv.getOrElse("pk", fail("INSERT must bind pk")), "pk")
    val data = names.map(_.toLowerCase)
      .filterNot(n => n == "pk" || n == "ck")
    if (data.isEmpty) fail("INSERT needs at least one data column")
    val (st, reg) = data.toSeq.partition(statics.contains)
    lazy val ck = ckLiteral(
      kv.getOrElse("ck", fail("INSERT must bind ck")))
    reg.map(c =>
      (pk, ck, c, parse(kv(c), s"value of $c"), wt)) ++
      st.map(c => (pk, Int.MinValue,
        graft.sources.CellSource.StaticPrefix + c,
        parse(kv(c), s"value of $c"), wt))
  }

  /** C65q/C65r UPDATE cells. SET items split bracket-aware — a
    * vector literal (C70) nests commas. Static SETs (C65x) address
    * the partition (Cassandra's rule), so ck stays lazily bound.
    */
  private def updateScalarCells(
      parse: (String, String) => Any, sets: String,
      where: String, wt: Long,
      statics: Set[String] = Set.empty)
      : Seq[(Long, Int, String, Any, Long)] = {
    val (pks, ckEq, _, _) = keyPredicate(where)
    lazy val ck = ckEq.getOrElse(fail("UPDATE WHERE must bind ck"))
    for {
      item <- splitValues(sets).toSeq
      (c, v) = item match {
        case SetRe(c, v) => (c.toLowerCase,
          parse(v, s"value of $c"))
        case x => fail(s"unsupported SET item: $x")
      }
      pk <- pks.toSeq.sorted
    } yield
      if (statics.contains(c))
        (pk, Int.MinValue,
          graft.sources.CellSource.StaticPrefix + c, v, wt)
      else (pk, ck, c, v, wt)
  }

  /** BLOB-valued INSERT cells (C65p): [[insertCells]]'s key grammar
    * with `0x<hex>` literals in the value slot (statics are outside
    * this subset on blob tables).
    */
  private def insertBlobCells(cols: String, vals: String, wt: Long)
      : Seq[(Long, Int, String, Array[Byte], Long)] = {
    val names = cols.split(',').map(_.trim)
    val values = splitValues(vals)
    if (names.length != values.length)
      fail(s"INSERT arity mismatch: ${names.length} columns, " +
        s"${values.length} values")
    val kv = names.map(_.toLowerCase).zip(values.map(_.trim)).toMap
    val pk = longLiteral(
      kv.getOrElse("pk", fail("INSERT must bind pk")), "pk")
    val ck = ckLiteral(
      kv.getOrElse("ck", fail("INSERT must bind ck")))
    val data = names.map(_.toLowerCase)
      .filterNot(n => n == "pk" || n == "ck")
    if (data.isEmpty) fail("INSERT needs at least one data column")
    data.map(c =>
      (pk, ck, c, blobLiteral(kv(c), s"value of $c"), wt)).toSeq
  }

  /** BLOB-valued UPDATE cells (C65p). */
  private def updateBlobCells(sets: String, where: String, wt: Long)
      : Seq[(Long, Int, String, Array[Byte], Long)] = {
    val (pks, ckEq, _, _) = keyPredicate(where)
    val ck = ckEq.getOrElse(fail("UPDATE WHERE must bind ck"))
    for {
      item <- sets.split(',').toSeq
      (c, v) = item match {
        case SetRe(c, v) => (c.toLowerCase,
          blobLiteral(v, s"value of $c"))
        case x => fail(s"unsupported SET item: $x")
      }
      pk <- pks.toSeq.sorted
    } yield (pk, ck, c, v, wt)
  }

  private def stringLiteral(raw: String, what: String): String =
    literal(raw) match {
      case s: String => s
      case o => fail(s"$what takes a text literal on a text-valued " +
        s"table, got: $o")
    }

  /** TEXT-valued INSERT cells (C65o): [[insertCells]]'s key/static
    * grammar with text literals in the value slot.
    */
  private def insertStringCells(cols: String, vals: String, wt: Long,
      statics: Set[String])
      : Seq[(Long, Int, String, String, Long)] = {
    val names = cols.split(',').map(_.trim)
    val values = splitValues(vals)
    if (names.length != values.length)
      fail(s"INSERT arity mismatch: ${names.length} columns, " +
        s"${values.length} values")
    val kv = names.map(_.toLowerCase).zip(values.map(_.trim)).toMap
    val pk = longLiteral(
      kv.getOrElse("pk", fail("INSERT must bind pk")), "pk")
    val data = names.map(_.toLowerCase)
      .filterNot(n => n == "pk" || n == "ck")
    if (data.isEmpty) fail("INSERT needs at least one data column")
    val (st, reg) = data.toSeq.partition(statics.contains)
    lazy val ck =
      ckLiteral(kv.getOrElse("ck", fail("INSERT must bind ck")))
    reg.map(c =>
      (pk, ck, c, stringLiteral(kv(c), s"value of $c"), wt)) ++
      st.map(c => (pk, Int.MinValue,
        graft.sources.CellSource.StaticPrefix + c,
        stringLiteral(kv(c), s"value of $c"), wt))
  }

  /** TEXT-valued UPDATE cells (C65o): [[updateCells]]'s grammar with
    * text literals.
    */
  private def updateStringCells(sets: String, where: String, wt: Long,
      statics: Set[String])
      : Seq[(Long, Int, String, String, Long)] = {
    val (pks, ckEq, _, _) = keyPredicate(where)
    lazy val ck = ckEq.getOrElse(fail("UPDATE WHERE must bind ck"))
    for {
      s <- sets.split(',').toSeq
      (c, v) = s match {
        case SetRe(c, v) => (c.toLowerCase,
          stringLiteral(v, s"value of $c"))
        case x => fail(s"unsupported SET item: $x")
      }
      pk <- pks.toSeq.sorted
    } yield
      if (statics.contains(c))
        (pk, Int.MinValue,
          graft.sources.CellSource.StaticPrefix + c, v, wt)
      else (pk, ck, c, v, wt)
  }

  private def updateCells(sets: String, where: String, wt: Long,
      statics: Set[String] = Set.empty)
      : Seq[(Long, Int, String, Long, Long)] = {
    val (pks, ckEq, _, _) = keyPredicate(where)
    // ck binds the clustering row for REGULAR cells only; static
    // SETs address the partition (Cassandra's rule)
    lazy val ck = ckEq.getOrElse(fail("UPDATE WHERE must bind ck"))
    for {
      s <- sets.split(',').toSeq
      (c, v) = s match {
        case SetRe(c, v) => (c.toLowerCase,
          longFcall(wt)(v, s"value of $c"))
        case x => fail(s"unsupported SET item: $x")
      }
      pk <- pks.toSeq.sorted
    } yield
      if (statics.contains(c))
        (pk, Int.MinValue,
          graft.sources.CellSource.StaticPrefix + c, v, wt)
      else (pk, ck, c, v, wt)
  }

  // ---------------------------------------------------------------
  // CQL collection writes (C11/C12/C13's element-per-cell encoding):
  //  - `m[<'key'>] = v`       map put — the ROW is the map (C12:
  //    entries are the (pk, ck) row's cells keyed by col), so a put
  //    is one cell at (pk, ck, key, v); `DELETE <key> ... AND ck=?`
  //    is already the entry delete.
  //  - `lst = lst + [v, ...]` list append — elements are cells of
  //    col = <lst> ordered by ck (C11); appends claim cks after the
  //    partition's current max for that collection.
  //  - `st = st + {v, ...}`   set add — same cell shape (C13 dedups
  //    on read), so adding a present element is a no-op on the
  //    reassembled set, Cassandra's own idempotence.
  //  - `st = st - {v, ...}`   set remove — one `!del:<st>` cell
  //    tombstone per matching element cell (found by a pk-pushed
  //    point read, Cassandra's read-free remove is a tombstone too).

  private val MapPutRe =
    """(?is)^\s*(\w+)\s*\[\s*('(?:[^']|'')*')\s*\]\s*=\s*(.+?)\s*$""".r
  private val ListIdxSetRe =
    """(?is)^\s*(\w+)\s*\[\s*(\d+)\s*\]\s*=\s*(.+?)\s*$""".r
  private val ListAppendRe =
    """(?is)^\s*(\w+)\s*=\s*(\w+)\s*\+\s*\[([^\]]*)\]\s*$""".r
  private val SetAddRe =
    """(?is)^\s*(\w+)\s*=\s*(\w+)\s*\+\s*\{([^}]*)\}\s*$""".r
  private val SetRemoveRe =
    """(?is)^\s*(\w+)\s*=\s*(\w+)\s*-\s*\{([^}]*)\}\s*$""".r
  // whole-collection REPLACE (C11f): a DIRECT literal assignment
  // (`l = [..]` / `st = {..}`), vs the self-referencing +/- forms
  private val ListReplaceRe =
    """(?is)^\s*(\w+)\s*=\s*\[([^\]]*)\]\s*$""".r
  private val BraceReplaceRe =
    """(?is)^\s*(\w+)\s*=\s*\{([^}]*)\}\s*$""".r

  private def hasCollectionSyntax(sets: String): Boolean =
    sets.split(',').exists { s =>
      // note: element lists themselves contain ',' — a cheap contains
      // check decides the ROUTE; the real parse re-splits carefully
      s.contains("[") || s.contains("{") || s.contains("}")
    }

  /** A brace literal whose content is QUOTED is a MAP form, not a
    * set: on a bigint-valued table set elements are bigint literals
    * and map keys text — the quote is the unambiguous discriminator
    * (`m + {'k': v}` / `m - {'k'}` vs `st + {5}`). On a TEXT-valued
    * table (C65o collections, r14) set elements are quoted too, so
    * the discriminator is the `'k': v` COLON form: `{'a', 'b'}` is a
    * set of strings, `{'k': 'v'}` a map entry — and the subtract form
    * is always SET-remove there (map entries delete via
    * `DELETE m['k']`, which is unambiguous on every layout).
    */
  private def isMapLiteral(body: String,
      stringValued: Boolean): Boolean =
    if (!stringValued) body.contains("'")
    else splitValues(body).headOption.exists {
      case KvRe(_, _) => true
      case _ => false
    }

  private val KvRe =
    """(?is)^\s*('(?:[^']|'')*')\s*:\s*(.+?)\s*$""".r

  /** Map-literal entries `'k': v [, 'k2': v2 …]` → (verbatim key,
    * value) pairs; keys are DATA (stored case-sensitively, C12),
    * values parse through the table's element grammar (`parse`).
    */
  private def mapEntries(body: String,
      parse: (String, String) => Any): Seq[(String, Any)] =
    splitValues(body).toSeq.map {
      case KvRe(kq, v) =>
        val k = literal(kq) match {
          case s: String => s
          case o => fail(s"map key must be a text literal, got $o")
        }
        if (k.isEmpty || k.startsWith("!"))
          fail(s"unsupported map key: '$k'")
        (k, parse(v, "map value"))
      case e => fail(s"map literal entries are 'key': value, got: $e")
    }

  /** Map-subtract keys `'k' [, 'k2' …]` → verbatim keys. */
  private def mapSubKeys(body: String): Seq[String] =
    splitValues(body).toSeq.map { e =>
      literal(e.trim) match {
        case s: String if s.nonEmpty && !s.startsWith("!") => s
        case s: String => fail(s"unsupported map key: '$s'")
        case o => fail(s"map key must be a text literal, got $o")
      }
    }

  /** Split SET items on commas OUTSIDE quotes, brackets and braces
    * (collection literals contain commas).
    */
  private def splitSetItems(sets: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var depth = 0
    sets.foreach {
      case '\'' => inQ = !inQ; cur += '\''
      case c @ ('[' | '{') if !inQ => depth += 1; cur += c
      case c @ (']' | '}') if !inQ => depth -= 1; cur += c
      case ',' if !inQ && depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** The collection element/value parser for a table: text literals
    * on TEXT-valued tables (C65o collections, r14), bigint elsewhere.
    */
  private def collValue(stringValued: Boolean)(
      raw: String, what: String): Any =
    if (stringValued) stringLiteral(raw, what)
    else longLiteral(raw, what)

  private def collectionUpdate(spark: SparkSession, dir: String,
      sets: String, where: String, wt: Long,
      ttl: Option[Long]): Unit = {
    val (cells, tombs) = stageCollectionCells(spark, dir, sets, where,
      wt, scala.collection.mutable.Map.empty)
    // element cells ride the table's value type (bigint, text, or a
    // mapped type's storage); tombstone value slots take its neutral
    // and never the TTL — an expiring tombstone would resurrect
    // removed elements
    val vt = graft.sources.CellSource.valueTypeOf(dir)
    appendCells(dir, vt, cells, ttl)
    appendCells(dir, vt, tombs, ttl = None)
  }

  /** The parse/read/stage core of [[collectionUpdate]]: resolves the
    * statement's SET items against the table's CURRENT reconciled
    * state (flushing this script's buffered writes first) and returns
    * the data cells and tombstone markers WITHOUT writing — the
    * single-statement path appends them through the table's value
    * path; the LOGGED-BATCH path (C11i) stages them under the C56
    * journal so they land atomically at the batch writetime.
    * `nextCk` carries append positions ACROSS statements of one batch
    * (Cassandra's same-batch appends land as distinct elements in
    * statement order; a shared map gives each append a disjoint ck —
    * a per-call empty map restores single-statement behavior).
    */
  private def stageCollectionCells(spark: SparkSession, dir: String,
      sets: String, where: String, wt: Long,
      nextCk: scala.collection.mutable.Map[(Long, String), Int])
      : (Seq[(Long, Int, String, Any, Long)],
        Seq[(Long, Int, String, Any, Long)]) = {
    // list appends / set removes read the reconciled current state
    flushBuffered(spark, dir)
    // element grammar (C65x): a mapped declared type parses elements
    // through ITS validated grammar (`set<inet>` refuses non-
    // addresses) and stores the canonical storage rendering; plain
    // tables keep the text/bigint element grammar
    val mapped = mappedValueType(dir)
    val str = mapped.isEmpty && isStringValued(dir)
    // brace-literal discriminator: quoted-element types (text AND
    // every mapped grammar with quoted literals) distinguish map
    // from set by the 'k': v colon form; bare-number tables by the
    // quote itself (C65o's rule, extended)
    val quotedElems = str || mapped.isDefined
    val lit: (String, String) => Any = mapped match {
      case Some((ct, _)) => mappedLiteral(ct)
      case None => collValue(str)
    }
    // declared-kind gating (C65z): a `set<inet>` column refuses the
    // list/map write forms by name (Cassandra's own type errors);
    // undeclared tables keep serving every form (the pre-C65z model)
    val declaredColl = cqlCollectionOf(dir)
    val declKind = declaredColl.map(_.takeWhile(_ != '<'))
    def requireKind(k: String, form: String): Unit =
      declKind.foreach(dk => if (dk != k)
        fail(s"$form does not apply to a ${declaredColl.get} " +
          s"column (declared $dk writes only)"))
    val (pks, ckEq, _, _) = keyPredicate(where)
    val pkSeq = pks.toSeq.sorted
    val cells = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Int, String, Any, Long)]
    // tombstone markers write SEPARATELY, never under the statement's
    // TTL (explicit or table default): an expiring tombstone would
    // resurrect the removed elements at its expiry
    val tombs = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Int, String, Any, Long)]
    // bounded point reads against the reconciled view (pk-pushed):
    // current max ck per (pk, collection) for appends, element cks
    // for removes — the hit sets are per-statement small
    def reconciled = spark.read.format(Fmt)
      .option("reconcile", "true").load(dir)
    // next free ck per (pk, collection), shared ACROSS the statement's
    // SET items (and, via the caller-owned map, across a BATCH's
    // statements): two appends to the same collection must claim
    // disjoint cks — a collision would be two same-wt cells at one
    // (pk, ck, col), an LWW tie that silently drops an element
    // C11h — whole-map replace/clear on a DECLARED map column: the
    // fully-bound (pk, ck) row IS the map, so the clear set is the
    // row's live non-marker cells (statics are '!s:'-prefixed and
    // partition-front — excluded twice over). One bounded point read
    // per statement, the same trade set-remove makes.
    def replaceMapRow(name: String,
        entries: Seq[(String, Any)]): Unit = {
      if (name.startsWith("!"))
        fail(s"unsupported collection name: $name")
      val ck = ckEq.getOrElse(
        fail("map replace needs WHERE ... AND ck = ? (the row IS " +
          "the map)"))
      // duplicate keys in one literal: last occurrence wins
      // (Cassandra's map-literal rule)
      val ents = scala.collection.immutable.ListMap(entries: _*)
      val old = localReconciled(dir, pkSeq)
        .filter(r => r.getInt(1) == ck && !r.getString(2).startsWith("!"))
        .map(r => (r.getLong(0), r.getString(2)))
      old.filterNot(r => ents.contains(r._2)).foreach(r =>
        tombs += ((r._1, ck, s"!del:${r._2}", 0L, wt)))
      ents.foreach { case (k, v) =>
        pkSeq.foreach(pk => cells += ((pk, ck, k, v, wt))) }
    }
    splitSetItems(sets).foreach {
      case MapPutRe(_, key, v) =>
        requireKind("map", "map put m['k'] = v")
        val ck = ckEq.getOrElse(
          fail("map put needs WHERE ... AND ck = ? (the row IS the map)"))
        val k = literal(key) match {
          case s: String => s
          case o => fail(s"map key must be a text literal, got $o")
        }
        if (k.isEmpty || k.startsWith("!"))
          fail(s"unsupported map key: '$k'")
        // map keys are DATA, not identifiers: store verbatim. Folding
        // case here would silently collapse m['A'] and m['a'] into one
        // entry; only identifier positions are case-insensitive in CQL.
        pkSeq.foreach(pk =>
          cells += ((pk, ck, k, lit(v, "map value"), wt)))
      case ListAppendRe(n1, n2, vs) =>
        if (!n1.equalsIgnoreCase(n2))
          fail(s"list append must extend the same column ($n1 vs $n2)")
        requireKind("list", "list append c = c + [..]")
        appendElements(dir, n1.toLowerCase, pkSeq,
          splitValues(vs).toSeq.map(lit(_, "list element")),
          wt, cells, nextCk)
      // index-addressed element write (C11e): `l[i] = v` overwrites
      // the i-th live element's cell IN PLACE (same ck, fresh wt) —
      // Cassandra's own read-before-write list operation; `l[i] =
      // null` is the index-addressed REMOVE (an element tombstone,
      // exactly `DELETE l[i]`)
      case ListIdxSetRe(n, idxS, v) =>
        requireKind("list", "list index set c[i] = v")
        val name = n.toLowerCase
        if (name.startsWith("!"))
          fail(s"unsupported collection name: $name")
        val targets = listIndexTargets(dir, name, pkSeq,
          idxS.toInt)
        if (v.trim.equalsIgnoreCase("null"))
          targets.foreach { case (pk, ck) =>
            tombs += ((pk, ck, s"!del:$name", 0L, wt)) }
        else {
          val pv = lit(v, "list element")
          targets.foreach { case (pk, ck) =>
            cells += ((pk, ck, name, pv, wt)) }
        }
      // map-LITERAL forms (quoted braces): `m = m + {'k': v}` puts
      // each entry (≡ m['k'] = v), `m = m - {'k'}` tombstones the
      // entry cell — both on the fully-bound row (the row IS the map)
      case SetAddRe(n1, n2, vs) if isMapLiteral(vs, quotedElems) =>
        if (!n1.equalsIgnoreCase(n2))
          fail(s"map append must extend the same column ($n1 vs $n2)")
        requireKind("map", "map append c = c + {'k': v}")
        val ck = ckEq.getOrElse(
          fail("map append needs WHERE ... AND ck = ? (the row IS " +
            "the map)"))
        mapEntries(vs, lit).foreach { case (k, v) =>
          pkSeq.foreach(pk => cells += ((pk, ck, k, v, wt))) }
      case SetRemoveRe(n1, n2, vs) if isMapLiteral(vs, quotedElems) =>
        if (!n1.equalsIgnoreCase(n2))
          fail(s"map subtract must shrink the same column ($n1 vs $n2)")
        requireKind("map", "map subtract c = c - {'k'}")
        val ck = ckEq.getOrElse(
          fail("map subtract needs WHERE ... AND ck = ? (the row IS " +
            "the map)"))
        mapSubKeys(vs).foreach(k =>
          pkSeq.foreach(pk => tombs += ((pk, ck, s"!del:$k", 0L, wt))))
      case SetAddRe(n1, n2, vs) =>
        if (!n1.equalsIgnoreCase(n2))
          fail(s"set add must extend the same column ($n1 vs $n2)")
        requireKind("set", "set add c = c + {..}")
        appendElements(dir, n1.toLowerCase, pkSeq,
          splitValues(vs).toSeq.map(lit(_, "set element")),
          wt, cells, nextCk)
      case SetRemoveRe(n1, n2, vs) =>
        if (!n1.equalsIgnoreCase(n2))
          fail(s"set remove must shrink the same column ($n1 vs $n2)")
        requireKind("set", "set remove c = c - {..}")
        val name = n1.toLowerCase
        val victims = splitValues(vs).toSeq
          .map(lit(_, "set element"))
        // element cells to shadow: (pk, ck) of matching live cells —
        // r19 driver-local read; value equality on the external
        // values (byte[]/BigDecimal need structural compare, like
        // the pushed isin's semantics)
        def sameVal(a: Any, b: Any): Boolean = (a, b) match {
          case (x: Array[Byte], y: Array[Byte]) =>
            java.util.Arrays.equals(x, y)
          case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
            x.compareTo(y) == 0
          case _ => a == b
        }
        val hits = localReconciled(dir, pkSeq)
          .filter(r => r.getString(2) == name &&
            victims.exists(sameVal(_, r.get(3))))
        hits.foreach(r =>
          tombs += ((r.getLong(0), r.getInt(1), s"!del:$name", 0L, wt)))
      // whole-collection REPLACE (C11f): `l = [..]` / `st = {..}`
      // shadows every LIVE element cell of the collection (one
      // element tombstone each — the same bounded point-read trade
      // set-remove makes vs Cassandra's read-free complex deletion)
      // and writes the new elements at positions ABOVE every
      // shadowed ck, so the fresh cells never collide with their own
      // same-writetime tombstones. An empty literal (`l = []` /
      // `st = {}`) is the CQL collection CLEAR.
      case ListReplaceRe(n, vs) =>
        requireKind("list", "list replace c = [..]")
        replaceElements(dir, n.toLowerCase, pkSeq,
          if (vs.trim.isEmpty) Seq.empty
          else splitValues(vs).toSeq.map(lit(_, "list element")),
          wt, cells, tombs, nextCk)
      // whole-MAP replace/clear (C11h): on a DECLARED map<text, T>
      // column (C65z) the row's data cells ARE the entries — the
      // schema enumerates every key/static column, so the clear set
      // is computable: tombstone each live entry col the literal
      // does not re-put, then write the puts at the statement
      // writetime. A re-put key skips its tombstone so the fresh
      // cell never ties its own same-writetime shadow. Undeclared
      // tables keep the refusal (entry cells are indistinguishable
      // from scalar columns there).
      case BraceReplaceRe(n, vs) if isMapLiteral(vs, quotedElems) =>
        requireKind("map", "map replace m = {'k': v, ..}")
        if (!declKind.contains("map"))
          fail("map replace m = {'k': v, ..} needs a DECLARED " +
            "map<text, T> column (on undeclared tables entry cells " +
            "are indistinguishable from scalar columns — use " +
            "m = m + {..} puts and DELETE m['k'] removes)")
        replaceMapRow(n.toLowerCase, mapEntries(vs, lit))
      // `m = {}` on a declared map column is the CQL map CLEAR —
      // the empty brace is otherwise the set form
      case BraceReplaceRe(n, vs)
          if vs.trim.isEmpty && declKind.contains("map") =>
        replaceMapRow(n.toLowerCase, Seq.empty)
      case BraceReplaceRe(n, vs) =>
        requireKind("set", "set replace c = {..}")
        replaceElements(dir, n.toLowerCase, pkSeq,
          if (vs.trim.isEmpty) Seq.empty
          else splitValues(vs).toSeq.map(lit(_, "set element")),
          wt, cells, tombs, nextCk)
      case plain @ SetRe(c, v) if !hasCollectionSyntax(plain) =>
        // plain scalar SET items compose with collection items
        val ck = ckEq.getOrElse(fail("UPDATE WHERE must bind ck"))
        pkSeq.foreach(pk => cells +=
          ((pk, ck, c.toLowerCase, lit(v, s"value of $c"), wt)))
      case x => fail(s"unsupported SET item: $x")
    }
    (cells.toSeq, tombs.toSeq)
  }

  /** Typed twin of [[collectionUpdate]] (r11): the same element-per-
    * cell encodings over NAMED key parts. Map puts and plain scalar
    * SETs work on ANY typed layout (the row IS the map — full key
    * bound); list appends and set add/remove need a SINGLE INT
    * clustering part (elements claim int cks after the partition max,
    * the C11/C13 ordering dimension) and a WHERE that binds only the
    * partition key. The bounded point reads (max ck per partition,
    * element cks for removes) push as typed point probes.
    */
  private def collectionUpdateTyped(spark: SparkSession, dir: String,
      spec: graft.sources.KeySpec, sets: String, where: String,
      wt: Long, ttl: Option[Long]): Unit = {
    val (rows, tombs) = stageCollectionRowsTyped(spark, dir, spec,
      sets, where, wt, scala.collection.mutable.Map.empty)
    appendRows(dir, spec, rows, ttl)
    appendRows(dir, spec, tombs, ttl = None)
  }

  /** The parse/read/stage core of [[collectionUpdateTyped]] — the
    * typed twin of [[stageCollectionCells]] (C11i, r18): resolves
    * the SET items against the CURRENT reconciled state and returns
    * typed data rows and tombstone rows WITHOUT writing, so the
    * LOGGED-BATCH path can journal them atomically at the batch
    * writetime. `nextCk` carries append positions across a batch's
    * statements (a per-call empty map restores single-statement
    * behavior).
    */
  private def stageCollectionRowsTyped(spark: SparkSession,
      dir: String, spec: graft.sources.KeySpec, sets: String,
      where: String, wt: Long,
      nextCk: scala.collection.mutable.Map[(Seq[Any], String), Int])
      : (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    flushBuffered(spark, dir) // reads the reconciled current state
    import org.apache.spark.sql.types.IntegerType
    val intCk = spec.ckParts match {
      case p :: Nil if p.dataType == IntegerType => true
      case _ => false
    }
    val (pkTuples, ckOpt, range) = typedKeyPredicate(spec, where)
    if (range.isDefined)
      fail("collection UPDATE WHERE binds keys by equality")
    val pkNames = spec.pkParts.map(_.name)
    // r19: the statement's bounded typed point reads run DRIVER-
    // LOCAL (CellSource.localReconciledRowsWhere — same pushed
    // point-probe planning, same merge readers, zero Spark jobs);
    // one probe per partition tuple (a multi-tuple set only arises
    // from IN on a single-part key, so per-tuple equality is exactly
    // the old pushed isin).
    lazy val keyedLocal: (org.apache.spark.sql.types.StructType,
        Seq[org.apache.spark.sql.Row]) = {
      val per = pkTuples.map(t => graft.sources.CellSource
        .localReconciledRowsWhere(dir, pkNames.zip(t).map {
          case (n, v) => org.apache.spark.sql.sources.EqualTo(n, v) }))
      (per.head._1, per.toSeq.flatMap(_._2))
    }
    def fieldIdx(n: String): Int = {
      val i = keyedLocal._1.fields
        .indexWhere(_.name.equalsIgnoreCase(n))
      require(i >= 0, s"no column $n in the typed read schema")
      i
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    // tombstones write separately, never under TTL (see the default-
    // layout twin: an expiring tombstone resurrects its elements)
    val tombs = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    def fullCk: Seq[Any] = ckOpt.getOrElse(
      if (spec.ckParts.isEmpty) Seq.empty
      else fail("this SET item needs WHERE to bind every clustering " +
        "part (the row IS the map)"))
    def needIntCk(what: String): Unit =
      if (!intCk) fail(s"$what needs a single int clustering key " +
        s"(elements order on it); this layout has " +
        (if (spec.ckParts.isEmpty) "none"
         else spec.ckParts.map(p =>
           s"${p.name} ${p.dataType.simpleString}").mkString(", ")))
    // C11f typed twin: per-cell tombstones over every live element,
    // then the fresh elements at cks above every shadowed one
    def replaceTyped(name: String, values: Seq[Long]): Unit = {
      if (name.startsWith("!"))
        fail(s"unsupported collection name: $name")
      val ckIdx = fieldIdx(spec.ckParts.head.name)
      val colIdx = fieldIdx("col")
      val pkIdx = pkNames.map(fieldIdx)
      val old = keyedLocal._2.filter(_.getString(colIdx) == name)
      old.foreach(r =>
        tombs += pkIdx.map(r.get) ++
          Seq(r.getInt(ckIdx), s"!del:$name", 0L, wt))
      appendTyped(name, values)
    }
    def appendTyped(name: String, values: Seq[Long]): Unit = {
      if (values.isEmpty) return
      if (name.startsWith("!"))
        fail(s"unsupported collection name: $name")
      val unseen = pkTuples.filterNot(pk => nextCk.contains((pk, name)))
      if (unseen.nonEmpty) {
        val ckIdx = fieldIdx(spec.ckParts.head.name)
        val colIdx = fieldIdx("col")
        val pkIdx = pkNames.map(fieldIdx)
        val maxCks: Map[Seq[Any], Int] = keyedLocal._2
          .filter(_.getString(colIdx) == name)
          .groupBy(r => pkIdx.map(r.get): Seq[Any]).view
          .mapValues(_.iterator.map(_.getInt(ckIdx)).max).toMap
        unseen.foreach(pk =>
          nextCk((pk, name)) = maxCks.getOrElse(pk, 0))
      }
      pkTuples.foreach { pk =>
        var ck = nextCk((pk, name))
        values.foreach { v =>
          if (ck == Int.MaxValue)
            fail(s"collection $name is at the ck ceiling")
          ck += 1
          rows += pk ++ Seq(ck, name, v, wt)
        }
        nextCk((pk, name)) = ck
      }
    }
    splitSetItems(sets).foreach {
      case MapPutRe(_, key, v) =>
        val ck = fullCk
        val k = literal(key) match {
          case s: String => s
          case o => fail(s"map key must be a text literal, got $o")
        }
        if (k.isEmpty || k.startsWith("!"))
          fail(s"unsupported map key: '$k'")
        pkTuples.foreach(pk =>
          rows += pk ++ ck ++ Seq(k, longLiteral(v, "map value"), wt))
      case ListAppendRe(n1, n2, vs) =>
        if (!n1.equalsIgnoreCase(n2))
          fail(s"list append must extend the same column ($n1 vs $n2)")
        needIntCk("list append")
        appendTyped(n1.toLowerCase,
          splitValues(vs).toSeq.map(longLiteral(_, "list element")))
      // map-literal forms: see the default-layout twin
      case SetAddRe(n1, n2, vs)
          if isMapLiteral(vs, stringValued = false) =>
        if (!n1.equalsIgnoreCase(n2))
          fail(s"map append must extend the same column ($n1 vs $n2)")
        val ck = fullCk
        mapEntries(vs, collValue(stringValued = false))
          .foreach { case (k, v) =>
            pkTuples.foreach(pk => rows += pk ++ ck ++ Seq(k, v, wt)) }
      case SetRemoveRe(n1, n2, vs)
          if isMapLiteral(vs, stringValued = false) =>
        if (!n1.equalsIgnoreCase(n2))
          fail(s"map subtract must shrink the same column ($n1 vs $n2)")
        val ck = fullCk
        mapSubKeys(vs).foreach(k =>
          pkTuples.foreach(pk => tombs += pk ++ ck ++
            Seq(s"!del:$k", 0L, wt)))
      case SetAddRe(n1, n2, vs) =>
        if (!n1.equalsIgnoreCase(n2))
          fail(s"set add must extend the same column ($n1 vs $n2)")
        needIntCk("set add")
        appendTyped(n1.toLowerCase,
          splitValues(vs).toSeq.map(longLiteral(_, "set element")))
      case SetRemoveRe(n1, n2, vs) =>
        if (!n1.equalsIgnoreCase(n2))
          fail(s"set remove must shrink the same column ($n1 vs $n2)")
        needIntCk("set remove")
        val name = n1.toLowerCase
        val victims = splitValues(vs).toSeq
          .map(longLiteral(_, "set element")).toSet
        val ckIdx = fieldIdx(spec.ckParts.head.name)
        val colIdx = fieldIdx("col")
        val valIdx = fieldIdx("value")
        val pkIdx = pkNames.map(fieldIdx)
        val hits = keyedLocal._2.filter(r =>
          r.getString(colIdx) == name &&
            victims.contains(r.getLong(valIdx)))
        hits.foreach(r =>
          tombs += pkIdx.map(r.get) ++
            Seq(r.getInt(ckIdx), s"!del:$name", 0L, wt))
      // whole-collection REPLACE (C11f, typed twin): shadow every
      // live element cell, append the new elements above every
      // shadowed ck — see the default-layout arms
      case ListReplaceRe(n, vs) =>
        needIntCk("list replace")
        replaceTyped(n.toLowerCase,
          if (vs.trim.isEmpty) Seq.empty
          else splitValues(vs).toSeq
            .map(longLiteral(_, "list element")))
      case BraceReplaceRe(_, vs)
          if isMapLiteral(vs, stringValued = false) =>
        fail("map replace m = {'k': v, ..} needs a DECLARED " +
          "map<text, T> column (default layout, C65z) — on typed " +
          "layouts entry cells are indistinguishable from scalar " +
          "columns; use m = m + {..} puts and DELETE m['k'] removes")
      case BraceReplaceRe(n, vs) =>
        needIntCk("set replace")
        replaceTyped(n.toLowerCase,
          if (vs.trim.isEmpty) Seq.empty
          else splitValues(vs).toSeq
            .map(longLiteral(_, "set element")))
      case plain @ SetRe(c, v) if !hasCollectionSyntax(plain) =>
        val ck = fullCk
        if ((spec.pkParts ++ spec.ckParts)
            .exists(_.name.equalsIgnoreCase(c)))
          fail(s"cannot SET key part $c")
        pkTuples.foreach(pk => rows += pk ++ ck ++
          Seq(c.toLowerCase, longLiteral(v, s"value of $c"), wt))
      case x => fail(s"unsupported SET item: $x")
    }
    (rows.toSeq, tombs.toSeq)
  }

  /** Append element cells for a list/set collection: claim the cks
    * after the partition's current max for that collection column
    * (list order = ck order, C11; sets dedup on read, C13).
    */
  /** The i-th (0-based, CQL's position order) LIVE element cell of
    * each pk's list `name` — the (pk, ck) coordinates an
    * index-addressed operation targets (C11e: `SET l[i] = v`,
    * `DELETE l[i]`). Cassandra's own list-index semantics: the
    * operation reads the list first (its documented
    * read-before-write cost — why Cassandra discourages the idiom)
    * and refuses out-of-bounds with the upstream message. The
    * collect is bounded by the addressed lists' element count.
    */
  /** r19 — bounded point reads of DEFAULT-layout tables run DRIVER-
    * LOCAL through the connector's own reconcile planner and merge
    * readers ([[graft.sources.CellSource.localReconciledRowsWhere]]):
    * identical semantics to `spark.read...option("reconcile","true")
    * .load(dir).filter(pk IN ...).collect()` (same planning, same
    * pruning, same external row types), zero Spark jobs. Callers
    * must flush the script buffer first — exactly the discipline the
    * DataFrame sites already followed. Rows are (pk, ck, col, value,
    * wt).
    */
  private def localReconciled(dir: String,
      pks: Seq[Long]): Seq[org.apache.spark.sql.Row] =
    graft.sources.CellSource.localReconciledRowsWhere(dir,
      Seq(org.apache.spark.sql.sources.In("pk",
        pks.distinct.sorted.map(v => Long.box(v): Any).toArray)))._2

  private def listIndexTargets(dir: String, name: String,
      pks: Seq[Long], idx: Int): Seq[(Long, Int)] = {
    // r19: driver-local bounded point read (localReconciled) — same
    // reconcile front door, zero Spark jobs per statement
    val rows = localReconciled(dir, pks)
      .filter(_.getString(2) == name)
    val byPk: Map[Long, Seq[Int]] = rows
      .map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    pks.map { pk =>
      val cks = byPk.getOrElse(pk, Seq.empty)
      if (idx >= cks.length)
        fail(s"List index $idx out of bound, list has size " +
          s"${cks.length}")
      (pk, cks(idx))
    }
  }

  /** C11f — whole-collection replace: one element tombstone per LIVE
    * cell of the collection (the bounded point-read trade set-remove
    * already makes vs Cassandra's read-free complex deletion), then
    * the new elements appended at positions above every shadowed ck
    * — same-writetime tombstones never cover the fresh cells because
    * they live at different (pk, ck) coordinates.
    */
  private def replaceElements(dir: String, name: String,
      pks: Seq[Long], values: Seq[Any], wt: Long,
      cells: scala.collection.mutable.ArrayBuffer[
        (Long, Int, String, Any, Long)],
      tombs: scala.collection.mutable.ArrayBuffer[
        (Long, Int, String, Any, Long)],
      nextCk: scala.collection.mutable.Map[(Long, String), Int])
      : Unit = {
    if (name.startsWith("!")) fail(s"unsupported collection name: $name")
    val old = localReconciled(dir, pks)
      .filter(_.getString(2) == name)
    old.foreach(r =>
      tombs += ((r.getLong(0), r.getInt(1), s"!del:$name", 0L, wt)))
    appendElements(dir, name, pks, values, wt, cells, nextCk)
  }

  private def appendElements(dir: String, name: String,
      pks: Seq[Long], values: Seq[Any], wt: Long,
      out: scala.collection.mutable.ArrayBuffer[
        (Long, Int, String, Any, Long)],
      nextCk: scala.collection.mutable.Map[(Long, String), Int])
      : Unit = {
    if (values.isEmpty) return
    if (name.startsWith("!")) fail(s"unsupported collection name: $name")
    val unseen = pks.filterNot(pk => nextCk.contains((pk, name)))
    if (unseen.nonEmpty) {
      val maxCks: Map[Long, Int] = localReconciled(dir, unseen)
        .filter(_.getString(2) == name)
        .groupBy(_.getLong(0)).view
        .mapValues(_.iterator.map(_.getInt(1)).max).toMap
      unseen.foreach(pk =>
        nextCk((pk, name)) = maxCks.getOrElse(pk, 0))
    }
    pks.foreach { pk =>
      var ck = nextCk((pk, name))
      values.foreach { v =>
        if (ck == Int.MaxValue)
          fail(s"collection $name of pk $pk is at the ck ceiling")
        ck += 1
        out += ((pk, ck, name, v, wt))
      }
      nextCk((pk, name)) = ck
    }
  }

  /** Tombstone markers a DELETE contributes (dts = 0 = assign later).
    * An empty clustering range (lo > hi — e.g. `ck > Int.MaxValue`,
    * which per CQL matches zero rows) contributes NO markers: falling
    * through to the partition-tombstone case would silently wipe the
    * whole partition for a statement that deletes nothing.
    */
  private def deleteMarkers(colOpt: Option[String], where: String,
      dts: Long, statics: Set[String] = Set.empty)
      : Seq[(Long, Int, String, Long, Long)] = {
    val (pks, ckEq, ckLo, ckHi) = keyPredicate(where)
    if (ckLo > ckHi) return Seq.empty // provably-empty range: no-op
    pks.toSeq.sorted.map { pk =>
      (colOpt, ckEq, ckLo != Int.MinValue || ckHi != Int.MaxValue) match {
        // DELETE <static> ... WHERE pk = ? — the static cell's own
        // tombstone at the partition-front position (Cassandra: a
        // static delete never binds a clustering row)
        case (Some(c), None, false) if statics.contains(c.toLowerCase) =>
          (pk, Int.MinValue, "!del:" +
            graft.sources.CellSource.StaticPrefix + c.toLowerCase,
            0L, dts)
        case (Some(c), _, _) if statics.contains(c.toLowerCase) =>
          fail(s"DELETE of static column $c binds the partition " +
            "alone (no clustering predicate)")
        case (Some(c), Some(ck), _) => // DELETE col|m['k'] ... AND ck = ?
          (pk, ck, s"!del:${deleteColName(c)}", 0L, dts)
        case (None, Some(ck), _) => // row tombstone
          (pk, ck, "!delrow", 0L, dts)
        case (None, None, true) => // clustering-range tombstone
          (pk, Int.MinValue, s"!delr:$ckLo:$ckHi", 0L, dts)
        case (None, None, false) => // partition tombstone
          (pk, Int.MinValue, "!del*", 0L, dts)
        case (Some(_), None, _) =>
          fail("DELETE <col> needs WHERE ... AND ck = ?")
      }
    }
  }
}
