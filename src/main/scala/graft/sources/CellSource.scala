package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}
import java.util.zip.{Deflater, Inflater}
import scala.util.Using

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** A DataSource V2 source with the architecture of a Cassandra-SSTable
  * snapshot reader (SURVEY §2 rows C1/C2/C3/C8/C9), over a
  * self-contained binary cell format ("SSTable-lite", CEL5: typed
  * values + per-file column tables; CEL4 long-valued files stay
  * readable) since no Cassandra jars exist in this environment
  * (SURVEY §7.2 phase 6). Component map onto a real SSTable:
  *
  * - `data-NNNN.cells`: pk-sorted fixed-width cell records in
  *   independently-deflated chunks — `Data.db` + compression;
  * - header (minPk, maxPk, count) — `Summary.db` (partition range);
  * - header bloom filter over distinct pks (double-hashed, k=7,
  *   ~10 bits/key) — `Filter.db`: point lookups skip whole files the
  *   range check alone can't, BEFORE any executor work;
  * - header sparse index, one (pk, recordIdx) every `indexEvery`
  *   records — `Index.db`: pk-range scans narrow to the candidate
  *   record range instead of scanning everything;
  * - header chunk table, one (byteOffset, compressedLen, nRecords) per
  *   compression chunk — `CompressionInfo.db`: random access into
  *   compressed data stays possible because each chunk inflates
  *   independently; index narrowing and sub-splits land on chunk
  *   boundaries and the reader seeks straight to the first byte of
  *   its chunk range;
  * - C2 split_gen: file × chunk-range → InputPartition, planned
  *   driver-side (the getSplits analogue);
  * - C8 pk_pushdown: range/equality filters prune files (range +
  *   bloom) and narrow chunk ranges (index) at planning time
  *   (`SupportsPushDownFilters`);
  * - C9 col_pruning: `SupportsPushDownRequiredColumns` projects the
  *   cell schema down to requested columns;
  * - C3 cell_deserialize: the PartitionReader inflates chunks and
  *   decodes binary framing into typed InternalRows on executors.
  *
  * Usage: `spark.read.format("graft.sources.CellSource").load(dir)`,
  * optional `.option("subsplitRecords", n)` to bound records per
  * InputPartition (default 65536).
  */
class CellSource extends TableProvider {
  /** Schema resolution order: existing files' header value type wins
    * (the format is self-describing); an empty directory falls back to
    * the `valueType` option (`long|int|double|boolean|string|binary|
    * timestamp|decimal(p,s)`, the intended type of a FIRST write into
    * a fresh table), then to the long default.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    val existing = if (path == null) Nil else CellPlanning.listFiles(path)
    val (spec, vt) = existing.headOption match {
      case Some(f) =>
        // Manifest fast path: the value type AND key spec come from
        // the summary file, zero data-file opens; fall back to the
        // first header.
        val (tag, prec, scale, sp) = CellManifest.current(path, existing)
          .flatMap(_.headOption)
          .map(e => (e.valueTag, e.decPrec, e.decScale, e.keySpec))
          .getOrElse {
            val h = CellSource.readHeader(f)
            (h.valueTag, h.decPrec, h.decScale, h.keySpec)
          }
        (sp, ValueCodec.dataTypeFor(tag, prec, scale))
      case None =>
        // empty dir: the valueType option wins, else the `_type`
        // marker DECLARED at CREATE time — the value-type twin of the
        // propsKeySpec fallback below, so a path-based read (e.g. an
        // index build) of a created-but-never-flushed table serves
        // its declared value schema, not the long default
        val vt0 = Option(options.get("valueType"))
          .map(ValueCodec.parseType)
          .orElse(Option(path).flatMap { p =>
            val m = java.nio.file.Paths
              .get(CellPlanning.normalize(p)).resolve("_type")
            if (java.nio.file.Files.exists(m))
              Some(ValueCodec.parseType(
                java.nio.file.Files.readString(m).trim))
            else None
          })
          .getOrElse(LongType)
        Option(options.get("primaryKey")) match {
          case Some(pkSyntax) =>
            // A fresh typed table: the intended key layout comes from
            // the `primaryKey` option plus per-part `keyType.<name>`
            // type options (default long), same as the write side.
            (KeySpec.fromSyntax(pkSyntax, n =>
              Option(options.get(s"keyType.$n"))
                .map(ValueCodec.parseType).getOrElse(LongType)), vt0)
          case None =>
            // … or from the layout DECLARED at CREATE time (_props),
            // so a path-based read of a pre-first-flush typed table
            // serves its typed schema
            (Option(path).flatMap(CellPlanning.propsKeySpec)
              .getOrElse(KeySpec.Default), vt0)
        }
    }
    // the DECLARED part names (C51e renames) serve the schema; file
    // headers (and the propsKeySpec CREATE record) keep storage names
    val declaredSpec =
      if (path == null) spec
      else CellPlanning.applyKeyRenames(path, spec)
    val base = CellSource.schemaFor(declaredSpec, vt)
    // `withToken=true`: surface the record's physical partition TOKEN
    // as a `_token` long column — the CQL `token(pk)` analogue (ring
    // position for range exports, bucketed anti-entropy, split
    // debugging). Plain typed scans only: the merge cursor projects
    // reconciled rows (no single source record), and default-layout
    // records carry no stored token (token == pk there — select pk).
    val withTok =
      if (options.getBoolean("withToken", false)) {
        require(!options.getBoolean("reconcile", false),
          "withToken applies to plain (non-reconcile) scans only")
        require(!spec.isDefault,
          "withToken needs a typed key layout (token == pk on the " +
            "default layout; select pk instead)")
        base.add(StructField("_token", LongType, nullable = false))
      } else base
    // `withTtl=true`: surface the CEL10/CEL11 per-record absolute
    // expiry as `_expiry` (Long.MaxValue = never). Plain scans serve
    // the raw record's expiry; reconcile scans the WINNING version's —
    // well defined either way. On a WRITE, the same option declares a
    // trailing `_expiry` data column (rewrites that must preserve
    // stored expiry). `ttl=true` is the USER write shape — CQL
    // `USING TTL`: a trailing nullable `ttl` column of RELATIVE ms
    // (expiry = wt + ttl; NULL = never). Works on the default layout
    // (CEL10) and typed layouts (CEL11) alike.
    val wantTtlCol = options.getBoolean("ttl", false)
    val wantExpiry = options.getBoolean("withTtl", false)
    require(!(wantTtlCol && wantExpiry),
      "pass either ttl=true (relative write column) or withTtl=true " +
        "(absolute _expiry column), not both")
    if (wantTtlCol || wantExpiry) {
      if (wantTtlCol)
        withTok.add(StructField("ttl", LongType, nullable = true))
      else withTok.add(StructField("_expiry", LongType, nullable = false))
    } else withTok
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new CellTable(properties.get("path"), schema)

  override def supportsExternalMetadata(): Boolean = false
}

/** Per-type value codec for the v5 ("CEL5") typed cell format
  * (SURVEY §1.1 type map; VERDICT r4 "What's missing" §3): each file
  * header carries a value-type tag (+ precision/scale for decimal) and
  * a column-name table, so the format is self-describing and a text /
  * decimal / timestamp column round-trips through the connector.
  * In-memory representations match InternalRow conventions (UTF8String
  * for strings, micros Long for timestamps, Decimal for decimals).
  * Binary comparison is UNSIGNED byte-wise — Cassandra's tie-break
  * order.
  */
object ValueCodec {
  val LongTag = 0; val IntTag = 1; val DoubleTag = 2; val BoolTag = 3
  val StringTag = 4; val BinaryTag = 5; val TimestampTag = 6
  val DecimalTag = 7

  def tagFor(dt: DataType): Int = dt match {
    case LongType => LongTag
    case IntegerType => IntTag
    case DoubleType => DoubleTag
    case BooleanType => BoolTag
    case StringType => StringTag
    case BinaryType => BinaryTag
    case TimestampType => TimestampTag
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
      DecimalTag
    case other => throw new IllegalArgumentException(
      s"unsupported cell value type ${other.simpleString} " +
        "(supported: long, int, double, boolean, string, binary, " +
        "timestamp, decimal(p<=18,s))")
  }

  def dataTypeFor(tag: Int, prec: Int, scale: Int): DataType = tag match {
    case LongTag => LongType
    case IntTag => IntegerType
    case DoubleTag => DoubleType
    case BoolTag => BooleanType
    case StringTag => StringType
    case BinaryTag => BinaryType
    case TimestampTag => TimestampType
    case DecimalTag => DecimalType(prec, scale)
  }

  /** Parse the `valueType` write option. */
  def parseType(t: String): DataType =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseDataType(t) match {
      case dt =>
        tagFor(dt) // validates support
        dt
    }

  /** Typed value out of a row/array slot, defensively copied (Spark
    * reuses row buffers).
    */
  def fromRow(r: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      i: Int, tag: Int, prec: Int, scale: Int): Any = tag match {
    case LongTag | TimestampTag => r.getLong(i)
    case IntTag => r.getInt(i)
    case DoubleTag => r.getDouble(i)
    case BoolTag => r.getBoolean(i)
    case StringTag => r.getUTF8String(i).copy()
    case BinaryTag => r.getBinary(i).clone()
    case DecimalTag => r.getDecimal(i, prec, scale)
  }

  def write(out: DataOutputStream, tag: Int, v: Any): Unit = tag match {
    case LongTag | TimestampTag => out.writeLong(v.asInstanceOf[Long])
    case IntTag => out.writeInt(v.asInstanceOf[Int])
    case DoubleTag => out.writeDouble(v.asInstanceOf[Double])
    case BoolTag => out.writeBoolean(v.asInstanceOf[Boolean])
    case StringTag =>
      val b = v.asInstanceOf[UTF8String].getBytes
      out.writeInt(b.length); out.write(b)
    case BinaryTag =>
      val b = v.asInstanceOf[Array[Byte]]
      out.writeInt(b.length); out.write(b)
    case DecimalTag =>
      out.writeLong(v.asInstanceOf[Decimal].toUnscaledLong)
  }

  def read(buf: ByteBuffer, tag: Int, prec: Int, scale: Int): Any =
    tag match {
      case LongTag | TimestampTag => buf.getLong()
      case IntTag => buf.getInt()
      case DoubleTag => buf.getDouble()
      case BoolTag => buf.get() != 0
      case StringTag =>
        val b = new Array[Byte](buf.getInt()); buf.get(b)
        UTF8String.fromBytes(b)
      case BinaryTag =>
        val b = new Array[Byte](buf.getInt()); buf.get(b)
        b
      case DecimalTag =>
        Decimal.createUnsafe(buf.getLong(), prec, scale)
    }

  /** Stream twin of [[read]] — header metadata (CEL8 clustering zone
    * maps) is parsed from the DataInputStream, not a record buffer.
    */
  def readStream(in: java.io.DataInputStream, tag: Int, prec: Int,
      scale: Int): Any = tag match {
    case LongTag | TimestampTag => in.readLong()
    case IntTag => in.readInt()
    case DoubleTag => in.readDouble()
    case BoolTag => in.readBoolean()
    case StringTag =>
      val b = new Array[Byte](in.readInt()); in.readFully(b)
      UTF8String.fromBytes(b)
    case BinaryTag =>
      val b = new Array[Byte](in.readInt()); in.readFully(b)
      b
    case DecimalTag =>
      Decimal.createUnsafe(in.readLong(), prec, scale)
  }

  /** Shard addition for counter-mode reconciliation (numeric tags
    * only — counter tables reject text/binary/bool/timestamp values
    * at plan time).
    */
  def add(tag: Int, a: Any, b: Any): Any = tag match {
    case LongTag => a.asInstanceOf[Long] + b.asInstanceOf[Long]
    case IntTag => a.asInstanceOf[Int] + b.asInstanceOf[Int]
    case DoubleTag => a.asInstanceOf[Double] + b.asInstanceOf[Double]
    case DecimalTag =>
      val da = a.asInstanceOf[Decimal]; val db = b.asInstanceOf[Decimal]
      Decimal.createUnsafe(da.toUnscaledLong + db.toUnscaledLong,
        da.precision, da.scale)
    case other => throw new IllegalArgumentException(
      s"counter merge is not defined for value tag $other")
  }

  def isNumeric(tag: Int): Boolean = tag match {
    case LongTag | IntTag | DoubleTag | DecimalTag => true
    case _ => false
  }

  /** The type's neutral value — tombstone marker cells carry it as
    * their (meaningless) payload so a marker flush type-checks
    * against the table's value type.
    */
  def zeroOf(tag: Int, prec: Int, scale: Int): Any = tag match {
    case LongTag | TimestampTag => 0L
    case IntTag => 0
    case DoubleTag => 0.0
    case BoolTag => false
    case StringTag => UTF8String.fromString("")
    case BinaryTag => Array.empty[Byte]
    case DecimalTag => Decimal.createUnsafe(0L, prec, scale)
  }

  /** (tag, decimal precision, decimal scale) of a value type. */
  def layoutOf(dt: DataType): (Int, Int, Int) = dt match {
    case d: DecimalType => (DecimalTag, d.precision, d.scale)
    case t => (tagFor(t), 0, 0)
  }

  /** External (Row-side) value → the file writers' internal form:
    * UTF8String for text, epoch micros for timestamps, Decimal at the
    * declared precision/scale. None when `v` does not fit the tag —
    * the caller decides whether that is an error or a marker's inert
    * payload. The one coercion table of the driver-local write path,
    * for key parts and cell values alike.
    */
  def toInternal(tag: Int, prec: Int, scale: Int, v: Any): Option[Any] =
    (tag, v) match {
      case (LongTag, x: java.lang.Long) => Some(x.longValue)
      case (LongTag, x: java.lang.Integer) => Some(x.longValue)
      case (IntTag, x: java.lang.Integer) => Some(x.intValue)
      case (DoubleTag, x: java.lang.Double) => Some(x.doubleValue)
      case (BoolTag, x: java.lang.Boolean) => Some(x.booleanValue)
      case (StringTag, x: String) => Some(UTF8String.fromString(x))
      case (StringTag, x: UTF8String) => Some(x)
      case (BinaryTag, x: Array[Byte]) => Some(x)
      case (TimestampTag, x: java.lang.Long) => Some(x.longValue)
      case (TimestampTag, x: java.sql.Timestamp) =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
          .fromJavaTimestamp(x))
      case (DecimalTag, x: java.math.BigDecimal) =>
        Some(Decimal(scala.math.BigDecimal(x), prec, scale))
      case (DecimalTag, x: scala.math.BigDecimal) =>
        Some(Decimal(x, prec, scale))
      case (DecimalTag, x: Decimal) => Some(x)
      case _ => None
    }

  def compare(tag: Int, a: Any, b: Any): Int = tag match {
    case LongTag | TimestampTag =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntTag =>
      Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case DoubleTag =>
      java.lang.Double.compare(
        a.asInstanceOf[Double], b.asInstanceOf[Double])
    case BoolTag =>
      java.lang.Boolean.compare(
        a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case StringTag =>
      a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case BinaryTag => java.util.Arrays.compareUnsigned(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    case DecimalTag =>
      a.asInstanceOf[Decimal].compare(b.asInstanceOf[Decimal])
  }
}

/** One typed key component (CEL6): a named column of the partition or
  * clustering key, typed by a [[ValueCodec]] tag.
  */
case class KeyPart(name: String, tag: Int, prec: Int, scale: Int) {
  def dataType: DataType = ValueCodec.dataTypeFor(tag, prec, scale)
}

/** The key layout of a cell table (CEL6, SURVEY §1.1 "PRIMARY KEY
  * ((p1, p2), c1)" row; VERDICT r6 "Next round" §1): an ordered list
  * of typed partition-key parts and clustering-key parts. The default
  * spec — single `pk: long`, single `ck: int` — is the CEL4/5 layout;
  * any other spec writes the CEL6 format.
  */
case class KeySpec(pkParts: List[KeyPart], ckParts: List[KeyPart]) {
  def isDefault: Boolean = this == KeySpec.Default
  def keyFields: Seq[StructField] = (pkParts ++ ckParts)
    .map(p => StructField(p.name, p.dataType, nullable = false))
  /** Manifest/debug serialization: `pk parts ; ck parts`. */
  def serial: String = {
    def one(ps: List[KeyPart]) =
      ps.map(p => s"${p.name}:${p.tag}:${p.prec}:${p.scale}")
        .mkString(",")
    s"${one(pkParts)};${one(ckParts)}"
  }

  /** The `primaryKey` option syntax (`((p1,p2),c1)`) this spec would
    * be declared with — part TYPES come from the accompanying schema,
    * so this round-trips through [[KeySpec.fromSyntax]] only against
    * a matching column set.
    */
  def syntax: String =
    s"((${pkParts.map(_.name).mkString(",")})" +
      (if (ckParts.nonEmpty) s",${ckParts.map(_.name).mkString(",")}"
       else "") + ")"
}

object KeySpec {
  val Default: KeySpec = KeySpec(
    List(KeyPart("pk", ValueCodec.LongTag, 0, 0)),
    List(KeyPart("ck", ValueCodec.IntTag, 0, 0)))

  def parse(s: String): KeySpec = {
    def parts(x: String): List[KeyPart] =
      if (x.isEmpty) Nil
      else x.split(',').toList.map { p =>
        val f = p.split(':')
        KeyPart(f(0), f(1).toInt, f(2).toInt, f(3).toInt)
      }
    val halves = s.split(';')
    KeySpec(parts(halves(0)),
      parts(if (halves.length > 1) halves(1) else ""))
  }

  /** CQL-style key declaration: `((p1, p2), c1, c2)` — the inner
    * parens group the partition key; without them the FIRST name is
    * the partition key and the rest cluster (`(p, c)` =
    * `PRIMARY KEY (p, c)`). Part types come from `typeOf` (the input
    * dataframe's schema on the write side; `keyType.<name>` options on
    * the schema-inference side).
    */
  def fromSyntax(s: String, typeOf: String => DataType): KeySpec = {
    val t = s.trim
    require(t.startsWith("(") && t.endsWith(")"),
      s"primaryKey must look like ((p1,p2),c1) or (p,c): got '$s'")
    val inner = t.substring(1, t.length - 1).trim
    def names(x: String): List[String] =
      x.split(',').map(_.trim).filter(_.nonEmpty).toList
    val (pkNames, ckNames) =
      if (inner.startsWith("(")) {
        val close = inner.indexOf(')')
        require(close > 0, s"unclosed partition-key group in '$s'")
        (names(inner.substring(1, close)),
          names(inner.substring(close + 1).dropWhile(c =>
            c == ',' || c == ' ')))
      } else {
        val all = names(inner)
        (all.take(1), all.drop(1))
      }
    require(pkNames.nonEmpty, s"empty partition key in '$s'")
    def part(n: String): KeyPart = {
      val dt = typeOf(n)
      dt match {
        case d: DecimalType =>
          KeyPart(n, ValueCodec.tagFor(dt), d.precision, d.scale)
        case _ => KeyPart(n, ValueCodec.tagFor(dt), 0, 0)
      }
    }
    KeySpec(pkNames.map(part), ckNames.map(part))
  }
}

/** Partition-token computation and typed-key comparison (CEL6). The
  * physical layer — Summary min/max, bloom filter, sparse index,
  * manifest ranges — is keyed by a LONG TOKEN, exactly Cassandra's
  * Murmur3Partitioner architecture: partitions live in token order,
  * not key order, and every point/IN lookup hashes the key to its
  * token before pruning. A single-`long` partition key uses the
  * IDENTITY token (token == value) so long-keyed tables keep true
  * range pushdown; any other key type or composite hashes. Range
  * predicates on a hashed key are NOT pushed (Cassandra requires
  * `token()` for partition ranges for the same reason) — Spark
  * applies them post-scan as residual filters. Token collisions are
  * harmless everywhere: pruning is advisory (residual filters re-run
  * on survivors) and the merge cursor compares the FULL typed key
  * after the token.
  */
object KeyCodec {
  /** token == pk value: single long partition key (range-pushable). */
  def identityToken(spec: KeySpec): Boolean = spec.pkParts match {
    case KeyPart(_, ValueCodec.LongTag, _, _) :: Nil => true
    case _ => false
  }

  private def bytesHash(b: Array[Byte], off: Int, len: Int): Long = {
    var h = 0x9e3779b97f4a7c15L ^ len
    var i = off
    val end = off + len
    while (i < end) {
      h = CellSource.mix64(h ^ (b(i) & 0xffL))
      i += 1
    }
    h
  }

  private def partHash(tag: Int, v: Any): Long = tag match {
    case ValueCodec.LongTag | ValueCodec.TimestampTag =>
      v.asInstanceOf[Long]
    case ValueCodec.IntTag => v.asInstanceOf[Int].toLong
    case ValueCodec.BoolTag => if (v.asInstanceOf[Boolean]) 1L else 0L
    case ValueCodec.DoubleTag =>
      java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
    case ValueCodec.StringTag =>
      val u = v.asInstanceOf[UTF8String].getBytes
      bytesHash(u, 0, u.length)
    case ValueCodec.BinaryTag =>
      val b = v.asInstanceOf[Array[Byte]]
      bytesHash(b, 0, b.length)
    case ValueCodec.DecimalTag => v.asInstanceOf[Decimal].toUnscaledLong
  }

  /** Token of one partition key (internal representations). */
  def token(spec: KeySpec, pkVals: Array[Any]): Long =
    if (identityToken(spec)) pkVals(0).asInstanceOf[Long]
    else {
      var h = 0x2545f4914f6cdd1dL
      var i = 0
      while (i < spec.pkParts.length) {
        h = CellSource.mix64(h ^ partHash(spec.pkParts(i).tag, pkVals(i)))
        i += 1
      }
      h
    }

  /** Typed lexicographic comparison of two key-part arrays. */
  def compareParts(parts: List[KeyPart], a: Array[Any],
      b: Array[Any]): Int = {
    var i = 0
    var ps = parts
    while (ps.nonEmpty) {
      val c = ValueCodec.compare(ps.head.tag, a(i), b(i))
      if (c != 0) return c
      i += 1; ps = ps.tail
    }
    0
  }
}

object CellSource {
  /** Catalog-persisted table-default TTL (`defaultTtl` in `_props`,
    * wt units) — Cassandra's `default_time_to_live`: a data write
    * without an explicit `USING TTL` takes this grant AT WRITE TIME
    * (later ALTERs never touch existing cells, Cassandra's rule).
    * Consulted by the CQL facade's write paths; absent = no default.
    */
  def defaultTtl(dir: String): Option[Long] = {
    val f = java.nio.file.Paths.get(CellPlanning.normalize(dir))
      .resolve("_props")
    if (!java.nio.file.Files.exists(f)) None
    else {
      val p = new java.util.Properties()
      scala.util.Using.resource(
        java.nio.file.Files.newBufferedReader(f))(p.load)
      Option(p.getProperty("defaultTtl")).map(_.toLong)
    }
  }

  /** Declared clustering order (`clusteringOrder` in `_props`):
    * true when the table was created `WITH CLUSTERING ORDER BY
    * (... DESC)` — the read path serves partitions tail-first.
    */
  def clusteringDesc(dir: String): Boolean = {
    val f = java.nio.file.Paths.get(CellPlanning.normalize(dir))
      .resolve("_props")
    if (!java.nio.file.Files.exists(f)) false
    else {
      val p = new java.util.Properties()
      scala.util.Using.resource(
        java.nio.file.Files.newBufferedReader(f))(p.load)
      Option(p.getProperty("clusteringOrder")).contains("desc")
    }
  }

  /** Catalog-persisted STATIC column names (`staticCols` in `_props`,
    * comma-separated) — the columns CQL writes/reads at the
    * partition-front `!s:<name>` position. Empty for tables without
    * the modifier.
    */
  def staticCols(dir: String): Set[String] = {
    val f = java.nio.file.Paths.get(CellPlanning.normalize(dir))
      .resolve("_props")
    if (!java.nio.file.Files.exists(f)) Set.empty
    else {
      val p = new java.util.Properties()
      scala.util.Using.resource(
        java.nio.file.Files.newBufferedReader(f))(p.load)
      Option(p.getProperty("staticCols"))
        .map(_.split(',').iterator.map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty)
    }
  }

  def schemaFor(valueType: DataType): StructType =
    schemaFor(KeySpec.Default, valueType)

  /** Full scan schema of a table: typed key part columns (CEL6), then
    * the fixed (col, value, wt) cell tail.
    */
  def schemaFor(spec: KeySpec, valueType: DataType): StructType =
    StructType(spec.keyFields ++ Seq(
      StructField("col", StringType, nullable = false),
      StructField("value", valueType, nullable = false),
      StructField("wt", LongType, nullable = false)))

  val Schema: StructType = schemaFor(LongType)

  val ColNames: Array[String] = Array("qty", "price")

  /** Tombstones travel IN the cell stream as marker columns that sort
    * before every data column ('!' < alphanumerics): a partition
    * deletion is one `!del*` cell at ck = Int.MinValue whose wt is the
    * deletion ts; a cell deletion is one `!del:<col>` cell at its
    * (pk, ck). The reconciling scan consumes them as shadowing state
    * (C5 semantics in the reader); a raw scan surfaces them verbatim,
    * like an SSTable dump would.
    */
  val PartitionTombstone = "!del*"
  val CellTombstonePrefix = "!del:"

  /** Clustering-RANGE tombstone marker (the CQL `DELETE ... WHERE
    * pk=? AND ck >= ? AND ck <= ?` case, C5b connector-side): one
    * `!delr:<ck_lo>:<ck_hi>` cell at ck = Int.MinValue, wt = deletion
    * ts. Bounds travel in the column NAME (not the value) so the
    * marker works identically on every typed table. Sorting at
    * ck = Int.MinValue puts the marker ahead of all data rows of its
    * pk, so the merge cursor accumulates the active range set before
    * any covered cell arrives.
    */
  val RangeTombstonePrefix = "!delr:"

  /** ROW tombstone marker (delete ONE clustering row): one `!delrow`
    * cell at the deleted (pk, ck), wt = deletion ts. Shadows every
    * column of that row with wt <= deletion ts; '!' sorts before data
    * columns inside the (pk, ck) group.
    */
  val RowTombstone = "!delrow"

  def rangeTombstoneCol(ckLo: Int, ckHi: Int): String =
    s"$RangeTombstonePrefix$ckLo:$ckHi"

  /** Clustering-PREFIX tombstone marker (Cassandra's multi-row
    * `DELETE ... WHERE pk = ? AND c1 = ?` on a multi-part clustering
    * key — a RangeTombstone whose bounds are a clustering prefix):
    * one `!delpfx:<j>` cell at rank 0 whose FIRST j clustering parts
    * carry the bound prefix values (remaining parts neutral), wt =
    * deletion ts. Shadows every row whose first j clustering parts
    * equal the marker's, with wt <= deletion ts. Rank 0 puts the
    * marker ahead of all data rows of its partition, so the merge
    * cursor accumulates the active prefix set before any covered cell
    * arrives. Typed (CEL6/8/11) layouts only — the default layout's
    * single ck has no proper prefix.
    */
  val PrefixTombstonePrefix = "!delpfx:"

  def prefixTombstoneCol(boundParts: Int): String =
    s"$PrefixTombstonePrefix$boundParts"

  /** STATIC column cells (C15b, CQL's `static` modifier): one
    * `!s:<name>` cell per (pk, static column) at ck = Int.MinValue —
    * the partition-front position markers use — so per-PARTITION LWW
    * falls out of the same (pk, ck, col) merge that serves rows.
    * Unlike markers, static cells are DATA: the reconcile cursor
    * EMITS the winner (shadowed by partition tombstones and its own
    * `!del:!s:<name>` cell tombstone, never by row/range tombstones —
    * Cassandra's static row is not a clustering row) and it never
    * counts toward PER PARTITION LIMIT or clustering slices.
    */
  val StaticPrefix = "!s:"

  /** COLLECTION CONTRACT (C11b): CQL collections are element-per-cell
    * on disk — one cell per list/set element (ck/value-keyed), one per
    * map entry (col-keyed) — which is exactly this format's cell
    * shape, so collection writes flow through the connector unchanged
    * and per-ELEMENT LWW falls out of the reconcile merge. Reassembly
    * (elements → ARRAY/MAP value) is deliberately the relational
    * layer over the reconciled scan
    * ([[graft.cassandra.CellModel.reassembleList]]/Set/Map): a scan
    * that emitted ARRAY rows would re-buffer unbounded collections in
    * the reader and lose per-element pushdown/pruning.
    */

  /** Partition-default TTL marker (the `default_time_to_live`
    * analogue): one `!ttl*` cell at ck = Int.MinValue whose VALUE is
    * the TTL in ms; under a reconciling scan with a `queryTime`
    * option, a winner dies when wt + ttl < queryTime (C6 in the
    * reader).
    */
  val PartitionTtl = "!ttl*"

  val Magic = 0x43454c34 // "CEL4": fixed long values, ColNames table
  val Magic5 = 0x43454c35 // "CEL5": typed values + per-file col table
  /** "CEL6": typed partition/clustering KEYS. Records are token-sorted
    * (`token(8) | pk parts | rank(1) | ck parts | colId(1) | value |
    * wt(8)`); the header carries the [[KeySpec]] before the CEL5
    * value/column prefix, and Summary/Filter/Index/manifest metadata
    * all operate on the token. `rank` orders partition-level marker
    * cells (`!del*`, `!ttl*`, `!delr:`) before every data row of
    * their partition — the CEL4/5 `ck = Int.MinValue` convention,
    * made type-agnostic.
    */
  val Magic6 = 0x43454c36

  /** "CEL7" (round 7): the CEL5 default-key layout plus per-chunk
    * CLUSTERING zone maps — each chunk-table entry carries
    * (minCk, maxCk) over ALL its records plus a hasMarkers flag. A
    * pushed ck slice (`WHERE pk = ? AND ck BETWEEN ? AND ?`, THE CQL
    * read shape) prunes chunks the way wt zone maps prune
    * incremental reads; the marker flag lets the reconcile planner
    * keep chunks holding tombstone/TTL markers (which sit at
    * ck = Int.MinValue and shadow data far outside their own ck)
    * while plain scans prune purely by the zone, which covers every
    * physical row. Record layout is unchanged from CEL5.
    */
  val Magic7 = 0x43454c37

  /** "CEL8" (round 7, second half): the CEL6 typed-key layout plus
    * per-chunk clustering zone maps over the FIRST clustering part —
    * C37's chunk pruning lifted to typed tables. Each chunk-table
    * entry carries (min, max) of that part serialized with its value
    * codec (spanning EVERY physical row, marker rows' neutral cks
    * included, so plain scans prune exactly) plus a hasMarkers flag
    * (reconcile planners keep marker-bearing chunks — their
    * tombstones shadow data far outside their own ck). Record layout
    * is unchanged from CEL6; CEL6 files read with no-op zones.
    */
  val Magic8 = 0x43454c38

  /** "CEL9" (round 7): the CEL7 layout plus per-chunk VALUE zone maps
    * for long-valued tables — each chunk-table entry optionally
    * carries (minValue, maxValue) over ALL its records (markers
    * included, so the zone covers every physical row). A pushed value
    * range predicate (analytics shapes like `WHERE value > ?`) prunes
    * chunks on PLAIN scans exactly — the parquet-stats story for cell
    * data. Reconcile scans never push value bounds (dropping an old
    * version pre-merge could promote a shadowed cell), same rule as
    * wt. Non-long value tags write no zone and never prune. Record
    * layout is unchanged from CEL5/7.
    */
  val Magic9 = 0x43454c39

  /** "CEL10" (round 7): the CEL9 layout plus a PER-RECORD absolute
    * expiry — CQL's `USING TTL` made durable the way Cassandra stores
    * it (localExpirationTime per cell, not a table property). Records
    * append expiry(8) after wt (`Long.MaxValue` = never expires); the
    * reconciling merge drops winners whose effective expiry has
    * passed `queryTime`, where a per-cell expiry OVERRIDES the
    * `!ttl*` table default (Cassandra's precedence). Files holding no
    * expiring cell keep writing CEL9 — the magic IS the has-expiry
    * flag, so non-TTL tables pay zero bytes. Default key layout only
    * (typed writes refuse a ttl column).
    */
  val Magic10 = 0x43454c3a

  /** "CEL11" (round 7): the CEL8 TYPED layout plus the CEL10
    * per-record absolute expiry — `USING TTL` on typed-key tables,
    * closing CEL10's default-layout-only restriction (Cassandra TTLs
    * any table whatever its key shape). Records append expiry(8)
    * after wt; header/zones are CEL8's unchanged. Typed files holding
    * no expiring cell keep writing CEL8 — the magic IS the has-expiry
    * flag, same zero-cost rule as CEL9→CEL10.
    */
  val Magic11 = 0x43454c3b

  /** Public accessor: the table's key layout, resolved the way scans
    * resolve it (manifest first, else the first file's header; empty
    * dirs are default-keyed). Used by the CQL front door to route
    * writes to the matching layout.
    */
  def keySpec(dir: String): KeySpec =
    CellPlanning.keySpecOf(dir, CellPlanning.listFiles(dir))

  /** Public accessor for the C51e rename map (storage → declared) —
    * the CQL DDL arm composes chained renames through it.
    */
  def keyRenames(dir: String): Map[String, String] =
    CellPlanning.keyRenames(dir)

  /** Public face of [[CellPlanning.forgetKeyRenames]] — the ALTER
    * RENAME arm invalidates after every `_props` rewrite.
    */
  def forgetKeyRenames(dir: String): Unit =
    CellPlanning.forgetKeyRenames(dir)

  /** The table's stored/declared VALUE type: the first file header's
    * tag once files exist, the catalog's `_type` marker before the
    * first flush, long otherwise (the default layout's default). The
    * CQL front door routes its write grammar by it (C65o — text
    * values write text cells).
    */
  def valueTypeOf(dir: String): org.apache.spark.sql.types.DataType = {
    val norm = CellPlanning.normalize(dir)
    CellPlanning.listFiles(norm).headOption match {
      case Some(f) =>
        val h = readHeader(f)
        ValueCodec.dataTypeFor(h.valueTag, h.decPrec, h.decScale)
      case None =>
        val m = java.nio.file.Paths.get(norm).resolve("_type")
        if (java.nio.file.Files.exists(m))
          ValueCodec.parseType(java.nio.file.Files.readString(m).trim)
        else org.apache.spark.sql.types.LongType
    }
  }

  /** Driver-LOCAL reconciled read — the CQL front door's bounded
    * reads: single-partition SELECTs (`Cql.select`), LWT current-state
    * reads, conditional-BATCH partition reads and collection
    * read-before-write statements. Each used to schedule one Spark JOB
    * over a handful of rows; at sf0.1 a 10-statement lifecycle spent
    * ~80 ms of driver-side planning and scheduling PER JOB with
    * <15 ms of actual task work (StageStats, r19), and at 100 TB a
    * single-partition read must not cost a cluster round — it is a
    * replica-local read, the same authority [[maxWt]] already serves
    * header stats from.
    *
    * This goes through the EXACT same front door as a DataFrame read
    * with the same `options` — inferSchema → CellTable.newScanBuilder
    * (table-prop defaults, dropped columns, renames; `reconcile` is
    * forced on, and `strictCql`, `allowFiltering`, `reverse`,
    * `counter`, `valueType`, `withTtl`, `perPartitionLimit` and
    * `queryTime` act as they do there) → `filters` pushed into the
    * builder exactly as Spark pushes them (pk point/IN pruning, typed
    * point probes, clustering slices, the strictCql guard) → the
    * reconcile merge reader — only executed on the driver thread
    * instead of through the scheduler, walking each winner batch's
    * rows. Any key layout:
    * filters name columns as the served schema does (declared names,
    * renames applied).
    *
    * Pushed filters may legally be inexact (pruning is file- and
    * chunk-granular), so every filter is re-applied here on the
    * external rows, exactly: `EqualTo` and `In` by value, and
    * `LessThan`, `LessThanOrEqual`, `GreaterThan` and
    * `GreaterThanOrEqual` on bigint, int or text keys — numbers
    * numerically, text in `UTF8String` byte order (Spark's string
    * order). Other filter kinds refuse. Rows come back EXTERNAL-typed
    * via the same Catalyst converter collect() uses, with the schema
    * the read served.
    */
  def localReconciledRowsWhere(dir: String, filters: Seq[Filter],
      options: Map[String, String] = Map.empty)
      : (StructType, Seq[org.apache.spark.sql.Row]) = {
    val (schema, batch) = reconcileBatch(dir, filters, options)
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    def idx(n: String): Int = {
      val i = schema.fields.indexWhere(_.name.equalsIgnoreCase(n))
      require(i >= 0, s"no column $n in ${schema.fieldNames.mkString(",")}")
      i
    }
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Array[Byte], y: Array[Byte]) =>
        java.util.Arrays.equals(x, y)
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
        x.compareTo(y) == 0
      case _ => a == b
    }
    // a range bound's order: bigint/int keys numerically, text keys
    // in UTF8String byte order
    def order(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Int, y: Int) => Integer.compare(x, y)
      case (x: String, y: String) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      case _ => throw new IllegalArgumentException(
        s"range re-check compares bigint, int or text keys, got $a vs $b")
    }
    type Check = org.apache.spark.sql.Row => Boolean
    def bound(n: String, v: Any)(ok: Int => Boolean): Check = {
      val i = idx(n)
      r => ok(order(r.get(i), v))
    }
    val exact: Seq[Check] = filters.map {
      case EqualTo(n, v) =>
        val i = idx(n)
        (r: org.apache.spark.sql.Row) => same(r.get(i), v)
      case In(n, vs) =>
        val i = idx(n)
        (r: org.apache.spark.sql.Row) => vs.exists(same(r.get(i), _))
      case LessThan(n, v) => bound(n, v)(_ < 0)
      case LessThanOrEqual(n, v) => bound(n, v)(_ <= 0)
      case GreaterThan(n, v) => bound(n, v)(_ > 0)
      case GreaterThanOrEqual(n, v) => bound(n, v)(_ >= 0)
      case f => throw new IllegalArgumentException(
        s"the driver-local read re-applies key comparisons only, got $f")
    }
    val out = Vector.newBuilder[org.apache.spark.sql.Row]
    val rf = batch.createReaderFactory()
    batch.planInputPartitions().foreach(p => foreachRow(rf, p) { r =>
      // batch rows are views over reused vectors: copy first
      val row = conv(r.copy()).asInstanceOf[org.apache.spark.sql.Row]
      if (exact.forall(_(row))) out += row
    })
    (schema, out.result())
  }

  /** The reconcile read of `dir` under `options` (`reconcile` forced
    * on), planned through the provider exactly as a DataFrame read
    * plans it: inferSchema → CellTable.newScanBuilder → `filters`
    * pushed as Spark pushes them → the batch. Its partitions run on
    * the driver in [[localReconciledRowsWhere]] and in
    * CellMaintenance's one-partition rewrites.
    */
  private[sources] def reconcileBatch(dir: String, filters: Seq[Filter],
      options: Map[String, String]): (StructType, Batch) = {
    val omap = new java.util.HashMap[String, String]()
    options.foreach { case (k, v) => omap.put(k, v) }
    omap.put("path", CellPlanning.normalize(dir))
    omap.put("reconcile", "true")
    val cis = new CaseInsensitiveStringMap(omap)
    val provider = new CellSource
    val schema = provider.inferSchema(cis)
    val sb = provider.getTable(schema, Array.empty, omap)
      .asInstanceOf[SupportsRead].newScanBuilder(cis)
    if (filters.nonEmpty)
      sb.asInstanceOf[SupportsPushDownFilters].pushFilters(filters.toArray)
    (schema, sb.build().toBatch)
  }

  /** One planned input partition's rows, read on the driver thread by
    * the columnar reader a task would use. A row is a view over the
    * batch's reused vectors, valid until `f` returns.
    */
  private[sources] def foreachRow(rf: PartitionReaderFactory,
      p: InputPartition)(f: InternalRow => Unit): Unit = {
    val r = rf.createColumnarReader(p)
    try {
      while (r.next()) {
        val it = r.get().rowIterator()
        while (it.hasNext) f(it.next())
      }
    } finally r.close()
  }

  /** One row of the driver-local write path: the key parts' EXTERNAL
    * values in key order (`pk, ck` on the default layout), then col,
    * value, wt and the absolute expiry (`Long.MaxValue` = never).
    */
  type LocalRow = (Seq[Any], String, Any, Long, Long)

  /** The driver-local write path: memtable flushes, LWT and
    * conditional-batch writes, DELETE markers and logged-batch
    * journal slices all land here. A flush of a few statements'
    * cells is a node-local write in the system being modeled, so it
    * never schedules a Spark job; it keeps the DSv2 commit's
    * contract step for step:
    *  - the append type/layout check against the first existing file
    *    (a mixed generation must not publish);
    *  - [[writeLocalFile]]: one coercion of external values, the
    *    layout's record order, the encoder the key spec picks;
    *  - [[publishFlush]]: staged-link claim, manifest refresh,
    *    write-through 2i/MV maintenance.
    * C51e renames: headers never carry declared key names, so the
    * layout check compares the STORAGE spec of `dir`.
    */
  def localAppend(dir: String, declaredSpec: KeySpec,
      valueType: DataType, rows: Seq[LocalRow]): Unit = {
    if (rows.isEmpty) return
    val norm = CellPlanning.normalize(dir)
    val d = Paths.get(norm)
    Files.createDirectories(d)
    val spec = CellPlanning.storageKeySpec(norm, declaredSpec)
    val (tag, prec, scale) = ValueCodec.layoutOf(valueType)
    val files = CellPlanning.listFiles(norm)
    files.headOption.foreach { f =>
      val h = readHeader(f)
      require(h.keySpec == spec,
        s"append key layout does not match existing table in $dir")
      require((h.valueTag, h.decPrec, h.decScale) ==
          ((tag, prec, scale)),
        s"append value type does not match existing table in $dir")
    }
    val staged = Files.createTempFile(d, ".flush-", ".cells.tmp")
    try {
      writeLocalFile(staged, declaredSpec, valueType, rows)
      publishFlush(norm, files, Seq(staged))
    } finally Files.deleteIfExists(staged)
  }

  /** Encode `rows` as ONE flush file at `target`: the one place the
    * driver-local writers pick the encoder from the key spec —
    * [[writeFileTypedE]] (CEL9/CEL10) for [[KeySpec.Default]],
    * [[writeFileKeyed]] (CEL8/CEL11) otherwise — after sorting to the
    * layout's record order and one coercion of external values
    * ([[ValueCodec.toInternal]]). A tombstone marker's value slot is
    * inert: it takes the tag's neutral when the given value does not
    * fit; a data cell that does not fit is refused. Key names resolve
    * to the STORAGE names of the target's directory (C51e).
    */
  private[sources] def writeLocalFile(target: java.nio.file.Path,
      declaredSpec: KeySpec, valueType: DataType,
      rows: Seq[LocalRow]): Unit = {
    val spec = CellPlanning.storageKeySpec(target.getParent.toString,
      declaredSpec)
    val (tag, prec, scale) = ValueCodec.layoutOf(valueType)
    def key(p: KeyPart, v: Any): Any =
      ValueCodec.toInternal(p.tag, p.prec, p.scale, v).getOrElse(throw
        new IllegalArgumentException(s"bad ${p.name} value $v"))
    def value(col: String, v: Any): Any =
      ValueCodec.toInternal(tag, prec, scale, v).getOrElse {
        require(col.startsWith("!"), s"${valueType.simpleString} " +
          s"cell $col cannot hold a value of unexpected type: $v")
        ValueCodec.zeroOf(tag, prec, scale)
      }
    if (spec.isDefault) {
      val recs = rows.map { case (k, c, v, wt, exp) =>
        (key(spec.pkParts.head, k(0)).asInstanceOf[Long],
          key(spec.ckParts.head, k(1)).asInstanceOf[Int], c,
          value(c, v), wt, exp)
      }.sortWith { (a, b) =>
        if (a._1 != b._1) a._1 < b._1
        else if (a._2 != b._2) a._2 < b._2
        else if (a._3 != b._3) a._3 < b._3
        else if (a._5 != b._5) a._5 < b._5
        else ValueCodec.compare(tag, a._4, b._4) < 0
      }
      writeFileTypedE(target, recs,
        recs.iterator.map(_._3).toArray.distinct.sorted, tag, prec,
        scale, DefaultIndexEvery, DefaultChunkRecords)
    } else {
      val nPk = spec.pkParts.length
      val recs = rows.map { case (k, c, v, wt, exp) =>
        val pkIv = spec.pkParts.zip(k.take(nPk))
          .map { case (p, x) => key(p, x) }.toArray
        val ckIv = spec.ckParts.zip(k.drop(nPk))
          .map { case (p, x) => key(p, x) }.toArray
        KeyedRec(KeyCodec.token(spec, pkIv), pkIv, rankOf(c), ckIv, c,
          value(c, v), wt, exp)
      }.sortWith(keyedLess(spec))
      writeFileKeyed(target, recs, spec,
        recs.iterator.map(_.col).toArray.distinct.sorted, tag, prec,
        scale, DefaultIndexEvery, DefaultChunkRecords)
    }
  }

  /** The one publish step of every append into a table directory, the
    * DSv2 batch commit's and [[localAppend]]'s alike. Flush indices
    * are MONOTONIC and never reused (SSTable generation numbers):
    * each staged file links at the next index above `existing`'s max.
    * link(2) fails with EEXIST on a taken slot, so racing writers skip
    * forward and nothing is ever overwritten (a no-replace move is
    * check-then-rename, not atomic). Callers remove the staged names.
    * Then the planning manifest is refreshed (best-effort: readers
    * detect a stale one and fall back to headers), and registered
    * 2i/MV absorb the new generation (C18f/C40 write-through
    * maintenance; unregistered ones keep the lazy heal-on-read
    * contract).
    */
  private[sources] def publishFlush(norm: String, existing: Seq[String],
      staged: Seq[java.nio.file.Path]): Unit = {
    val d = Paths.get(norm)
    var next = existing.map(f =>
      CellPlanning.fileIndex(Paths.get(f).getFileName.toString))
      .foldLeft(-1)(math.max) + 1
    staged.foreach { s =>
      var done = false
      while (!done) {
        try {
          Files.createLink(d.resolve(f"data-$next%04d.cells"), s)
          done = true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
        }
        next += 1
      }
    }
    CellManifest.refresh(norm)
    CellIndex.maintainAfterWrite(norm)
    CellView.maintainAfterWrite(norm)
  }

  /** The table's maximum stored writetime, served from FILE HEADERS
    * alone (per-chunk max-wt stats — the same authority the C55 CAS
    * round's "wins LWW now" rule reads): one small header read per
    * flush file, zero data bytes, NO Spark job. None for an
    * empty/missing table. The CQL front door's per-statement
    * writetime allocator resolves with this instead of scheduling a
    * max(wt) scan job per statement — at 100 TB a write statement's
    * timestamp mint must not cost a cluster round.
    */
  def maxWt(dir: String): Option[Long] = {
    val files = CellPlanning.listFiles(CellPlanning.normalize(dir))
    val m = files.iterator.map(readHeader)
      .flatMap(_.chunkMaxWt.iterator)
      .foldLeft(Long.MinValue)(math.max)
    if (m == Long.MinValue) None else Some(m)
  }

  /** The deterministic "wins LWW now" writetime of a coordinator-side
    * write (DELETE markers, C38; the LWT and conditional-batch rounds,
    * C55/C56d): the table's [[maxWt]] + 1, never below 1.
    */
  def lwwNowWt(dir: String): Long =
    maxWt(dir).fold(0L)(math.max(0L, _)) + 1

  /** [[fileEstimate]] over every flush file of a table directory. */
  def dirEstimates(dir: String): Seq[(Long, Long, Long, Long, Int)] =
    CellPlanning.listFiles(CellPlanning.normalize(dir))
      .map(fileEstimate(_))

  /** Header-only per-file stats for the `system.size_estimates`
    * relation (C67c): (token lo, token hi, estimated partitions,
    * on-disk bytes, records). The partition estimator walks the
    * sparse index's (token, record) samples bookended by the Summary
    * bounds: a span whose endpoints share a token is ONE continuing
    * partition (contributes nothing); a span whose endpoints differ
    * contributes its record count — an upper bound, exact for
    * small-partition tables, and the product partitions × mean size
    * stays exactly the file's bytes either way (what split planners
    * actually consume). No data bytes are read.
    */
  def fileEstimate(file: String): (Long, Long, Long, Long, Int) = {
    val h = readHeader(file)
    val bytes = Files.size(Paths.get(file))
    if (h.count == 0) return (h.minPk, h.maxPk, 0L, bytes, 0)
    val ps = h.minPk +: h.indexPks :+ h.maxPk
    val is = 0 +: h.indexIdx :+ (h.count - 1)
    var est = 1L
    var i = 0
    while (i < ps.length - 1) {
      if (ps(i) != ps(i + 1))
        est += math.max(1, is(i + 1) - is(i)).toLong
      i += 1
    }
    (h.minPk, h.maxPk, math.min(est, h.count.toLong), bytes, h.count)
  }

  /** rank byte: 0 = partition-level marker row, 1 = normal row. */
  def rankOf(colName: String): Byte =
    if (colName == PartitionTombstone || colName == PartitionTtl ||
        colName.startsWith(RangeTombstonePrefix) ||
        colName.startsWith(PrefixTombstonePrefix) ||
        colName.startsWith(StaticPrefix)) 0 else 1
  val RecordBytes = 29 // pk(8) ck(4) colId(1) value(8) wt(8) [CEL4/long]
  val BloomHashes = 7
  val DefaultIndexEvery = 4096
  val DefaultChunkRecords = 4096
  val DefaultSubsplitRecords = 65536
  /** Task writers roll to a fresh staged `.cells` file every this
    * many records, so a write task's heap footprint is bounded by the
    * roll size rather than its whole partition (a 100 TB snapshot
    * write would otherwise buffer ~1/tasks of the table per JVM).
    */
  val DefaultRollRecords = 1 << 20

  /** 64-bit finalizer (splitmix64) for bloom double-hashing. */
  private[sources] def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  private[sources] def bloomContains(words: Array[Long], pk: Long): Boolean = {
    val mBits = words.length.toLong * 64
    val h1 = mix64(pk)
    val h2 = mix64(pk ^ 0x9e3779b97f4a7c15L) | 1L
    var i = 0
    while (i < BloomHashes) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, mBits)
      if ((words((bit >>> 6).toInt) & (1L << (bit & 63))) == 0) return false
      i += 1
    }
    true
  }

  private def bloomBuild(pks: Iterable[Long]): Array[Long] = {
    val distinct = pks.toSet
    val nWords = math.max(1, (distinct.size * 10 + 63) / 64)
    val words = new Array[Long](nWords)
    val mBits = nWords.toLong * 64
    distinct.foreach { pk =>
      val h1 = mix64(pk)
      val h2 = mix64(pk ^ 0x9e3779b97f4a7c15L) | 1L
      var i = 0
      while (i < BloomHashes) {
        val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, mBits)
        words((bit >>> 6).toInt) |= (1L << (bit & 63))
        i += 1
      }
    }
    words
  }

  /** Per-file metadata: Summary (range+count) + Filter (bloom) +
    * sparse Index + chunk table (CompressionInfo).
    */
  private[sources] case class Header(minPk: Long, maxPk: Long, count: Int,
      bloom: Array[Long], indexPks: Array[Long], indexIdx: Array[Int],
      chunkRecords: Int, chunkOffsets: Array[Long], chunkLens: Array[Int],
      chunkRecCounts: Array[Int], chunkRawLens: Array[Int],
      chunkMinWt: Array[Long], chunkMaxWt: Array[Long], dataStart: Long,
      valueTag: Int, decPrec: Int, decScale: Int, colNames: Array[String],
      keySpec: KeySpec,
      // CEL7 clustering zone maps; pre-CEL7 files carry full-range
      // sentinels + hasMarkers=true, so ck pruning degrades to a no-op
      chunkMinCk: Array[Int], chunkMaxCk: Array[Int],
      chunkHasMarkers: Array[Boolean],
      // CEL8 TYPED zone maps (internal comparables of the first ck
      // part); null arrays for every other format
      chunkMinCkT: Array[Any] = null, chunkMaxCkT: Array[Any] = null,
      // CEL9 VALUE zone maps (long-valued tables only); null arrays
      // for every other format / value tag → no value pruning
      chunkMinV: Array[Long] = null, chunkMaxV: Array[Long] = null,
      // CEL10: records carry a trailing absolute expiry long
      hasExpiry: Boolean = false)

  private[sources] def readHeader(file: String): Header = {
    Using.resource(new DataInputStream(
        Files.newInputStream(Paths.get(file)))) { in =>
      val magic = in.readInt()
      require(magic == Magic || magic == Magic5 || magic == Magic6 ||
        magic == Magic7 || magic == Magic8 || magic == Magic9 ||
        magic == Magic10 || magic == Magic11,
        s"bad cell file magic in $file")
      val v5 = magic == Magic5 || magic == Magic6 || magic == Magic7 ||
        magic == Magic8 || magic == Magic9 || magic == Magic10 ||
        magic == Magic11
      val headerLen = in.readInt()
      // CEL6/8 prefix: the typed key spec (pk parts, then ck parts).
      val spec =
        if (magic == Magic6 || magic == Magic8 || magic == Magic11) {
          def parts(): List[KeyPart] = {
            val n = in.readInt()
            List.fill(n)(KeyPart(in.readUTF(), in.readUnsignedByte(),
              in.readUnsignedByte(), in.readUnsignedByte()))
          }
          val pk = parts(); val ck = parts()
          KeySpec(pk, ck)
        } else KeySpec.Default
      // CEL5 prefix: value-type tag (+ decimal precision/scale) and
      // the column-name table; CEL4 is long-valued with the fixed
      // ColNames table.
      val (tag, prec, scale, cols) =
        if (v5) {
          val t = in.readUnsignedByte()
          val p = in.readUnsignedByte(); val sc = in.readUnsignedByte()
          val nCols = in.readInt()
          (t, p, sc, Array.fill(nCols)(in.readUTF()))
        } else (ValueCodec.LongTag, 0, 0, ColNames)
      val lo = in.readLong(); val hi = in.readLong(); val n = in.readInt()
      val nWords = in.readInt()
      val bloom = Array.fill(nWords)(in.readLong())
      val nIdx = in.readInt()
      val ipks = new Array[Long](nIdx); val iidx = new Array[Int](nIdx)
      var i = 0
      while (i < nIdx) { ipks(i) = in.readLong(); iidx(i) = in.readInt(); i += 1 }
      val chunkRecords = in.readInt()
      val nChunks = in.readInt()
      val offs = new Array[Long](nChunks)
      val lens = new Array[Int](nChunks)
      val recs = new Array[Int](nChunks)
      val raws = new Array[Int](nChunks)
      val wlo = new Array[Long](nChunks)
      val whi = new Array[Long](nChunks)
      val cklo = new Array[Int](nChunks)
      val ckhi = new Array[Int](nChunks)
      val cmk = new Array[Boolean](nChunks)
      val hasTypedZone = (magic == Magic8 || magic == Magic11) &&
        spec.ckParts.nonEmpty
      val cktlo = if (hasTypedZone) new Array[Any](nChunks) else null
      val ckthi = if (hasTypedZone) new Array[Any](nChunks) else null
      var vlo: Array[Long] = null
      var vhi: Array[Long] = null
      i = 0
      while (i < nChunks) {
        offs(i) = in.readLong(); lens(i) = in.readInt(); recs(i) = in.readInt()
        raws(i) = if (v5) in.readInt() else recs(i) * RecordBytes
        wlo(i) = in.readLong(); whi(i) = in.readLong()
        if (magic == Magic7 || magic == Magic9 || magic == Magic10) {
          cklo(i) = in.readInt(); ckhi(i) = in.readInt()
          cmk(i) = in.readBoolean()
          if ((magic == Magic9 || magic == Magic10) && in.readBoolean()) {
            if (vlo == null) {
              vlo = new Array[Long](nChunks); vhi = new Array[Long](nChunks)
              java.util.Arrays.fill(vlo, Long.MinValue)
              java.util.Arrays.fill(vhi, Long.MaxValue)
            }
            vlo(i) = in.readLong(); vhi(i) = in.readLong()
          }
        } else {
          // pre-CEL7 / typed: no INT zone map — full range; CEL8 sets
          // the marker flag from the file below, others assume markers
          cklo(i) = Int.MinValue; ckhi(i) = Int.MaxValue; cmk(i) = true
        }
        if (magic == Magic8 || magic == Magic11) {
          if (in.readBoolean()) {
            val ck = spec.ckParts.head
            cktlo(i) = ValueCodec.readStream(in, ck.tag, ck.prec, ck.scale)
            ckthi(i) = ValueCodec.readStream(in, ck.tag, ck.prec, ck.scale)
          }
          cmk(i) = in.readBoolean()
        }
        i += 1
      }
      Header(lo, hi, n, bloom, ipks, iidx, chunkRecords, offs, lens, recs,
        raws, wlo, whi, 8L + headerLen, tag, prec, scale, cols, spec,
        cklo, ckhi, cmk, cktlo, ckthi, vlo, vhi,
        magic == Magic10 || magic == Magic11)
    }
  }

  /** Snapshot writer (the `nodetool snapshot` stand-in): writes cells
    * into `files` pk-sorted data files, each with Summary/Filter/
    * Index/CompressionInfo metadata and a chunk-deflated data section.
    * Driver-side test/fixture utility.
    */
  /** Write ONE pk-sorted `.cells` file (Summary/Filter/Index/
    * CompressionInfo header + chunk-deflated data section). `chunk`
    * MUST already be record-sorted. Shared by the fixture snapshot
    * writer and the DSv2 task writers.
    */
  /** Long-valued convenience (tests/fixtures): CEL5 with the fixed
    * ColNames table and the long codec.
    */
  private[sources] def writeFile(target: java.nio.file.Path,
      chunk: Seq[(Long, Int, String, Long, Long)], indexEvery: Int,
      chunkRecords: Int): Unit = {
    chunk.iterator.map(_._3).distinct.foreach { c =>
      require(ColNames.contains(c), s"unknown cell column '$c'")
    }
    writeFileTyped(target,
      chunk.map(c => (c._1, c._2, c._3, c._4: Any, c._5)), ColNames,
      ValueCodec.LongTag, 0, 0, indexEvery, chunkRecords)
  }

  /** Write ONE pk-sorted CEL5 `.cells` file: typed values (per-file
    * value-type tag + column-name table in the header), variable-width
    * records, per-chunk raw lengths for exact inflate sizing.
    */
  private[sources] def writeFileTyped(target: java.nio.file.Path,
      chunk: Seq[(Long, Int, String, Any, Long)], colNames: Array[String],
      valueTag: Int, decPrec: Int, decScale: Int, indexEvery: Int,
      chunkRecords: Int): Unit =
    writeFileTypedE(target,
      chunk.map(c => (c._1, c._2, c._3, c._4, c._5, Long.MaxValue)),
      colNames, valueTag, decPrec, decScale, indexEvery, chunkRecords)

  /** Expiry-carrying form (CEL10): rows add an ABSOLUTE expiry ms
    * (`Long.MaxValue` = never). Files with no expiring record write
    * plain CEL9.
    */
  private[sources] def writeFileTypedE(target: java.nio.file.Path,
      chunk: Seq[(Long, Int, String, Any, Long, Long)],
      colNames: Array[String],
      valueTag: Int, decPrec: Int, decScale: Int, indexEvery: Int,
      chunkRecords: Int): Unit = {
    require(colNames.length <= 255, "at most 255 distinct cell columns")
    val colId: Map[String, Int] = colNames.zipWithIndex.toMap
    val hasExpiry = chunk.exists(_._6 != Long.MaxValue)
    // Deflate the data section chunk by chunk, recording the table.
    val data = new ByteArrayOutputStream()
    val offsets = Seq.newBuilder[(Long, Int, Int, Int, Long, Long, Int,
      Int, Boolean, Option[(Long, Long)])]
    chunk.grouped(chunkRecords).foreach { recs =>
      val rawOut = new ByteArrayOutputStream()
      val rawDs = new DataOutputStream(rawOut)
      recs.foreach { case (pk, ck, col, value, wt, exp) =>
        rawDs.writeLong(pk); rawDs.writeInt(ck)
        rawDs.writeByte(colId(col))
        ValueCodec.write(rawDs, valueTag, value)
        rawDs.writeLong(wt)
        if (hasExpiry) rawDs.writeLong(exp)
      }
      val raw = rawOut.toByteArray
      val deflater = new Deflater()
      deflater.setInput(raw); deflater.finish()
      // Worst-case deflate output on incompressible input is ~5 bytes
      // per 16 KiB stored block plus a small header — a flat +64 slack
      // would underflow once the chunk passes ~200 KiB and the
      // deflate() loop would spin forever returning 0 into a full
      // buffer. zlib's own deflateBound-style margin:
      val buf = new Array[Byte](raw.length + raw.length / 1000 + 64)
      var clen = 0
      while (!deflater.finished())
        clen += deflater.deflate(buf, clen, buf.length - clen)
      deflater.end()
      // CEL9 value zone: long-valued tables only, spanning EVERY
      // physical row (markers included) so plain scans prune exactly
      val vZone =
        if (valueTag == ValueCodec.LongTag && recs.nonEmpty)
          Some((recs.iterator.map(_._4.asInstanceOf[Long]).min,
            recs.iterator.map(_._4.asInstanceOf[Long]).max))
        else None
      offsets += ((data.size().toLong, clen, recs.size, raw.length,
        recs.iterator.map(_._5).min, recs.iterator.map(_._5).max,
        recs.iterator.map(_._2).min, recs.iterator.map(_._2).max,
        recs.exists(r => r._3.nonEmpty && r._3.charAt(0) == '!'), vZone))
      data.write(buf, 0, clen)
    }
    val chunkTable = offsets.result()
    val header = new ByteArrayOutputStream()
    val h = new DataOutputStream(header)
    h.writeByte(valueTag); h.writeByte(decPrec); h.writeByte(decScale)
    h.writeInt(colNames.length)
    colNames.foreach(h.writeUTF)
    h.writeLong(if (chunk.isEmpty) Long.MaxValue else chunk.head._1)
    h.writeLong(if (chunk.isEmpty) Long.MinValue else chunk.last._1)
    h.writeInt(chunk.size)
    val bloom = bloomBuild(chunk.map(_._1))
    h.writeInt(bloom.length)
    bloom.foreach(h.writeLong)
    val idx = chunk.zipWithIndex.collect {
      case (c, j) if j % indexEvery == 0 => (c._1, j)
    }
    h.writeInt(idx.size)
    idx.foreach { case (pk, j) => h.writeLong(pk); h.writeInt(j) }
    h.writeInt(chunkRecords)
    h.writeInt(chunkTable.size)
    chunkTable.foreach {
      case (off, clen, nrec, rawLen, wlo, whi, cklo, ckhi, mk, vz) =>
        h.writeLong(off); h.writeInt(clen); h.writeInt(nrec)
        h.writeInt(rawLen)
        h.writeLong(wlo); h.writeLong(whi)
        h.writeInt(cklo); h.writeInt(ckhi); h.writeBoolean(mk)
        h.writeBoolean(vz.isDefined)
        vz.foreach { case (lo2, hi2) =>
          h.writeLong(lo2); h.writeLong(hi2)
        }
    }
    Using.resource(new DataOutputStream(
        Files.newOutputStream(target))) { out =>
      out.writeInt(if (hasExpiry) Magic10 else Magic9)
      out.writeInt(header.size)
      out.write(header.toByteArray)
      data.writeTo(out)
    }
  }

  /** One CEL6 record in memory: precomputed partition token + typed
    * key part values (internal representations).
    */
  private[sources] final case class KeyedRec(token: Long,
      pkVals: Array[Any], rank: Byte, ckVals: Array[Any], col: String,
      value: Any, wt: Long,
      // CEL11 per-record absolute expiry (Long.MaxValue = never)
      expiry: Long = Long.MaxValue)

  /** Record order of a CEL6 file: token, typed pk parts, marker rank,
    * typed ck parts, col name, wt, value.
    */
  private[sources] def keyedLess(spec: KeySpec)(
      a: KeyedRec, b: KeyedRec): Boolean = {
    var c = java.lang.Long.compare(a.token, b.token)
    if (c == 0) c = KeyCodec.compareParts(spec.pkParts, a.pkVals, b.pkVals)
    if (c == 0) c = java.lang.Byte.compare(a.rank, b.rank)
    if (c == 0) c = KeyCodec.compareParts(spec.ckParts, a.ckVals, b.ckVals)
    if (c == 0) c = a.col.compareTo(b.col)
    if (c == 0) c = java.lang.Long.compare(a.wt, b.wt)
    c < 0
  }

  /** Write ONE token-sorted CEL6 `.cells` file: typed keys per the
    * spec, typed values per the CEL5 union; Summary/Filter/Index
    * metadata over the TOKEN. `rows` MUST already be sorted by
    * [[keyedLess]].
    */
  private[sources] def writeFileKeyed(target: java.nio.file.Path,
      rows: Seq[KeyedRec], spec0: KeySpec, colNames: Array[String],
      valueTag: Int, decPrec: Int, decScale: Int, indexEvery: Int,
      chunkRecords: Int): Unit = {
    // headers ALWAYS carry the STORAGE part names — a caller holding
    // the table-level (declared, C51e-renamed) spec must not stamp a
    // mixed-name header set; part types/order are identical, so the
    // records need nothing
    val spec = CellPlanning.storageKeySpec(
      target.getParent.toString, spec0)
    require(colNames.length <= 255, "at most 255 distinct cell columns")
    val colId: Map[String, Int] = colNames.zipWithIndex.toMap
    // CEL11: the magic IS the has-expiry flag — typed tables with no
    // expiring cell keep the CEL8 record shape, zero extra bytes
    val hasExpiry = rows.exists(_.expiry != Long.MaxValue)
    val data = new ByteArrayOutputStream()
    val offsets = Seq.newBuilder[
      (Long, Int, Int, Int, Long, Long, Option[(Any, Any)], Boolean)]
    rows.grouped(chunkRecords).foreach { recs =>
      val rawOut = new ByteArrayOutputStream()
      val rawDs = new DataOutputStream(rawOut)
      recs.foreach { r =>
        rawDs.writeLong(r.token)
        var i = 0
        spec.pkParts.foreach { p =>
          ValueCodec.write(rawDs, p.tag, r.pkVals(i)); i += 1
        }
        rawDs.writeByte(r.rank)
        i = 0
        spec.ckParts.foreach { p =>
          ValueCodec.write(rawDs, p.tag, r.ckVals(i)); i += 1
        }
        rawDs.writeByte(colId(r.col))
        ValueCodec.write(rawDs, valueTag, r.value)
        rawDs.writeLong(r.wt)
        if (hasExpiry) rawDs.writeLong(r.expiry)
      }
      val raw = rawOut.toByteArray
      val deflater = new Deflater()
      deflater.setInput(raw); deflater.finish()
      val buf = new Array[Byte](raw.length + raw.length / 1000 + 64)
      var clen = 0
      while (!deflater.finished())
        clen += deflater.deflate(buf, clen, buf.length - clen)
      deflater.end()
      // CEL8 typed clustering zone: (min, max) of the FIRST ck part
      // over EVERY row of the chunk (marker rows' neutral cks
      // included — the zone must cover every physical row so plain
      // scans prune exactly), plus the marker flag reconcile planners
      // key on.
      val zone =
        if (spec.ckParts.isEmpty) None
        else {
          val t = spec.ckParts.head.tag
          var mn: Any = null; var mx: Any = null
          recs.foreach { r =>
            val v = r.ckVals(0)
            if (mn == null || ValueCodec.compare(t, v, mn) < 0) mn = v
            if (mx == null || ValueCodec.compare(t, v, mx) > 0) mx = v
          }
          Some((mn, mx))
        }
      offsets += ((data.size().toLong, clen, recs.size, raw.length,
        recs.iterator.map(_.wt).min, recs.iterator.map(_.wt).max,
        zone, recs.exists(_.rank == 0)))
      data.write(buf, 0, clen)
    }
    val chunkTable = offsets.result()
    val header = new ByteArrayOutputStream()
    val h = new DataOutputStream(header)
    def keyParts(ps: List[KeyPart]): Unit = {
      h.writeInt(ps.length)
      ps.foreach { p =>
        h.writeUTF(p.name); h.writeByte(p.tag)
        h.writeByte(p.prec); h.writeByte(p.scale)
      }
    }
    keyParts(spec.pkParts); keyParts(spec.ckParts)
    h.writeByte(valueTag); h.writeByte(decPrec); h.writeByte(decScale)
    h.writeInt(colNames.length)
    colNames.foreach(h.writeUTF)
    h.writeLong(if (rows.isEmpty) Long.MaxValue else rows.head.token)
    h.writeLong(if (rows.isEmpty) Long.MinValue else rows.last.token)
    h.writeInt(rows.size)
    val bloom = bloomBuild(rows.map(_.token))
    h.writeInt(bloom.length)
    bloom.foreach(h.writeLong)
    val idx = rows.zipWithIndex.collect {
      case (r, j) if j % indexEvery == 0 => (r.token, j)
    }
    h.writeInt(idx.size)
    idx.foreach { case (t, j) => h.writeLong(t); h.writeInt(j) }
    h.writeInt(chunkRecords)
    h.writeInt(chunkTable.size)
    chunkTable.foreach {
      case (off, clen, nrec, rawLen, wlo, whi, zone, hasMk) =>
        h.writeLong(off); h.writeInt(clen); h.writeInt(nrec)
        h.writeInt(rawLen)
        h.writeLong(wlo); h.writeLong(whi)
        h.writeBoolean(zone.isDefined)
        zone.foreach { case (mn, mx) =>
          val ck = spec.ckParts.head
          ValueCodec.write(h, ck.tag, mn)
          ValueCodec.write(h, ck.tag, mx)
        }
        h.writeBoolean(hasMk)
    }
    Using.resource(new DataOutputStream(
        Files.newOutputStream(target))) { out =>
      out.writeInt(if (hasExpiry) Magic11 else Magic8)
      out.writeInt(header.size)
      out.write(header.toByteArray)
      data.writeTo(out)
    }
  }

  /** TYPED-snapshot test/fixture utility (CEL8 twin of
    * [[writeSnapshot]]): key tuples carry EXTERNAL values
    * (String/Int/Long/...), converted through [[ValueCodec.toInternal]];
    * rows land keyedLess-sorted across `files` token-ordered files.
    */
  def writeSnapshotKeyed(dir: String, pkSyntax: String,
      types: Map[String, String],
      rows: Seq[(Seq[Any], Seq[Any], String, Any, Long)],
      valueType: DataType = LongType, files: Int = 1,
      indexEvery: Int = DefaultIndexEvery,
      chunkRecords: Int = DefaultChunkRecords,
      startIndex: Int = 0): Unit = {
    val spec = KeySpec.fromSyntax(pkSyntax,
      n => ValueCodec.parseType(types(n)))
    val (tag, prec, scale) = ValueCodec.layoutOf(valueType)
    def internal(p: KeyPart, v: Any): Any =
      ValueCodec.toInternal(p.tag, p.prec, p.scale, v).getOrElse(throw
        new IllegalArgumentException(s"bad ${p.name} value $v"))
    val recs = rows.map { case (pk, ck, col, v, wt) =>
      val pkIv = spec.pkParts.zip(pk)
        .map { case (p, x) => internal(p, x) }.toArray
      val ckIv = spec.ckParts.zip(ck)
        .map { case (p, x) => internal(p, x) }.toArray
      KeyedRec(KeyCodec.token(spec, pkIv), pkIv, rankOf(col), ckIv,
        col, ValueCodec.toInternal(tag, prec, scale, v).getOrElse(v), wt)
    }.sortWith(keyedLess(spec))
    val p = Paths.get(dir)
    Files.createDirectories(p)
    val colNames = recs.iterator.map(_.col).toArray.distinct.sorted
    val fileChunks = if (recs.isEmpty) Seq(Seq.empty[KeyedRec])
      else recs.grouped(
        math.max(1, (recs.size + files - 1) / files)).toSeq
    fileChunks.zipWithIndex.foreach { case (chunk, i) =>
      writeFileKeyed(p.resolve(f"data-${startIndex + i}%04d.cells"),
        chunk, spec, colNames, tag, prec, scale, indexEvery, chunkRecords)
    }
    CellManifest.refresh(dir)
  }

  def writeSnapshot(dir: String, cells: Seq[(Long, Int, String, Long, Long)],
      files: Int, indexEvery: Int = DefaultIndexEvery,
      chunkRecords: Int = DefaultChunkRecords,
      startIndex: Int = 0): Unit = {
    cells.iterator.map(_._3).distinct.foreach { c =>
      require(ColNames.contains(c), s"unknown cell column '$c'")
    }
    val p = Paths.get(dir)
    Files.createDirectories(p)
    val sorted = cells.sortBy(c => (c._1, c._2, c._3, c._5, c._4))
    val fileChunks = if (sorted.isEmpty) Seq(Seq.empty)
      else sorted.grouped(math.max(1, (sorted.size + files - 1) / files)).toSeq
    fileChunks.zipWithIndex.foreach { case (chunk, i) =>
      writeFile(p.resolve(f"data-${startIndex + i}%04d.cells"), chunk,
        indexEvery, chunkRecords)
    }
    CellManifest.refresh(dir)
  }
}

class CellTable(path: String,
    tableSchema: StructType = CellSource.Schema,
    tableProps: Map[String, String] = Map.empty) extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  override def name(): String = s"cells($path)"
  override def schema(): StructType = tableSchema
  override def properties(): JMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    tableProps.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Catalog-persisted table properties act as per-table DEFAULTS for
    * scan/write options (`reconcile`, `subsplitRecords`,
    * `rollRecords`) — e.g. `CREATE TABLE ... TBLPROPERTIES
    * ('reconcile'='true')` defines a table every reader sees
    * reconciled; per-read/write options still win.
    */
  private def effective(
      options: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    if (tableProps.isEmpty) options
    else {
      val m = new java.util.HashMap[String, String]()
      tableProps.foreach { case (k, v) => m.put(k, v) }
      m.putAll(options.asCaseSensitiveMap())
      new CaseInsensitiveStringMap(m)
    }
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)
  /** Typed key layout of the directory (CEL6) — manifest/header-
    * resolved once per table handle; empty dirs are default-keyed.
    */
  private lazy val keySpec: KeySpec = {
    val p = CellPlanning.normalize(path)
    CellPlanning.keySpecOf(p, CellPlanning.listFiles(p))
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val o = effective(options)
    val (tokLo, tokHi) = CellPlanning.tokenBounds(o)
    // C52 — paging state: `pageAfter=pk:ck:col` resumes the reconciled
    // read strictly after that cell. Reconcile-only (Cassandra pages
    // the MERGED read, never raw sstables), default layout only (the
    // cursor compares by pk/ck/col), and mutually exclusive with the
    // reads that re-window rows (PER PARTITION LIMIT counts from the
    // true partition start; reverse pages would need a reversed
    // cursor).
    // C58 — dropped columns: `dropped.<col> = <dropTsMs>` table
    // properties (set via ALTER TABLE ... SET TBLPROPERTIES, merged
    // into options by `effective`) plus the explicit
    // `droppedColumns=col:ts,col:ts` read option for path-based reads.
    val droppedCols: Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val fromProps = o.asCaseSensitiveMap().asScala.collect {
        case (k, v) if k.length > 8 &&
            k.substring(0, 8).equalsIgnoreCase("dropped.") =>
          k.substring(8) -> v.toLong
      }.toMap
      val fromOpt = Option(o.get("droppedColumns")).map(_.split(',')
        .iterator.filter(_.nonEmpty).map { e =>
          val i = e.lastIndexOf(':')
          require(i > 0, s"droppedColumns entry must be col:ts, got '$e'")
          e.substring(0, i) -> e.substring(i + 1).toLong
        }.toMap).getOrElse(Map.empty[String, Long])
      fromProps ++ fromOpt
    }
    val pageAfter = Option(o.get("pageAfter")).map { s =>
      val parts = s.split(":", 3)
      require(parts.length == 3,
        s"pageAfter must be <pk>:<ck>:<col>, got '$s'")
      require(o.getBoolean("reconcile", false),
        "pageAfter requires reconcile=true (paging is a merged read)")
      require(keySpec.isDefault,
        "pageAfter pages default-layout tables only")
      require(o.getInt("perPartitionLimit", Int.MaxValue) ==
        Int.MaxValue && !o.getBoolean("reverse", false),
        "pageAfter cannot combine with perPartitionLimit or reverse")
      (parts(0).toLong, parts(1).toInt, parts(2))
    }
    // C52b — TYPED paging: per-part cursor options
    // `pageAfter.<part> = <value>` for EVERY pk and ck part, plus
    // `pageAfter.col`. Values parse by the part's key type
    // (long/int/string — the CQL-common clustering shapes; other part
    // types refuse). Same exclusions as the default-path pageAfter.
    val pageAfterTyped: Option[(Array[Any], Array[Any], String)] =
      if (keySpec.isDefault || o.get("pageAfter.col") == null) None
      else {
        require(o.getBoolean("reconcile", false),
          "pageAfter requires reconcile=true (paging is a merged read)")
        require(o.getInt("perPartitionLimit", Int.MaxValue) ==
          Int.MaxValue && !o.getBoolean("reverse", false),
          "pageAfter cannot combine with perPartitionLimit or reverse")
        def parsePart(part: KeyPart): Any = {
          val raw = o.get(s"pageAfter.${part.name}")
          require(raw != null,
            s"typed paging needs pageAfter.${part.name}")
          part.tag match {
            case ValueCodec.LongTag => raw.toLong
            case ValueCodec.IntTag => raw.toInt
            case ValueCodec.StringTag =>
              org.apache.spark.unsafe.types.UTF8String.fromString(raw)
            case t => throw new IllegalArgumentException(
              s"typed paging does not support key part tag $t " +
                s"(${part.name}); page on long/int/string parts")
          }
        }
        Some((keySpec.pkParts.map(parsePart).toArray,
          keySpec.ckParts.map(parsePart).toArray,
          o.get("pageAfter.col")))
      }
    new CellScanBuilder(path,
      o.getInt("subsplitRecords", CellSource.DefaultSubsplitRecords),
      o.getBoolean("reconcile", false),
      tableSchema,
      ReconcileOptions(
        queryTime = o.getLong("queryTime", Long.MaxValue),
        keepMarkers = o.getBoolean("keepMarkers", false),
        gcGraceMs = o.getLong("gcGraceMs", Long.MaxValue),
        gcNowMs = o.getLong("gcNowMs", Long.MaxValue),
        counter = o.getBoolean("counter", false),
        perPartitionLimit =
          o.getInt("perPartitionLimit", Int.MaxValue),
        reverse = o.getBoolean("reverse", false),
        reverseMaxRows = o.getInt("reverseMaxRows", 1 << 20),
        pageAfter = pageAfter,
        pageAfterTyped = pageAfterTyped,
        droppedColumns = droppedCols),
      keySpec,
      // the cursor pk is the physical lower bound: pre-cursor files
      // and chunks are pruned at planning, not skipped at read
      pageAfterTyped.fold(
        pageAfter.fold(tokLo)(pa => math.max(tokLo, pa._1)))(pt =>
        math.max(tokLo, KeyCodec.token(keySpec, pt._1))), tokHi,
      // C47 quorum read: comma-separated replica dirs merged into
      // this table's reconcile
      Option(o.get("replicas")).map(_.split(',').toSeq
        .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil),
      // C57 — CQL's ALLOW FILTERING guard (see pushFilters)
      o.getBoolean("strictCql", false),
      o.getBoolean("allowFiltering", false))
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val o = effective(info.options)
    new CellWriteBuilder(path, info.schema(),
      o.getInt("rollRecords", CellSource.DefaultRollRecords),
      Option(o.get("primaryKey")))
  }

  // ---- C38: DELETE-as-tombstone (SupportsDelete, round 7) ----
  // A Cassandra DELETE never touches existing data: it WRITES a
  // tombstone that the read path's merge shadows with. `DELETE FROM t
  // WHERE pk = ?` appends a partition tombstone flush; `... AND
  // ck = ?` a row tombstone; `... AND ck BETWEEN ? AND ?` a range
  // tombstone marker. The marker's writetime is (table max wt + 1) —
  // deterministic, and by LWW it deletes exactly what exists at
  // delete time; later writes with fresh wts survive it, Cassandra's
  // own rewrite-past-deletion behavior. Typed-key (CEL6) tables and
  // other predicate shapes refuse via canDeleteWhere.

  /** Parse a Cassandra-shaped DELETE predicate: (pk set, ckLo, ckHi,
    * any-ck-constraint). None = unsupported shape.
    */
  private def parseDelete(filters: Array[Filter])
      : Option[(Set[Long], Int, Int, Boolean)] = {
    if (!keySpec.isDefault) return None
    var pkSets = List.empty[Set[Long]]
    var ckLo = Int.MinValue
    var ckHi = Int.MaxValue
    var hasCk = false
    var ok = true
    filters.foreach {
      case EqualTo("pk", v: java.lang.Long) =>
        pkSets ::= Set(v.longValue)
      case In("pk", vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[java.lang.Long]) =>
        pkSets ::= vs.iterator
          .map(_.asInstanceOf[java.lang.Long].longValue).toSet
      case EqualTo("ck", v: java.lang.Integer) =>
        hasCk = true
        ckLo = math.max(ckLo, v); ckHi = math.min(ckHi, v)
      case GreaterThan("ck", v: java.lang.Integer) =>
        hasCk = true; ckLo = math.max(ckLo, v + 1)
      case GreaterThanOrEqual("ck", v: java.lang.Integer) =>
        hasCk = true; ckLo = math.max(ckLo, v)
      case LessThan("ck", v: java.lang.Integer) =>
        hasCk = true; ckHi = math.min(ckHi, v - 1)
      case LessThanOrEqual("ck", v: java.lang.Integer) =>
        hasCk = true; ckHi = math.min(ckHi, v)
      case _ => ok = false
    }
    if (!ok || pkSets.isEmpty) None
    else Some((pkSets.reduce(_ intersect _), ckLo, ckHi, hasCk))
  }

  /** Typed-table (CEL6) DELETE parse: every pk part bound by
    * equality (or IN on a single-part key), optionally every ck part
    * bound by equality (row tombstone) or an int-range on a single
    * int ck (range tombstone — the marker encodes int bounds in its
    * name). Returns (pk tuples, ck equality tuple, ck range).
    */
  private def parseTypedDelete(filters: Array[Filter]): Option[
      (Seq[Array[Any]], Option[Array[Any]], Option[(Int, Int)])] = {
    if (keySpec.isDefault) return None
    val pkParts = keySpec.pkParts
    val ckParts = keySpec.ckParts
    val pkNames = pkParts.map(_.name)
    val ckNames = ckParts.map(_.name)
    val intCk = ckParts match {
      case KeyPart(_, ValueCodec.IntTag, _, _) :: Nil => true
      case _ => false
    }
    val pkEq = scala.collection.mutable.Map.empty[String, Any]
    // IN lists per pk part (Cassandra allows IN on ANY partition-key
    // part; several INs form a cartesian product of partitions)
    val pkIn = scala.collection.mutable.Map.empty[String, Seq[Any]]
    val ckEq = scala.collection.mutable.Map.empty[String, Any]
    var ckLo = Int.MinValue
    var ckHi = Int.MaxValue
    var hasRange = false
    var ok = true
    filters.foreach {
      case EqualTo(n, v) if pkNames.contains(n) =>
        if (pkEq.contains(n)) ok = false else pkEq(n) = v
      case In(n, vs)
          if pkNames.contains(n) && vs.nonEmpty && !pkIn.contains(n) =>
        pkIn(n) = vs.toSeq.distinct
      case EqualTo(n, v)
          if ckNames.contains(n) && !ckEq.contains(n) =>
        ckEq(n) = v
      case GreaterThan(n, v: java.lang.Integer)
          if intCk && ckNames.contains(n) =>
        hasRange = true; ckLo = math.max(ckLo, v + 1)
      case GreaterThanOrEqual(n, v: java.lang.Integer)
          if intCk && ckNames.contains(n) =>
        hasRange = true; ckLo = math.max(ckLo, v)
      case LessThan(n, v: java.lang.Integer)
          if intCk && ckNames.contains(n) =>
        hasRange = true; ckHi = math.min(ckHi, v - 1)
      case LessThanOrEqual(n, v: java.lang.Integer)
          if intCk && ckNames.contains(n) =>
        hasRange = true; ckHi = math.min(ckHi, v)
      case _ => ok = false
    }
    if (!ok || hasRange && ckEq.nonEmpty) return None
    val pkTuples: Seq[Array[Any]] = {
      if (pkNames.exists(n => pkIn.contains(n) && pkEq.contains(n)))
        return None
      if (pkNames.exists(n => !pkIn.contains(n) && !pkEq.contains(n)))
        return None
      val combos = pkParts.foldLeft(Seq(Seq.empty[Any])) { (acc, p) =>
        val vals = pkIn.getOrElse(p.name, Seq(pkEq(p.name)))
        acc.flatMap(t => vals.map(v => t :+ v))
      }
      if (combos.length > 128) return None // cartesian threshold
      combos.map(_.toArray)
    }
    val ckTuple =
      if (ckEq.isEmpty) None
      else if (ckParts.forall(p => ckEq.contains(p.name)))
        Some(ckParts.map(p => ckEq(p.name)).toArray)
      else {
        // a contiguous clustering-key PREFIX (Cassandra's multi-row
        // DELETE shape): the shorter tuple signals a prefix tombstone
        val bound = ckParts.takeWhile(p => ckEq.contains(p.name))
        if (bound.length != ckEq.size) return None // gap in the prefix
        Some(bound.map(p => ckEq(p.name)).toArray)
      }
    Some((pkTuples, ckTuple,
      if (hasRange) Some((ckLo, ckHi)) else None))
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    if (keySpec.isDefault) parseDelete(filters).isDefined
    else parseTypedDelete(filters).isDefined

  /** SQL DELETE: tombstone markers (C38), never a data rewrite, at
    * the deterministic "wins LWW now" writetime, through the
    * driver-local write path. Typed keys use the same marker protocol;
    * rank ordering puts partition/range markers ahead of every data
    * row of their partition regardless of the neutral ck values they
    * carry. The markers' value type is the files' (path-handle tables
    * may carry the default schema), else this handle's.
    */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val norm = CellPlanning.normalize(path)
    val files = CellPlanning.listFiles(norm)
    val wt = CellSource.lwwNowWt(norm)
    val markers: Seq[(Seq[Any], String)] =
      if (keySpec.isDefault) {
        val (pks, ckLo, ckHi, hasCk) = parseDelete(filters).getOrElse(
          throw new IllegalArgumentException(
            "unsupported DELETE predicate " +
              s"[${filters.mkString(", ")}]: Cassandra shape is " +
              "pk = ? / pk IN (...), optionally AND an integer ck " +
              "equality or range, on a default-keyed table"))
        // Seq[Any]: Seq(pk, ck) would numerically widen ck to Long
        if (hasCk && ckLo > ckHi) Seq.empty // contradiction
        else pks.toSeq.sorted.map { pk =>
          if (!hasCk)
            (Seq[Any](pk, Int.MinValue), CellSource.PartitionTombstone)
          else if (ckLo == ckHi)
            (Seq[Any](pk, ckLo), CellSource.RowTombstone)
          else (Seq[Any](pk, Int.MinValue),
            CellSource.rangeTombstoneCol(ckLo, ckHi))
        }
      } else {
        val (pks, ckEq, ckRange) = parseTypedDelete(filters).getOrElse(
          throw new IllegalArgumentException(
            "unsupported DELETE predicate " +
              s"[${filters.mkString(", ")}] for typed key " +
              s"(${keySpec.serial}): bind every partition-key part by " +
              "equality (IN allowed on a single-part key), optionally " +
              "every clustering part by equality or an int-ck range"))
        val ckZeros = keySpec.ckParts
          .map(p => ValueCodec.zeroOf(p.tag, p.prec, p.scale))
        val (col, cks) = (ckRange, ckEq) match {
          case (Some((lo, hi)), _) =>
            (CellSource.rangeTombstoneCol(lo, hi), ckZeros)
          case (None, Some(cks))
              if cks.length == keySpec.ckParts.length =>
            (CellSource.RowTombstone, cks.toSeq)
          case (None, Some(pfx)) =>
            // clustering-key PREFIX binding → prefix tombstone: bound
            // values in the marker's leading ck parts, neutral tail
            (CellSource.prefixTombstoneCol(pfx.length),
              pfx.toSeq ++ ckZeros.drop(pfx.length))
          case (None, None) => (CellSource.PartitionTombstone, ckZeros)
        }
        pks.map(pkVals => (pkVals.toSeq ++ cks, col))
      }
    val valueType = files.headOption.map(CellSource.readHeader)
      .map(h => ValueCodec.dataTypeFor(h.valueTag, h.decPrec,
        h.decScale))
      .getOrElse(tableSchema("value").dataType)
    CellSource.localAppend(norm, keySpec, valueType,
      markers.map { case (k, c) => (k, c, 0L, wt, Long.MaxValue) })
  }

  /** SQL TRUNCATE TABLE: drop every flush, then publish one EMPTY
    * flush at the next index so generation numbering stays monotonic
    * (a live CDC stream's offsets must never see indices reused —
    * same invariant as the truncating batch commit).
    */
  override def truncateTable(): Boolean = {
    val norm = CellPlanning.normalize(path)
    val dir = Paths.get(norm)
    if (!Files.isDirectory(dir)) return true
    val files = CellPlanning.listFiles(norm)
    val next = files.map(f =>
      CellPlanning.fileIndex(Paths.get(f).getFileName.toString))
      .foldLeft(-1)(math.max) + 1
    // created-but-never-flushed: the `_type` marker (written at
    // catalog CREATE) is the value-type authority — stamping the long
    // default here would lock a binary/string table out of its own
    // first write
    val valueType = CellSource.valueTypeOf(norm)
    val spec = keySpec // resolve BEFORE the files vanish
    files.foreach(f => Files.delete(Paths.get(f)))
    // a typed table's empty file must carry the key layout
    CellSource.writeLocalFile(dir.resolve(f"data-$next%04d.cells"),
      spec, valueType, Seq.empty)
    CellManifest.refresh(norm)
    true
  }
}

class CellScanBuilder(path: String, subsplitRecords: Int,
    reconcile: Boolean = false,
    tableSchema: StructType = CellSource.Schema,
    reconcileOpts: ReconcileOptions = ReconcileOptions(),
    spec: KeySpec = KeySpec.Default,
    tokenLo: Long = Long.MinValue,
    tokenHi: Long = Long.MaxValue,
    replicas: Seq[String] = Nil,
    strictCql: Boolean = false,
    allowFiltering: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  // C41: pk bounds ARE token bounds at the physical layer (identity
  // for single-long keys, hashed otherwise), so a tokenRange /
  // tokenSplits read option simply seeds them — every downstream
  // mechanism (manifest/Summary pruning, sparse-index narrowing,
  // exact reader-side range checks, the typed merge) applies
  // unchanged, and pushed pk filters compose by intersection.
  private var pkLower = tokenLo
  private var pkUpper = tokenHi
  private var wtLower = Long.MinValue
  private var wtUpper = Long.MaxValue
  // pushed clustering slice (C37): `pk = ? AND ck BETWEEN ? AND ?` is
  // THE CQL read shape — CEL7 chunk zone maps prune on it, and the
  // merge cursor skips out-of-slice rows pre-materialization. Unlike
  // wt, a ck bound COMMUTES with the reconcile merge: the merge is
  // per (pk, ck, col), and every version of an in-slice key is
  // itself in-slice.
  private var ckLower = Int.MinValue
  private var ckUpper = Int.MaxValue
  // the TYPED slice (CEL8): bounds on the first ck part as internal
  // comparables; tightened filter by filter
  private var ckLoT: Option[Any] = None
  private var ckLoInc = true
  private var ckHiT: Option[Any] = None
  private var ckHiInc = true
  private var pkSet: Option[Set[Long]] = None // pushed pk IN (...)
  // CEL9 value zone bounds: accepted only on PLAIN long-valued scans
  // (a pre-merge value drop could promote a shadowed version under
  // reconcile — same commutation rule as wt)
  private var vLower = Long.MinValue
  private var vUpper = Long.MaxValue
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggTags: Option[Array[String]] = None
  private var limit = Int.MaxValue

  /** LIMIT n pushdown: every partition reader stops after n rows —
    * PARTIALLY pushed (Spark still applies the global limit), but a
    * `LIMIT 10` over a 10⁵-file table now reads ~one chunk per task
    * instead of decompressing everything. Sound under reconcile too:
    * the cap applies to MERGED winners, post marker shadowing.
    */
  override def pushLimit(l: Int): Boolean = {
    limit = math.min(limit, l); true
  }
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY <natural-prefix> LIMIT n pushdown: cell files stream in
    * (pk, ck, col) order and the reconcile merge emits the same
    * order per pk range, so each partition reader's FIRST n rows ARE
    * its top n under any ascending prefix of that order — the cap is
    * the per-partition top-n and Spark's global TopN just merges the
    * capped streams. Descending or non-prefix orders are refused
    * (Spark sorts post-scan as usual).
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference,
      SortDirection}
    if (orders.isEmpty) return false
    val names = orders.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          nr.fieldNames()(0)
        case _ => return false
      }
    }
    if (orders.exists(_.direction() != SortDirection.ASCENDING))
      return false
    val natural =
      if (spec.isDefault) Seq("pk", "ck", "col")
      else if (KeyCodec.identityToken(spec))
        // typed files sort by TOKEN; only a single-long pk keeps
        // value order — and only the pk prefix is safe (the rank
        // byte puts marker rows' neutral cks out of logical order)
        Seq(spec.pkParts.head.name)
      else return false
    if (!names.sameElements(natural.take(names.length))) return false
    limit = math.min(limit, l)
    true
  }

  // Aggregate pushdown (the Statistics.db/Summary.db story): a global
  // COUNT(*) / MIN(pk) / MAX(pk) is answerable from file HEADERS alone
  // — Summary holds the pk range, the chunk table holds exact record
  // counts — so the whole query plans to a header-only scan that never
  // touches a data section. Only offered for the unfiltered scan
  // (header stats are table-wide; a pushed pk/wt range would need the
  // data) and only for the exact trio the headers can answer.
  private def pkRef(
      e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
        // Summary min/max are TOKENS; they equal pk values only for
        // identity-token layouts (single long pk part — the default
        // included), so min/max pushdown is offered only there.
        nr.fieldNames.length == 1 && KeyCodec.identityToken(spec) &&
          nr.fieldNames()(0) == spec.pkParts.head.name
      case _ => false
    }

  private def aggTag(
      f: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)
      : Option[String] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    f match {
      case _: CountStar => Some("count")
      case m: Min if pkRef(m.column) => Some("min")
      case m: Max if pkRef(m.column) => Some("max")
      case _ => None
    }
  }

  private def tagsFor(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Array[String]] = {
    val noFilters = !reconcile &&
      pkLower == Long.MinValue && pkUpper == Long.MaxValue &&
      wtLower == Long.MinValue && wtUpper == Long.MaxValue &&
      pkSet.isEmpty
    val tags = agg.aggregateExpressions.flatMap(aggTag(_).toSeq)
    if (noFilters && agg.groupByExpressions.isEmpty &&
        tags.length == agg.aggregateExpressions.length && tags.nonEmpty)
      Some(tags)
    else None
  }

  // C49 — GROUP BY pk over the RECONCILED view, pushed COMPLETELY
  // into the scan: reconcile partitions are disjoint pk ranges, so
  // every version of a partition meets in exactly one task and its
  // group row is FINAL there — no partial/final re-aggregation, no
  // exchange, the CQL `SELECT pk, count(*) FROM t GROUP BY pk` shape
  // executed the way Cassandra 3.10's GROUP BY runs inside the read
  // path. Winners stream (pk, ck, col)-sorted out of the merge
  // cursor, so the per-pk fold is O(1) state. Offered only on the
  // default layout (typed layouts order by TOKEN — a pk value can
  // still only live in one range, but the output column is a key
  // part, not `pk`; keep the surface narrow) and only for plain
  // reconcile options (counter/limit/reverse/markers interact with
  // row multiplicity; queryTime is fine — expiry drops winners before
  // the fold, exactly like the full read).
  private def wtRef(
      e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
        nr.fieldNames.length == 1 && nr.fieldNames()(0) == "wt"
      case _ => false
    }

  private def groupedAggTag(
      f: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)
      : Option[String] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    f match {
      case _: CountStar => Some("count")
      case m: Min if wtRef(m.column) => Some("minwt")
      case m: Max if wtRef(m.column) => Some("maxwt")
      case _ => None
    }
  }

  private def groupedTagsFor(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(Array[String], Int)] = {
    // CQL's rule (Cassandra 3.10 GROUP BY): the full partition key,
    // optionally extended by a clustering-column PREFIX in declared
    // order — `GROUP BY pk [, ck1 [, ck2 …]]`. Winners stream
    // (token, pk, ck…)-sorted out of the merge cursor, so any such
    // group is contiguous within its one token range and the fold
    // stays O(1)-state, final, zero-exchange (C49/C49b/C49c).
    val groupNames = agg.groupByExpressions.toSeq.map {
      case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 => nr.fieldNames()(0)
      case _ => ""
    }
    val pkNames = spec.pkParts.map(_.name)
    val ckNames = spec.ckParts.map(_.name)
    val ckN = groupNames.length - pkNames.length
    val groupOk = ckN >= 0 && ckN <= ckNames.length &&
      groupNames.take(pkNames.length) == pkNames &&
      groupNames.drop(pkNames.length) == ckNames.take(ckN)
    val plainOpts = !reconcileOpts.counter && !reconcileOpts.keepMarkers &&
      reconcileOpts.perPartitionLimit == Int.MaxValue &&
      !reconcileOpts.reverse && reconcileOpts.pageAfter.isEmpty
    val noFilters = pkLower == Long.MinValue && pkUpper == Long.MaxValue &&
      pkSet.isEmpty && ckLower == Int.MinValue && ckUpper == Int.MaxValue &&
      ckLoT.isEmpty && ckHiT.isEmpty
    val tags = agg.aggregateExpressions.flatMap(groupedAggTag(_).toSeq)
    if (reconcile && groupOk && plainOpts && noFilters &&
        reconcileOpts.pageAfterTyped.isEmpty &&
        tags.length == agg.aggregateExpressions.length && tags.nonEmpty)
      Some((tags, ckN))
    else None
  }

  private var groupedTags: Option[(Array[String], Int)] = None

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = tagsFor(agg).isDefined || groupedTagsFor(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    aggTags = tagsFor(agg)
    if (aggTags.isEmpty) groupedTags = groupedTagsFor(agg)
    aggTags.isDefined || groupedTags.isDefined
  }

  /** Accept pk range predicates (the Summary/Filter/Index pruning set)
    * and wt range predicates (the Statistics.db zone-map set — the
    * incremental "cells written since T" path); leave everything else
    * to Spark's post-scan Filter.
    */
  /** Typed-key (CEL6) filter translation: the physical layer prunes by
    * partition TOKEN, so predicates on key-part columns become token
    * bounds/sets here and the scans stay long-keyed underneath.
    * Identity-token layouts (single `long` pk part) keep full range
    * pushdown (token == value); hashed layouts push only equality —
    * every pk part bound by `=` hashes to ONE token, and `IN` on a
    * single-part pk hashes per value (the multiget shape). Hashed
    * pruning is ADVISORY (token collisions), which is sound because
    * every accepted filter is also handed back as residual.
    */
  private def pushFiltersTyped(filters: Array[Filter]): Array[Filter] = {
    val accepted = scala.collection.mutable.ArrayBuffer.empty[Filter]
    // wt zone-map pruning is key-layout-independent (and still
    // reconcile-unsafe, as on the default path)
    if (!reconcile) filters.foreach {
      case f @ GreaterThan("wt", v: java.lang.Long) =>
        wtLower = math.max(wtLower, v + 1); accepted += f
      case f @ GreaterThanOrEqual("wt", v: java.lang.Long) =>
        wtLower = math.max(wtLower, v); accepted += f
      case f @ LessThan("wt", v: java.lang.Long) =>
        wtUpper = math.min(wtUpper, v - 1); accepted += f
      case f @ LessThanOrEqual("wt", v: java.lang.Long) =>
        wtUpper = math.min(wtUpper, v); accepted += f
      case f @ EqualTo("wt", v: java.lang.Long) =>
        wtLower = math.max(wtLower, v); wtUpper = math.min(wtUpper, v)
        accepted += f
      case _ =>
    }
    // `_token` range predicates (withToken scans) are LITERALLY the
    // scan's physical token bounds — the SQL `token(pk)` pushdown.
    filters.foreach {
      case f @ EqualTo("_token", v: java.lang.Long) =>
        pkLower = math.max(pkLower, v); pkUpper = math.min(pkUpper, v)
        accepted += f
      case f @ GreaterThan("_token", v: java.lang.Long) =>
        pkLower = math.max(pkLower, v + 1); accepted += f
      case f @ GreaterThanOrEqual("_token", v: java.lang.Long) =>
        pkLower = math.max(pkLower, v); accepted += f
      case f @ LessThan("_token", v: java.lang.Long) =>
        pkUpper = math.min(pkUpper, v - 1); accepted += f
      case f @ LessThanOrEqual("_token", v: java.lang.Long) =>
        pkUpper = math.min(pkUpper, v); accepted += f
      case _ =>
    }
    val pName = spec.pkParts.head.name
    val pPart = spec.pkParts.head
    def tokenOf(v: Any): Option[Long] =
      ValueCodec.toInternal(pPart.tag, pPart.prec, pPart.scale, v)
        .map(iv => KeyCodec.token(spec, Array(iv)))
    if (KeyCodec.identityToken(spec)) {
      // single long pk part: token == value, ranges push exactly as
      // the default layout's pk
      filters.foreach {
        case f @ EqualTo(c, v: java.lang.Long) if c == pName =>
          pkLower = math.max(pkLower, v); pkUpper = math.min(pkUpper, v)
          accepted += f
        case f @ GreaterThan(c, v: java.lang.Long) if c == pName =>
          pkLower = math.max(pkLower, v + 1); accepted += f
        case f @ GreaterThanOrEqual(c, v: java.lang.Long) if c == pName =>
          pkLower = math.max(pkLower, v); accepted += f
        case f @ LessThan(c, v: java.lang.Long) if c == pName =>
          pkUpper = math.min(pkUpper, v - 1); accepted += f
        case f @ LessThanOrEqual(c, v: java.lang.Long) if c == pName =>
          pkUpper = math.min(pkUpper, v); accepted += f
        case f @ In(c, vs) if c == pName && vs.nonEmpty &&
            vs.forall(_.isInstanceOf[java.lang.Long]) =>
          val s = vs.iterator
            .map(_.asInstanceOf[java.lang.Long].longValue).toSet
          pkSet = Some(pkSet.fold(s)(_ intersect s)); accepted += f
        case _ =>
      }
    } else if (spec.pkParts.length == 1) {
      filters.foreach {
        case f @ EqualTo(c, v) if c == pName =>
          tokenOf(v).foreach { t =>
            pkSet = Some(pkSet.fold(Set(t))(_ intersect Set(t)))
            accepted += f
          }
        case f @ In(c, vs) if c == pName && vs.nonEmpty =>
          val toks = vs.flatMap(tokenOf(_).toSeq)
          if (toks.length == vs.length) {
            val s = toks.toSet
            pkSet = Some(pkSet.fold(s)(_ intersect s)); accepted += f
          }
        case _ =>
      }
    } else {
      // composite partition key: prune only when EVERY part is bound
      // — by equality or an IN list (Cassandra's own rule — a partial
      // partition key cannot be routed). IN lists form a cartesian
      // product of candidate keys, each hashed to its token (the
      // composite multiget); an oversized product simply isn't pushed
      // (the residual keeps correctness, the scan stays full-range).
      val bound = filters.collect {
        case f @ EqualTo(c, v)
            if spec.pkParts.exists(_.name == c) => (c, Seq(v), f)
        case f @ In(c, vs)
            if spec.pkParts.exists(_.name == c) && vs.nonEmpty =>
          (c, vs.toSeq.distinct, f)
      }
      val byPart = bound.groupBy(_._1)
      if (byPart.size == spec.pkParts.length) {
        val combos = spec.pkParts.foldLeft(
          Option(Seq(Array.empty[Any]))) { (acc, p) =>
          acc.flatMap { tuples =>
            val ivs = byPart(p.name).head._2
              .map(v => ValueCodec.toInternal(p.tag, p.prec, p.scale, v))
            if (ivs.exists(_.isEmpty)) None
            else if (tuples.length * ivs.length > 1024) None
            else Some(for (t <- tuples; iv <- ivs)
              yield t :+ iv.get)
          }
        }
        combos.foreach { tuples =>
          val s = tuples.map(KeyCodec.token(spec, _)).toSet
          pkSet = Some(pkSet.fold(s)(_ intersect s))
          accepted ++= byPart.values.map(_.head._3)
        }
      }
    }
    // Clustering slice on the FIRST ck part (C37 lifted to typed
    // tables): CEL8 zone maps prune chunks, the typed merge cursor
    // skips out-of-slice rows pre-materialization. Values convert
    // through ValueCodec.toInternal; a type mismatch simply isn't
    // pushed.
    if (spec.ckParts.nonEmpty) {
      val ck = spec.ckParts.head
      def low(v: Any, inc: Boolean): Boolean =
        ValueCodec.toInternal(ck.tag, ck.prec, ck.scale, v).exists { iv =>
          ckLoT match {
            case None => ckLoT = Some(iv); ckLoInc = inc; true
            case Some(cur) =>
              val c = ValueCodec.compare(ck.tag, iv, cur)
              if (c > 0) { ckLoT = Some(iv); ckLoInc = inc }
              else if (c == 0 && !inc) ckLoInc = false
              true
          }
        }
      def high(v: Any, inc: Boolean): Boolean =
        ValueCodec.toInternal(ck.tag, ck.prec, ck.scale, v).exists { iv =>
          ckHiT match {
            case None => ckHiT = Some(iv); ckHiInc = inc; true
            case Some(cur) =>
              val c = ValueCodec.compare(ck.tag, iv, cur)
              if (c < 0) { ckHiT = Some(iv); ckHiInc = inc }
              else if (c == 0 && !inc) ckHiInc = false
              true
          }
        }
      filters.foreach {
        case f @ EqualTo(c, v) if c == ck.name =>
          if (low(v, inc = true) && high(v, inc = true)) accepted += f
        case f @ GreaterThan(c, v) if c == ck.name =>
          if (low(v, inc = false)) accepted += f
        case f @ GreaterThanOrEqual(c, v) if c == ck.name =>
          if (low(v, inc = true)) accepted += f
        case f @ LessThan(c, v) if c == ck.name =>
          if (high(v, inc = false)) accepted += f
        case f @ LessThanOrEqual(c, v) if c == ck.name =>
          if (high(v, inc = true)) accepted += f
        // the typed clustering multiget (CQL `ck IN (...)`, C65i
        // lifted to typed layouts): pushed as the BOUNDING slice
        // [min, max] of the named values — commutes with the merge
        // like any slice; rows between the values drop in the exact
        // residual Spark re-applies above the scan
        case f @ In(c, vs) if c == ck.name && vs.nonEmpty =>
          val ivs = vs.flatMap(v =>
            ValueCodec.toInternal(ck.tag, ck.prec, ck.scale, v))
          if (ivs.length == vs.length) {
            val cmp = (a: Any, b: Any) => ValueCodec.compare(ck.tag, a, b)
            val lo = ivs.reduce((a, b) => if (cmp(a, b) <= 0) a else b)
            val hi = ivs.reduce((a, b) => if (cmp(a, b) >= 0) a else b)
            // the set's bounding slice [lo, hi] (inclusive both ends)
            // INTERSECTS any existing slice: a strictly tighter bound
            // replaces, an equal one keeps the stricter inclusivity
            ckLoT match {
              case None => ckLoT = Some(lo); ckLoInc = true
              case Some(cur) if cmp(lo, cur) > 0 =>
                ckLoT = Some(lo); ckLoInc = true
              case _ => // existing bound is tighter or equal: keep it
            }
            ckHiT match {
              case None => ckHiT = Some(hi); ckHiInc = true
              case Some(cur) if cmp(hi, cur) < 0 =>
                ckHiT = Some(hi); ckHiInc = true
              case _ =>
            }
            accepted += f
          }
        // IN on the LAST clustering part with every preceding part
        // bound by equality: Cassandra's key-served shape — the
        // partition read is already bounded, the residual is exact
        case f @ In(c, vs)
            if vs.nonEmpty && spec.ckParts.length > 1 &&
              c == spec.ckParts.last.name &&
              spec.ckParts.dropRight(1).forall(p =>
                filters.exists {
                  case EqualTo(n, _) => n == p.name
                  case _ => false
                }) =>
          accepted += f
        case _ =>
      }
    }
    pushed = accepted.toArray
    // C57: under strictCql, a predicate the typed read path did not
    // accept as key machinery needs ALLOW FILTERING; wt bounds count
    // as data filtering too (not CQL-expressible as a key predicate)
    strictGuard(filters, f => accepted.contains(f) && (f match {
      case EqualTo("wt", _) | GreaterThan("wt", _) |
           GreaterThanOrEqual("wt", _) | LessThan("wt", _) |
           LessThanOrEqual("wt", _) => false
      case _ => true
    }))
    // Everything stays residual: token pruning is file-granular and —
    // for hashed layouts — collision-advisory besides.
    filters
  }

  /** The accumulated typed slice, None when unbounded. */
  private def typedSlice: Option[CkSlice] =
    if (ckLoT.isEmpty && ckHiT.isEmpty) None
    else Some(CkSlice(spec.ckParts.head.tag, ckLoT, ckLoInc,
      ckHiT, ckHiInc))

  /** C57 — CQL's ALLOW FILTERING contract: under `strictCql=true`
    * the scan REFUSES any predicate its read path cannot answer from
    * key machinery (partition-key routing + clustering slices) —
    * exactly the queries Cassandra rejects with "Cannot execute this
    * query as it might involve data filtering" — unless
    * `allowFiltering=true` opts into the row-wise work. At 100 TB
    * this is the guard between a k-point-read query and an accidental
    * full-table filter scan; Spark's residual filtering makes such
    * scans silently "work", which is precisely the footgun. Scope:
    * predicates Spark cannot translate to V2 filters never reach the
    * connector and are not guarded — the guard covers the CQL-shaped
    * predicate surface, not arbitrary expressions.
    */
  private def strictGuard(filters: Array[Filter],
      accepted: Filter => Boolean): Unit = {
    if (!strictCql || allowFiltering) return
    val offending = filters.filterNot(accepted)
    require(offending.isEmpty,
      "Cannot execute this query as it might involve data filtering " +
        "and thus may have unpredictable performance: " +
        offending.mkString("[", ", ", "]") +
        " cannot be served by the key read path. If you want to " +
        "execute this query despite the performance " +
        "unpredictability, use allowFiltering=true")
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (!spec.isDefault) return pushFiltersTyped(filters)
    // Under reconcile, a wt filter is NOT pushable: dropping an old
    // cell before the LWW merge would promote a shadowed version to
    // winner. pk filters commute with the per-pk merge and stay
    // pushable. Plain scans push both.
    val valueIsLong = tableSchema.fieldNames.contains("value") &&
      tableSchema("value").dataType == LongType
    def ok(c: String): Boolean = c == "pk" || (c == "wt" && !reconcile) ||
      (c == "value" && !reconcile && valueIsLong)
    val accepted = filters.filter {
      case EqualTo(c, _: java.lang.Long) => ok(c)
      case GreaterThan(c, _: java.lang.Long) => ok(c)
      case GreaterThanOrEqual(c, _: java.lang.Long) => ok(c)
      case LessThan(c, _: java.lang.Long) => ok(c)
      case LessThanOrEqual(c, _: java.lang.Long) => ok(c)
      // clustering slice — commutes with the merge (see ckLower)
      case EqualTo("ck", _: java.lang.Integer) => true
      case GreaterThan("ck", _: java.lang.Integer) => true
      case GreaterThanOrEqual("ck", _: java.lang.Integer) => true
      case LessThan("ck", _: java.lang.Integer) => true
      case LessThanOrEqual("ck", _: java.lang.Integer) => true
      // the CQL multiget: `pk IN (...)` prunes files per VALUE
      // (Summary range + bloom), commuting with the reconcile merge
      case In("pk", vs) => vs.nonEmpty &&
        vs.forall(_.isInstanceOf[java.lang.Long])
      // CQL's clustering multiget `ck IN (...)`: pushed as the
      // bounding slice [min, max] (commutes with the merge like any
      // ck slice); rows between the named values drop in the exact
      // residual Spark re-applies above the scan
      case In("ck", vs) => vs.nonEmpty &&
        vs.forall(_.isInstanceOf[java.lang.Integer])
      case _ => false
    }
    accepted.foreach {
      case In("pk", vs) =>
        val s = vs.iterator.map(_.asInstanceOf[java.lang.Long].longValue)
          .toSet
        pkSet = Some(pkSet.fold(s)(_ intersect s))
      case EqualTo("pk", v: java.lang.Long) =>
        pkLower = math.max(pkLower, v); pkUpper = math.min(pkUpper, v)
      case GreaterThan("pk", v: java.lang.Long) =>
        pkLower = math.max(pkLower, v + 1)
      case GreaterThanOrEqual("pk", v: java.lang.Long) =>
        pkLower = math.max(pkLower, v)
      case LessThan("pk", v: java.lang.Long) =>
        pkUpper = math.min(pkUpper, v - 1)
      case LessThanOrEqual("pk", v: java.lang.Long) =>
        pkUpper = math.min(pkUpper, v)
      case EqualTo("wt", v: java.lang.Long) =>
        wtLower = math.max(wtLower, v); wtUpper = math.min(wtUpper, v)
      case GreaterThan("wt", v: java.lang.Long) =>
        wtLower = math.max(wtLower, v + 1)
      case GreaterThanOrEqual("wt", v: java.lang.Long) =>
        wtLower = math.max(wtLower, v)
      case LessThan("wt", v: java.lang.Long) =>
        wtUpper = math.min(wtUpper, v - 1)
      case LessThanOrEqual("wt", v: java.lang.Long) =>
        wtUpper = math.min(wtUpper, v)
      case EqualTo("value", v: java.lang.Long) =>
        vLower = math.max(vLower, v); vUpper = math.min(vUpper, v)
      case GreaterThan("value", v: java.lang.Long) =>
        vLower = math.max(vLower, v + 1)
      case GreaterThanOrEqual("value", v: java.lang.Long) =>
        vLower = math.max(vLower, v)
      case LessThan("value", v: java.lang.Long) =>
        vUpper = math.min(vUpper, v - 1)
      case LessThanOrEqual("value", v: java.lang.Long) =>
        vUpper = math.min(vUpper, v)
      case EqualTo("ck", v: java.lang.Integer) =>
        ckLower = math.max(ckLower, v); ckUpper = math.min(ckUpper, v)
      case GreaterThan("ck", v: java.lang.Integer) =>
        ckLower = math.max(ckLower, v + 1)
      case GreaterThanOrEqual("ck", v: java.lang.Integer) =>
        ckLower = math.max(ckLower, v)
      case LessThan("ck", v: java.lang.Integer) =>
        ckUpper = math.min(ckUpper, v - 1)
      case LessThanOrEqual("ck", v: java.lang.Integer) =>
        ckUpper = math.min(ckUpper, v)
      case In("ck", vs) =>
        val ints = vs.iterator
          .map(_.asInstanceOf[java.lang.Integer].intValue).toSeq
        ckLower = math.max(ckLower, ints.min)
        ckUpper = math.min(ckUpper, ints.max)
      case _ =>
    }
    pushed = accepted
    // C57: under strictCql only KEY-SERVED predicates pass without
    // ALLOW FILTERING — pk point/range/IN (identity tokens make a pk
    // range a token range, CQL's `token(pk)` shape) and ck slices.
    // wt/value predicates ride zone maps, but CQL has no key form for
    // them: they are data filtering and need the opt-in.
    strictGuard(filters, {
      case EqualTo(c, _) => c == "pk" || c == "ck"
      case GreaterThan(c, _) => c == "pk" || c == "ck"
      case GreaterThanOrEqual(c, _) => c == "pk" || c == "ck"
      case LessThan(c, _) => c == "pk" || c == "ck"
      case LessThanOrEqual(c, _) => c == "pk" || c == "ck"
      case In("pk", _) => true
      case In("ck", _) => true
      case _ => false
    })
    // Hand accepted filters back as residual too: file pruning is
    // range-granular, rows inside a kept file still need the filter.
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = aggTags match {
    case Some(tags) => new CellAggScan(path, tags)
    case None if reconcile => groupedTags match {
      case Some((tags, ckN)) =>
        new CellGroupAggScan(path, tags, subsplitRecords, reconcileOpts,
          spec, replicas, limit, ckN)
      case None =>
        new CellReconcileScan(path, pkLower, pkUpper, required,
          subsplitRecords,
          reconcileOpts.copy(ckLower = ckLower, ckUpper = ckUpper,
            ckSlice = typedSlice),
          pkSet, spec, limit, replicas)
    }
    case None =>
      new CellScan(path, pkLower, pkUpper, wtLower, wtUpper, required,
        subsplitRecords, pkSet, spec, limit, ckLower, ckUpper,
        typedSlice, vLower, vUpper)
  }
}

/** C49 — completely-pushed `GROUP BY pk` over the reconciling scan.
  * Plans the SAME disjoint-pk-range partitions as [[CellReconcileScan]]
  * and folds each range's winner stream into one row per pk inside the
  * reader — zero exchange, zero re-aggregation (a pk's versions all
  * meet in its one range). Output schema: pk, then the pushed
  * aggregates in query order.
  */
class CellGroupAggScan(path: String, tags: Array[String],
    subsplitRecords: Int, opts: ReconcileOptions, spec: KeySpec,
    replicas: Seq[String], limit: Int, ckN: Int = 0)
    extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    (spec.pkParts ++ spec.ckParts.take(ckN)).map(p =>
      StructField(p.name, p.dataType, nullable = false)) ++ tags.map {
      case "count" => StructField("count(*)", LongType, nullable = false)
      case "minwt" => StructField("min(wt)", LongType, nullable = false)
      case "maxwt" => StructField("max(wt)", LongType, nullable = false)
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"CellGroupAggScan path=$path groupBy=" +
      (spec.pkParts ++ spec.ckParts.take(ckN)).map(_.name).mkString(",") +
      s" aggs=${tags.mkString(",")} (per-range fold, no exchange)"

  // the range planner is the reconcile scan's — delegate (typed specs
  // plan typed token-range partitions; a pk's versions and groups all
  // meet inside its one range either way)
  private val inner = new CellReconcileScan(path, Long.MinValue,
    Long.MaxValue, CellSource.schemaFor(spec, LongType),
    subsplitRecords, opts, None, spec, Int.MaxValue, replicas)
  override def planInputPartitions(): Array[InputPartition] =
    inner.planInputPartitions()
  override def createReaderFactory(): PartitionReaderFactory =
    new CellGroupAggReaderFactory(tags, opts, limit, spec, ckN)
}

class CellGroupAggReaderFactory(tags: Array[String],
    opts: ReconcileOptions, limit: Int, spec: KeySpec, ckN: Int = 0)
    extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val r: PartitionReader[InternalRow] = new CellKeyedGroupAggReader(
      p.asInstanceOf[CellReconcilePartition], tags, opts, spec, ckN)
    if (limit == Int.MaxValue) r else new LimitedRowReader(r, limit)
  }
}

/** C49/C49b/C49c — folds the merge cursor's winner stream into one
  * row per partition key, or per pk plus a clustering prefix
  * (same-group winners are contiguous in the (token, pk, ck) stream
  * order).
  */
private[sources] final class CellKeyedGroupAggReader(
    part: CellReconcilePartition, tags: Array[String],
    opts: ReconcileOptions, spec: KeySpec, ckN: Int = 0)
    extends PartitionReader[InternalRow] {
  private val cursor = KeyedCursor.of(part, opts)
  private val ckPrefix = spec.ckParts.take(ckN)
  private var valid = cursor.nextWinner()
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (!valid) return false
    val pk = cursor.pkVals
    val ck = if (ckN == 0) null else cursor.ckVals.take(ckN)
    var n = 0L
    var mn = Long.MaxValue
    var mx = Long.MinValue
    while (valid &&
        KeyCodec.compareParts(spec.pkParts, cursor.pkVals, pk) == 0 &&
        (ckN == 0 ||
          KeyCodec.compareParts(ckPrefix, cursor.ckVals, ck) == 0)) {
      n += 1
      if (cursor.wt < mn) mn = cursor.wt
      if (cursor.wt > mx) mx = cursor.wt
      valid = cursor.nextWinner()
    }
    val keys = if (ckN == 0) pk.toSeq else pk.toSeq ++ ck.toSeq
    row = InternalRow.fromSeq(keys ++ tags.toSeq.map {
      case "count" => n
      case "minwt" => mn
      case "maxwt" => mx
    })
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = cursor.close()
}

/** Header-only scan answering a completely-pushed COUNT(*) / MIN(pk) /
  * MAX(pk): the driver folds every file's Summary range and record
  * count at planning time and ships ONE single-row partition — zero
  * data-section bytes read, zero executor decode work.
  */
class CellAggScan(path: String, tags: Array[String]) extends Scan with Batch {
  override def readSchema(): StructType = StructType(tags.map {
    case "count" => StructField("count(*)", LongType, nullable = false)
    case "min" => StructField("min(pk)", LongType, nullable = true)
    case "max" => StructField("max(pk)", LongType, nullable = true)
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"CellAggScan path=$path aggs=${tags.mkString(",")} (header-only)"

  override def planInputPartitions(): Array[InputPartition] = {
    // Manifest fast path: COUNT/MIN/MAX fold over summary entries —
    // the whole query is ONE metadata-file read, zero data-file opens.
    val files = CellPlanning.listFiles(path)
    val sums = CellManifest.current(path, files)
      .map(_.map(e => (e.minPk, e.maxPk, e.count)))
      .getOrElse(files.map(CellSource.readHeader)
        .map(h => (h.minPk, h.maxPk, h.count)))
    val nonEmpty = sums.filter(_._3 > 0)
    val cnt = sums.iterator.map(_._3.toLong).sum
    val minPk = if (nonEmpty.isEmpty) 0L else nonEmpty.iterator.map(_._1).min
    val maxPk = if (nonEmpty.isEmpty) 0L else nonEmpty.iterator.map(_._2).max
    Array(CellAggPartition(tags, cnt, minPk, maxPk, nonEmpty.nonEmpty))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] = {
        val a = p.asInstanceOf[CellAggPartition]
        new PartitionReader[InternalRow] {
          private var done = false
          override def next(): Boolean = if (done) false else { done = true; true }
          override def get(): InternalRow = InternalRow.fromSeq(a.tags.toSeq.map {
            case "count" => a.cnt
            case "min" => if (a.hasRows) a.minPk else null
            case "max" => if (a.hasRows) a.maxPk else null
          })
          override def close(): Unit = ()
        }
      }
    }
}

case class CellAggPartition(tags: Array[String], cnt: Long, minPk: Long,
    maxPk: Long, hasRows: Boolean) extends InputPartition


/** C24 — reconciling scan (`reconcile=true`): the connector itself
  * performs the per-key last-write-wins merge ACROSS flush files, the
  * way Cassandra's read path merges SSTables, so a raw DSv2 consumer
  * sees one live cell per (pk, ck, col) instead of every version.
  *
  * Parallelism is by PK RANGE, not by file: every version of a key
  * must meet in one task, so the driver derives ~`subsplitRecords`-
  * sized disjoint pk ranges from the files' sparse indexes (header
  * metadata only — no data bytes), and each task k-way-merges the
  * pk-sorted record streams of the files overlapping its range.
  * Per-file chunk pruning (Summary range + sparse-index narrowing)
  * still applies inside each range, so a point lookup is one task
  * reading a handful of chunks. At 100 TB this is the scalable shape:
  * ranges ~= Cassandra vnodes, merge fan-in = flushes-per-range after
  * pruning, memory O(fan-in) regardless of range size.
  *
  * wt filters and header aggregates are NOT pushed under reconcile
  * (both are pre-merge and would change winners — see
  * [[CellScanBuilder.pushFilters]]); Spark applies them post-merge.
  */
/** Options steering the reconciling read path. `queryTime` applies
  * TTL expiry as of that instant; `keepMarkers` re-emits surviving
  * markers (the compaction read mode, with `gcGraceMs`/`gcNowMs`
  * bounding tombstone retention); `counter` switches the per-key
  * combine from LWW to shard-SUM (value = Σ shards, wt = max shard
  * wt) — Cassandra counter-column semantics, numeric tables only.
  */
/** Pushed clustering slice on the FIRST ck part of a TYPED (CEL6/8)
  * table — C37 lifted off the fixed int ck. Bounds are INTERNAL
  * comparables of that part's tag (UTF8String/Long/Int/...; all
  * Serializable, so the slice rides the InputPartition). Slices on
  * later ck parts are never pushed: a (ck1, ck2)-sorted layout can't
  * prune on ck2 without ck1 bound, and the residual filter handles
  * exactness either way.
  */
case class CkSlice(tag: Int, lo: Option[Any], loInc: Boolean,
    hi: Option[Any], hiInc: Boolean) {
  def contains(v: Any): Boolean =
    lo.forall { l =>
      val c = ValueCodec.compare(tag, v, l); c > 0 || (loInc && c == 0)
    } && hi.forall { h =>
      val c = ValueCodec.compare(tag, v, h); c < 0 || (hiInc && c == 0)
    }

  /** Chunk-zone overlap: could [min, max] hold an in-slice value? */
  def overlaps(min: Any, max: Any): Boolean =
    lo.forall { l =>
      val c = ValueCodec.compare(tag, max, l); c > 0 || (loInc && c == 0)
    } && hi.forall { h =>
      val c = ValueCodec.compare(tag, min, h); c < 0 || (hiInc && c == 0)
    }

  override def toString: String =
    (if (loInc) "[" else "(") + lo.getOrElse("-inf") + "," +
      hi.getOrElse("+inf") + (if (hiInc) "]" else ")")
}

case class ReconcileOptions(
    queryTime: Long = Long.MaxValue,
    keepMarkers: Boolean = false,
    gcGraceMs: Long = Long.MaxValue,
    gcNowMs: Long = Long.MaxValue,
    counter: Boolean = false,
    perPartitionLimit: Int = Int.MaxValue,
    // pushed clustering slice (C37): rows outside [ckLower, ckUpper]
    // are skipped pre-materialization; CQL order — slice first, THEN
    // PER PARTITION LIMIT counts only in-slice rows
    ckLower: Int = Int.MinValue,
    ckUpper: Int = Int.MaxValue,
    // the TYPED slice (CEL6/8) — same CQL clause order as above
    ckSlice: Option[CkSlice] = None,
    // C39: emit each partition's rows in REVERSE clustering order
    // (CQL `ORDER BY ck DESC`); with perPartitionLimit n this is the
    // "latest n rows per partition" read, kept in a bounded tail
    // buffer. reverseMaxRows fail-fasts a reversed read of a
    // partition too wide to buffer (Cassandra warns on the same).
    reverse: Boolean = false,
    reverseMaxRows: Int = 1 << 20,
    // C52: Cassandra PAGING STATE — resume the reconciled read
    // strictly AFTER cell (pk, ck, col). The pk doubles as the scan's
    // lower bound (files/chunks before the cursor are never opened),
    // and the merge cursor drops the cursor partition's already-served
    // winners pre-materialization. Exclusive at cell granularity, so
    // a page may end mid-clustering-row and the next page completes
    // it — the same cursor position Cassandra's pages carry.
    pageAfter: Option[(Long, Int, String)] = None,
    // C52b: the TYPED paging cursor — (pk part values, ck part
    // values, col name) in internal form; resume strictly after it
    pageAfterTyped: Option[(Array[Any], Array[Any], String)] = None,
    // C58: Cassandra dropped_columns — cells of column c with
    // wt <= droppedColumns(c) are INVISIBLE to reconciled reads
    // forever (a re-added column sees only newer writes). Raw scans
    // keep serving them, exactly as sstabledump shows dropped data.
    droppedColumns: Map[String, Long] = Map.empty)

class CellReconcileScan(path: String, pkLower: Long, pkUpper: Long,
    required: StructType, subsplitRecords: Int,
    opts: ReconcileOptions = ReconcileOptions(),
    staticPks: Option[Set[Long]] = None,
    spec: KeySpec = KeySpec.Default,
    limit: Int = Int.MaxValue,
    // C47 quorum read: extra REPLICA directories whose flush files
    // join this table's in the k-way merge — Cassandra's multi-replica
    // read (digest-free data read from every replica), LWW folding
    // divergence exactly as repair would, without writing anything.
    replicas: Seq[String] = Nil) extends Scan with Batch
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new WinnersMetric, new FanInMetric)

  // Runtime pk filtering commutes with the per-pk merge: a file that
  // provably holds NO queried pk (Summary range + bloom, per value)
  // holds no version of any queried key, so dropping it cannot change
  // a winner. Same join-driven point pruning as the plain scan.
  private var runtimePkSet: Option[Set[Long]] = None
  private var cached: Array[InputPartition] = _

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    CellRuntimeFilter.attributes(spec)

  override def filter(
      predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit =
    CellRuntimeFilter.tokenSets(spec, predicates).foreach { s =>
      synchronized {
        runtimePkSet = Some(runtimePkSet.fold(s)(_ intersect s))
        cached = null
      }
    }

  /** Pre-merge upper bound from the same chunk metadata the plan was
    * pruned with (the merge can only shrink it) — enough for Catalyst
    * to size joins over reconciled reads without executing them.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val parts = planInputPartitions()
      .map(_.asInstanceOf[CellReconcilePartition])
    val rows = parts.iterator.flatMap(_.fileParts.iterator)
      .map(_.chunkRecCounts.iterator.map(_.toLong).sum).sum
    val bytes = parts.iterator.flatMap(_.fileParts.iterator)
      .map(_.chunkRawLens.iterator.map(_.toLong).sum).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, bytes))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }
  override def description(): String =
    s"CellReconcileScan path=$path pkRange=[$pkLower,$pkUpper] " +
      (if (opts.ckLower != Int.MinValue || opts.ckUpper != Int.MaxValue)
        s"ckRange=[${opts.ckLower},${opts.ckUpper}] " else "") +
      opts.ckSlice.fold("")(s => s"ckSlice=$s ") +
      opts.pageAfter.fold("")(p =>
        s"pageAfter=${p._1}:${p._2}:${p._3} ") +
      (if (limit != Int.MaxValue) s"limit=$limit " else "") +
      s"cols=${required.fieldNames.mkString(",")} " +
      (if (opts.counter) "(counter shard-SUM k-way merge)"
       else "(LWW k-way merge)")

  // planned once per (runtime-filter) state: estimateStatistics and
  // Spark's own planInputPartitions call share the result; filter()
  // invalidates so post-broadcast re-planning sees the pk set
  // static pushed `pk IN (...)` (multiget) and the runtime join set
  // compose by intersection
  private def effectivePkSet: Option[Set[Long]] =
    (staticPks, runtimePkSet) match {
      case (Some(a), Some(b)) => Some(a intersect b)
      case (a, b) => a.orElse(b)
    }

  private def planNow(): Array[InputPartition] = {
    val vals = effectivePkSet
    if (vals.exists(_.isEmpty)) return Array.empty
    val pkLo = vals.map(v => math.max(pkLower, v.min)).getOrElse(pkLower)
    val pkHi = vals.map(v => math.min(pkUpper, v.max)).getOrElse(pkUpper)
    // All roots contribute flush files to ONE merge (C47): per-root
    // manifests pre-filter their own files; entries key on the FULL
    // path because replicas reuse flush indices/names.
    val perRoot = (path +: replicas).map { r =>
      val fs = CellPlanning.listFiles(r)
      (CellPlanning.normalize(r), fs, CellManifest.current(r, fs))
    }
    val files = perRoot.flatMap(_._2)
    val entryByPath: Map[String, CellManifest.Entry] =
      perRoot.flatMap { case (norm, _, mOpt) =>
        mOpt.toSeq.flatten.map(e => s"$norm/${e.name}" -> e)
      }.toMap
    // Manifest pre-filter: the Summary range/emptiness check runs on
    // summary entries, so files a pk-bounded merge never touches are
    // pruned without a header open; survivors still need their FULL
    // header (sparse index → split bounds, chunk table → narrowing).
    val opened = files
      .filter(f => entryByPath.get(f).forall(e =>
        e.count > 0 && e.maxPk >= pkLo && e.minPk <= pkHi))
      .map(f => (f, CellSource.readHeader(f)))
    // Value-type uniformity is a TABLE property, so the guard must run
    // over every non-empty file, not just pruning survivors — a
    // pre-existing mixed-type dir whose odd-typed file happens to be
    // pruned would otherwise silently serve wrong-typed winners. A
    // root with a fresh manifest covers its files via entries (free);
    // a manifest-less root's files were all opened above anyway.
    val tableTypes = (files.flatMap(entryByPath.get)
      .filter(_.count > 0)
      .map(e => (e.valueTag, e.decPrec, e.decScale)) ++
      opened.filter { case (f, h) =>
        !entryByPath.contains(f) && h.count > 0
      }.map { case (_, h) => (h.valueTag, h.decPrec, h.decScale) })
      .distinct
    require(tableTypes.size <= 1,
      s"reconcile scan needs a uniform value type across files in " +
        s"$path${if (replicas.nonEmpty) replicas.mkString(" + ", ",", "")
        else ""}")
    // headers carry STORAGE part names; the scan's spec serves the
    // DECLARED names (C51e renames) — compare through the rename map
    require(opened.forall(h =>
        CellPlanning.applyKeyRenames(path, h._2.keySpec) == spec),
      s"replica dirs must share the table's key layout (${spec.serial})")
    val headers = opened.filter { case (_, h) =>
      h.count > 0 && h.maxPk >= pkLo && h.minPk <= pkHi &&
        vals.forall(_.exists(v => v >= h.minPk && v <= h.maxPk &&
          CellSource.bloomContains(h.bloom, v)))
    }
    if (headers.isEmpty) Array.empty[InputPartition]
    else {
      require(!opts.counter ||
        ValueCodec.isNumeric(headers.head._2.valueTag),
        s"counter tables need a numeric value type; $path holds " +
          ValueCodec.dataTypeFor(headers.head._2.valueTag,
            headers.head._2.decPrec, headers.head._2.decScale).simpleString)
      val lo = math.max(pkLo, headers.iterator.map(_._2.minPk).min)
      val hi = math.min(pkHi, headers.iterator.map(_._2.maxPk).max)
      // Split boundaries from the sparse indexes: each index entry
      // stands for ~indexEvery records of its file, so evenly-spaced
      // picks from the merged entry list give near-balanced ranges.
      val cands = headers.iterator.flatMap(_._2.indexPks.iterator)
        .filter(p => p > lo && p <= hi).toArray.distinct.sorted
      val totalRecs = headers.iterator.map(_._2.count.toLong).sum
      val nSplits = math.max(1, math.min(cands.length + 1,
        ((totalRecs + subsplitRecords - 1) / subsplitRecords).toInt))
      val bounds = (1 until nSplits)
        .map(i => cands((i.toLong * cands.length / nSplits).toInt))
        .distinct
      val los = lo +: bounds
      val his = bounds.map(_ - 1) :+ hi
      los.zip(his).flatMap { case (rlo, rhi) =>
        // One chunk-narrowed piece per overlapping file (no sub-split:
        // the range IS the parallel unit). Headers were read ONCE above;
        // the summary pre-filter skips non-overlapping files before any
        // narrowing work.
        val fileParts = headers.flatMap { case (f, h) =>
          if (h.maxPk < rlo || h.minPk > rhi) Nil
          else CellPlanning.planFile(f, h, rlo, rhi, Long.MinValue,
            Long.MaxValue, Int.MaxValue, opts.ckLower, opts.ckUpper,
            keepMarkerChunks = true, opts.ckSlice,
            Long.MinValue, Long.MaxValue)
        }.map(_.asInstanceOf[CellInputPartition])
        if (fileParts.isEmpty) None
        else Some(CellReconcilePartition(rlo, rhi, fileParts.toArray,
          tablePath = path): InputPartition)
      }.toArray
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    synchronized {
      if (cached == null) cached = planNow()
      cached
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new CellReconcileReaderFactory(required.fieldNames, opts, limit)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    throw new UnsupportedOperationException(
      "reconcile scans are batch-only: a per-micro-batch merge would " +
        "only see each batch's flushes, not the table's. Stream the " +
        "raw cells and reconcile per batch " +
        "(graft.streaming.StreamingOps.lwwUpsertBatch), or compact " +
        "first (graft.sources.CellMaintenance.compact) and stream the " +
        "reconciled generation.")
}

class CellReconcileReaderFactory(cols: Array[String],
    opts: ReconcileOptions = ReconcileOptions(),
    limit: Int = Int.MaxValue)
    extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "reconcile cell scans are columnar only")

  // The merged stream is rows by nature (one winner per key out of a
  // heap), but batching the OUTPUT keeps downstream operators on the
  // ColumnarToRow + whole-stage-codegen path, same as the plain scan.
  override def supportColumnarReads(p: InputPartition): Boolean = true
  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] = {
    val r: PartitionReader[ColumnarBatch] =
      new CellKeyedReconcileColumnarReader(
        p.asInstanceOf[CellReconcilePartition], cols, opts)
    if (limit == Int.MaxValue) r else new LimitedBatchReader(r, limit)
  }
}

/** One disjoint pk range plus the chunk-narrowed piece of every flush
  * file overlapping it.
  */
/** `tablePath` is the PRIMARY table directory the scan serves — the
  * readers resolve C51e renames against IT, never a file's parent: a
  * partition whose first file comes from a REPLICA dir (the C47
  * quorum read / heal path) must still serve the primary's declared
  * names. Empty = legacy/default (resolve via the file's parent).
  */
case class CellReconcilePartition(pkLo: Long, pkHi: Long,
    fileParts: Array[CellInputPartition],
    tablePath: String = "") extends InputPartition

/** Task-side scan metrics (Spark UI / `BatchScanExec.customMetrics`):
  * the observability hooks a production engine exposes — winners
  * emitted post-merge and the merge fan-in (files overlapping the
  * task's token range after pruning, the number Cassandra calls
  * "sstables per read").
  */
private[sources] case class CellTaskMetric(metricName: String, v: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
  override def value(): Long = v
}

private[sources] final class WinnersMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "winners_emitted"
  override def description(): String =
    "reconciled winners emitted (post-merge rows)"
}

private[sources] final class FanInMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "merge_fan_in"
  override def description(): String =
    "flush files k-way-merged across all tasks (sstables per read)"
}

private[sources] final class CellsReadMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "cells_read"
  override def description(): String = "raw cell versions decoded"
}

/** DSv2 batch write: each task buffers up to `rollRecords` rows,
  * then sorts the buffer and stages it as a `.cells` file (full
  * Summary/Filter/Index/CompressionInfo header) — a long partition
  * rolls over several staged files, bounding writer heap; the driver
  * commit renames staged files into the `data-NNNN.cells` sequence
  * AFTER the existing files — exactly a set of new SSTable flushes, so
  * a running [[CellMicroBatchStream]] picks a committed write up as
  * its next micro-batch. Overwrite (`SupportsTruncate`) clears the
  * directory first; abort deletes the staged files. For sorted output
  * at scale, `df.repartitionByRange($"pk").sortWithinPartitions(...)`
  * upstream gives globally range-partitioned files (the task-local
  * sort here guarantees per-file order regardless).
  */
class CellWriteBuilder(path: String, schema: StructType,
    rollRecords: Int = CellSource.DefaultRollRecords,
    primaryKeyOpt: Option[String] = None)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  require(schema.fieldNames.contains("value"),
    s"cell write needs a 'value' column, got " +
      schema.fieldNames.mkString(","))
  private val valueType = schema("value").dataType
  private val valueTag = ValueCodec.tagFor(valueType) // validates support
  private val (decPrec, decScale) = valueType match {
    case d: DecimalType => (d.precision, d.scale)
    case _ => (0, 0)
  }
  private var truncateFirst = false

  override def truncate()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    truncateFirst = true; this
  }

  override def build(): org.apache.spark.sql.connector.write.Write = {
    // The key layout this write writes (CEL6): an append inherits the
    // directory's spec; a fresh table (or truncate) takes the
    // `primaryKey` option — `((p1,p2),c1)`, part types from the input
    // schema — defaulting to the classic `pk: long, ck: int`. A
    // declared spec that contradicts the directory is an error, as is
    // an input schema that doesn't match the resolved layout.
    val declared = primaryKeyOpt.map(s => KeySpec.fromSyntax(s, n => {
      require(schema.fieldNames.contains(n),
        s"primaryKey part '$n' is not a column of the input " +
          s"(${schema.fieldNames.mkString(",")})")
      schema(n).dataType
    }))
    val existingHeader =
      if (truncateFirst) None
      else CellPlanning.listFiles(path).headOption
        .map(f => CellSource.readHeader(f))
    // An APPEND into an existing table must match its value type: the
    // format is self-describing per FILE, so a mismatched append would
    // "succeed" and leave a mixed-type directory that the reconcile
    // scan rejects and the plain scan serves with an inconsistent
    // schema. Mirror the reconcile planner's uniformity check at write
    // planning time instead (a truncate replaces the table, so any
    // type is fine there). Same rule for the key layout.
    existingHeader.foreach { h =>
      require((h.valueTag, h.decPrec, h.decScale) ==
          ((valueTag, decPrec, decScale)),
        s"append value type ${valueType.simpleString} does not match " +
          s"existing table value type " +
          ValueCodec.dataTypeFor(h.valueTag, h.decPrec, h.decScale)
            .simpleString + s" in $path (overwrite to change the type)")
      // a declared layout may name the parts in STORAGE or DECLARED
      // (post-rename, C51e) terms — both are the same layout
      declared.foreach(d => require(d == h.keySpec ||
          d == CellPlanning.applyKeyRenames(path, h.keySpec),
        s"declared primaryKey (${d.serial}) does not match the " +
          s"existing table's key layout (${h.keySpec.serial}) in $path"))
    }
    // a pre-first-flush table created with a declared layout
    // (_props primaryKey/keyType.*): the first write must take it —
    // and a contradicting per-write declaration is an error, same
    // rule as contradicting an existing header
    val fromProps =
      if (existingHeader.isEmpty) CellPlanning.propsKeySpec(path)
      else None
    for (d <- declared; p <- fromProps) require(d == p ||
        d == CellPlanning.applyKeyRenames(path, p),
      s"declared primaryKey (${d.serial}) does not match the " +
        s"table's CREATE-time key layout (${p.serial}) in $path")
    // `spec` (written into file headers) stays in STORAGE names; the
    // INPUT schema arrives in DECLARED names (C51e renames), so the
    // validation schema resolves through the rename map. Records
    // extract positionally, so the name difference ends here.
    val spec = CellPlanning.storageKeySpec(path,
      existingHeader.map(_.keySpec)
        .orElse(declared)
        .orElse(fromProps)
        .getOrElse(KeySpec.Default))
    val declaredSpec = CellPlanning.applyKeyRenames(path, spec)
    val want = CellSource.schemaFor(declaredSpec, valueType)
    // CQL `USING TTL` (CEL10 default / CEL11 typed): the base schema
    // may carry ONE trailing TTL column — `ttl` (relative ms; expiry
    // = wt + ttl) on user writes, or `_expiry` (absolute ms) on
    // rewrites that must preserve stored expiry (compaction, repair).
    // NULL = no expiry.
    val ttlMode: Int =
      if (schema.fieldNames.sameElements(want.fieldNames)) 0
      else if (schema.fieldNames.sameElements(want.fieldNames :+ "ttl")) 1
      else if (schema.fieldNames
          .sameElements(want.fieldNames :+ "_expiry")) 2
      else {
        require(false,
          s"cell write needs columns ${want.fieldNames.mkString(",")}" +
            " (+ optional trailing ttl | _expiry)" +
            s", got ${schema.fieldNames.mkString(",")}")
        0
      }
    if (ttlMode > 0)
      require(schema.fields.last.dataType == LongType,
        s"'${schema.fieldNames.last}' must be bigint (ms), got " +
          schema.fields.last.dataType.simpleString)
    (declaredSpec.pkParts ++ declaredSpec.ckParts).foreach(p =>
      require(ValueCodec.tagFor(schema(p.name).dataType) == p.tag,
        s"key part '${p.name}' is ${schema(p.name).dataType.simpleString}" +
          s", table expects ${p.dataType.simpleString}"))
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch
          : org.apache.spark.sql.connector.write.BatchWrite =
        new CellBatchWrite(path, truncateFirst, rollRecords,
          valueTag, decPrec, decScale, spec, ttlMode)
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new CellStreamingWrite(path, rollRecords, valueTag, decPrec,
          decScale, spec, ttlMode)
    }
  }
}

/** Streaming SINK face of the connector: every epoch's rows are staged
  * by the same rolling task writers and published as new flush files
  * in one driver-side commit — a micro-batch IS a memtable flush, so a
  * [[CellMicroBatchStream]] on the same directory sees each epoch as
  * its next batch (the connector pipes stream-to-stream).
  *
  * Exactly-once across epoch RETRIES: committed epoch ids are recorded
  * in `_epochs`; a re-delivered epoch's staged files are deleted
  * instead of re-published. (Epoch ids are per-query: point distinct
  * streaming queries at distinct directories.)
  *
  * EXACTLY-ONCE across driver crashes (round 6): the crash window
  * between publish and epoch-record is closed by an epoch INTENT
  * journal (`_epoch_intent`, see [[EpochIntent]]) written atomically
  * BEFORE the publish: it records the epoch id, the pre-publish max
  * flush index, and a content fingerprint of every staged file. A
  * retry of the same epoch first deletes any data file above that
  * index whose fingerprint matches — the crashed attempt's
  * half-published orphans — then publishes its own stage. A crash at
  * ANY single point replays to the same committed state: before the
  * intent nothing was published; after it, orphans are fingerprint-
  * matched and removed; after the epoch record, the replay takes the
  * duplicate-abort path. (The index bound keeps recovery from even
  * LOOKING at files of concurrent batch appends; fingerprints make
  * deletion content-safe besides.)
  */
class CellStreamingWrite(path: String, rollRecords: Int, valueTag: Int,
    decPrec: Int, decScale: Int, spec: KeySpec = KeySpec.Default,
    ttlMode: Int = 0)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write._

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo)
      : streaming.StreamingDataWriterFactory =
    new CellStreamingWriterFactory(path, rollRecords, valueTag, decPrec,
      decScale, spec, ttlMode)

  private def epochsFile =
    Paths.get(CellPlanning.normalize(path)).resolve("_epochs")

  private def committed(epochId: Long): Boolean =
    Files.exists(epochsFile) &&
      Files.readAllLines(epochsFile).contains(epochId.toString)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    if (committed(epochId)) {
      // Completed commit replayed: drop the duplicate stage. A
      // leftover intent (crash between record and intent-clear)
      // references LEGITIMATELY published files — just clear it.
      EpochIntent.read(path).filter(_.epochId == epochId)
        .foreach(_ => EpochIntent.clear(path))
      abort(epochId, messages)
    } else {
      // Recover a crashed prior attempt of THIS epoch: delete its
      // half-published orphans (above the recorded pre-publish index
      // AND fingerprint-matched) before publishing our own stage.
      EpochIntent.read(path).filter(_.epochId == epochId).foreach { in =>
        CellPlanning.listFiles(path).foreach { f =>
          val idx = CellPlanning.fileIndex(
            Paths.get(f).getFileName.toString)
          if (idx > in.preMaxIndex &&
              in.fingerprints.contains(EpochIntent.fingerprint(f)))
            Files.delete(Paths.get(f))
        }
      }
      val staged = messages.toSeq.flatMap {
        case CellCommitMessage(s) => s
        case _ => Nil
      }
      Files.createDirectories(epochsFile.getParent)
      val preMax = CellPlanning.listFiles(path).map(f =>
        CellPlanning.fileIndex(Paths.get(f).getFileName.toString))
        .foldLeft(-1)(math.max)
      EpochIntent.write(path, EpochIntent.Intent(epochId, preMax,
        staged.map(EpochIntent.fingerprint).toSet))
      new CellBatchWrite(path, truncateFirst = false, rollRecords,
        valueTag, decPrec, decScale, spec).commit(messages)
      Files.writeString(epochsFile, s"$epochId\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      EpochIntent.clear(path)
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case CellCommitMessage(staged) =>
        staged.foreach(f => Files.deleteIfExists(Paths.get(f)))
      case _ =>
    }
}

/** Epoch intent journal for the streaming sink's exactly-once commit
  * (see [[CellStreamingWrite]] scaladoc): one small file written
  * atomically before each epoch's publish, cleared after its record.
  * The fingerprint is (size, record count, pk range) from the file's
  * own header — enough to recognize the crashed attempt's orphans
  * among files above the recorded index without hashing data bytes
  * (and deleting a coincidentally-identical file from a concurrent
  * append would be content-neutral under LWW anyway).
  */
private[sources] object EpochIntent {
  case class Intent(epochId: Long, preMaxIndex: Int,
      fingerprints: Set[String])

  private def file(dir: String) =
    Paths.get(CellPlanning.normalize(dir)).resolve("_epoch_intent")

  def fingerprint(f: String): String = {
    val h = CellSource.readHeader(f)
    s"${Files.size(Paths.get(f))}:${h.count}:${h.minPk}:${h.maxPk}"
  }

  def write(dir: String, in: Intent): Unit = {
    val p = file(dir)
    val tmp = p.resolveSibling("_epoch_intent.tmp")
    val body = (s"${in.epochId}" +: s"${in.preMaxIndex}" +:
      in.fingerprints.toSeq.sorted).mkString("", "\n", "\n")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def read(dir: String): Option[Intent] = {
    val p = file(dir)
    if (!Files.exists(p)) return None
    try {
      val lines = Files.readAllLines(p)
      if (lines.size < 2) return None
      Some(Intent(lines.get(0).toLong, lines.get(1).toInt,
        scala.jdk.CollectionConverters.ListHasAsScala(
          lines.subList(2, lines.size)).asScala.filter(_.nonEmpty).toSet))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  def clear(dir: String): Unit = Files.deleteIfExists(file(dir))
}

class CellStreamingWriterFactory(path: String, rollRecords: Int,
    valueTag: Int, decPrec: Int, decScale: Int,
    spec: KeySpec = KeySpec.Default, ttlMode: Int = 0)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new CellDataWriter(path, partitionId, taskId, rollRecords, valueTag,
      decPrec, decScale, spec, ttlMode)
}

case class CellCommitMessage(stagedFiles: Seq[String])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class CellBatchWrite(path: String, truncateFirst: Boolean,
    rollRecords: Int, valueTag: Int, decPrec: Int, decScale: Int,
    spec: KeySpec = KeySpec.Default, ttlMode: Int = 0)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new CellDataWriterFactory(path, rollRecords, valueTag, decPrec,
      decScale, spec, ttlMode)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(CellPlanning.normalize(path))
    // Close the plan-to-commit race of the CellWriteBuilder type check:
    // a first write into a concurrently-created table of another type
    // or key layout must not publish a mixed generation.
    if (!truncateFirst) {
      CellPlanning.listFiles(path).headOption.foreach { f =>
        val h = CellSource.readHeader(f)
        if ((h.valueTag, h.decPrec, h.decScale) !=
            ((valueTag, decPrec, decScale)) || h.keySpec != spec) {
          abort(messages)
          throw new IllegalArgumentException(
            s"append value type / key layout does not match existing " +
              s"table in $path (overwrite to change either)")
        }
      }
    }
    // Flush indices are MONOTONIC, NEVER reused — SSTable generation
    // numbers: the claim starts above the PRE-truncate listing, so a
    // truncate-rewrite (compaction) publishes its generation at
    // indices ABOVE everything it replaced. A running micro-batch
    // stream (index-based offsets) then sees the compacted files as
    // new flushes — an LWW-idempotent re-delivery — instead of
    // silently missing every post-compaction flush under restarted
    // numbering.
    val existing = CellPlanning.listFiles(path)
    if (truncateFirst)
      existing.foreach(f => Files.delete(Paths.get(f)))
    val staged = messages.toSeq.flatMap {
      case CellCommitMessage(s) => s.map(Paths.get(_))
      case _ => Nil
    }
    CellSource.publishFlush(dir.toString, existing, staged)
    staged.foreach(Files.deleteIfExists)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case CellCommitMessage(staged) =>
        staged.foreach(s => Files.deleteIfExists(Paths.get(s)))
      case _ =>
    }
}

class CellDataWriterFactory(path: String, rollRecords: Int,
    valueTag: Int, decPrec: Int, decScale: Int,
    spec: KeySpec = KeySpec.Default, ttlMode: Int = 0)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new CellDataWriter(path, partitionId, taskId, rollRecords, valueTag,
      decPrec, decScale, spec, ttlMode)
}

class CellDataWriter(path: String, partitionId: Int, taskId: Long,
    rollRecords: Int, valueTag: Int, decPrec: Int, decScale: Int,
    spec: KeySpec = KeySpec.Default, ttlMode: Int = 0)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  require(rollRecords > 0, s"rollRecords must be positive, got $rollRecords")
  private val rows = scala.collection.mutable.ArrayBuffer
    .empty[(Long, Int, String, Any, Long, Long)]
  private val krows =
    scala.collection.mutable.ArrayBuffer.empty[CellSource.KeyedRec]
  private val staged = scala.collection.mutable.ArrayBuffer.empty[String]
  private var rollSeq = 0
  private val nPk = spec.pkParts.length
  private val nCk = spec.ckParts.length

  override def write(r: InternalRow): Unit = {
    if (spec.isDefault) {
      val wt = r.getLong(4)
      // CQL USING TTL: col 5 is `ttl` (relative; expiry = wt + ttl)
      // or `_expiry` (absolute); NULL = never expires.
      val exp = ttlMode match {
        case 1 => if (r.isNullAt(5)) Long.MaxValue else wt + r.getLong(5)
        case 2 => if (r.isNullAt(5)) Long.MaxValue else r.getLong(5)
        case _ => Long.MaxValue
      }
      rows += ((r.getLong(0), r.getInt(1), r.getUTF8String(2).toString,
        ValueCodec.fromRow(r, 3, valueTag, decPrec, decScale),
        wt, exp))
    } else {
      // CEL6: typed key parts lead the row; the partition token is
      // computed HERE, once per cell, and carried through the file.
      val pkVals = new Array[Any](nPk)
      var i = 0
      spec.pkParts.foreach { p =>
        pkVals(i) = ValueCodec.fromRow(r, i, p.tag, p.prec, p.scale)
        i += 1
      }
      val ckVals = new Array[Any](nCk)
      var j = 0
      spec.ckParts.foreach { p =>
        ckVals(j) = ValueCodec.fromRow(r, nPk + j, p.tag, p.prec, p.scale)
        j += 1
      }
      val col = r.getUTF8String(nPk + nCk).toString
      val kwt = r.getLong(nPk + nCk + 2)
      // CEL11 `USING TTL`: trailing `ttl` (relative) / `_expiry`
      // (absolute) column, same contract as the default layout
      val kexp = ttlMode match {
        case 1 => if (r.isNullAt(nPk + nCk + 3)) Long.MaxValue
                  else kwt + r.getLong(nPk + nCk + 3)
        case 2 => if (r.isNullAt(nPk + nCk + 3)) Long.MaxValue
                  else r.getLong(nPk + nCk + 3)
        case _ => Long.MaxValue
      }
      krows += CellSource.KeyedRec(KeyCodec.token(spec, pkVals), pkVals,
        CellSource.rankOf(col), ckVals, col,
        ValueCodec.fromRow(r, nPk + nCk + 1, valueTag, decPrec, decScale),
        kwt, kexp)
    }
    if (rows.length + krows.length >= rollRecords) roll()
  }

  /** Sort + stage the current buffer as one `.cells` file and reset.
    * Each rolled file is individually pk-sorted (token-sorted for
    * CEL6) with its own full header (including its own column-name
    * table derived from the buffer); files from one task may overlap
    * in pk range when the incoming rows aren't sorted, which the
    * format allows (they merge like any other set of flushes).
    */
  private def roll(): Unit = if (rows.nonEmpty || krows.nonEmpty) {
    val dir = Paths.get(CellPlanning.normalize(path))
    Files.createDirectories(dir)
    val file = dir.resolve(
      f".staged-$taskId%d-$partitionId%05d-$rollSeq%04d.cells.tmp")
    rollSeq += 1
    if (spec.isDefault) {
      val sorted = rows.sortWith { (a, b) =>
        if (a._1 != b._1) a._1 < b._1
        else if (a._2 != b._2) a._2 < b._2
        else if (a._3 != b._3) a._3 < b._3
        else if (a._5 != b._5) a._5 < b._5
        else ValueCodec.compare(valueTag, a._4, b._4) < 0
      }.toSeq
      val colNames = sorted.iterator.map(_._3).toArray.distinct.sorted
      CellSource.writeFileTypedE(file, sorted, colNames, valueTag,
        decPrec, decScale, CellSource.DefaultIndexEvery,
        CellSource.DefaultChunkRecords)
    } else {
      val sorted = krows.sortWith(CellSource.keyedLess(spec)).toSeq
      val colNames = sorted.iterator.map(_.col).toArray.distinct.sorted
      CellSource.writeFileKeyed(file, sorted, spec, colNames, valueTag,
        decPrec, decScale, CellSource.DefaultIndexEvery,
        CellSource.DefaultChunkRecords)
    }
    staged += file.toString
    rows.clear(); krows.clear()
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    roll()
    CellCommitMessage(staged.toList)
  }

  override def abort(): Unit =
    staged.foreach(s => Files.deleteIfExists(Paths.get(s)))
  override def close(): Unit = { rows.clear(); krows.clear() }
}

/** Runtime (DPP-style) filter translation shared by both scans: join-
  * side literals on the partition-key column become a TOKEN set. Works
  * for any SINGLE-part partition key — hashed layouts hash each
  * literal exactly like the write side did — and is disabled for
  * composite keys (a lone part can't be routed, Cassandra's own
  * restriction).
  */
private[sources] object CellRuntimeFilter {
  def attributes(spec: KeySpec)
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (spec.pkParts.length == 1)
      Array(org.apache.spark.sql.connector.expressions.Expressions
        .column(spec.pkParts.head.name))
    else Array.empty

  def tokenSets(spec: KeySpec,
      predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Option[Set[Long]] = {
    if (spec.pkParts.length != 1) return None
    val pName = spec.pkParts.head.name
    val pPart = spec.pkParts.head
    def isPk(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference =>
          nr.fieldNames.sameElements(Array(pName))
        case _ => false
      }
    def tokenOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Long] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        ValueCodec.toInternal(pPart.tag, pPart.prec, pPart.scale, l.value)
          .map(iv => KeyCodec.token(spec, Array(iv)))
      case _ => None
    }
    val sets = predicates.flatMap { p =>
      val kids = p.children()
      p.name() match {
        case "IN" if kids.nonEmpty && isPk(kids(0)) =>
          val vs = kids.drop(1).flatMap(tokenOf(_).toSeq)
          if (vs.length == kids.length - 1) Some(vs.toSet) else None
        case "=" if kids.length == 2 && isPk(kids(0)) =>
          tokenOf(kids(1)).map(Set(_))
        case _ => None
      }
    }
    if (sets.nonEmpty) Some(sets.reduce(_ intersect _)) else None
  }
}

class CellScan(path: String, pkLower: Long, pkUpper: Long,
    wtLower: Long, wtUpper: Long, required: StructType,
    subsplitRecords: Int,
    staticPks: Option[Set[Long]] = None,
    spec: KeySpec = KeySpec.Default,
    limit: Int = Int.MaxValue,
    ckLower: Int = Int.MinValue,
    ckUpper: Int = Int.MaxValue,
    ckSlice: Option[CkSlice] = None,
    vLower: Long = Long.MinValue,
    vUpper: Long = Long.MaxValue) extends Scan with Batch
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new CellsReadMetric)

  // --- Runtime (DPP-style) pk filtering: when this scan is the probe
  // side of a broadcast join on pk, Spark hands the build side's pk
  // SET here after the broadcast materializes, and the scan re-plans:
  // a file survives only if SOME queried pk passes its Summary range
  // AND bloom filter — point-read pruning driven by the join itself,
  // the Cassandra "fetch these partitions" shape (and what a
  // secondary-index probe does to the base table at 100 TB).
  // Typed single-part keys participate too: literals hash to tokens
  // (see [[CellRuntimeFilter]]); composite keys opt out.
  private var runtimePkSet: Option[Set[Long]] = None
  private var cached: Array[InputPartition] = _

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    CellRuntimeFilter.attributes(spec)

  override def filter(
      predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit =
    CellRuntimeFilter.tokenSets(spec, predicates).foreach { s =>
      synchronized {
        runtimePkSet = Some(runtimePkSet.fold(s)(_ intersect s))
        cached = null // re-plan under the runtime set
      }
    }

  private def planWithRuntimeSet(vals: Set[Long]): Array[InputPartition] = {
    if (vals.isEmpty) return Array.empty
    val lo = math.max(pkLower, vals.min)
    val hi = math.min(pkUpper, vals.max)
    val files = CellPlanning.listFiles(path)
    val byName = CellManifest.current(path, files)
      .map(_.map(e => e.name -> e).toMap)
    files.flatMap { f =>
      val entry = byName.flatMap(
        _.get(Paths.get(f).getFileName.toString))
      if (entry.exists(e => e.count == 0 ||
          !vals.exists(v => v >= e.minPk && v <= e.maxPk))) Nil
      else {
        val h = CellSource.readHeader(f)
        val hit = vals.exists(v => v >= h.minPk && v <= h.maxPk &&
          CellSource.bloomContains(h.bloom, v))
        if (!hit) Nil
        else CellPlanning.planFile(f, h, lo, hi, wtLower, wtUpper,
          subsplitRecords, ckLower, ckUpper, keepMarkerChunks = false,
          ckSlice, vLower, vUpper)
      }
    }.toArray
  }

  /** Pruning-aware statistics from chunk metadata (the header is the
    * Statistics.db): record counts and UNCOMPRESSED byte sizes of
    * exactly the chunks that survive the pushed pk/wt bounds — so a
    * point lookup (e.g. a secondary-index probe) reports a tiny
    * relation and Catalyst broadcasts it statically instead of
    * waiting for an AQE re-plan.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val parts = planInputPartitions()
      .map(_.asInstanceOf[CellInputPartition])
    val rows = parts.iterator
      .map(_.chunkRecCounts.iterator.map(_.toLong).sum).sum
    val bytes = parts.iterator
      .map(_.chunkRawLens.iterator.map(_.toLong).sum).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, bytes))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }
  override def description(): String =
    s"CellScan path=$path pkRange=[$pkLower,$pkUpper] " +
      s"wtRange=[$wtLower,$wtUpper] " +
      (if (ckLower != Int.MinValue || ckUpper != Int.MaxValue)
        s"ckRange=[$ckLower,$ckUpper] " else "") +
      ckSlice.fold("")(s => s"ckSlice=$s ") +
      (if (vLower != Long.MinValue || vUpper != Long.MaxValue)
        s"vRange=[$vLower,$vUpper] " else "") +
      (if (limit != Int.MaxValue) s"limit=$limit " else "") +
      s"cols=${required.fieldNames.mkString(",")}"

  /** C2 split_gen + C8/C16 pruning, all driver-side from file headers:
    * 1. Summary range check — skip files whose [minPk,maxPk] misses
    *    the pushed pk range;
    * 2. Filter bloom check — for point lookups, skip files whose bloom
    *    filter proves the pk absent (catches pks inside the range but
    *    not present, which min/max can't);
    * 3. Index narrowing — bound the candidate record range via the
    *    sparse index (pk-sorted data), rounded out to chunk bounds;
    * 4. Statistics zone maps — drop chunks whose [minWt,maxWt] misses
    *    the pushed wt range (the incremental "written since T" path);
    * 5. sub-splits — group the surviving chunks into ≈
    *    `subsplitRecords`-record pieces so one large file
    *    parallelizes; each task inflates only its own chunks, seeking
    *    over pruned gaps.
    */
  // planned once per (runtime-filter) state: estimateStatistics and
  // Spark's own planInputPartitions call share the result; filter()
  // invalidates so post-broadcast re-planning sees the pk set. The
  // STATIC pushed `pk IN (...)` set (multiget) and the RUNTIME join
  // set compose by intersection.
  private def effectivePkSet: Option[Set[Long]] =
    (staticPks, runtimePkSet) match {
      case (Some(a), Some(b)) => Some(a intersect b)
      case (a, b) => a.orElse(b)
    }

  override def planInputPartitions(): Array[InputPartition] =
    synchronized {
      if (cached == null) cached = effectivePkSet match {
        case Some(vals) => planWithRuntimeSet(vals)
        case None =>
          val files = CellPlanning.listFiles(path)
          CellPlanning.planFilesWithManifest(path, files, pkLower,
            pkUpper, wtLower, wtUpper, subsplitRecords,
            ckLower, ckUpper, keepMarkerChunks = false, ckSlice,
            vLower, vUpper).toArray
      }
      cached
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new CellReaderFactory(pkLower, pkUpper, required.fieldNames, limit)

  /** The streaming face of the same scan: new `.cells` files appearing
    * in the snapshot directory are the stream (the Cassandra-flush/CDC
    * analogue — each memtable flush lands a new immutable SSTable).
    * Offsets are positions in the name-sorted file list, so a batch is
    * a contiguous run of newly-flushed files, planned with the same
    * pruning + sub-split logic as the batch scan and read by the same
    * (vectorized) reader factory.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new CellMicroBatchStream(path, pkLower, pkUpper, wtLower, wtUpper,
      required, subsplitRecords)
}

/** Driver-side planning shared by the batch scan and the micro-batch
  * stream: file listing + per-file prune/narrow/sub-split.
  */
private[sources] object CellPlanning {
  /** C41 — token-range reads (the Cassandra full-scan/export shape).
    * `tokenSplit(k, i)` carves the full signed-64 token ring into k
    * contiguous, disjoint, collectively-exhaustive inclusive ranges —
    * the unit the Spark-Cassandra connector hands each input split, and
    * what `nodetool`-style range repair/export operates on. Computed in
    * unsigned ring arithmetic so the k ranges differ in size by at most
    * one token.
    */
  def tokenSplit(k: Int, i: Int): (Long, Long) = {
    require(k > 0 && i >= 0 && i < k, s"tokenSplit($k, $i) out of range")
    val span = BigInt(1) << 64
    def bound(j: Int): Long =
      (BigInt(Long.MinValue) + span * j / k).toLong
    val hi = if (i == k - 1) Long.MaxValue else bound(i + 1) - 1
    (bound(i), hi)
  }

  /** Parse C41 read options: `tokenRange=lo:hi` (inclusive bounds) and
    * `tokenSplits=k` + `tokenSplit=i` (the i-th of k ring splits);
    * both present compose by intersection.
    */
  def tokenBounds(o: CaseInsensitiveStringMap): (Long, Long) = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    Option(o.get("tokenRange")).foreach { s =>
      val parts = s.split(":", -1)
      require(parts.length == 2,
        s"tokenRange must be '<lo>:<hi>', got '$s'")
      lo = math.max(lo, parts(0).trim.toLong)
      hi = math.min(hi, parts(1).trim.toLong)
    }
    val k = o.getInt("tokenSplits", 0)
    if (k > 0) {
      val (slo, shi) = tokenSplit(k, o.getInt("tokenSplit", 0))
      lo = math.max(lo, slo)
      hi = math.min(hi, shi)
    }
    (lo, hi)
  }

  /** Catalog-registered tables (CREATE TABLE ... USING ... OPTIONS
    * (path ...)) normalize the path to a `file:` URI; local reads and
    * writes want the raw filesystem path.
    */
  def normalize(path: String): String =
    if (path.startsWith("file:")) path.stripPrefix("file:") else path

  /** The key layout DECLARED at CREATE time (`primaryKey` +
    * `keyType.<name>` entries in `_props`), for tables that hold no
    * flush files yet — a CQL `CREATE TABLE … PRIMARY KEY ((user), ck)`
    * must serve its typed schema (and accept typed writes) BEFORE the
    * first flush writes a self-describing header. Once files exist,
    * headers win everywhere this is consulted.
    */
  def propsKeySpec(path: String): Option[KeySpec] = {
    val f = java.nio.file.Paths.get(normalize(path)).resolve("_props")
    if (!java.nio.file.Files.exists(f)) return None
    val p = new java.util.Properties()
    scala.util.Using.resource(
      java.nio.file.Files.newBufferedReader(f))(p.load)
    Option(p.getProperty("primaryKey")).map { syn =>
      KeySpec.fromSyntax(syn, n =>
        Option(p.getProperty(s"keyType.$n"))
          .map(ValueCodec.parseType)
          .getOrElse(org.apache.spark.sql.types.LongType))
    }
  }

  /** C51e — declared key-part renames (`keyRename.<storage> =
    * <declared>` in `_props`, written by `ALTER TABLE … RENAME`):
    * file headers keep their STORAGE part names forever (the format
    * never rewrites data); the TABLE-level spec serves the DECLARED
    * names. Resolution is storage → declared, one hop — the DDL arm
    * re-points every history entry on a chained rename, so no entry
    * ever needs transitive resolution.
    */
  // (dir `_props` path, mtime) → rename map. keySpecOf sits on every
  // planning path and the keyed readers resolve renames per
  // partition, so the common no-rename case must not re-parse the
  // props file per call; an ALTER RENAME bumps the mtime, which IS
  // the invalidation. Bounded: cleared wholesale past 4096 entries
  // (test suites churn thousands of tmp tables; the maps are tiny).
  private val renameCache = new java.util.concurrent
    .ConcurrentHashMap[(String, Long), Map[String, String]]()

  /** Drop the cached rename map for a table — the ALTER RENAME arm
    * calls this after rewriting `_props`, because the mtime key has
    * MILLISECOND granularity: a rename followed by a read inside the
    * same millisecond (routine for back-to-back script statements and
    * for the chained `AND c TO d` pairs of one statement) would
    * otherwise serve the pre-write map.
    */
  def forgetKeyRenames(path: String): Unit = {
    val f = java.nio.file.Paths.get(normalize(path))
      .resolve("_props").toString
    val it = renameCache.keySet().iterator()
    while (it.hasNext) if (it.next()._1 == f) it.remove()
  }

  def keyRenames(path: String): Map[String, String] = {
    val f = java.nio.file.Paths.get(normalize(path)).resolve("_props")
    if (!java.nio.file.Files.exists(f)) return Map.empty
    val mtime =
      try java.nio.file.Files.getLastModifiedTime(f).toMillis
      catch { case _: java.io.IOException => return Map.empty }
    if (renameCache.size > 4096) renameCache.clear()
    renameCache.computeIfAbsent((f.toString, mtime), { _ =>
      try {
        val p = new java.util.Properties()
        scala.util.Using.resource(
          java.nio.file.Files.newBufferedReader(f))(p.load)
        val it = scala.jdk.CollectionConverters
          .SetHasAsScala(p.stringPropertyNames()).asScala.iterator
        it.filter(_.startsWith("keyRename."))
          .map(k => k.stripPrefix("keyRename.") -> p.getProperty(k))
          .toMap
      } catch { // a racing DROP between exists() and the read
        case _: java.io.IOException => Map.empty
      }
    })
  }

  /** The table's spec in DECLARED names: every part whose storage
    * name has a recorded rename serves under the new name. Identity
    * when no renames exist (the common case pays one exists()).
    */
  def applyKeyRenames(path: String, spec: KeySpec): KeySpec = {
    val m = keyRenames(path)
    if (m.isEmpty) spec
    else KeySpec(
      spec.pkParts.map(p => m.get(p.name).fold(p)(n => p.copy(name = n))),
      spec.ckParts.map(p => m.get(p.name).fold(p)(n => p.copy(name = n))))
  }

  /** The DECLARED spec for a reader holding one FILE's header spec:
    * renames resolve against the file's parent (table) directory.
    * Executor-side cost is one tiny `_props` read per reader — the
    * data file it sits next to is already being opened.
    */
  def declaredSpecFor(file: String, spec: KeySpec): KeySpec = {
    val parent = java.nio.file.Paths.get(file).getParent
    if (parent == null) spec else applyKeyRenames(parent.toString, spec)
  }

  /** Inverse of [[applyKeyRenames]]: declared names back to the
    * STORAGE names every file header must carry — the direct file
    * writers route through this so a renamed table never stamps a
    * mixed-name header set.
    */
  def storageKeySpec(path: String, spec: KeySpec): KeySpec = {
    val inv = keyRenames(path).map(_.swap)
    if (inv.isEmpty) spec
    else KeySpec(
      spec.pkParts.map(p =>
        inv.get(p.name).fold(p)(n => p.copy(name = n))),
      spec.ckParts.map(p =>
        inv.get(p.name).fold(p)(n => p.copy(name = n))))
  }

  /** Catalog-persisted counter-ness (`counter=true` in `_props`).
    * Consulted by the 2i/MV builders: their reconcile-only (LWW)
    * base reads merge counter shards wrongly, so counter tables
    * refuse index/view builds — Cassandra's own rule.
    */
  def isCounterTable(dir: String): Boolean = {
    val f = java.nio.file.Paths.get(normalize(dir)).resolve("_props")
    java.nio.file.Files.exists(f) && {
      val p = new java.util.Properties()
      scala.util.Using.resource(
        java.nio.file.Files.newBufferedReader(f))(p.load)
      "true".equalsIgnoreCase(p.getProperty("counter"))
    }
  }

  /** Parsed numeric flush index of a `data-NNNN.cells` name; -1 for
    * anything else.
    */
  def fileIndex(name: String): Int =
    if (name.startsWith("data-") && name.endsWith(".cells"))
      name.stripPrefix("data-").stripSuffix(".cells").toIntOption
        .getOrElse(-1)
    else -1

  /** Committed `.cells` files in FLUSH ORDER. Sorted by the parsed
    * numeric index, not the name: the zero-padding is width-4, so at
    * flush 10000 'data-10000.cells' sorts lexicographically BEFORE
    * 'data-9999.cells' and a name sort would break the append-stability
    * invariant that [[CellMicroBatchStream]] offsets (positions in this
    * listing) and the commit-side max-index scan both rely on.
    */
  def listFiles(rawPath: String): Seq[String] = {
    val path = normalize(rawPath)
    // A not-yet-created snapshot dir has no flushes (first write into a
    // fresh dir commits before any reader can list it).
    if (!Files.exists(Paths.get(path))) return Nil
    Using.resource(Files.list(Paths.get(path))) { s =>
      // (flush index, name, path): each file's sort key computed once
      val it = s.iterator()
      val buf =
        scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
      while (it.hasNext) {
        val f = it.next()
        val n = f.getFileName.toString
        if (n.endsWith(".cells")) buf += ((fileIndex(n), n, f.toString))
      }
      buf.sortInPlaceWith((a, b) =>
        if (a._1 != b._1) a._1 < b._1 else a._2 < b._2)
      buf.iterator.map(_._3).toSeq
    }
  }

  /** The table's typed key layout (CEL6): manifest first (zero file
    * opens), else the first file's header; an empty directory is the
    * default `pk: long, ck: int` layout. Key specs are a TABLE
    * property — the write path refuses mixed-spec appends — so the
    * first committed file speaks for the directory.
    */
  def keySpecOf(path: String, files: Seq[String]): KeySpec =
    applyKeyRenames(path,
      files.headOption.map { f =>
        CellManifest.current(path, files)
          .flatMap(_.headOption.map(_.keySpec))
          .getOrElse(CellSource.readHeader(f).keySpec)
      }.getOrElse(propsKeySpec(path).getOrElse(KeySpec.Default)))

  /** C2/C8/C16 per-file planning (see CellScan scaladoc): Summary range
    * check, bloom point-lookup check, sparse-index narrowing, wt
    * zone-map chunk pruning, chunk-aligned sub-splits.
    */
  def planFile(f: String, pkLower: Long, pkUpper: Long, wtLower: Long,
      wtUpper: Long, subsplitRecords: Int,
      ckLower: Int = Int.MinValue, ckUpper: Int = Int.MaxValue,
      keepMarkerChunks: Boolean = true,
      ckSlice: Option[CkSlice] = None,
      vLower: Long = Long.MinValue,
      vUpper: Long = Long.MaxValue): Seq[InputPartition] =
    planFile(f, CellSource.readHeader(f), pkLower, pkUpper, wtLower,
      wtUpper, subsplitRecords, ckLower, ckUpper, keepMarkerChunks,
      ckSlice, vLower, vUpper)

  /** Manifest-guided planning over `files` (already listed by the
    * caller): when the `_manifest` matches the listing, files failing
    * the Summary range/emptiness check are pruned from its entries
    * WITHOUT opening their headers — only survivors pay a header
    * read (at 100 TB file counts, driver planning I/O goes from
    * O(files) opens to one metadata read + O(survivors) opens).
    * Without a fresh manifest this is exactly the old per-file path.
    */
  def planFilesWithManifest(path: String, files: Seq[String],
      pkLower: Long, pkUpper: Long, wtLower: Long, wtUpper: Long,
      subsplitRecords: Int,
      ckLower: Int = Int.MinValue, ckUpper: Int = Int.MaxValue,
      keepMarkerChunks: Boolean = true,
      ckSlice: Option[CkSlice] = None,
      vLower: Long = Long.MinValue,
      vUpper: Long = Long.MaxValue): Seq[InputPartition] = {
    val byName = CellManifest.current(path, files)
      .map(_.map(e => e.name -> e).toMap)
    files.flatMap { f =>
      val entry = byName.flatMap(
        _.get(Paths.get(f).getFileName.toString))
      if (entry.exists(e =>
          e.count == 0 || e.maxPk < pkLower || e.minPk > pkUpper)) Nil
      else planFile(f, pkLower, pkUpper, wtLower, wtUpper,
        subsplitRecords, ckLower, ckUpper, keepMarkerChunks, ckSlice,
        vLower, vUpper)
    }
  }

  /** Header-reusing overload: the reconcile planner intersects EVERY
    * pk range with EVERY file — re-reading headers there would be
    * O(ranges x files) driver I/O (quadratic at 100 TB file counts);
    * headers are read once and passed in.
    */
  def planFile(f: String, h: CellSource.Header, pkLower: Long,
      pkUpper: Long, wtLower: Long, wtUpper: Long,
      subsplitRecords: Int, ckLower: Int, ckUpper: Int,
      keepMarkerChunks: Boolean,
      // no defaults — Scala forbids defaults on multiple overloads
      ckSlice: Option[CkSlice],
      vLower: Long, vUpper: Long): Seq[InputPartition] = {
    val pointPk = if (pkLower == pkUpper) Some(pkLower) else None
    if (h.count == 0 || h.maxPk < pkLower || h.minPk > pkUpper) Nil
    else if (pointPk.exists(pk => !CellSource.bloomContains(h.bloom, pk)))
      Nil // bloom-pruned: pk in range but provably absent
    else {
      // Sparse-index narrowing: records before the last entry with
      // pk < pkLower are all < pkLower; records from the first entry
      // with pk > pkUpper on are all > pkUpper.
      var startRec = 0
      var endRec = h.count
      var i = 0
      while (i < h.indexPks.length && h.indexPks(i) < pkLower) {
        startRec = h.indexIdx(i); i += 1
      }
      i = 0
      while (i < h.indexPks.length) {
        if (h.indexPks(i) > pkUpper) {
          endRec = math.min(endRec, h.indexIdx(i)); i = h.indexPks.length
        } else i += 1
      }
      val nChunks = h.chunkOffsets.length
      val startChunk = startRec / h.chunkRecords
      val endChunk = math.min(nChunks,
        (endRec + h.chunkRecords - 1) / h.chunkRecords)
      val surviving = (startChunk until endChunk).filter { c =>
        h.chunkMaxWt(c) >= wtLower && h.chunkMinWt(c) <= wtUpper &&
          // CEL9 value zone (long-valued tables; plain scans only —
          // value bounds are never pushed under reconcile). The zone
          // spans every physical row, so pruning is exact.
          (h.chunkMinV == null ||
            h.chunkMaxV(c) >= vLower && h.chunkMinV(c) <= vUpper) &&
          // CEL7 clustering zone map: the zone spans every physical
          // row (markers included), so plain scans prune exactly;
          // reconcile keeps marker-bearing chunks regardless — their
          // tombstones shadow data outside their own ck
          (ckLower == Int.MinValue && ckUpper == Int.MaxValue ||
            h.chunkMaxCk(c) >= ckLower && h.chunkMinCk(c) <= ckUpper ||
            keepMarkerChunks && h.chunkHasMarkers(c)) &&
          // CEL8 TYPED zone (same keep-markers rule); pre-CEL8 typed
          // files carry no zones and never prune
          (ckSlice.isEmpty || h.chunkMinCkT == null ||
            h.chunkMinCkT(c) == null ||
            ckSlice.get.overlaps(h.chunkMinCkT(c), h.chunkMaxCkT(c)) ||
            keepMarkerChunks && h.chunkHasMarkers(c))
      }
      val chunksPerSplit =
        math.max(1, subsplitRecords / math.max(1, h.chunkRecords))
      surviving.grouped(chunksPerSplit).map { cs =>
        CellInputPartition(f, h.dataStart,
          cs.map(h.chunkOffsets).toArray, cs.map(h.chunkLens).toArray,
          cs.map(h.chunkRecCounts).toArray, cs.map(h.chunkRawLens).toArray,
          h.valueTag, h.decPrec, h.decScale, h.colNames,
          h.keySpec, h.hasExpiry): InputPartition
      }.toSeq
    }
  }
}

/** Stream offset: a position in the name-sorted `.cells` file list —
  * files before it are committed, files at/after it are new.
  */
class CellOffset(val n: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = n.toString
}

class CellMicroBatchStream(path: String, pkLower: Long, pkUpper: Long,
    wtLower: Long, wtUpper: Long, required: StructType,
    subsplitRecords: Int)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = new CellOffset(0)

  /** Offsets are NEXT FLUSH INDEX, not file count: indices are
    * monotonic and never reused (see [[CellBatchWrite.commit]]), so an
    * offset stays meaningful across a compaction that REPLACES files —
    * the compacted generation lands at higher indices and is delivered
    * as a (LWW-idempotent) re-flush, while a count-based offset would
    * point past the shrunken list and silently skip flushes until the
    * count caught back up. In the append-only case index+1 == count,
    * so checkpointed offsets from the count era read identically.
    */
  override def latestOffset(): Offset =
    new CellOffset(CellPlanning.listFiles(path).map(f =>
      CellPlanning.fileIndex(Paths.get(f).getFileName.toString))
      .foldLeft(-1)(math.max) + 1)
  override def deserializeOffset(json: String): Offset =
    new CellOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CellOffset].n
    val e = end.asInstanceOf[CellOffset].n
    // This batch owns exactly the flushes with index in [s, e).
    val files = CellPlanning.listFiles(path)
    val batch = files.filter { f =>
      val idx = CellPlanning.fileIndex(Paths.get(f).getFileName.toString)
      idx >= s && idx < e
    }
    // manifest staleness is judged against the FULL listing; pruning
    // then applies to this batch's slice of it
    val byName = CellManifest.current(path, files)
      .map(_.map(en => en.name -> en).toMap)
    batch.flatMap { f =>
      val entry = byName.flatMap(
        _.get(Paths.get(f).getFileName.toString))
      if (entry.exists(en =>
          en.count == 0 || en.maxPk < pkLower || en.minPk > pkUpper)) Nil
      else CellPlanning.planFile(f, pkLower, pkUpper, wtLower, wtUpper,
        subsplitRecords)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CellReaderFactory(pkLower, pkUpper, required.fieldNames)
}

/** One sub-split: a set of compression chunks of `file` in offset
  * order, possibly with gaps where zone maps pruned chunks (data
  * section begins at byte `dataStart`; per-chunk byte offsets,
  * compressed lengths, and record counts from the chunk table).
  */
case class CellInputPartition(file: String, dataStart: Long,
    chunkOffsets: Array[Long], chunkLens: Array[Int],
    chunkRecCounts: Array[Int], chunkRawLens: Array[Int],
    valueTag: Int, decPrec: Int, decScale: Int,
    colNames: Array[String],
    keySpec: KeySpec = KeySpec.Default,
    hasExpiry: Boolean = false) extends InputPartition {
  /** Default-layout records (`pk(8) ck(4) colId value wt [expiry]`)
    * carry no token or rank byte; every other header spec writes
    * `token(8) pk parts rank ck parts colId value wt [expiry]`.
    */
  def defaultLayout: Boolean = keySpec.isDefault
}

/** Pushed-LIMIT caps (see [[CellScanBuilder.pushLimit]]): stop a
  * partition reader after n output rows — later chunks are never even
  * decompressed — and truncate the final columnar batch in place.
  */
private[sources] final class LimitedRowReader(
    inner: PartitionReader[InternalRow], limit: Int)
    extends PartitionReader[InternalRow] {
  private var n = 0
  override def next(): Boolean =
    n < limit && inner.next() && { n += 1; true }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.currentMetricsValues()
}

private[sources] final class LimitedBatchReader(
    inner: PartitionReader[ColumnarBatch], limit: Int)
    extends PartitionReader[ColumnarBatch] {
  private var remaining = limit
  private var batch: ColumnarBatch = _
  override def next(): Boolean = {
    if (remaining <= 0 || !inner.next()) return false
    batch = inner.get()
    if (batch.numRows > remaining) batch.setNumRows(remaining)
    remaining -= batch.numRows
    true
  }
  override def get(): ColumnarBatch = batch
  override def close(): Unit = inner.close()
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.currentMetricsValues()
}


/** Plain-scan reader factory, either key layout: one vectorized
  * [[CellColumnarReader]] per sub-split. There is no row-at-a-time
  * reader; a caller that wants rows walks each batch's `rowIterator()`.
  */
class CellReaderFactory(tokenLower: Long, tokenUpper: Long,
    cols: Array[String],
    limit: Int = Int.MaxValue) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "plain cell scans are columnar only")

  // Vectorized path (the parquet VectorizedColumnReader analogue): one
  // ColumnarBatch per compression chunk, filled straight from the
  // inflated record buffer — Spark plans ColumnarToRow on top and the
  // scan feeds whole-stage codegen batches instead of row-at-a-time.
  override def supportColumnarReads(p: InputPartition): Boolean = true
  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] = {
    val r = new CellColumnarReader(p.asInstanceOf[CellInputPartition],
      tokenLower, tokenUpper, cols)
    if (limit == Int.MaxValue) r else new LimitedBatchReader(r, limit)
  }
}

/** Shared executor-side chunk cursor: seeks straight to each surviving
  * chunk of the sub-split (zone-map pruning leaves gaps), inflates it,
  * and exposes the raw record buffer.
  */
private[sources] final class ChunkCursor(part: CellInputPartition) {
  private val in = new DataInputStream(
    Files.newInputStream(Paths.get(part.file)))
  private var pos = 0L // bytes consumed from file start
  private var chunkIdx = 0
  var buf: ByteBuffer = ByteBuffer.allocate(0)
  var chunkRecs = 0

  /** Advance to the next chunk; false when the sub-split is done. */
  def nextChunk(): Boolean = {
    if (chunkIdx >= part.chunkOffsets.length) return false
    val target = part.dataStart + part.chunkOffsets(chunkIdx)
    var toSkip = target - pos
    while (toSkip > 0) { val sk = in.skip(toSkip); toSkip -= sk; pos += sk }
    val clen = part.chunkLens(chunkIdx)
    val nRecs = part.chunkRecCounts(chunkIdx)
    val compressed = new Array[Byte](clen)
    in.readFully(compressed)
    pos += clen
    val inflater = new Inflater()
    inflater.setInput(compressed)
    val raw = new Array[Byte](part.chunkRawLens(chunkIdx))
    var off = 0
    while (off < raw.length && !inflater.finished())
      off += inflater.inflate(raw, off, raw.length - off)
    inflater.end()
    require(off == raw.length, s"short inflate in ${part.file}")
    buf = ByteBuffer.wrap(raw)
    chunkRecs = nRecs
    chunkIdx += 1
    true
  }

  def close(): Unit = in.close()
}

/** C3 — the plain (non-reconciling) scan over one sub-split, either
  * key layout: each compression chunk becomes one ColumnarBatch (chunk
  * sizing already bounds batch memory), with the token range filter
  * applied during the fill so downstream operators see only surviving
  * rows. The record format follows the partition's header key spec:
  *  - default layout, `pk(8) ck(4) colId value wt [expiry]`: the token
  *    is `pk` itself (the identity token [[CellKeyedStream]] uses), and
  *    `pk`/`ck` stay primitive locals on their way into the vectors;
  *  - typed layouts (CEL6/8), `token(8) pk parts rank ck parts colId
  *    value wt [expiry]`: key parts decode straight into per-part
  *    column vectors. `tokenLower`/`tokenUpper` are the pushed token
  *    bounds (identity for single-long keys, point/IN hashes
  *    otherwise); exactness comes from Spark's residual filter, so
  *    token collisions only cost a row, never correctness.
  */
class CellColumnarReader(part: CellInputPartition, tokenLower: Long,
    tokenUpper: Long, cols: Array[String])
    extends PartitionReader[ColumnarBatch] {
  private val defaultLayout = part.defaultLayout
  // the table-level (declared, C51e-renamed) names serve the schema;
  // the header spec keeps storage names
  private val spec = CellPlanning.declaredSpecFor(part.file, part.keySpec)
  private val cursor = new ChunkCursor(part)
  private var cellsRead = 0L
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(CellTaskMetric("cells_read", cellsRead))
  private val valueType: DataType =
    ValueCodec.dataTypeFor(part.valueTag, part.decPrec, part.decScale)
  private val fullSchema = CellSource.schemaFor(spec, valueType)
  // -1 = `_token` (withToken scans); -2 = `_expiry` (withTtl scans)
  private val projIdx: Array[Int] = cols.map(c =>
    if (c == "_token") -1
    else if (c == "_expiry") -2
    else fullSchema.fieldIndex(c))
  private val outSchema = StructType(projIdx.map {
    case -1 => StructField("_token", LongType, nullable = false)
    case -2 => StructField("_expiry", LongType, nullable = false)
    case f => fullSchema(f)
  })
  private val colNameBytes: Array[Array[Byte]] =
    part.colNames.map(_.getBytes("UTF-8"))
  private val nPk = spec.pkParts.length
  private val nKey = nPk + spec.ckParts.length
  private val partTags: Array[Int] =
    (spec.pkParts ++ spec.ckParts).map(_.tag).toArray
  private val partPrec: Array[Int] =
    (spec.pkParts ++ spec.ckParts).map(_.prec).toArray
  private val partScale: Array[Int] =
    (spec.pkParts ++ spec.ckParts).map(_.scale).toArray
  private var batch: ColumnarBatch = _

  override def next(): Boolean = {
    if (batch != null) { batch.close(); batch = null }
    var n = 0
    var vectors: Array[OnHeapColumnVector] = null
    val rec = new Array[Any](nKey) // typed key parts
    // Chunks can be entirely token-filtered away; keep going until a
    // batch has rows (or the sub-split is exhausted) so Spark never
    // sees a 0-row batch.
    while (n == 0) {
      if (!cursor.nextChunk()) return false
      val nRecs = cursor.chunkRecs
      vectors = OnHeapColumnVector.allocateColumns(nRecs, outSchema)
      val buf = cursor.buf
      var r = 0
      while (r < nRecs) {
        val token = buf.getLong() // the default layout's pk
        var ck = 0 // the default layout's ck
        if (defaultLayout) ck = buf.getInt()
        else {
          var k = 0
          while (k < nPk) {
            rec(k) = ValueCodec.read(buf, partTags(k), partPrec(k),
              partScale(k))
            k += 1
          }
          buf.get() // rank — marker ordering only
          while (k < nKey) {
            rec(k) = ValueCodec.read(buf, partTags(k), partPrec(k),
              partScale(k))
            k += 1
          }
        }
        val colId = buf.get() & 0xff // unsigned: ids 128-255 are legal
        val value = ValueCodec.read(buf, part.valueTag, part.decPrec,
          part.decScale)
        val wt = buf.getLong()
        val exp = if (part.hasExpiry) buf.getLong() else Long.MaxValue
        cellsRead += 1 // decoded, whether or not the token filter keeps it
        if (token >= tokenLower && token <= tokenUpper) {
          var i = 0
          while (i < projIdx.length) {
            val f = projIdx(i)
            if (f == -1) vectors(i).putLong(n, token)
            else if (f == -2) vectors(i).putLong(n, exp)
            else if (f < nKey) {
              if (!defaultLayout)
                KeyedVec.put(vectors(i), n, partTags(f), partPrec(f), rec(f))
              else if (f == 0) vectors(i).putLong(n, token)
              else vectors(i).putInt(n, ck)
            } else if (f == nKey) {
              val b = colNameBytes(colId)
              vectors(i).putByteArray(n, b, 0, b.length)
            } else if (f == nKey + 1)
              KeyedVec.put(vectors(i), n, part.valueTag, part.decPrec, value)
            else vectors(i).putLong(n, wt)
            i += 1
          }
          n += 1
        }
        r += 1
      }
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
