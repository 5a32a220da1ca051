package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder,
  ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.classic.{Dataset => CDataset,
  SparkSession => CSparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType

/** A CQL statement's finished result: its rows as one local relation.
  *
  * Every operator but `collect` and `collectAsList` is the ordinary
  * DataFrame over that relation — `schema`, `filter`, `select`,
  * `count`, `show` and joins analyse and plan as usual. Those two
  * read the relation's rows back without planning, code generation
  * or an SQL execution: each row goes through the unsafe projection a
  * `LocalTableScanExec` applies and the row encoder's bound
  * deserializer, both Spark's own and cached per encoder, so the rows,
  * the Java classes of their values and the schema are the ones
  * `Dataset.collect` returns for the same plan.
  */
final class ResultFrame private (qe: QueryExecution, relation: LocalRelation)
    extends CDataset[Row](qe,
      () => RowEncoder.encoderFor(qe.analyzed.schema)) {

  override def collect(): Array[Row] =
    if (relation.data.isEmpty) Array.empty
    else sparkSession.withActive {
      ResultFrame.codecOf(encoder.asInstanceOf[AgnosticEncoder[Row]],
        relation.output)
    }.rows(relation.data)

  override def collectAsList(): java.util.List[Row] =
    java.util.Arrays.asList(collect(): _*)
}

object ResultFrame {
  /** `rows` under `schema` as one result: the relation
    * `SparkSession.createDataFrame(rows, schema)` builds.
    */
  def apply(spark: SparkSession, schema: StructType,
      rows: Seq[Row]): DataFrame = frame(spark) {
    val checked = CharVarcharUtils.failIfHasCharVarchar(schema)
      .asInstanceOf[StructType]
    LocalRelation.fromExternalRows(DataTypeUtils.toAttributes(checked), rows)
  }

  /** The session's result of a statement that returns no rows
    * (`spark.emptyDataFrame`'s plan): built once per session.
    */
  def empty(spark: SparkSession): DataFrame =
    empties.getOrElseUpdate(spark)(frame(spark)(LocalRelation()))

  /** A local relation holds final rows, so it is marked analysed:
    * the frame's query execution skips the analyzer's rule batches.
    */
  private def frame(spark: SparkSession)(
      relation: => LocalRelation): ResultFrame = {
    val s = spark.asInstanceOf[CSparkSession]
    s.withActive {
      val r = relation
      r.setAnalyzed()
      val qe = s.sessionState.executePlan(r)
      qe.assertAnalyzed()
      new ResultFrame(qe, r)
    }
  }

  /** One encoder's row codec: `LocalTableScanExec`'s unsafe
    * projection, then the bound deserializer `Dataset.collect` uses.
    * Neither is thread-safe, so a collect holds the codec.
    */
  private final class Codec(enc: AgnosticEncoder[Row],
      attrs: Seq[Attribute]) {
    private val toUnsafe = UnsafeProjection.create(attrs, attrs)
    private val fromRow =
      ExpressionEncoder(enc).resolveAndBind(attrs).createDeserializer()

    def rows(data: Seq[InternalRow]): Array[Row] = synchronized {
      data.iterator.map(r => fromRow(toUnsafe(r))).toArray
    }
  }

  /** A size-bounded, least-recently-used map; every access holds it. */
  private final class Lru[K, V <: AnyRef](max: Int) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[K, V]): Boolean = size > max
    }

    def getOrElseUpdate(k: K)(make: => V): V = synchronized {
      val hit = m.get(k)
      if (hit != null) hit else { val v = make; m.put(k, v); v }
    }
  }

  // The encoder carries the column names, types, nullability and the
  // session's java8 datetime choice, so equal encoders share a codec.
  private val codecs = new Lru[AgnosticEncoder[Row], Codec](128)
  // Keyed by session identity; a few entries cover every live session.
  private val empties = new Lru[SparkSession, ResultFrame](8)

  private def codecOf(enc: AgnosticEncoder[Row],
      attrs: Seq[Attribute]): Codec =
    codecs.getOrElseUpdate(enc)(new Codec(enc, attrs))
}
