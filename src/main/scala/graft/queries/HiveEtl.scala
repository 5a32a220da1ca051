package graft.queries

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GQuery, Tables}

/** Q_MINS — Hive's multi-insert (`FROM src INSERT ... INSERT ...`),
  * the era's one-scan-many-sinks ETL idiom: a single pass over the
  * source fans out to N sinks with independent predicates/projections.
  * Spark SQL keeps the syntax natively (INSERT OVERWRITE DIRECTORY
  * sinks here — no Hive metastore needed).
  *
  * Scale notes: the point of the construct is that the 100 TB source
  * is SCANNED ONCE for all sinks; each branch applies its own filter
  * and writes in parallel. The declared query re-reads both sinks and
  * aggregates, proving the split is exact and lossless against the
  * relational oracle.
  */
object HiveEtl {

  /** Root of the multi-insert outputs (`graft.multiins.dir`). */
  private[graft] def multiInsDir: String =
    Tables.scratchDir("graft.multiins.dir", "multiins")

  private def multiInsert(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    val base = multiInsDir + "-" + Paths.get(d).getFileName.toString
    s.sql(
      s"""FROM orders_v
         |INSERT OVERWRITE DIRECTORY '$base/hi' USING parquet
         |  SELECT o_orderkey, o_totalprice WHERE o_totalprice > 200000.0
         |INSERT OVERWRITE DIRECTORY '$base/lo' USING parquet
         |  SELECT o_orderkey, o_totalprice
         |  WHERE o_totalprice <= 200000.0""".stripMargin)
    val hi = s.read.parquet(s"$base/hi").withColumn("bucket", lit("hi"))
    val lo = s.read.parquet(s"$base/lo").withColumn("bucket", lit("lo"))
    hi.unionAll(lo)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("bucket"))
  }

  private val multiInsertSql =
    """SELECT CASE WHEN o_totalprice > 200000.0 THEN 'hi'
      |            ELSE 'lo' END AS bucket,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  def all: Seq[GQuery] = Seq(
    GQuery("Q_MINS1_multi_insert", multiInsert, Some(multiInsertSql)))
}
