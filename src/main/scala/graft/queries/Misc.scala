package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GQuery, Tables}

/** Remaining SURVEY §2 rows: the Shark-style in-memory cache surface
  * (Q_SRC2), TABLESAMPLE (Q_SAMP1), and seeded RNG (F_MATH2). RNG
  * streams are engine-specific, so the latter two emit deterministic
  * property checks (rate/domain/moment bounds) the oracle can state
  * as literals — every declared query carries an oracle (the driver
  * scores a missing oracle as an error, VERDICT r1 §What's-wrong 3).
  */
object Misc {

  /** Q_SRC2 — CACHE TABLE: Shark's headline feature ([SHARK13] §3.2),
    * today `df.cache()` → InMemoryRelation (compressed columnar
    * batches). Plan-level cache reuse means later reads of the same
    * parquet path hit memory; results are identical to the uncached
    * oracle by construction.
    */
  private def cached(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).cache()
    o.count() // materialize the columnar cache
    o.filter(col("o_orderpriority") === "2-HIGH")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  private val cachedSql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderpriority = '2-HIGH' ORDER BY o_orderkey""".stripMargin

  /** Q_SAMP1 — TABLESAMPLE with a fixed seed. The sampled row set is
    * engine-specific (seeded Bernoulli streams differ), so the emitted
    * columns are the properties any correct sample must satisfy —
    * rate within generous bounds, keys inside the table's key domain —
    * which the oracle states as literal TRUEs. (Exact-row determinism
    * under one engine is covered in scalatest.)
    */
  private def sampled(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val tot = o.agg(count(lit(1)).as("n_tot"),
      min(col("o_orderkey")).as("k_lo"), max(col("o_orderkey")).as("k_hi"))
    val samp = o.sample(withReplacement = false, 0.1, seed = 42)
      .agg(count(lit(1)).as("n_samp"),
        min(col("o_orderkey")).as("s_lo"), max(col("o_orderkey")).as("s_hi"))
    samp.crossJoin(broadcast(tot)).select(
      (col("n_samp") >= col("n_tot") * 0.06 &&
        col("n_samp") <= col("n_tot") * 0.14).as("rate_ok"),
      (col("s_lo") >= col("k_lo") && col("s_hi") <= col("k_hi"))
        .as("keys_in_domain"))
  }

  private val sampledSql = "SELECT TRUE AS rate_ok, TRUE AS keys_in_domain"

  /** F_MATH2 — rand/randn with fixed seed: streams are engine-specific,
    * so emit the distributional invariants (uniform moments/range,
    * gaussian moments) as booleans the oracle states as TRUEs.
    */
  private def seededRand(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(rand(42).as("u"), randn(42).as("g"))
      .agg(avg(col("u")).as("um"), min(col("u")).as("ulo"),
        max(col("u")).as("uhi"), avg(col("g")).as("gm"),
        stddev_samp(col("g")).as("gsd"))
      .select(
        (col("um") > 0.35 && col("um") < 0.65).as("u_mean_ok"),
        (col("ulo") >= 0.0 && col("uhi") < 1.0).as("u_range_ok"),
        (col("gm") > -0.4 && col("gm") < 0.4).as("g_mean_ok"),
        (col("gsd") > 0.6 && col("gsd") < 1.4).as("g_sd_ok"))

  private val seededRandSql =
    """SELECT TRUE AS u_mean_ok, TRUE AS u_range_ok,
      |  TRUE AS g_mean_ok, TRUE AS g_sd_ok""".stripMargin

  /** Q_SRC1 — the bare parquet scan row of the inventory (every other
    * query exercises it implicitly; declared explicitly for the §2
    * checklist). Q_SNK1 (file sink) is the Verify harness itself —
    * every declared result is written through it.
    */
  private def parquetScan(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))

  private val parquetScanSql =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"

  /** Root of the SerDe fixture copies (`graft.serde.dir`). */
  private[graft] def serdeDir: String =
    Tables.scratchDir("graft.serde.dir", "serde")

  /** Q_SRC3/Q_SRC4 — CSV and JSON sources: the engine materializes a
    * deterministic copy of `nation` in the format once per sf (fixture
    * prep, same pattern as CellSnapshots), then reads it back with an
    * explicit schema. The oracle reads the parquet original — a
    * lossless round-trip is exactly the SerDe contract.
    */
  private def serdeScan(s: SparkSession, d: String, fmt: String): DataFrame = {
    val dir = java.nio.file.Paths.get(serdeDir,
      java.nio.file.Paths.get(d).getFileName.toString + "-" + fmt)
    val src = Tables.nation(s, d)
    this.synchronized {
      if (!java.nio.file.Files.exists(dir.resolve("_SUCCESS"))) {
        val w = src.coalesce(1).write.mode("overwrite")
        fmt match {
          case "csv" => w.option("header", "true").csv(dir.toString)
          case "json" => w.json(dir.toString)
          case "orc" => w.orc(dir.toString)
          // era text table (LazySimpleSerDe): delimited lines, parsed
          // back field-by-field on read
          case "text" => src.select(concat_ws("|", col("n_nationkey"),
              col("n_name"), col("n_regionkey")).as("value"))
            .coalesce(1).write.mode("overwrite").text(dir.toString)
        }
      }
    }
    val r = s.read.schema(src.schema)
    val back = fmt match {
      case "csv" => r.option("header", "true").csv(dir.toString)
      case "json" => r.json(dir.toString)
      case "orc" => r.orc(dir.toString)
      case "text" => s.read.text(dir.toString)
        .select(split(col("value"), "\\|").as("f"))
        .select(element_at(col("f"), 1).cast("int").as("n_nationkey"),
          element_at(col("f"), 2).as("n_name"),
          element_at(col("f"), 3).cast("int").as("n_regionkey"))
    }
    back.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  private val serdeSql =
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |ORDER BY n_nationkey""".stripMargin

  /** Q_SNK2 — partitioned parquet sink: write `documents` once per sf
    * as a lang-partitioned layout (the standard lake layout for a
    * language-split corpus), then answer a two-language rollup through
    * it. The lang predicate prunes whole partition directories at
    * planning time (PartitionFilters — asserted on this layout shape
    * in PlanSpec); at 100 TB the non-selected languages are never
    * opened. The oracle computes the same rollup from the unpartitioned
    * original — sink + pruned scan must be lossless.
    */
  private def partitionedSink(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Paths.get(serdeDir,
      java.nio.file.Paths.get(d).getFileName.toString + "-bylang")
    this.synchronized {
      if (!java.nio.file.Files.exists(dir.resolve("_SUCCESS"))) {
        Tables.documents(s, d).write.mode("overwrite")
          .partitionBy("lang").parquet(dir.toString)
      }
    }
    s.read.parquet(dir.toString)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  private val partitionedSinkSql =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE lang IN ('en', 'de')
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Q_JOIN12 — bucketed co-located join, oracle-checked: both fact
    * sides are written once per sf bucketed (and sorted) on the join
    * key, so the fact/fact join reads pre-partitioned buckets and
    * never exchanges either join key — shuffle once at LAYOUT time,
    * never per query, the only sustainable shape for a repeated
    * 100 TB fact/fact join. The no-Exchange physical property is
    * asserted in PlanSpec; here the oracle states the result equals
    * the plain shuffled join.
    */
  private def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val sfTag = java.nio.file.Paths.get(d).getFileName.toString
      .replace('.', '_')
    val (to, tl) = (s"b_orders_$sfTag", s"b_lineitem_$sfTag")
    this.synchronized {
      if (!s.catalog.tableExists(to) || !s.catalog.tableExists(tl)) {
        // The derby-less in-memory catalog forgets tables between JVMs
        // but their warehouse dirs persist — clear both, then rebuild.
        s.sql(s"DROP TABLE IF EXISTS $to")
        s.sql(s"DROP TABLE IF EXISTS $tl")
        val wh = new java.io.File(s.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"))
        Seq(to, tl).foreach { t =>
          val dd = new java.io.File(wh, t)
          if (dd.exists()) { dd.listFiles().foreach(_.delete()); dd.delete() }
        }
        Tables.orders(s, d).write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(to)
        Tables.lineitem(s, d).write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(tl)
      }
    }
    s.table(tl).join(s.table(to), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_c"))
      .orderBy(col("o_orderpriority"))
  }

  private val bucketedJoinSql =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS rev_c
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q_TYPED1 — the typed Dataset[T] surface: case-class encoder,
    * typed filter/map lambdas, groupByKey + mapGroups. Lambdas opt out
    * of codegen (each is a deserialize→fn→serialize hop), so this is
    * the API-completeness row, NOT the perf-path — the equivalent
    * DataFrame form is what the rest of the inventory uses. Group
    * values are sorted before summing for within-engine determinism.
    */
  private def typedPipeline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
      .as[(Long, Long, Double, String)]
      .filter(o => o._4 == "1-URGENT")
      .map(o => (o._2, o._3))
      .groupByKey(_._1)
      .mapGroups { (k, it) =>
        val xs = it.map(_._2).toArray.sorted
        (k, xs.length.toLong,
          math.round(xs.sum * 100.0) / 100.0)
      }
      .toDF("o_custkey", "n_urgent", "sum_total")
      .filter(col("n_urgent") >= 5)
      .orderBy(col("o_custkey"))
  }

  private val typedPipelineSql =
    """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_urgent,
      |  ROUND(SUM(o_totalprice), 2) AS sum_total
      |FROM orders WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_custkey HAVING COUNT(*) >= 5 ORDER BY o_custkey""".stripMargin

  def all: Seq[GQuery] = Seq(
    GQuery("Q_TYPED1_dataset", typedPipeline, Some(typedPipelineSql)),
    GQuery("Q_SRC1_parquet_scan", parquetScan, Some(parquetScanSql)),
    GQuery("Q_SRC2_cache", cached, Some(cachedSql)),
    GQuery("Q_SRC7_text_roundtrip", (s, d) => serdeScan(s, d, "text"),
      Some(serdeSql)),
    GQuery("Q_SRC3_csv_roundtrip", (s, d) => serdeScan(s, d, "csv"),
      Some(serdeSql)),
    GQuery("Q_SRC4_json_roundtrip", (s, d) => serdeScan(s, d, "json"),
      Some(serdeSql)),
    GQuery("Q_SRC5_orc_roundtrip", (s, d) => serdeScan(s, d, "orc"),
      Some(serdeSql)),
    GQuery("Q_SNK2_partitioned_write", partitionedSink,
      Some(partitionedSinkSql)),
    GQuery("Q_JOIN12_bucketed", bucketedJoin, Some(bucketedJoinSql)),
    GQuery("Q_SAMP1_tablesample", sampled, Some(sampledSql)),
    GQuery("F_MATH2_rand", seededRand, Some(seededRandSql)))
}
