package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.cql.Cql
import graft.sources.CellMaintenance

/** A seeded, single-client, closed-loop stream of CQL statements
  * through `Cql.catalogExecute`, checked statement by statement against
  * a sequential model of the two tables.
  *
  * Tables: `ks.d` (default layout, `pk bigint, ck int`) and `ks.u`
  * (typed key, `user text`). Partition keys follow a power-law skew:
  * key = floor(P * u^2) for uniform u, so the lowest keys are the
  * hottest. Each pass replays the same statements and ends with
  * `compactDeclared` on both tables, standing in for background
  * compaction: between compactions every standalone write adds one
  * flush file, and tables reach tens of files.
  */
final class CqlOltp(spark: SparkSession, seed: Long)
    extends Workload {
  val Partitions = 200
  val Clusterings = 4

  private case class Tbl(name: String, typed: Boolean) {
    def keyCol: String = if (typed) "user" else "pk"
    def lit(k: Int): String = if (typed) s"'u-$k'" else k.toString
  }
  private val tables = Seq(Tbl("d", typed = false), Tbl("u", typed = true))

  /** The model: (table, key, ck) -> live cells col -> value. */
  private val model = mutable.Map.empty[(String, Int, Int), mutable.Map[String, Long]]
  private var catalog = ""
  private var root = ""
  private val failedChecks = mutable.ArrayBuffer.empty[String]
  private val layer = mutable.Map.empty[String, Double]

  private def cq(stmt: String): Array[Row] =
    Cql.catalogExecute(spark, stmt, catalog).collect()

  def setup(dir: String): Unit = {
    val cat = "pb" + Paths.get(dir).getFileName.toString.filter(_.isLetterOrDigit)
    Files.createDirectories(Paths.get(dir))
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CellCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", dir)
    catalog = cat
    root = dir
    cq("CREATE KEYSPACE ks")
    tables.foreach { t =>
      cq(s"CREATE TABLE ks.${t.name} (${t.keyCol} ${if (t.typed) "text" else "bigint"}, " +
        s"ck int, col text, value bigint, wt bigint, PRIMARY KEY ((${t.keyCol}), ck))")
    }
    // every row starts with a qty cell, written as one logged batch
    model.clear()
    val rnd = new Random(seed ^ 0x5eedL)
    tables.foreach { t =>
      val body = for (k <- 0 until Partitions; c <- 1 to Clusterings) yield {
        val v = rnd.nextInt(10).toLong
        model((t.name, k, c)) = mutable.Map("qty" -> v)
        s"INSERT INTO ks.${t.name} (${t.keyCol}, ck, qty) VALUES (${t.lit(k)}, $c, $v)"
      }
      cq(body.mkString("BEGIN BATCH\n", ";\n", ";\nAPPLY BATCH"))
    }
  }

  private def tableDir(t: Tbl) = Paths.get(root, "ks", t.name)

  override def checks: Seq[String] = failedChecks.toSeq
  override def layerStats: Map[String, Double] = layer.toMap

  /** A statement, the model update it implies, and the check of the
    * rows it returned (an error message, or empty when they agree). */
  private case class Stmt(kind: String, text: String,
      apply: Array[Row] => String) {
    def name: String = text.linesIterator.next().take(80)
  }

  private def cells(t: Tbl, k: Int, c: Int) =
    model.getOrElseUpdate((t.name, k, c), mutable.Map.empty)

  /** The statement mix of one pass, in exact counts: writes are two
    * thirds, so the median statement is a write. */
  private val Mix = Seq("insert" -> 22, "update" -> 12, "delete" -> 3,
    "batch" -> 3, "partition-read" -> 7, "row-read" -> 7,
    "insert-if-not-exists" -> 3, "update-if" -> 3)

  private def gen(rnd: Random, kind: String): Stmt = {
    val t = if (rnd.nextInt(3) < 2) tables(0) else tables(1)
    val k = (Partitions * math.pow(rnd.nextDouble(), 2.0)).toInt
    val c = 1 + rnd.nextInt(Clusterings)
    val key = s"${t.keyCol} = ${t.lit(k)}"
    val tn = s"ks.${t.name}"
    if (kind == "insert") {
      val v = rnd.nextInt(10).toLong
      Stmt("write", s"INSERT INTO $tn (${t.keyCol}, ck, qty) VALUES (${t.lit(k)}, $c, $v)",
        _ => { cells(t, k, c)("qty") = v; "" })
    } else if (kind == "update") {
      val v = rnd.nextInt(1000).toLong
      Stmt("write", s"UPDATE $tn SET price = $v WHERE $key AND ck = $c",
        _ => { cells(t, k, c)("price") = v; "" })
    } else if (kind == "delete") {
      Stmt("write", s"DELETE FROM $tn WHERE $key AND ck = $c",
        _ => { model.remove((t.name, k, c)); "" })
    } else if (kind == "partition-read") {
      Stmt("read", s"SELECT ck, col, value FROM $tn WHERE $key", rows => {
        val got = rows.map(x => (x.getInt(0), x.getString(1), x.getLong(2))).sorted.toSeq
        val want = (1 to Clusterings).flatMap { cc =>
          model.get((t.name, k, cc)).toSeq.flatMap(_.map { case (col, v) => (cc, col, v) })
        }.sorted
        if (got == want) "" else s"partition read: got $got want $want"
      })
    } else if (kind == "row-read") {
      Stmt("read", s"SELECT col, value FROM $tn WHERE $key AND ck = $c", rows => {
        val got = rows.map(x => (x.getString(0), x.getLong(1))).sorted.toSeq
        val want = model.get((t.name, k, c)).toSeq.flatMap(_.toSeq).sorted
        if (got == want) "" else s"row read: got $got want $want"
      })
    } else if (kind == "insert-if-not-exists") {
      val v = rnd.nextInt(10).toLong
      Stmt("lwt", s"INSERT INTO $tn (${t.keyCol}, ck, qty) VALUES (${t.lit(k)}, $c, $v) IF NOT EXISTS",
        rows => {
          val cur = model.get((t.name, k, c)).flatMap(_.get("qty"))
          val applied = cur.isEmpty
          val got = rows.map(x => (x.getBoolean(0), Option(x.get(1)).map(_.toString.toLong))).toSeq
          val want = Seq((applied, cur))
          if (applied) cells(t, k, c)("qty") = v
          if (got == want) "" else s"insert if not exists: got $got want $want"
        })
    } else if (kind == "update-if") {
      val expect = rnd.nextInt(10).toLong
      val v = rnd.nextInt(10).toLong
      Stmt("lwt", s"UPDATE $tn SET qty = $v WHERE $key AND ck = $c IF qty = $expect",
        rows => {
          val cur = model.get((t.name, k, c)).flatMap(_.get("qty"))
          val applied = cur.contains(expect)
          val got = rows.map(x => (x.getBoolean(0), Option(x.get(1)).map(_.toString.toLong))).toSeq
          val want = Seq((applied, cur))
          if (applied) cells(t, k, c)("qty") = v
          if (got == want) "" else s"update if: got $got want $want"
        })
    } else {
      // distinct rows of one table at one shared writetime
      val ks = (0 until 3).map(i => ((k + i * 37) % Partitions, 1 + (c + i) % Clusterings))
      val vs = ks.map(_ => rnd.nextInt(1000).toLong)
      val body = ks.zip(vs).map { case ((kk, cc), v) =>
        s"INSERT INTO $tn (${t.keyCol}, ck, price) VALUES (${t.lit(kk)}, $cc, $v)"
      }
      Stmt("write", body.mkString("BEGIN BATCH\n", ";\n", ";\nAPPLY BATCH"), _ => {
        ks.zip(vs).foreach { case ((kk, cc), v) => cells(t, kk, cc)("price") = v }
        ""
      })
    }
  }

  def operations(rnd: Random): Seq[Op] =
    rnd.shuffle(Mix.flatMap { case (kind, n) => Seq.fill(n)(kind) })
      .map(gen(rnd, _)).map { s =>
      new Op {
        def run(ctx: Ctx, passSpan: Int, pass: Int, idx: Int): OpResult = {
          val key = s"$pass:$idx"
          val span = ctx.tracer.open(passSpan, s"cql/${s.kind}", "op", pass)
          try {
            val ((df, rows), e) = ctx.phase(span, key, "exec", pass) {
              val df = Cql.catalogExecute(spark, s.text, catalog)
              (df, df.collect())
            }
            ctx.tag("-", "-")
            if (ctx.trace) {
              ScanMetrics.of(df.queryExecution.executedPlan)
                .foreach { case (k, v) => ctx.tracer.attr(span, k, v) }
              ctx.attach(span, key, Seq("exec"))
            }
            val err = s.apply(rows)
            OpResult(pass, idx, s.name, "cql", s.kind,
              err.isEmpty, err.take(300), 0, 0, e, "", rows.length, Nil)
          } catch {
            case t: Throwable =>
              ctx.tag("-", "-")
              OpResult(pass, idx, s.name, "cql", s.kind, ok = false,
                String.valueOf(t.getMessage).take(300), 0, 0, 0, "", 0, Nil)
          } finally ctx.tracer.close(span)
        }
      }
    }

  override def endPass(ctx: Ctx, passSpan: Int, pass: Int): Seq[OpResult] = {
    val out = tables.zipWithIndex.map { case (t, i) =>
      val dir = tableDir(t).toString
      val files = DirStats.files(tableDir(t)).count(_.toString.endsWith(".cells"))
      layer("sources.flush_files_peak") =
        layer.getOrElse("sources.flush_files_peak", 0.0).max(files.toDouble)
      val key = s"$pass:compact$i"
      val span = ctx.tracer.open(passSpan, "cql/compact", "op", pass)
      try {
        val (_, e) = ctx.phase(span, key, "exec", pass)(
          CellMaintenance.compactDeclared(spark, dir))
        ctx.tag("-", "-")
        ctx.attach(span, key, Seq("exec"))
        OpResult(pass, Mix.map(_._2).sum + i, s"compact ks.${t.name}", "cql", "compact",
          ok = true, "", 0, 0, e, "", 0, Nil)
      } catch {
        case x: Throwable =>
          ctx.tag("-", "-")
          OpResult(pass, Mix.map(_._2).sum + i, s"compact ks.${t.name}", "cql", "compact",
            ok = false, String.valueOf(x.getMessage).take(300), 0, 0, 0, "", 0, Nil)
      } finally ctx.tracer.close(span)
    }
    // the full table state after the pass, off the clock
    tables.foreach { t =>
      val got = cq(s"SELECT ${t.keyCol}, ck, col, value FROM ks.${t.name}")
        .map(x => (x.get(0).toString, x.getInt(1), x.getString(2), x.getLong(3)))
        .sorted.toSeq
      val want = model.toSeq.filter(_._1._1 == t.name).flatMap { case ((_, k, c), m) =>
        m.toSeq.map { case (col, v) => (if (t.typed) s"u-$k" else k.toString, c, col, v) }
      }.sorted
      if (got != want)
        failedChecks += s"pass $pass table ks.${t.name}: ${got.size} cells, " +
          s"model ${want.size}; first difference " +
          got.zipAll(want, null, null).find(p => p._1 != p._2)
      if (ctx.trace) {
        val userBytes = want.map { case (k, _, col, _) => k.length + 4 + col.length + 8 }.sum
        layer(s"sources.table_bytes_per_user_byte.${t.name}") =
          DirStats.bytes(tableDir(t)).toDouble / userBytes.max(1)
      }
    }
    out
  }
}
