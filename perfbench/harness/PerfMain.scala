package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.Registry
import graft.sources.CellSnapshots

/** One operation's outcome. Times are seconds; a failed operation keeps
  * its error and is left out of every time metric by the summariser. */
final case class OpResult(pass: Int, idx: Int, name: String, family: String,
    kind: String, ok: Boolean, err: String, buildS: Double, planS: Double,
    execS: Double, digest: String, rows: Int, sample: Seq[String])

/** The benchmark's JVM side: builds a session, sets up the workload's
  * fixture, then runs whole passes over the workload's operations until
  * the run length is used up, timing each call into the engine from
  * outside. Writes one JSON result file (and, when traced, a span file)
  * that `run.py` checks and summarises.
  *
  * Usage: PerfMain <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *        <workDir> <resultFile> <cores> <launchEpochMs>
  */
object PerfMain {
  val FixtureReps = 3
  /** Passes every run makes after the cold one. */
  val MinWarmPasses = 3
  /** The passes the warm metrics are taken from: the later half of the
    * passes every run makes, the same pass numbers in every run, so that
    * runs compare at the same JIT stage however many passes a host fits
    * into the run length. Written into the result and the span file. */
  val WarmPasses: Seq[Int] = (MinWarmPasses / 2 + 1) to MinWarmPasses

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, out,
      coresS, launchS) = args
    val seed = seedS.toLong
    val trace = traceS == "1"
    val tracer = new Tracer(trace, s"$workload-$seed-${launchS}", workload)
    val run = tracer.open(-1, workload, "run", -1)
    tracer.attr(run, "cores", coresS.toDouble)
    tracer.attr(run, "warm_first", WarmPasses.head.toDouble)
    tracer.attr(run, "warm_last", WarmPasses.last.toDouble)
    val sessionSpan = tracer.open(run, "session", "setup", -1)
    val spark = SparkSession.builder()
      .master(s"local[$coresS]")
      .config("spark.sql.shuffle.partitions", coresS)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counts = new Counts
    if (trace) spark.sparkContext.addSparkListener(counts)
    // Spark 4 initialises its ICU collation support on the first
    // lower()/upper(), which takes many seconds; pay it before timing.
    spark.range(16).repartition(4)
      .selectExpr("lower('Warm')", "upper('warm')", "initcap('warm')",
        "md5('warm')", "split('a b', ' ')")
      .collect()
    tracer.close(sessionSpan)
    val sessionS = (System.currentTimeMillis() - launchS.toLong) / 1e3

    val w: Workload = workload match {
      case "analytics" =>
        new Analytic(spark, dataDir,
          Workloads.sstable ++ Workloads.relational ++ Workloads.curation)
      case "cql-oltp" => new CqlOltp(spark, seed)
      case other => sys.error(s"unknown workload $other")
    }
    val ctx = new Ctx(spark, tracer, counts, trace)
    val fixtureS = (0 until FixtureReps).map { i =>
      val sp = tracer.open(run, s"fixture$i", "setup", -1)
      val t0 = System.nanoTime()
      w.setup(s"$workDir/fixture$i")
      val dt = (System.nanoTime() - t0) / 1e9
      tracer.close(sp)
      dt
    }
    if (trace) w.traceSetup()

    val ops = w.operations(new Random(seed))
    val results = ArrayBuffer.empty[OpResult]
    // pass 0 is the cold pass; the passes that follow fill the run
    // length, and there are always at least MinWarmPasses of them
    var deadline = Long.MaxValue
    var pass = 0
    while (pass <= MinWarmPasses || System.nanoTime() < deadline) {
      if (pass == 1) deadline = System.nanoTime() + (secondsS.toDouble * 1e9).toLong
      val ps = tracer.open(run, s"pass$pass", "pass", pass)
      ops.zipWithIndex.foreach { case (op, i) =>
        results += op.run(ctx, ps, pass, i)
      }
      w.endPass(ctx, ps, pass).foreach(results += _)
      tracer.close(ps)
      pass += 1
    }
    tracer.close(run)
    if (trace) org.apache.spark.perfbench.Drain(spark.sparkContext)
    val jvm = JvmStats.now()
    tracer.write(out + ".spans.jsonl")
    spark.stop()

    val opsJson = results.map { r =>
      s"""{"pass":${r.pass},"idx":${r.idx},"name":${Json.str(r.name)},""" +
        s""""family":${Json.str(r.family)},"kind":${Json.str(r.kind)},""" +
        s""""ok":${r.ok},"err":${Json.str(r.err)},""" +
        s""""build_s":${r.buildS},"plan_s":${r.planS},"exec_s":${r.execS},""" +
        s""""digest":${Json.str(r.digest)},"rows":${r.rows},""" +
        s""""sample":${r.sample.map(Json.str).mkString("[", ",", "]")}}"""
    }.mkString("[", ",\n", "]")
    val json =
      s"""{"workload":${Json.str(workload)},"seed":$seed,""" +
        s""""session_s":$sessionS,""" +
        s""""warm_passes":${WarmPasses.mkString("[", ",", "]")},""" +
        s""""fixture_s":${fixtureS.mkString("[", ",", "]")},""" +
        s""""checks":${w.checks.map(Json.str).mkString("[", ",", "]")},""" +
        s""""layers":${w.layerStats.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }
          .mkString("{", ",", "}")},""" +
        s""""jvm":${jvm.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }
          .mkString("{", ",", "}")},""" +
        s""""oracle":${w.oracleSql.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
          .mkString("{", ",", "}")},""" +
        s""""ops":$opsJson}"""
    Files.writeString(Paths.get(out), json)
  }
}

/** What the operations share: the session, the tracer and the
  * listener counts, and the phase/operation tags jobs are keyed by. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val counts: Counts, val trace: Boolean) {
  def tag(op: String, phase: String): Unit = {
    spark.sparkContext.setLocalProperty("perfbench.op", op)
    spark.sparkContext.setLocalProperty("perfbench.phase", phase)
  }

  /** Times `body` as one phase span of operation `opKey`. */
  def phase[T](parent: Int, opKey: String, phase: String, pass: Int)(
      body: => T): (T, Double) = {
    tag(opKey, phase)
    val sp = tracer.open(parent, phase, phase, pass)
    val t0 = System.nanoTime()
    val v = body
    val dt = (System.nanoTime() - t0) / 1e9
    tracer.close(sp)
    (v, dt)
  }

  /** Moves the listener counts of an operation's phases onto its span. */
  def attach(span: Int, opKey: String, phases: Seq[String]): Unit =
    if (trace) {
      org.apache.spark.perfbench.Drain(spark.sparkContext)
      phases.foreach { ph =>
        counts.take(s"$opKey/$ph").foreach { case (k, v) =>
          tracer.attr(span, s"$ph.$k", v)
        }
      }
    }
}

trait Op {
  def run(ctx: Ctx, passSpan: Int, pass: Int, idx: Int): OpResult
}

trait Workload {
  /** Builds the fixture under `dir`; the last build is the one used. */
  def setup(dir: String): Unit
  /** Traced runs only: per-layer facts of the fixture, off the clock. */
  def traceSetup(): Unit = ()
  def operations(rnd: Random): Seq[Op]
  def endPass(ctx: Ctx, passSpan: Int, pass: Int): Seq[OpResult] = Nil
  /** Failed end-of-pass state checks; empty when every check held. */
  def checks: Seq[String] = Nil
  def layerStats: Map[String, Double] = Map.empty
  /** The registry's oracle SQL for each operation that has one. */
  def oracleSql: Map[String, String] = Map.empty
}

final case class Query(name: String, family: String)

object Workloads {
  /** Analytic reads of SSTable-lite snapshots through the connector. */
  val sstable: Seq[Query] = Seq(
    "C1_sstable_scan", "C3_cell_deserialize", "C8_pk_pushdown",
    "C8b_multiget", "C9_col_pruning", "C10b_counter_scan",
    "C20_header_agg", "C24_reconcile_scan", "C29_full_read_path",
    "C36_typed_key_scan", "C36b_typed_key_multiget",
    "C41_token_range_scan", "C44_value_zone_scan",
    "C49_partition_stats", "C52_paged_scan").map(Query(_, "sstable"))
  /** TPC-H-shaped relational queries over the parquet tables. */
  val relational: Seq[Query] = Seq(
    "q1_pricing_summary", "Q_TPCH3_shipping_priority", "Q_JOIN2_broadcast_dims")
    .map(Query(_, "relational"))
  /** Dedup and text operators over `documents`. */
  val curation: Seq[Query] = Seq("N_DEDUP2_minhash_lsh", "N_TEXT1_wordcount")
    .map(Query(_, "curation"))
}

/** Registry queries timed phase by phase: build (`fn`), plan
  * (`executedPlan`) and exec (`collect`, the full result). The digest
  * of the collected rows is what `run.py` compares with the oracle.
  * The fixture is the three snapshots the connector queries read. */
final class Analytic(spark: SparkSession, dataDir: String,
    queries: Seq[Query]) extends Workload {
  def setup(dir: String): Unit = {
    // a fresh root per build, so every build writes all three
    System.setProperty("graft.cell.snapshots", dir)
    CellSnapshots.ensure(spark, dataDir)
    CellSnapshots.ensureFull(spark, dataDir)
    CellSnapshots.ensureKeyed(spark, dataDir)
  }

  private val layer = mutable.Map.empty[String, Double]

  override def traceSetup(): Unit = {
    val dirs = Seq(CellSnapshots.ensure(spark, dataDir),
      CellSnapshots.ensureFull(spark, dataDir),
      CellSnapshots.ensureKeyed(spark, dataDir))
    val bytes = dirs.map(d => DirStats.bytes(Paths.get(d))).sum
    val cells = dirs.map(d => spark.read.format("graft.sources.CellSource")
      .load(d).count()).sum
    layer("sources.bytes_per_cell") = bytes.toDouble / cells
  }

  override def layerStats: Map[String, Double] = layer.toMap

  override def oracleSql: Map[String, String] =
    queries.map(q => q.name -> Registry.byName(q.name).oracle
      .getOrElse(sys.error(s"${q.name} has no oracle SQL"))).toMap

  def operations(rnd: Random): Seq[Op] =
    rnd.shuffle(queries).map { q =>
      val g = Registry.byName(q.name)
      new Op {
        def run(ctx: Ctx, passSpan: Int, pass: Int, idx: Int): OpResult = {
          val key = s"$pass:$idx"
          val span = ctx.tracer.open(passSpan, s"${q.family}/${q.name}", "op", pass)
          try {
            val (df, b) = ctx.phase(span, key, "build", pass)(g.fn(spark, dataDir))
            val (plan, p) = ctx.phase(span, key, "plan", pass)(
              df.queryExecution.executedPlan)
            val (rows, e) = ctx.phase(span, key, "exec", pass)(df.collect())
            ctx.tag("-", "-")
            if (ctx.trace) {
              ScanMetrics.of(plan).foreach { case (k, v) => ctx.tracer.attr(span, k, v) }
              ctx.attach(span, key, Seq("build", "plan", "exec"))
            }
            val names = df.schema.fieldNames.toSeq
            val sample =
              if (pass == 0) Canon.lines(names, rows).take(6).toSeq else Nil
            OpResult(pass, idx, q.name, q.family, "query", ok = true, "",
              b, p, e, Canon.digest(names, rows), rows.length, sample)
          } catch {
            case t: Throwable =>
              ctx.tag("-", "-")
              OpResult(pass, idx, q.name, q.family, "query", ok = false,
                String.valueOf(t.getMessage).take(300), 0, 0, 0, "", 0, Nil)
          } finally {
            ctx.tracer.close(span)
            spark.catalog.clearCache()
          }
        }
      }
    }
}

object DirStats {
  def files(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.walk(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      } finally s.close()
    }
  def bytes(d: Path): Long = files(d).map(Files.size).sum
}

object JvmStats {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  def now(): Map[String, Double] = {
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
    val hwm = scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
        .getOrElse(0.0)
    }.getOrElse(0.0)
    Map("jvm.jit_s" -> jit, "jvm.gc_s" -> gc, "jvm.peak_rss_mb" -> hwm)
  }
}
