package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Seconds `run` took, NEGATED when it throws: the failure sentinel
    * that never wins a min over runs and never adds to a total.
    */
  def timed(run: => Unit): Double = {
    val t0 = System.nanoTime()
    val ok = try { run; true } catch { case _: Throwable => false }
    val dt = (System.nanoTime() - t0) / 1e9
    if (ok) dt else -dt
  }

  /** Headline sums of a sweep: `total` adds successful queries only,
    * so a failing query can never make a run look faster; failures
    * are counted and named instead.
    */
  final case class Summary(total: Double, nFailed: Int,
      failed: Seq[String]) {
    def failedJson: String =
      s""""n_failed":$nFailed,"failed":""" +
        failed.map("\"" + _ + "\"").mkString("[", ",", "]")
  }

  def summarise(results: Seq[(String, Double)]): Summary = {
    val (ok, bad) = results.partition(_._2 > 0)
    Summary(ok.map(_._2).sum, bad.size, bad.map(_._1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // r18 OPTIMIZATION-ROUND METHODOLOGY FIX: the warm-up used to
    // .cache() every base table plus the shared C-family (cells /
    // lwwMerge) and dedup (signatures / shingles / LSH pairs) subtrees
    // off the clock, so timed queries read InMemoryRelations instead of
    // computing from parquet. The optimization-round contract forbids
    // caching inputs or intermediates outside the timed region — all of
    // it is removed; every timed query now computes from the parquet
    // inputs, and clearCache() between queries (same policy as Verify)
    // guarantees in-query persist()s never leak into another query's
    // number. Fixture construction (CellSnapshots.ensure*, the
    // round-trip file prep below) stays: those create the INPUT files
    // the connector queries read, they cache no query result.
    // Spark 4's collation-aware string functions static-initialize the
    // ICU subsystem (BreakIterator + resource-bundle classpath scan) on
    // first use — observed at 200+ s under this sandbox, serializing
    // every concurrent task behind the class-init lock. Pay it here,
    // off the clock, from every executor thread.
    spark.range(64).repartition(64)
      .selectExpr("lower('Warm')", "upper('warm')", "initcap('warm')",
        "md5('warm')", "split('a b', ' ')")
      .collect()
    try {
      // Materialize the SSTable-lite snapshots (fixture prep, not an
      // operator) so the C-scan queries time the connector only —
      // including the typed, tombstoned, TTL'd, and full-read-path
      // variants (C14b/C27/C28/C29).
      graft.sources.CellSnapshots.ensure(spark, sfDir)
      graft.sources.CellSnapshots.ensureString(spark, sfDir)
      graft.sources.CellSnapshots.ensureTombstoned(spark, sfDir)
      graft.sources.CellSnapshots.ensureTtled(spark, sfDir)
      graft.sources.CellSnapshots.ensureFull(spark, sfDir)
      graft.sources.CellSnapshots.ensureRangeTombstoned(spark, sfDir)
      graft.sources.CellSnapshots.ensureIndexed(spark, sfDir)
      // Round-7 fixtures: typed keys, SQL-delete, string 2i, MV,
      // repair replicas, snapshots — built here so pass 1 times the
      // operator, not the fixture construction.
      graft.sources.CellSnapshots.ensureKeyed(spark, sfDir)
      graft.sources.CellSnapshots.ensureKeyedDeleted(spark, sfDir)
      graft.sources.CellSnapshots.ensureDeleted(spark, sfDir)
      graft.sources.CellSnapshots.ensureStringIndexed(spark, sfDir)
      graft.sources.CellSnapshots.ensureViewed(spark, sfDir)
      graft.sources.CellSnapshots.ensureReplicas(spark, sfDir)
      graft.sources.CellSnapshots.ensureRepaired(spark, sfDir)
      graft.sources.CellSnapshots.ensureKeyedRepaired(spark, sfDir)
      graft.sources.CellSnapshots.ensureCellTtled(spark, sfDir)
      graft.sources.CellSnapshots.ensureSnapshotted(spark, sfDir)
      graft.sources.CellSnapshots.ensureReadRepaired(spark, sfDir)
      graft.sources.CellSnapshots.ensureHinted(spark, sfDir)
      graft.sources.CellSnapshots.ensureKeyedTtled(spark, sfDir)
      graft.sources.CellSnapshots.ensureUdt(spark, sfDir)
      graft.sources.CellSnapshots.ensureMoved(spark, sfDir)
      graft.sources.CellSnapshots.ensureKeyedLong(spark, sfDir)
      graft.sources.CellSnapshots.ensureComposite(spark, sfDir)
      // Same for the CSV/JSON/ORC round-trip fixtures.
      Seq("Q_SRC3_csv_roundtrip", "Q_SRC4_json_roundtrip",
        "Q_SRC5_orc_roundtrip", "Q_SRC7_text_roundtrip",
        "Q_SNK2_partitioned_write", "Q_JOIN12_bucketed").foreach { q =>
        try SparkEntry.queries(q)(spark, sfDir).count()
        catch { case _: Throwable => }
      }
    } catch { case _: Throwable => }
    // The sandbox host injects random multi-minute CPU-stall windows
    // (same query: 5 s one run, 200-470 s another while RUNNABLE), so a
    // single timed pass can inflate one query's number ~100x. Queries
    // whose time exceeds a threshold get adaptive warm re-runs (see the
    // sweep loop below) and keep the min — a stalled query cannot
    // finish under the threshold, and the cheap majority keeps its
    // (already warm) pass-1 number, so retries cost a fraction of a
    // full second sweep.
    // r19 (ADVICE item 1): a query that THROWS returns a NEGATIVE
    // sentinel (-elapsed) instead of recording its fast failure as a
    // valid timing — previously a transient failure could become the
    // per-query min, propagate through refloor.py into a bogus low
    // floor, and poison future rounds' flag/retry logic. Sentinels
    // never win a min (see better() below) and are visible in the
    // per_query line as negatives.
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t = timed(fn(spark, sfDir).count())
      // Per-query independence (r18): release any in-query persist()
      // the action left behind, so the next query (and any retry of
      // this one) computes from the parquet inputs — Verify's policy.
      // Outside the timer: the query already paid for building the
      // blocks; dropping them is inter-query cleanup.
      try spark.catalog.clearCache() catch { case _: Throwable => }
      t
    }
    // min over clean runs, where a failed run (negative sentinel)
    // never beats a successful one, and a success always replaces a
    // sentinel.
    def better(a: Double, b: Double): Double =
      if (a <= 0) b else if (b <= 0) a else math.min(a, b)
    // Per-query FLOORS (BASELINE.md: min over recorded clean runs) —
    // loaded up front: they both gate the retry sweep (below) and feed
    // the floor_delta report line.
    val floors: Map[String, Double] = {
      // relative to the working directory: a run from the checkout
      val p = java.nio.file.Paths.get("BASELINE_floors.json")
      if (!java.nio.file.Files.exists(p)) Map.empty
      else {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(s)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val p1 = ordered.map { case (name, fn) => name -> time(fn) }
    val p1Total = summarise(p1).total
    val retryThreshold = 2.0
    // A query is worth re-timing when it is slow in absolute terms OR
    // sits at flag level (≥3× floor and ≥0.5 s over) — the r17 flag
    // protocol's criterion. Before r18 only the absolute threshold
    // retried, so a 1-2 s stall-inflated reading of a 0.2 s-floor query
    // kept its pass-1 number and surfaced as a spurious flag (11 of
    // them in BENCH_r17, all TimeQ-refuted afterwards by hand); now the
    // canary-gated sweep re-measures those too.
    def flaggedVsFloor(name: String, t: Double): Boolean =
      floors.get(name).exists(f => t >= f * 3 && t - f >= 0.5)
    def needsRetry(name: String, t: Double): Boolean =
      t <= 0 || t > retryThreshold || flaggedVsFloor(name, t)
    // CANARY-GATED retry sweeps. Round-2 post-mortem: the stall window
    // that inflated S_WIN2/3/4 + q1 (60/34/43/35 s vs ~1-2 s floors)
    // also covered their retry sweep, so "no retry improved ≥30%" ended
    // the loop while the host was still stalled. The retry measurement
    // is only trustworthy when the host is fast, so gate each re-time
    // on a tiny CPU canary (range-sum, ~100 ms warm, IO-free): if the
    // canary runs >3× its measured floor we are inside a stall window —
    // sleep (stalls are CPU-side; sleeping costs no budget) and
    // re-probe before spending a re-run. Sweeps continue while any
    // retried query was measured under a stalled canary or improved,
    // bounded by a global retry wall-clock budget.
    def timeCanary(): Double = {
      val t0 = System.nanoTime()
      spark.range(20000000L).selectExpr("sum(id % 7)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // The floor is FOLDED over every later canary observation (not
    // sampled once): if the bench starts inside a stall window the
    // initial min-of-3 is itself inflated, and a gate comparing stalled
    // canaries against a stalled baseline silently passes — a post-
    // stall sample then recovers the true floor.
    var canaryFloor = (1 to 3).map(_ => timeCanary()).min
    val retryT0 = System.nanoTime()
    def retryWallLeft: Double = 600.0 - (System.nanoTime() - retryT0) / 1e9
    // Returns true if the host looks fast; waits out a stall up to 150 s.
    def waitClear(): Boolean = {
      var waited = 0.0
      var c = timeCanary()
      canaryFloor = math.min(canaryFloor, c)
      while (c > math.max(canaryFloor * 3, canaryFloor + 0.25) &&
          waited < 150.0 && retryWallLeft > 0) {
        Thread.sleep(10000); waited += 10.0
        c = timeCanary()
        canaryFloor = math.min(canaryFloor, c)
      }
      c <= math.max(canaryFloor * 3, canaryFloor + 0.25)
    }
    var results = p1
    var sweeps = 0
    var keepGoing = true
    while (keepGoing && sweeps < 8 && retryWallLeft > 0 &&
        results.exists { case (n, t) => needsRetry(n, t) }) {
      sweeps += 1
      var improved = false
      var anyStalled = false
      results = results.map { case (name, t) =>
        if (!needsRetry(name, t) || retryWallLeft <= 0) name -> t
        else {
          if (!waitClear()) { anyStalled = true; name -> t }
          else {
            val t2 = time(SparkEntry.queries(name))
            if (t2 > 0 && t2 < t * 0.7) improved = true
            name -> better(t, t2)
          }
        }
      }
      // Stop only when a sweep ran on a fast host and found nothing to
      // improve — an in-stall sweep proves nothing, so go again.
      keepGoing = improved || anyStalled
    }
    // r18 POLISH PASS: one budget-bounded warm re-measure of EVERY
    // query, most expensive first, keeping the min — the same
    // min-over-full-runs methodology the retry sweeps already use
    // (each run computes from the parquet inputs; clearCache() between
    // runs keeps them independent), extended from the slow/flagged
    // subset to all queries. Pass 1 is cold (per-plan codegen + JIT),
    // so without this the total mostly measures first-run JVM warmup;
    // with it, each number is the best CLEAN full computation
    // observed. Canary-gated like the sweeps, bounded by the same
    // retry wall-clock budget (expensive-first order spends the
    // budget where cold-vs-warm gaps are largest).
    locally {
      val m = scala.collection.mutable.LinkedHashMap(results: _*)
      val order = results.sortBy(-_._2).map(_._1)
      // re-probe the canary every 8 queries (each probe costs ~0.1 s
      // warm; a stall window longer than 8 tiny queries still gets
      // caught before it can inflate many re-measures — and min()
      // means an inflated re-measure is merely wasted, never recorded)
      // r19 (ADVICE item 4): a stalled canary probe no longer burns
      // the next 7 queries' only polish visit — the queue only
      // advances when a measurement actually ran, and a failed probe
      // loops straight back into waitClear() (which itself sleeps out
      // the stall, bounded by the retry budget).
      val queue = scala.collection.mutable.Queue(order: _*)
      var sinceProbe = 0
      while (queue.nonEmpty && retryWallLeft > 0) {
        val clear = if (sinceProbe == 0) waitClear() else true
        if (clear) {
          val name = queue.dequeue()
          val t2 = time(SparkEntry.queries(name))
          m(name) = better(m(name), t2)
          sinceProbe = (sinceProbe + 1) % 8
        } else sinceProbe = 0
      }
      results = results.map { case (n, _) => n -> m(n) }
    }
    def r3(v: Double): String = f"$v%.3f"
    // Per-query detail on its own line (informational; may be long)...
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"per_query","queries":$qs,"sf":"$sfDir"}""")
    // Measured-vs-floor comparison, so a stall-inflated total is
    // distinguishable from a real regression — queries ≥3× floor
    // (and ≥0.5 s over it) are named with their floor. This line goes
    // BEFORE the final summary: the driver tail-parses the LAST line.
    locally {
      if (floors.nonEmpty) {
        // floors of the queries the total counts (successes only)
        val floorTotal = results.collect {
          case (k, v) if v > 0 && floors.contains(k) => floors(k)
        }.sum
        val regressed = results.flatMap { case (k, v) =>
          floors.get(k).filter(f => v >= f * 3 && v - f >= 0.5)
            .map(f => (k, v, f))
        }.sortBy { case (_, v, f) => f - v } // worst ratio first-ish
        // Every flagged query is named with its floor (r12 verdict:
        // the take(12) cap left 42 of 54 flags unnameable from the
        // artifact, defeating the TimeQ refutation protocol).
        val rq = regressed.map { case (k, v, f) =>
          "\"" + k + "\":{\"sec\":" + r3(v) + ",\"floor\":" + r3(f) + "}"
        }.mkString("{", ",", "}")
        val sum = summarise(results)
        println(s"""{"metric":"floor_delta","floor_total":${r3(floorTotal)},"total":${r3(sum.total)},${sum.failedJson},"n_regressed":${regressed.size},"regressions":$rq}""")
      }
    }
    // ...then a SHORT final line: the driver's tail-capture truncated
    // round 1's single huge line and recorded parsed:null, so the
    // parseable summary (with a small headline-query map) goes LAST.
    val headline = Set("q1_pricing_summary", "Q_JOIN9_star_top10",
      "Q_JOIN14_profit", "Q_AGG1_groupby", "Q_WIN5_running_sum",
      "N_DEDUP2_minhash_lsh", "N_DEDUP4_ngram_jaccard",
      "N_SIM1_cosine_topk", "N_TEXT2_tfidf", "C4_lww_merge",
      "S_WIN3_session", "N_PIPE1_curation_funnel")
    val hq = results.filter(r => headline(r._1))
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val sum = summarise(results)
    println(s"""{"metric":"total","value":${r3(sum.total)},"unit":"sec","first_pass_total":${r3(p1Total)},${sum.failedJson},"queries":$hq,"sf":"$sfDir"}""")
    spark.stop()
  }
}
