package graft

import org.apache.spark.sql.functions._
import graft.sources.CellSnapshots

/** Physical-plan assertions (SURVEY §4): the plans we designed for are
  * the plans Catalyst actually produces. Also covers the two
  * partition-physical inventory rows that can't be oracle-checked:
  * Q_SORT2 (SORT BY) and Q_SORT3 (DISTRIBUTE BY / CLUSTER BY).
  */
class PlanSpec extends GraftSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("Q_JOIN2 broadcasts the dims (no fact-side shuffle)") {
    val p = plan(Registry.byName("Q_JOIN2_broadcast_dims").fn(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("Q_TOPK1 plans TakeOrderedAndProject (no global sort)") {
    val p = plan(Registry.byName("Q_TOPK1_global").fn(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("flagship q1 pushes the shipdate filter into the parquet scan") {
    val p = plan(Registry.byName("q1_pricing_summary").fn(spark, sf()))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate,"), p)
    // partial (map-side) aggregation before the shuffle
    assert(p.contains("partial_sum"), p)
  }

  test("Q_SORT2: sortWithinPartitions adds no exchange") {
    val base = Tables.orders(spark, sf())
    val p = plan(base.sortWithinPartitions(col("o_orderdate")))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Sort"), p)
  }

  test("Q_SORT3: DISTRIBUTE BY + SORT BY = hash exchange + local sort") {
    val base = Tables.orders(spark, sf())
    val p = plan(base.repartition(col("o_custkey"))
      .sortWithinPartitions(col("o_orderdate")))
    assert(p.contains("Exchange hashpartitioning(o_custkey"), p)
    assert(p.contains("Sort [o_orderdate"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("N_SIM1 top-k over embeddings avoids a full global sort") {
    val p = plan(Registry.byName("N_SIM1_cosine_topk").fn(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("N_SIM12 filtered ANN: the metadata IN-list reaches the " +
    "parquet scan as a PushedFilter; top-k avoids a global sort") {
    val p = plan(Registry.byName("N_SIM12_filtered_ann")
      .fn(spark, sf()))
    assert(p.contains("PushedFilters: [In(label"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("C1/C8 scan-layer queries run on the DSv2 CellScan") {
    val p1 = plan(Registry.byName("C1_sstable_scan").fn(spark, sf()))
    assert(p1.contains("CellScan"), p1)
    val p8 = plan(Registry.byName("C8_pk_pushdown").fn(spark, sf()))
    assert(p8.contains("pkRange=[3,3]"), p8) // pushed range in the scan
  }

  test("C24 reconcile scan: pk pushed into the merge plan, wt NOT") {
    val p = plan(Registry.byName("C24_reconcile_scan").fn(spark, sf()))
    assert(p.contains("CellReconcileScan"), p)
    // pk point filter reaches the reconcile planner...
    val snap = graft.sources.CellSnapshots.ensure(spark, sf())
    def read() = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(snap)
    val point = plan(read().filter(col("pk") === 3))
    assert(point.contains("pkRange=[3,3]"), point)
    // ...but a wt filter must NOT narrow the scan (pre-merge filtering
    // would resurrect shadowed versions): the scan stays unbounded and
    // Spark filters post-merge.
    val wt = plan(read().filter(col("wt") > 100L))
    assert(wt.contains("CellReconcileScan"), wt)
    assert(wt.contains(s"pkRange=[${Long.MinValue},${Long.MaxValue}]"), wt)
    assert(wt.contains("Filter"), wt)
  }

  test("Q_JOIN12: bucketed tables join with no shuffle exchange") {
    // Bucketing pre-partitions both sides on the join key at write
    // time — the co-located-join path a 100 TB fact/fact join needs
    // (shuffle once at layout time, never per query).
    // The derby-less in-memory catalog forgets tables between JVMs but
    // their warehouse directories persist — clear both.
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    Seq("b_orders", "b_lineitem").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
    Tables.orders(spark, sf()).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("b_orders")
    Tables.lineitem(spark, sf()).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("b_lineitem")
    // Disable auto-broadcast so the join is the fact/fact SMJ shape the
    // bucketing is for (at real scale neither side broadcasts).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice")).as("rev"))
      joined.collect() // finalize adaptive plan
      val p = joined.queryExecution.executedPlan.toString
      // The join reads pre-bucketed sides: neither join key is ever
      // exchanged (the only Exchange is the final tiny aggregation's).
      assert(p.contains("SortMergeJoin"), p)
      assert(p.contains("Bucketed: true"), p)
      assert(!p.contains("Exchange hashpartitioning(l_orderkey"), p)
      assert(!p.contains("Exchange hashpartitioning(o_orderkey"), p)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    // Equal row count with the shuffled join (same semantics).
    val plain = Tables.lineitem(spark, sf()).join(
      Tables.orders(spark, sf()),
      col("l_orderkey") === col("o_orderkey")).count()
    val bucketed = spark.table("b_lineitem").join(spark.table("b_orders"),
      col("l_orderkey") === col("o_orderkey")).count()
    assert(bucketed == plain)
  }

  test("N_DEDUP4: planner broadcasts small candidates, without a hint") {
    // The candidate side carries NO broadcast hint (a hot band bucket
    // can make it super-linear; a forced broadcast then kills the
    // driver) — the planner/AQE must still pick broadcast here from
    // the actual small size.
    val df = Registry.byName("N_DEDUP4_ngram_jaccard").fn(spark, sf())
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(plan(df).contains("BroadcastHashJoin"))
  }

  test("partitioned layout gets partition pruning (PartitionFilters)") {
    // Hive-style partitioned parquet: the o_orderstatus predicate must
    // prune DIRECTORIES at planning time (PartitionFilters), never
    // touching other partitions' files — at 100 TB, date/tenant
    // partition pruning is the first line of scan reduction.
    val dir = GraftSpec.targetDir("part-orders")
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      Tables.orders(spark, sf()).write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(dir.toString)
    }
    val df = spark.read.parquet(dir.toString)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    val p = plan(df)
    assert(p.contains("PartitionFilters: [isnotnull(o_orderstatus"), p)
    assert(p.contains("(o_orderstatus") && p.contains("= F)"), p)
    val full = Tables.orders(spark, sf())
      .filter(col("o_orderstatus") === "F").count()
    assert(df.count() == full)
  }

  test("dynamic partition pruning fires on a partitioned fact join") {
    // DPP: the runtime values of the dim side's join keys prune fact
    // partitions the static optimizer can't — the standard star-join
    // accelerator on date/tenant-partitioned 100 TB facts.
    val dir = GraftSpec.targetDir("part-orders")
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      Tables.orders(spark, sf()).write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(dir.toString)
    }
    import spark.implicits._
    // DPP needs a file-backed, filtered dim (LocalRelation doesn't
    // qualify for the pruning-subquery rewrite).
    val dimDir = GraftSpec.targetDir("part-dim")
    if (!new java.io.File(dimDir, "_SUCCESS").exists()) {
      Seq(("F", "finished"), ("O", "open"), ("P", "pending"))
        .toDF("st", "label").write.mode("overwrite")
        .parquet(dimDir.toString)
    }
    val dim = spark.read.parquet(dimDir.toString)
      .filter(col("label") === "finished")
    val joined = spark.read.parquet(dir.toString)
      .join(dim, col("o_orderstatus") === col("st"))
      .select(col("o_orderkey"), col("label"))
    val p = plan(joined)
    assert(p.toLowerCase.contains("dynamicpruning"), p)
  }

  test("Q_JOIN14 pushes the part filter into the scan and broadcasts dims") {
    val p = plan(Registry.byName("Q_JOIN14_profit").fn(spark, sf()))
    assert(p.contains("StringContains(p_name,red)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // At 100 TB a selectively-filtered dim beside a shuffle join should
    // push a bloom filter of its join keys into the fact scan — rows
    // that can't match die before the exchange. Thresholds tuned so
    // the InjectRuntimeFilter conditions hold on test-sized data.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"${sf("sf0.01")}/lineitem.parquet")
      val ord = spark.read.parquet(s"${sf("sf0.01")}/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("bloom_filter"), p)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Q_JOIN15 binned range join plans an equi join, not a nested loop") {
    val p = plan(Registry.byName("Q_JOIN15_binned_range").fn(spark, sf()))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the bin is a real equi key: a hash-partitionable join both sides
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("C20 header agg plans the header-only CellAggScan") {
    val p = plan(Registry.byName("C20_header_agg").fn(spark, sf()))
    assert(p.contains("CellAggScan"), p)
  }

  test("flagship q1 and the funnel run inside whole-stage codegen") {
    // AQE prints codegen spans only once the final plan materializes —
    // execute first, then inspect.
    def finalPlan(name: String): String = {
      val df = Registry.byName(name).fn(spark, sf())
      df.collect() // count() would execute a DIFFERENT (re-planned) query
      df.queryExecution.executedPlan.toString
    }
    // "*(n)" is the WholeStageCodegen stage marker in plan toString.
    val q1 = finalPlan("q1_pricing_summary")
    assert(q1.contains("isFinalPlan=true") && q1.contains("*("), q1)
    val f = finalPlan("N_PIPE1_curation_funnel")
    assert(f.contains("isFinalPlan=true") && f.contains("*("), f)
  }

  test("C18b index lookup: point scan on the index, broadcast semi join") {
    val p = plan(Registry.byName("C18b_index_scan").fn(spark, sf()))
    // the equality lookup runs as a pk-pushed scan of the INDEX cell
    // table (partition key = indexed value)…
    assert(p.contains("CellScan") && p.contains("pkRange=[2500,2500]"), p)
    // …and the tiny hit set broadcasts into a semi join — never a
    // shuffled or nested-loop join against the base relation
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("C10b counter scan plans the shard-SUM reconcile merge") {
    val p = plan(Registry.byName("C10b_counter_scan").fn(spark, sf()))
    assert(p.contains("counter shard-SUM k-way merge"), p)
  }

  test("C22 per-partition limit runs in the merge cursor, no window") {
    val p = plan(Registry.byName("C22_per_partition_limit")
      .fn(spark, sf()))
    // the CQL clause executes inside the reconcile scan; the plan must
    // hold NO row_number window over the full reconciled view
    assert(p.contains("CellReconcileScan"), p)
    assert(!p.contains("row_number"), p)
    assert(!p.contains("Window"), p)
  }

  test("LIMIT pushes into the cell scan (partial, per-reader cap)") {
    val d = CellSnapshots.ensure(spark, sf())
    val df = spark.read.format("graft.sources.CellSource").load(d)
      .limit(7)
    assert(df.count() == 7)
    val p = df.queryExecution.executedPlan.toString
    // DSv2 prints pushed limits on the scan line
    assert(p.contains("PushedLimit") || p.toLowerCase.contains("limit"),
      p)
  }

  test("small-hit index lookup composes into a base multiget (C18c)") {
    import java.nio.file.Files
    import graft.sources.{CellIndex, CellSource}
    val base = Files.createTempDirectory("cells-mg-base").toString
    val idx = Files.createTempDirectory("cells-mg-idx").toString
    CellSource.writeSnapshot(base, (0 until 200).map(i =>
      (i.toLong, 1, "qty", (i % 50).toLong, 10L)), files = 4)
    CellIndex.build(spark, base, idx, "qty")
    val df = CellIndex.lookupBase(spark, base, idx, 7L)
    // 4 hits ≤ multigetMax → the probe plans as pk IN (...) point
    // reads of the base scan: no join node at all
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("CellReconcileScan"), p)
    assert(!p.contains("Join"), p)
    assert(df.filter(col("col") === "qty").count() == 4)
    // past the bound it falls back to the broadcast semi join
    val big = CellIndex.lookupBase(spark, base, idx, 7L, multigetMax = 2)
    val bp = big.queryExecution.executedPlan.toString
    assert(bp.contains("Join"), bp)
    assert(big.filter(col("col") === "qty").count() == 4)
  }

  test("ORDER BY natural prefix LIMIT pushes TopN into the scan") {
    import java.nio.file.Files
    import graft.sources.CellSource
    val d = Files.createTempDirectory("cells-topn").toString
    CellSource.writeSnapshot(d, (0 until 5000).map(i =>
      (i.toLong, 1, "qty", i.toLong, 10L)), files = 4)
    val df = spark.read.format("graft.sources.CellSource").load(d)
      .orderBy("pk", "ck").limit(5)
    // the pushed top-n caps every partition reader — anchor on the
    // SCAN description ("limit=n cols="); TakeOrderedAndProject
    // prints "limit=n" whether or not anything was pushed
    assert(df.queryExecution.executedPlan.toString
      .contains("limit=5 cols="),
      df.queryExecution.executedPlan.toString)
    assert(df.collect().map(_.getLong(0)).toSeq ==
      (0L until 5L).toSeq)
    // descending order is refused — correctness over cleverness
    val desc = spark.read.format("graft.sources.CellSource").load(d)
      .orderBy(col("pk").desc).limit(3)
    assert(desc.collect().map(_.getLong(0)).toSeq ==
      Seq(4999L, 4998L, 4997L))
    // reconcile scans cap the merged stream the same way
    val rec = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .orderBy("pk").limit(3)
    assert(rec.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
  }

  test("N_DEDUP7 segment dedup: hash-keyed joins only, partial aggs") {
    val p = plan(Registry.byName("N_DEDUP7_segment_dedup").fn(spark, sf()))
    // never doc×doc: the duplicated-span join must be an equi join on
    // the segment hash, and every aggregate must have a map-side phase
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("Q_XFORM: script transform plans the streaming pipe operator") {
    val p = plan(Registry.byName("Q_XFORM1_script_transform")
      .fn(spark, sf()))
    // per-partition subprocess pipe, then an ordinary partial agg
    assert(p.contains("ScriptTransformation"), p)
    assert(p.contains("partial_count"), p)
  }

  test("TPC-H sweep: subquery shapes decorrelate, top-k avoids sorts") {
    // Q3: global top 10 must be TakeOrderedAndProject, never a full sort
    val p3 = plan(Registry.byName("Q_TPCH3_shipping_priority").fn(spark, sf()))
    assert(p3.contains("TakeOrderedAndProject"), p3)
    // Q4: EXISTS decorrelates to a left-semi join — no per-row re-exec,
    // no nested loop
    val p4 = plan(Registry.byName("Q_TPCH4_priority_exists").fn(spark, sf()))
    assert(p4.contains("LeftSemi"), p4)
    assert(!p4.contains("CartesianProduct"), p4)
    // Q21: the registry runs the single-pass DataFrame form
    // (Tpch.scala:439-466, the comment above `q21`) — lineitem is
    // scanned once and shuffled once on l_orderkey, and the per-order
    // EXISTS / NOT EXISTS properties are counts over a window on that
    // key; the SQL text's semi + anti joins would scan lineitem three
    // times. Nothing quadratic survives planning.
    val p21 = plan(Registry.byName("Q_TPCH21_waiting_supplier").fn(spark, sf()))
    assert("""FileScan parquet [^\n]*lineitem\.parquet""".r
      .findAllIn(p21).size == 1, p21)
    assert("""Exchange hashpartitioning\(l_orderkey#""".r
      .findAllIn(p21).size == 1, p21)
    assert("""Window \[[^\n]*windowspecdefinition\(l_orderkey#""".r
      .findFirstIn(p21).isDefined, p21)
    assert(!p21.contains("CartesianProduct") &&
      !p21.contains("BroadcastNestedLoopJoin"), p21)
    // Q16: the NOT IN blacklist is a null-aware anti join, broadcast
    // (supplier is tiny); the distinct count keeps a partial phase
    val p16 = plan(Registry.byName("Q_TPCH16_supplier_cnt").fn(spark, sf()))
    assert(p16.contains("LeftAnti"), p16)
    // Q6: all three predicates reach the parquet scan
    val p6 = plan(Registry.byName("Q_TPCH6_forecast_revenue").fn(spark, sf()))
    assert(p6.contains("PushedFilters: [IsNotNull(l_shipdate)"), p6)
    assert(p6.contains("partial_sum"), p6)
  }

  test("N_SIM11 routes per-node k-NN through the TopKPerKey phases") {
    // round 10: the mutual-kNN top-k runs on the partial-heap
    // operator (prune to <=k per src BEFORE the shuffle), not a full
    // window sort of the symmetric edge list
    val p = plan(Registry.byName("N_SIM11_mutual_knn").fn(spark, sf()))
    assert(p.contains("GraftTopKPerKeyPartial"), p)
    assert(p.contains("GraftTopKPerKeyFinal"), p)
    assert(!p.contains("Window"), p)
  }

  test("registry-wide plan lint: no cartesian product or nested-loop " +
      "join outside the audited allowlist") {
    // The machine-checked "plans you'd want at 100x" bar: EVERY
    // declared query is planned and refused if it contains a
    // CartesianProduct or BroadcastNestedLoopJoin, unless the query
    // is on this audited allowlist — each entry names WHY its
    // nested-loop shape is bounded/intentional. A new query that
    // accidentally plans a cross product fails this test, not the
    // 100 TB cluster.
    // Audited this round: each nested-loop's build side is an
    // explicit broadcast() of a BOUNDED relation (one-row totals,
    // k query vectors, m x 16 codebooks, <=256-row models) or a
    // bounded dim pair — the shapes the 100 TB designs call for.
    val allowed: Map[String, String] = Map(
      "Q_JOIN7_cross" -> "explicit CROSS JOIN of region x nation (5 x 25)",
      "Q_JOIN8_theta" -> ("theta self-join on supplier; banded twin " +
        "is Q_JOIN15 (the scale path), documented at the query"),
      "Q_SAMP1_tablesample" -> "sample crossJoin broadcast(one-row total)",
      "N_SIM1_cosine_topk" -> "crossJoin broadcast(k query vectors)",
      "N_SIM7_batch_topk" -> "crossJoin broadcast(5 query vectors)",
      "N_SIM4_ivf_topk" -> "probe list: broadcast(codebook x query)",
      "N_SIM12_filtered_ann" -> ("N_SIM4's shape over the filtered " +
        "slice: broadcast(codebook x query)"),
      "N_SIM5_quantized" -> "crossJoin broadcast(1 query vector)",
      "N_SIM9_pq_rerank" -> "rerank joins broadcast(candidate ids)",
      "N_DEDUP9_semdedup" -> ("cluster-blocked: crossJoin " +
        "broadcast(centroids, k rows)"),
      "N_TEXT2_tfidf" -> "idf crossJoin broadcast(one-row doc count)",
      "N_TEXT8_bigram_pmi" -> "pmi crossJoin one-row total counts",
      "N_UDF1_cosine_udf" -> "crossJoin broadcast(1 query vector)",
      "S_STATE2_watermark" -> ("events crossJoin broadcast(one-row " +
        "max event time)"),
      "N_SKETCH4_kmv_jaccard" -> "one-row sketch crossJoin one-row exact",
      "N_SKETCH5_kmv_set_algebra" -> ("lang-pair frame: non-equi " +
        "self-join of the <=|langs|-row theta relation, and the " +
        "OR-join of pairs x O(k*langs) sketch rows"),
      "N_MIX1_domain_weights" -> "crossJoin broadcast(one-row total mass)",
      "N_TOK3_bpe_merges" -> ("per round: crossJoin " +
        "broadcast(ONE-ROW best pair)"),
      "N_TOK4_bpe_encode" -> ("same trainer shape: crossJoin " +
        "broadcast(ONE-ROW best pair) per merge round"),
      "N_MIX2_token_budget" -> ("crossJoin broadcast(one-row corpus " +
        "totals); budgets are a <=|sources| broadcast equi-join"),
      "N_SCORE2_lm_perplexity" -> ("crossJoin one-row totals; " +
        "model is a broadcast equi-join"),
      "N_SCORE3_dsir_weights" -> "crossJoin one-row vocab size",
      "N_SAMP4_dsir_resample" -> "crossJoin one-row weight total")
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    Registry.all.foreach { q =>
      val p =
        try plan(q.fn(spark, sf()))
        catch {
          case e: Throwable =>
            fail(s"${q.name} failed to build/plan: ${e.getMessage}")
        }
      val cart = p.contains("CartesianProduct")
      val bnlj = p.contains("BroadcastNestedLoopJoin")
      if ((cart || bnlj) && !allowed.contains(q.name))
        bad += s"${q.name} (${if (cart) "cartesian" else "nested-loop"})"
    }
    assert(bad.isEmpty,
      s"queries planning a cross-product shape without an audited " +
        s"allowlist entry:\n  ${bad.mkString("\n  ")}")
  }
}
