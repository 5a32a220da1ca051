package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.cassandra.CellModel
import graft.sources.CellSource

/** The DSv2 SSTable-lite source: snapshot round-trip, split pruning by
  * pk pushdown (C8), and column pruning (C9).
  */
class SourceSpec extends GraftSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("cells-snap").toString
    val cells = CellModel.cells(spark, sf())
      .as[(Long, Int, String, Long, Long)].collect().toSeq
    CellSource.writeSnapshot(d, cells, files = 8)
    d
  }

  private def read() = spark.read.format("graft.sources.CellSource").load(dir)

  test("snapshot round-trips through the DSv2 source") {
    val back = read()
    val orig = CellModel.cells(spark, sf())
    assert(back.count() == orig.count())
    assert(back.except(orig).isEmpty && orig.except(back).isEmpty)
  }

  test("pk pushdown prunes data files at planning time (C8)") {
    val all = read()
    assert(all.rdd.getNumPartitions == 8)
    val pk = CellModel.cells(spark, sf())
      .select(min(col("pk"))).as[Long].head()
    val one = read().filter(col("pk") === pk)
    // min pk lives in exactly the first sorted file → 7 files pruned.
    assert(one.rdd.getNumPartitions == 1)
    assert(one.count() > 0)
  }

  test("column pruning reaches the scan (C9)") {
    val plan = read().select(col("pk"), col("value"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("cols=pk,value"), plan)
  }

  test("reconciliation operators run unchanged on the DSv2 scan (C4)") {
    val viaSource = CellModel.lwwMerge(read())
    val viaParquet = CellModel.lwwMerge(CellModel.cells(spark, sf()))
    assert(viaSource.except(viaParquet).isEmpty &&
      viaParquet.except(viaSource).isEmpty)
  }

  test("bloom filter prunes a point lookup min/max can't (C8)") {
    // One file holding only even pks 0..200: any odd pk is inside the
    // Summary [min,max] range, so only the bloom filter can prove it
    // absent and drop the file at planning time.
    val d = Files.createTempDirectory("cells-bloom").toString
    val cells = (0L to 200L by 2).map(pk => (pk, 0, "qty", pk, 1000L))
    CellSource.writeSnapshot(d, cells, files = 1)
    val bloomed = spark.read.format("graft.sources.CellSource").load(d)
      .filter(col("pk") === 151L)
    assert(bloomed.rdd.getNumPartitions == 0, "expected bloom prune")
    // Control: a present pk keeps the file.
    val hit = spark.read.format("graft.sources.CellSource").load(d)
      .filter(col("pk") === 150L)
    assert(hit.rdd.getNumPartitions == 1 && hit.count() == 1)
  }

  test("index sub-splits cut one large file into partitions (C2)") {
    val d = Files.createTempDirectory("cells-subsplit").toString
    val cells = (0L until 10000L).map(pk => (pk, 0, "qty", pk, 1000L))
    CellSource.writeSnapshot(d, cells, files = 1, indexEvery = 512,
      chunkRecords = 2500)
    val df = spark.read.format("graft.sources.CellSource")
      .option("subsplitRecords", "2500").load(d)
    assert(df.rdd.getNumPartitions == 4) // 4 compression chunks
    assert(df.count() == 10000)
    // Range query: the sparse index narrows the scanned record range
    // (rounded to chunk bounds), so fewer sub-splits survive — and
    // results stay exact.
    val ranged = spark.read.format("graft.sources.CellSource")
      .option("subsplitRecords", "2500").load(d)
      .filter(col("pk") >= 9000L)
    assert(ranged.rdd.getNumPartitions <= 2)
    assert(ranged.count() == 1000)
  }

  test("writetime zone maps prune chunks for incremental scans (C16)") {
    val d = Files.createTempDirectory("cells-zonemap").toString
    // wt grows with pk, so pk-sorted chunks have disjoint wt ranges.
    val cells = (0L until 10000L).map(pk => (pk, 0, "qty", 1L, pk * 10))
    CellSource.writeSnapshot(d, cells, files = 1, chunkRecords = 2500)
    def read() = spark.read.format("graft.sources.CellSource")
      .option("subsplitRecords", "2500").load(d)
    assert(read().rdd.getNumPartitions == 4)
    // Only the last chunk holds wt >= 75000 — 3 of 4 chunks pruned.
    val recent = read().filter(col("wt") >= 75000L)
    assert(recent.rdd.getNumPartitions == 1, "expected zone-map prune")
    assert(recent.count() == 2500)
    // Middle slice: only the two boundary-straddling chunks survive
    // (chunk bounds: [0,24990] [25000,49990] [50000,74990] …).
    val mid = read().filter(col("wt") >= 24990L && col("wt") < 50000L)
    assert(mid.rdd.getNumPartitions == 2)
    assert(mid.count() == 2501)
  }

  test("compression chunks round-trip and shrink the file (Data.db+CompressionInfo)") {
    val d = Files.createTempDirectory("cells-compress").toString
    // Highly compressible: constant values.
    val cells = (0L until 50000L).map(pk => (pk, 1, "qty", 7L, 1000L))
    CellSource.writeSnapshot(d, cells, files = 1)
    val file = Files.list(java.nio.file.Paths.get(d)).iterator()
      .asScala.filter(_.toString.endsWith(".cells")).next()
    val rawBytes = 50000L * CellSource.RecordBytes
    assert(Files.size(file) < rawBytes / 4,
      s"expected 4x+ compression, got ${Files.size(file)} of $rawBytes")
    val back = spark.read.format("graft.sources.CellSource").load(d)
    assert(back.count() == 50000)
    assert(back.agg(sum(col("value"))).head().getLong(0) == 350000L)
  }

  test("columnar read: batches feed the plan, parity with the cell model") {
    // The scan is vectorized: the plan converts batches.
    val plan = read().queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    // Multiset-identical to the cells the snapshot was written from:
    // full scan, projection, and a pk filter that drops rows mid-chunk
    // (exercises the fill-time filter).
    val model = CellModel.cells(spark, sf())
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.count() === b.count())
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    same(read(), model)
    val pkMid = model
      .select(expr("cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY pk)" +
        " as long)"))
      .head().getLong(0)
    same(read().filter(col("pk") <= pkMid).select("pk", "value", "col"),
      model.filter(col("pk") <= pkMid).select("pk", "value", "col"))
  }

  test("count/min/max answered from headers alone (aggregate pushdown)") {
    val df = read().selectExpr("count(*) AS n", "min(pk) AS lo",
      "max(pk) AS hi")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("CellAggScan"), p)
    val got = df.head()
    val want = CellModel.cells(spark, sf())
      .selectExpr("count(*)", "min(pk)", "max(pk)").head()
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getLong(1) === want.getLong(1))
    assert(got.getLong(2) === want.getLong(2))
    // A pushed pk filter disqualifies the header answer: the scan must
    // fall back to reading data.
    val filtered = read().filter(col("pk") > 100L)
      .selectExpr("count(*) AS n")
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("CellAggScan"))
  }

  test("DSv2 batch write round-trips, appends as flushes, truncates") {
    val d = Files.createTempDirectory("cells-write").toString
    val orig = CellModel.cells(spark, sf())
    orig.repartition(3).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val back = spark.read.format("graft.sources.CellSource").load(d)
    assert(back.count() === orig.count())
    assert(back.except(orig).isEmpty && orig.except(back).isEmpty)
    // append mode lands additional flush files after the existing ones
    val extra = orig.limit(100)
    extra.coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    assert(spark.read.format("graft.sources.CellSource").load(d).count()
      === orig.count() + 100)
    // overwrite truncates to exactly the new contents
    extra.coalesce(1).write.format("graft.sources.CellSource")
      .mode("overwrite").save(d)
    val after = spark.read.format("graft.sources.CellSource").load(d)
    assert(after.count() === 100)
    assert(after.except(extra).isEmpty && extra.except(after).isEmpty)
  }

  test("reconcile=true scan LWW-merges across flush files (C24)") {
    val d = Files.createTempDirectory("cells-reconcile").toString
    val all = CellModel.cells(spark, sf())
    // Two separate flush generations over the SAME pk range: base
    // cells first, the +1d qty rewrites as a later append — so every
    // rewritten key's versions live in DIFFERENT files and the merge
    // must happen across files, not within one.
    val base = CellModel.base(spark, sf())
    val rewrites = all.join(
      base.select(col("pk"), col("ck"), col("wt").as("base_wt")),
      Seq("pk", "ck")).filter(col("wt") > col("base_wt"))
      .select(col("pk"), col("ck"), col("col"), col("value"), col("wt"))
    val firstGen = all.exceptAll(rewrites)
    firstGen.repartitionByRange(4, col("pk"))
      .write.format("graft.sources.CellSource").mode("append").save(d)
    rewrites.repartitionByRange(2, col("pk"))
      .write.format("graft.sources.CellSource").mode("append").save(d)

    val reconciled = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    val expected = CellModel.lwwMerge(all)
    assert(reconciled.count() === expected.count())
    assert(reconciled.except(expected).isEmpty &&
      expected.except(reconciled).isEmpty)

    // pk pushdown survives reconcile: a point lookup plans far fewer
    // partitions than the full range scan.
    val minPk = expected.agg(min(col("pk"))).head().getLong(0)
    val one = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d).filter(col("pk") === minPk)
    assert(one.rdd.getNumPartitions <= 2)
    assert(one.collect().length ===
      expected.filter(col("pk") === minPk).count())

    // The reconcile reader feeds the plan as batches (ColumnarToRow),
    // and its rows are exactly the model's merge, duplicates included.
    assert(reconciled.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"))
    assert(reconciled.exceptAll(expected).isEmpty &&
      expected.exceptAll(reconciled).isEmpty)

    // wt filters must NOT be pushed below the merge: filtering old
    // cells pre-merge would resurrect shadowed versions. Post-merge
    // semantics = merge everything, then filter.
    val cut = expected.agg(avg(col("wt"))).head().getDouble(0).toLong
    val wtFiltered = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .filter(col("wt") >= lit(cut))
    val wtExpected = expected.filter(col("wt") >= lit(cut))
    assert(wtFiltered.except(wtExpected).isEmpty &&
      wtExpected.except(wtFiltered).isEmpty)
  }

  test("cell columns can appear in later flushes (per-file col tables)") {
    // CEL5 column tables are per FILE: a table grows a new cell
    // column by just flushing it — no schema migration. Both the raw
    // scan and the reconciling merge see the union of columns.
    val d = Files.createTempDirectory("cells-evolve").toString
    Seq((1L, 1, "qty", 10L, 100L), (2L, 1, "price", 20L, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    Seq((1L, 1, "discount", 5L, 200L), (1L, 1, "qty", 11L, 200L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val raw = spark.read.format("graft.sources.CellSource").load(d)
    assert(raw.count() === 4)
    assert(raw.select(col("col")).distinct().count() === 3)
    val merged = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    assert(merged === Set(
      (1L, 1, "discount", 5L, 200L),
      (1L, 1, "qty", 11L, 200L), // LWW across flushes
      (2L, 1, "price", 20L, 100L)))
  }

  test("reconcile consumes tombstone markers as shadowing state (C27)") {
    val d = Files.createTempDirectory("cells-tomb").toString
    // flush 1: data cells
    val data = Seq(
      (1L, 1, "qty", 10L, 100L), (1L, 1, "price", 20L, 100L),
      (1L, 2, "qty", 30L, 100L),
      (2L, 1, "qty", 40L, 100L),
      (3L, 1, "qty", 50L, 100L), (3L, 1, "qty", 55L, 300L))
    CellSource.writeSnapshot(d, data, files = 1)
    // flush 2 (separate file — markers must shadow ACROSS files):
    // - cell tombstone on (1,1,'qty') at ts 150: kills qty, not price
    // - partition tombstone on pk 2 at ts 200: kills everything in pk 2
    // - cell tombstone on (3,1,'qty') at ts 200: kills the 100-write
    //   but NOT the 300-rewrite (wt > dts survives)
    val markers = Seq(
      (1L, 1, "!del:qty", 0L, 150L),
      (2L, Int.MinValue, "!del*", 0L, 200L),
      (3L, 1, "!del:qty", 0L, 200L))
    val mdf = markers.toDF("pk", "ck", "col", "value", "wt")
    // writer sorts within the file; marker columns are legal there
    mdf.coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)

    val live = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    assert(live === Set(
      (1L, 1, "price", 20L, 100L), // qty deleted, price untouched
      (1L, 2, "qty", 30L, 100L),   // other ck untouched by cell del
      (3L, 1, "qty", 55L, 300L)))  // rewrite survives dts=200
    // raw scan surfaces the markers verbatim (SSTable-dump honesty)
    val raw = spark.read.format("graft.sources.CellSource").load(d)
    assert(raw.filter(col("col").startsWith("!del")).count() === 3)
  }

  test("rangeDiff flags exactly the diverged pk buckets (anti-entropy)") {
    import graft.sources.CellMaintenance
    val a = Files.createTempDirectory("cells-replica-a").toString
    val b = Files.createTempDirectory("cells-replica-b").toString
    val cells = (0L until 4000L).map(pk => (pk, 0, "qty", pk, 1000L))
    CellSource.writeSnapshot(a, cells, files = 2)
    CellSource.writeSnapshot(b, cells, files = 3) // layout differs, content same
    assert(CellMaintenance.rangeDiff(spark, a, b).count() === 0,
      "identical content must diff clean regardless of file layout")
    // replica b misses one write and has one divergent value
    val mutated = cells.filterNot(_._1 == 1500L)
      .map(c => if (c._1 == 2500L) c.copy(_4 = -1L) else c)
    val b2 = Files.createTempDirectory("cells-replica-b2").toString
    CellSource.writeSnapshot(b2, mutated, files = 3)
    val diff = CellMaintenance.rangeDiff(spark, a, b2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(diff === Set((1500L / 1024, "mismatch"),
      (2500L / 1024, "mismatch")))
  }

  test("tombstone markers work on typed (string) tables too") {
    val d = Files.createTempDirectory("cells-tomb-str").toString
    Seq((1L, 1, "flag", "R", 100L), (2L, 1, "flag", "A", 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("valueType", "string").mode("append").save(d)
    // delete (1,1,'flag') at ts 150 — marker value is just a
    // placeholder of the table's type
    Seq((1L, 1, "!del:flag", "", 150L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val live = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .as[(Long, Int, String, String, Long)].collect().toSet
    assert(live === Set((2L, 1, "flag", "A", 100L)))
  }

  test("compact rewrites many flush generations to one reconciled one") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-compact").toString
    val all = CellModel.cells(spark, sf())
    // Three flush generations with overlapping keys (rewrites land in
    // their own files), so compaction must merge across generations.
    val base = CellModel.base(spark, sf())
    val rewrites = all.join(
      base.select(col("pk"), col("ck"), col("wt").as("base_wt")),
      Seq("pk", "ck")).filter(col("wt") > col("base_wt"))
      .select(col("pk"), col("ck"), col("col"), col("value"), col("wt"))
    val firstGen = all.exceptAll(rewrites)
    firstGen.repartitionByRange(4, col("pk"))
      .write.format("graft.sources.CellSource").mode("append").save(d)
    rewrites.repartitionByRange(2, col("pk"))
      .write.format("graft.sources.CellSource").mode("append").save(d)
    rewrites.limit(50).coalesce(1)
      .write.format("graft.sources.CellSource").mode("append").save(d)

    val expected = CellModel.lwwMerge(all)
    val (before, after) = CellMaintenance.compact(spark, d)
    assert(before === 7)
    assert(after < before)
    val compacted = spark.read.format("graft.sources.CellSource").load(d)
    // One generation, already reconciled: the RAW scan now equals the
    // LWW merge, and a reconcile scan is a no-op on top.
    assert(compacted.except(expected).isEmpty &&
      expected.except(compacted).isEmpty)
    val reconciled = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    assert(reconciled.count() === expected.count())
    // header-only generation probe sums to the merged row count
    assert(CellMaintenance.generations(d).map(_._2.toLong).sum
      === expected.count())
    // trigger respects the threshold
    assert(CellMaintenance.compactIfNeeded(spark, d, maxFiles = 64).isEmpty)
  }

  test("CEL5 typed values round-trip: string, decimal, timestamp") {
    // String cells (the text-column case the long-only format could
    // not express), including a rewrite generation for LWW below.
    val sd = Files.createTempDirectory("cells-str").toString
    val strCells = CellModel.stringCells(spark, sf())
      .select(col("pk").cast("long"), col("ck").cast("int"), col("col"),
        col("sval").as("value"), col("wt").cast("long"))
    strCells.repartition(3).write.format("graft.sources.CellSource")
      .option("valueType", "string").mode("append").save(sd)
    val strBack = spark.read.format("graft.sources.CellSource").load(sd)
    assert(strBack.schema("value").dataType.typeName === "string")
    assert(strBack.except(strCells).isEmpty &&
      strCells.except(strBack).isEmpty)

    // Typed RECONCILE: connector-side string LWW equals lwwMergeOn.
    val merged = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(sd)
    val expected = CellModel.lwwMergeOn(
      strCells.withColumnRenamed("value", "sval"), "sval")
      .withColumnRenamed("sval", "value")
      .select(col("pk"), col("ck"), col("col"), col("value"), col("wt"))
    assert(merged.except(expected).isEmpty &&
      expected.except(merged).isEmpty)

    // Decimal(12,2) and timestamp values survive the codec exactly.
    val dd = Files.createTempDirectory("cells-dec").toString
    val decCells = CellModel.stringCells(spark, sf()).limit(500)
      .select(col("pk").cast("long"), col("ck").cast("int"), col("col"),
        col("dval").cast("decimal(12,2)").as("value"),
        col("wt").cast("long"))
    decCells.coalesce(1).write.format("graft.sources.CellSource")
      .option("valueType", "decimal(12,2)").mode("append").save(dd)
    val decBack = spark.read.format("graft.sources.CellSource").load(dd)
    assert(decBack.schema("value").dataType.simpleString
      === "decimal(12,2)")
    assert(decBack.except(decCells).isEmpty &&
      decCells.except(decBack).isEmpty)

    val td = Files.createTempDirectory("cells-ts").toString
    val tsCells = CellModel.cells(spark, sf()).limit(500)
      .select(col("pk").cast("long"), col("ck").cast("int"), col("col"),
        timestamp_millis(col("wt")).as("value"), col("wt").cast("long"))
    tsCells.coalesce(1).write.format("graft.sources.CellSource")
      .option("valueType", "timestamp").mode("append").save(td)
    val tsBack = spark.read.format("graft.sources.CellSource").load(td)
    assert(tsBack.schema("value").dataType.typeName === "timestamp")
    assert(tsBack.except(tsCells).isEmpty &&
      tsCells.except(tsBack).isEmpty)

    // pk pushdown + column pruning still work on a typed table.
    val minPk = strCells.agg(min(col("pk"))).head().getLong(0)
    val one = spark.read.format("graft.sources.CellSource").load(sd)
      .filter(col("pk") === minPk).select(col("pk"), col("value"))
    assert(one.count() ===
      strCells.filter(col("pk") === minPk).count())
  }

  test("compaction preserves typed tables (string values)") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-compact-str").toString
    val strCells = CellModel.stringCells(spark, sf()).limit(2000)
      .select(col("pk").cast("long"), col("ck").cast("int"), col("col"),
        col("sval").as("value"), col("wt").cast("long"))
    // two generations -> compact -> still a string table, LWW applied
    strCells.coalesce(1).write.format("graft.sources.CellSource")
      .option("valueType", "string").mode("append").save(d)
    strCells.limit(300).coalesce(1)
      .write.format("graft.sources.CellSource").mode("append").save(d)
    val expected = CellModel.lwwMergeOn(
      strCells.withColumnRenamed("value", "sval"), "sval")
      .withColumnRenamed("sval", "value")
      .select(col("pk"), col("ck"), col("col"), col("value"), col("wt"))
    CellMaintenance.compact(spark, d)
    val back = spark.read.format("graft.sources.CellSource").load(d)
    assert(back.schema("value").dataType.typeName === "string")
    assert(back.except(expected).isEmpty && expected.except(back).isEmpty)
  }

  test("write tasks roll to a new file every rollRecords records") {
    val d = Files.createTempDirectory("cells-roll").toString
    val orig = CellModel.cells(spark, sf())
    val n = orig.count()
    // One write task, tiny roll size: the single task must stage
    // ceil(n / 1000) files instead of buffering the whole partition.
    orig.coalesce(1).write.format("graft.sources.CellSource")
      .option("rollRecords", "1000").mode("append").save(d)
    val files = Files.list(java.nio.file.Paths.get(d)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".cells")).toSeq
    assert(files.size === ((n + 999) / 1000).toInt)
    assert(files.forall(f => f.startsWith("data-")))
    // Rolled files still read back to exactly the input relation, and
    // each is individually pk-sorted (pushdown-prunable).
    val back = spark.read.format("graft.sources.CellSource").load(d)
    assert(back.count() === n)
    assert(back.except(orig).isEmpty && orig.except(back).isEmpty)
    val minPk = orig.agg(min(col("pk"))).head().getLong(0)
    val one = spark.read.format("graft.sources.CellSource").load(d)
      .filter(col("pk") === minPk)
    assert(one.rdd.getNumPartitions < files.size,
      "point lookup should prune most rolled files via Summary ranges")
  }

  test("concurrent appends commit disjoint flush slots, no loss") {
    val d = Files.createTempDirectory("cells-concurrent").toString
    val dfs = (0 until 4).map { i =>
      (0L until 250L).map(j => (i * 1000L + j, 0, "qty", j, 100L + i))
        .toDF("pk", "ck", "col", "value", "wt")
    }
    // four appends racing from different threads: every file must land
    // in a unique slot and every row survive
    val threads = dfs.map { df =>
      new Thread(() => df.coalesce(1)
        .write.format("graft.sources.CellSource").mode("append").save(d))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val back = spark.read.format("graft.sources.CellSource").load(d)
    assert(back.count() === 1000)
    assert(back.select(countDistinct(col("pk"))).head().getLong(0)
      === 1000)
    val names = Files.list(java.nio.file.Paths.get(d)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".cells")).toSeq
    assert(names.size === 4 && names.distinct.size === 4)
  }

  test("failed write aborts cleanly: no staged tmp, no published flush") {
    val d = Files.createTempDirectory("cells-abort").toString
    // Seed one good generation, then attempt a write whose source
    // throws mid-stream: the published state must be untouched and the
    // staged .tmp files cleaned up by the abort path.
    val good = CellModel.cells(spark, sf()).limit(500)
    good.coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val before = Files.list(java.nio.file.Paths.get(d)).iterator()
      .asScala.map(_.getFileName.toString).toSet

    val boom = udf((pk: Long) =>
      if (pk < 0) throw new RuntimeException("boom") else pk)
    // rows sorted desc so some rows stream into the writer before the
    // failing row arrives (staged state exists when the task dies)
    val failing = CellModel.cells(spark, sf()).limit(2000)
      .union(spark.range(1).select(lit(-1L).as("pk"), lit(0).as("ck"),
        lit("qty").as("col"), lit(0L).as("value"), lit(0L).as("wt")))
      .orderBy(col("pk").desc)
      .select(boom(col("pk")).as("pk"), col("ck"), col("col"),
        col("value"), col("wt"))
    intercept[Exception] {
      failing.coalesce(1).write.format("graft.sources.CellSource")
        .option("rollRecords", "100").mode("append").save(d)
    }
    val after = Files.list(java.nio.file.Paths.get(d)).iterator()
      .asScala.map(_.getFileName.toString).toSet
    assert(after === before,
      s"dir changed across failed write: ${after.diff(before)}")
    // and the table still reads exactly the seeded generation
    val back = spark.read.format("graft.sources.CellSource").load(d)
    assert(back.count() === 500)
  }

  test("reconcile == lwwMerge on random multi-file layouts (property)") {
    // Random cell relations with heavy key collisions, split into
    // random flush files: the connector's k-way merge must equal the
    // relational lwwMerge exactly, whatever the file layout — and
    // whatever the key layout: each trial is also written as a typed
    // `(id bigint) / (c int)` table through the same merge cursor. The
    // plain scan of both tables must serve the written cells.
    val rnd = new scala.util.Random(20260813L)
    (1 to 4).foreach { trial =>
      val nCells = 300 + rnd.nextInt(700)
      val cells = (0 until nCells).map { _ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(4), // heavy pk/ck reuse
          if (rnd.nextBoolean()) "qty" else "price",
          rnd.nextInt(100).toLong,              // value collisions too
          rnd.nextInt(10).toLong * 100)         // wt TIES likely
      }
      val d = Files.createTempDirectory(s"cells-prop-$trial").toString
      // random number of flushes, random assignment of cells to them
      val nFlushes = 1 + rnd.nextInt(5)
      val byFlush = cells.groupBy(_ => rnd.nextInt(nFlushes))
      byFlush.values.zipWithIndex.foreach { case (flush, i) =>
        CellSource.writeSnapshot(d,
          flush.sortBy(c => (c._1, c._2, c._3, c._5, c._4)),
          files = 1, startIndex = i)
      }
      val got = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true")
        .option("subsplitRecords", "64") // force several pk ranges
        .load(d)
      val want = CellModel.lwwMerge(
        cells.toDF("pk", "ck", "col", "value", "wt"))
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        s"trial $trial: layout $nFlushes flushes, $nCells cells")
      assert(got.count() === want.count(), s"trial $trial dup keys")
      val dt = Files.createTempDirectory(s"cells-prop-typed-$trial")
        .toString
      byFlush.values.zipWithIndex.foreach { case (flush, i) =>
        CellSource.writeSnapshotKeyed(dt, "((id),c)",
          Map("id" -> "bigint", "c" -> "int"),
          flush.map(c => (Seq(c._1), Seq(c._2), c._3, c._4, c._5)),
          startIndex = i)
      }
      val typed = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true")
        .option("subsplitRecords", "64")
        .load(dt).toDF("pk", "ck", "col", "value", "wt")
      assert(typed.except(want).isEmpty && want.except(typed).isEmpty,
        s"trial $trial typed: layout $nFlushes flushes, $nCells cells")
      assert(typed.count() === want.count(), s"trial $trial typed dups")
      // the plain scan decodes both record formats to exactly the
      // written cells: whole, and under a key range that cuts inside a
      // chunk (every flush file here is one 4096-record chunk)
      val written = cells.toDF("pk", "ck", "col", "value", "wt")
      def inRange(key: String) = col(key) >= 10L && col(key) <= 25L
      Seq((d, "pk"), (dt, "id")).foreach { case (dir, key) =>
        val raw = spark.read.format("graft.sources.CellSource")
          .option("subsplitRecords", "64").load(dir)
        Seq((raw, written),
            (raw.filter(inRange(key)), written.filter(inRange("pk"))))
          .foreach { case (g0, w) =>
            val g = g0.toDF("pk", "ck", "col", "value", "wt")
            assert(g.count() === w.count() && g.exceptAll(w).isEmpty &&
              w.exceptAll(g).isEmpty, s"trial $trial plain scan of $key")
          }
      }
    }
  }

  test("streaming sink epoch retry is exactly-once (intent recovery)") {
    import java.nio.file.{Files => JF, Paths => JP}
    import graft.sources.{CellCommitMessage, CellStreamingWrite}
    val d = Files.createTempDirectory("cells-sink-eo").toString
    JF.createDirectories(JP.get(d))
    // stage a pk-sorted .cells file the way a task writer would: write
    // a 1-file snapshot into a side dir and move it to a staged name
    def stage(cells: Seq[(Long, Int, String, Long, Long)]): String = {
      val side = Files.createTempDirectory("cells-sink-stage").toString
      CellSource.writeSnapshot(side, cells, files = 1)
      val staged = JP.get(d).resolve(s"stage-${cells.hashCode}.tmp")
      JF.move(JP.get(side, "data-0000.cells"), staged)
      staged.toString
    }
    val w = new CellStreamingWrite(d, 1 << 20,
      graft.sources.ValueCodec.LongTag, 0, 0)
    val cells0 = Seq((1L, 1, "qty", 10L, 100L), (2L, 1, "qty", 20L, 100L))
    w.commit(0L, Array(CellCommitMessage(Seq(stage(cells0)))))
    // ---- simulate a crash of epoch 1 AFTER publish, BEFORE record:
    // its flush sits at data-0001 but _epochs has no entry, and the
    // intent journal names it
    val cells1 = Seq((3L, 1, "qty", 30L, 200L), (4L, 1, "qty", 40L, 200L))
    val s1a = stage(cells1)
    JF.move(JP.get(s1a), JP.get(d, "data-0001.cells"))
    val orphan = JP.get(d, "data-0001.cells")
    val fp = s"${JF.size(orphan)}:${cells1.size}:3:4"
    JF.write(JP.get(d, "_epoch_intent"), s"1\n0\n$fp\n".getBytes("UTF-8"))
    // a CONCURRENT batch append lands between crash and retry — its
    // file is above the intent's index bound but must survive (no
    // fingerprint match)
    Seq((9L, 1, "qty", 90L, 300L)).toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    // ---- the retry: same epoch, freshly staged identical content
    w.commit(1L, Array(CellCommitMessage(Seq(stage(cells1)))))
    val back = spark.read.format("graft.sources.CellSource").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSeq
    // EXACTLY once: no duplicate of cells1, concurrent append intact
    assert(back.sorted === (cells0 ++ cells1 ++
      Seq((9L, 1, "qty", 90L, 300L))).sorted)
    assert(!JF.exists(JP.get(d, "_epoch_intent")), "intent cleared")
    // a full replay of the COMMITTED epoch takes the duplicate-abort
    // path and changes nothing
    w.commit(1L, Array(CellCommitMessage(Seq(stage(cells1)))))
    assert(spark.read.format("graft.sources.CellSource").load(d)
      .count() === back.size.toLong)
  }

  test("full marker protocol == reference model on random layouts (property)") {
    // Random data + random markers of EVERY kind (partition, cell,
    // range, row tombstones and TTL) + static (`!s:`) cells, split
    // into random flush files: the connector's carried-state merge
    // must equal a plain-Scala reference model of the read condition,
    // and a marker-preserving compaction must not change the answer —
    // on the default layout and on a typed `(id bigint) / (c int)`
    // table holding the same cells.
    import graft.sources.CellMaintenance
    val rnd = new scala.util.Random(20260813L)
    val qt = 500L
    (1 to 4).foreach { trial =>
      val nCells = 200 + rnd.nextInt(400)
      val data = (0 until nCells).map { _ =>
        (rnd.nextInt(20).toLong, rnd.nextInt(5),
          if (rnd.nextBoolean()) "qty" else "price",
          rnd.nextInt(50).toLong, (1 + rnd.nextInt(9)).toLong * 100)
      }
      def ts() = (1 + rnd.nextInt(9)).toLong * 100
      val markers =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Int, String, Long, Long)]
      data.map(_._1).distinct.foreach { pk =>
        if (rnd.nextInt(4) == 0)
          markers += ((pk, Int.MinValue, "!del*", 0L, ts()))
        if (rnd.nextInt(4) == 0) {
          val lo = rnd.nextInt(5); val hi = lo + rnd.nextInt(5 - lo)
          markers += ((pk, Int.MinValue, s"!delr:$lo:$hi", 0L, ts()))
        }
        if (rnd.nextInt(4) == 0)
          markers += ((pk, rnd.nextInt(5), "!delrow", 0L, ts()))
        if (rnd.nextInt(4) == 0)
          markers += ((pk, rnd.nextInt(5),
            "!del:" + (if (rnd.nextBoolean()) "qty" else "price"), 0L, ts()))
        if (rnd.nextInt(3) == 0)
          markers += ((pk, Int.MinValue, "!ttl*",
            (2 + rnd.nextInt(6)).toLong * 100, 0L))
        // static cells: per-partition data at the partition front,
        // one or two versions each
        (0 until rnd.nextInt(3)).foreach { _ =>
          markers += ((pk, Int.MinValue, "!s:tag",
            rnd.nextInt(50).toLong, ts()))
        }
      }
      val all = data ++ markers
      // ---- reference model: LWW winner per key, then the shadowing
      // and expiry predicates applied to data winners
      val winners = all.groupBy(r => (r._1, r._2, r._3))
        .map { case (_, rs) => rs.maxBy(r => (r._5, r._4)) }.toSeq
      val pdts = winners.filter(_._3 == "!del*")
        .map(w => w._1 -> w._5).toMap
      val rowDel = winners.filter(_._3 == "!delrow")
        .map(w => (w._1, w._2) -> w._5).toMap
      val cellDel = winners
        .filter(w => w._3.startsWith("!del:"))
        .map(w => (w._1, w._2, w._3.stripPrefix("!del:")) -> w._5).toMap
      val ranges = winners.filter(_._3.startsWith("!delr:")).map { w =>
        val p = w._3.stripPrefix("!delr:").split(':')
        (w._1, p(0).toInt, p(1).toInt, w._5)
      }
      val ttls = winners.filter(_._3 == "!ttl*")
        .map(w => w._1 -> w._4).toMap
      val expected = winners.filter(w => !w._3.startsWith("!")).filter {
        case (pk, ck, colName, _, wt) =>
          !pdts.get(pk).exists(wt <= _) &&
          !rowDel.get((pk, ck)).exists(wt <= _) &&
          !cellDel.get((pk, ck, colName)).exists(wt <= _) &&
          !ranges.exists { case (p, lo, hi, t) =>
            p == pk && ck >= lo && ck <= hi && wt <= t } &&
          !ttls.get(pk).exists(t => wt + t < qt)
      }.toSet ++
        // a static winner survives unless its partition tombstone
        // covers it; row and range tombstones never do, and the
        // partition's `!ttl*` sorts after `!s:` at the front position,
        // so it is not yet in force when the static is read
        winners.filter(_._3.startsWith("!s:"))
          .filter(w => !pdts.get(w._1).exists(w._5 <= _))
      // ---- random flush layout through the DSv2 writer, on both
      // key layouts
      val d = Files.createTempDirectory(s"cells-mprop-$trial").toString
      val dt = Files.createTempDirectory(s"cells-mprop-typed-$trial")
        .toString
      val nFlushes = 1 + rnd.nextInt(4)
      all.groupBy(_ => rnd.nextInt(nFlushes)).values.foreach { flush =>
        val df = flush.toDF("pk", "ck", "col", "value", "wt").coalesce(1)
        df.write.format("graft.sources.CellSource")
          .mode("append").save(d)
        typedWrite(df.toDF("id", "c", "col", "value", "wt"), dt,
          "((id),c)", "id" -> "bigint", "c" -> "int")
      }
      def live(dir: String) = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").option("queryTime", qt.toString)
        .option("subsplitRecords", "64") // force several pk ranges
        .load(dir).as[(Long, Int, String, Long, Long)].collect().toSet
      Seq(d -> "default", dt -> "typed").foreach { case (dir, layout) =>
        assert(live(dir) === expected,
          s"trial $trial $layout (${all.size} rows)")
        CellMaintenance.compact(spark, dir)
        assert(live(dir) === expected,
          s"trial $trial $layout post-compaction")
      }
    }
  }

  test("ValueCodec round-trips and orders every type tag (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import java.io.{ByteArrayOutputStream, DataOutputStream}
    import java.nio.ByteBuffer
    import graft.sources.ValueCodec
    import org.apache.spark.sql.types.Decimal
    import org.apache.spark.unsafe.types.UTF8String

    def rt(tag: Int, prec: Int, scale: Int, vs: Seq[Any]): Seq[Any] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      vs.foreach(ValueCodec.write(out, tag, _))
      val buf = ByteBuffer.wrap(bos.toByteArray)
      vs.map(_ => ValueCodec.read(buf, tag, prec, scale))
    }

    val cases: Seq[(Int, Int, Int, Gen[Any])] = Seq(
      (ValueCodec.LongTag, 0, 0, Gen.long.map(x => x: Any)),
      (ValueCodec.IntTag, 0, 0, Gen.chooseNum(Int.MinValue,
        Int.MaxValue).map(x => x: Any)),
      (ValueCodec.DoubleTag, 0, 0,
        Gen.chooseNum(-1e12, 1e12).map(x => x: Any)),
      (ValueCodec.BoolTag, 0, 0, Gen.oneOf(true, false).map(x => x: Any)),
      (ValueCodec.StringTag, 0, 0, Gen.listOf(Gen.asciiPrintableChar)
        .map(cs => UTF8String.fromString(cs.mkString): Any)),
      (ValueCodec.BinaryTag, 0, 0, Gen.listOf(Gen.chooseNum(-128, 127))
        .map(bs => bs.map(_.toByte).toArray: Any)),
      (ValueCodec.TimestampTag, 0, 0, Gen.long.map(x => x: Any)),
      (ValueCodec.DecimalTag, 12, 2,
        Gen.chooseNum(-999999999L, 999999999L)
          .map(u => Decimal.createUnsafe(u, 12, 2): Any)))

    cases.foreach { case (tag, prec, scale, gen) =>
      val prop = Prop.forAllNoShrink(Gen.listOfN(20, gen)) { vs =>
        val back = rt(tag, prec, scale, vs)
        // exact round-trip, and codec ordering is a total order
        // consistent with equality on the round-tripped values
        back.zip(vs).forall { case (b, v) =>
          ValueCodec.compare(tag, b, v) == 0 } &&
          back.sliding(2).forall {
            case Seq(a, b) =>
              math.signum(ValueCodec.compare(tag, a, b)) ==
                -math.signum(ValueCodec.compare(tag, b, a))
            case _ => true
          }
      }
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
      assert(res.passed, s"tag=$tag: $res")
    }

    // binary compares UNSIGNED (the Cassandra byte-order rule):
    // 0x80 sorts after 0x7f even though it is negative as a JVM byte
    assert(ValueCodec.compare(ValueCodec.BinaryTag,
      Array(0x80.toByte), Array(0x7f.toByte)) > 0)
  }

  test("SQL DDL registers the source as an external table (storage handler)") {
    // The reference era's user path: a Hive storage handler registered
    // by DDL, then queried in plain SQL. Same contract here via DSv2.
    spark.sql("DROP TABLE IF EXISTS cells_ddl")
    spark.sql(
      s"""CREATE TABLE cells_ddl
         |USING graft.sources.CellSource
         |OPTIONS (path '$dir')""".stripMargin)
    val viaSql = spark.sql(
      "SELECT col, count(*) AS n, sum(value) AS sv FROM cells_ddl " +
        "GROUP BY col ORDER BY col")
    val viaRead = read().groupBy(col("col"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .orderBy(col("col"))
    assert(viaSql.collect().toSeq === viaRead.collect().toSeq)
    // pushdown still applies through the DDL-registered table
    val one = spark.sql(s"SELECT * FROM cells_ddl WHERE pk = " +
      CellModel.cells(spark, sf()).select(min(col("pk"))).head().getLong(0))
    assert(one.rdd.getNumPartitions == 1)
    spark.sql("DROP TABLE cells_ddl")
  }

  test("write/read round-trip holds across adversarial sizes (property)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    // Sizes hugging the chunk boundary (chunkRecords=7) plus pk
    // duplication stress the chunk table, index, bloom, and the
    // columnar fill in one go.
    val cellsGen = for {
      n <- Gen.oneOf(0, 1, 6, 7, 8, 13, 14, 50)
      pks <- Gen.listOfN(n, Gen.chooseNum(0L, 20L))
      cks <- Gen.listOfN(n, Gen.chooseNum(0, 3))
      vs <- Gen.listOfN(n, Gen.chooseNum(-5000L, 5000L))
      ws <- Gen.listOfN(n, Gen.chooseNum(0L, 99L))
    } yield pks.lazyZip(cks).lazyZip(vs).lazyZip(ws).toList.map {
      case (pk, ck, v, w) =>
        (pk, ck, if (v % 2 == 0) "qty" else "price", v, w)
    }
    val prop = Prop.forAll(cellsGen) { cells =>
      val d = Files.createTempDirectory("cells-prop").toString
      CellSource.writeSnapshot(d, cells, files = 2, chunkRecords = 7)
      val back = spark.read.format("graft.sources.CellSource").load(d)
        .as[(Long, Int, String, Long, Long)].collect().toSeq
      back.sorted == cells.sorted
    }
    val res = check(Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("snapshot prep is an executor-parallel write job, not a collect") {
    val tmpRoot = Files.createTempDirectory("cells-snaproot").toString
    val old = sys.props.get("graft.cell.snapshots")
    sys.props("graft.cell.snapshots") = tmpRoot
    try {
      val d = graft.sources.CellSnapshots.ensure(spark, sf())
      // One pk-sorted flush file per write-side range partition — the
      // DSv2 task writers staged these, the driver only renamed.
      val files = Files.list(java.nio.file.Paths.get(d)).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".cells")).toList
      assert(files.size == graft.sources.CellSnapshots.SnapshotFiles)
      val back = spark.read.format("graft.sources.CellSource").load(d)
      val orig = CellModel.cells(spark, sf())
      assert(back.except(orig).isEmpty && orig.except(back).isEmpty)
      // Regression tripwire for the r3 'weak' mark: the fixture path
      // must never pull the cell relation onto the driver.
      val src = new String(Files.readAllBytes(java.nio.file.Paths.get(
        "src/main/scala/graft/sources/CellSnapshots.scala")))
      assert(!src.contains(".collect("))
    } finally {
      old match {
        case Some(v) => sys.props("graft.cell.snapshots") = v
        case None => sys.props -= "graft.cell.snapshots"
      }
    }
  }

  test("a running stream survives compaction (monotonic flush indices)") {
    // Compaction REPLACES files. Count-based offsets would point past
    // the shrunken list and silently skip every later flush until the
    // count caught up; index-based offsets + never-reused generation
    // numbers deliver the compacted files as one (LWW-idempotent)
    // re-flush and keep going.
    val d = Files.createTempDirectory("cells-stream-compact").toString
    val flushA = (0L until 100L).map(pk => (pk, 0, "qty", 1L, 1000L))
    val flushB = (0L until 100L).map(pk => (pk, 0, "qty", 2L, 2000L))
    CellSource.writeSnapshot(d, flushA, files = 1)
    CellSource.writeSnapshot(d, flushB, files = 1, startIndex = 1)
    val q = spark.readStream.format("graft.sources.CellSource").load(d)
      .groupBy().count()
      .writeStream.format("memory").queryName("streamcompact")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("streamcompact").head().getLong(0) === 200L)
      // Compact 2 generations -> 1 reconciled file at index 2 (NOT 0).
      val (before, after) = graft.sources.CellMaintenance
        .compact(spark, d)
      assert(before === 2 && after >= 1)
      assert(Files.exists(java.nio.file.Paths.get(d, "data-0002.cells")))
      assert(!Files.exists(java.nio.file.Paths.get(d, "data-0000.cells")))
      q.processAllAvailable()
      // compacted generation re-delivered: 100 merged rows appended
      assert(spark.table("streamcompact").head().getLong(0) === 300L)
      // and a post-compaction flush still arrives (the case restarted
      // numbering would lose entirely)
      val flushC = (100L until 150L).map(pk => (pk, 0, "qty", 3L, 3000L))
      flushC.toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(d)
      q.processAllAvailable()
      assert(spark.table("streamcompact").head().getLong(0) === 350L)
    } finally q.stop()
  }

  test("a checkpointed stream restarts cleanly across a compaction") {
    // Offsets checkpointed before a compaction must stay valid after
    // it: generations are monotone, so the restarted stream resumes
    // at its old index, re-reads only the compacted generation, and
    // keeps consuming new flushes.
    val d = Files.createTempDirectory("cells-ckpt-compact").toString
    val ckpt = Files.createTempDirectory("cells-ckpt-dir").toString
    CellSource.writeSnapshot(d,
      (0L until 100L).map(pk => (pk, 0, "qty", 1L, 1000L)), files = 1)
    CellSource.writeSnapshot(d,
      (0L until 100L).map(pk => (pk, 0, "qty", 2L, 2000L)),
      files = 1, startIndex = 1)
    def start() = spark.readStream
      .format("graft.sources.CellSource").load(d)
      .groupBy().count()
      .writeStream.format("memory").queryName("ckptcompact")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    val q1 = start()
    q1.processAllAvailable()
    assert(spark.table("ckptcompact").head().getLong(0) === 200L)
    q1.stop()
    // compact while the stream is DOWN; then restart from checkpoint
    graft.sources.CellMaintenance.compact(spark, d)
    val q2 = start()
    try {
      q2.processAllAvailable()
      // resumed past the old offset: the compacted generation (100
      // merged rows) re-delivered, nothing lost, no crash
      assert(spark.table("ckptcompact").head().getLong(0) === 300L)
      (100L until 130L).map(pk => (pk, 0, "qty", 3L, 3000L))
        .toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(d)
      q2.processAllAvailable()
      assert(spark.table("ckptcompact").head().getLong(0) === 330L)
    } finally q2.stop()
  }

  test("flush listing stays append-stable past index 9999") {
    // The zero-padding is width-4: 'data-10000.cells' sorts
    // lexicographically BEFORE 'data-9999.cells', so a name-sorted
    // listing would re-read the old flush as the "new" micro-batch.
    // Numeric index ordering must keep the slice correct.
    val d = Files.createTempDirectory("cells-order").toString
    val flushA = (0L until 100L).map(pk => (pk, 0, "qty", 1L, 1000L))
    CellSource.writeSnapshot(d, flushA, files = 1, startIndex = 9999)
    val q = spark.readStream.format("graft.sources.CellSource").load(d)
      .groupBy().count()
      .writeStream.format("memory").queryName("cellorder")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cellorder").head().getLong(0) === 100L)
      // DSv2 append commits the next flush as data-10000.cells.
      val flushB = (100L until 150L).map(pk => (pk, 0, "qty", 2L, 2000L))
      flushB.toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(d)
      assert(Files.exists(java.nio.file.Paths.get(d, "data-10000.cells")))
      q.processAllAvailable()
      assert(spark.table("cellorder").head().getLong(0) === 150L)
    } finally q.stop()
  }

  test("micro-batch stream ingests newly flushed sstable files (CDC)") {
    val d = Files.createTempDirectory("cells-stream").toString
    val flushA = (0L until 1000L).map(pk => (pk, 0, "qty", pk, 1000L))
    CellSource.writeSnapshot(d, flushA, files = 2)
    val q = spark.readStream.format("graft.sources.CellSource").load(d)
      .groupBy(col("col")).count()
      .writeStream.format("memory").queryName("cellcdc")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cellcdc").head().getLong(1) === 1000L)
      // A later "memtable flush" lands one more immutable file; the
      // stream discovers and reads ONLY the new file.
      val flushB = (1000L until 1500L).map(pk => (pk, 0, "qty", pk, 2000L))
      CellSource.writeSnapshot(d, flushB, files = 1, startIndex = 2)
      q.processAllAvailable()
      assert(spark.table("cellcdc").head().getLong(1) === 1500L)
    } finally q.stop()
  }

  test("planning manifest: written at commit, parity, zero-open agg plan") {
    import java.nio.file.{Paths => JPaths}
    import graft.sources.CellManifest
    val d = Files.createTempDirectory("cells-manifest").toString
    Seq((1L, 1, "qty", 10L, 100L), (5L, 1, "qty", 20L, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    Seq((9L, 1, "qty", 30L, 200L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val mf = JPaths.get(d, "_manifest")
    assert(Files.exists(mf), "commit must publish the manifest")
    def rec() = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    val expect = rec()
    assert(expect.size === 3)
    // fallback parity: a missing manifest reads identically…
    Files.delete(mf)
    assert(rec() === expect)
    // …and refresh() heals it
    CellManifest.refresh(d)
    assert(CellManifest.read(d).map(_.size) === Some(2))
    assert(rec() === expect)
    // The header-only agg plan reads ONLY the manifest when fresh:
    // doctor every entry's count and watch the pushed COUNT(*) report
    // the doctored sum — proof of zero data-file opens.
    val lines = Files.readAllLines(mf)
    val doctored = new java.util.ArrayList[String]()
    lines.forEach { l =>
      doctored.add(if (l.startsWith("CELLMANIFEST") || l.isEmpty) l
      else {
        val f = l.split('\t'); f(3) = (f(3).toInt + 1000).toString
        f.mkString("\t")
      })
    }
    Files.write(mf, doctored)
    def countStar() = spark.read.format("graft.sources.CellSource")
      .load(d).selectExpr("count(*)").head().getLong(0)
    assert(countStar() === 3L + 2000L)
    // a STALE manifest (name list mismatch) is ignored, not trusted:
    // truncate it to one entry and the agg falls back to headers
    Files.write(mf, java.util.List.of(lines.get(0), lines.get(1)))
    assert(countStar() === 3L)
    // heal for real and confirm the true counts flow again
    Files.delete(mf); CellManifest.refresh(d)
    assert(countStar() === 3L)
    // pruning parity: a point lookup plans the same single partition
    // through manifest pre-filter as through raw header reads
    def parts() = spark.read.format("graft.sources.CellSource")
      .load(d).filter(col("pk") === 9L).rdd.getNumPartitions
    val withManifest = parts()
    Files.delete(mf)
    assert(parts() === withManifest)
    CellManifest.refresh(d)
  }

  test("tables with more than 128 distinct columns read back (unsigned colId)") {
    // colIds 128..255 have the sign bit set; a signed byte read would
    // index the column table at a negative position.
    val d = Files.createTempDirectory("cells-wide").toString
    val cells = (0 until 200).map(i => (i.toLong, 0, f"c$i%03d", i.toLong, 1000L))
    cells.toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val back = spark.read.format("graft.sources.CellSource").load(d)
    assert(back.count() === 200)
    assert(back.select(countDistinct(col("col"))).head().getLong(0) === 200)
    // both readers and the reconcile merge see ids above 127
    val rec = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    assert(rec.count() === 200)
    val expected = cells.toDF("pk", "ck", "col", "value", "wt")
    assert(back.except(expected).isEmpty && expected.except(back).isEmpty)
    assert(rec.except(expected).isEmpty && expected.except(rec).isEmpty)
  }

  test("compaction preserves TTL markers: expiry still works afterwards") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-compact-ttl").toString
    // pk 1 carries a partition-default TTL of 1000ms; pk 2 has none
    Seq((1L, 1, "qty", 10L, 100L),   // expired at qt=2000 (100+1000<2000)
        (1L, 2, "qty", 20L, 5000L),  // alive at qt=2000
        (2L, 1, "qty", 30L, 100L))   // no TTL — immortal
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    Seq((1L, Int.MinValue, "!ttl*", 1000L, 0L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    def unexpired() = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("queryTime", "2000")
      .load(d).as[(Long, Int, String, Long, Long)].collect().toSet
    val pre = unexpired()
    assert(pre === Set((1L, 2, "qty", 20L, 5000L),
      (2L, 1, "qty", 30L, 100L)))
    CellMaintenance.compact(spark, d)
    // the answer a queryTime read gives must be IDENTICAL after the
    // rewrite — i.e. the `!ttl*` marker survived the compaction
    assert(unexpired() === pre)
    val raw = spark.read.format("graft.sources.CellSource").load(d)
    assert(raw.filter(col("col") === "!ttl*").count() === 1)
    // compacting AT a query time applies expiry to the data while
    // still carrying the TTL config forward
    CellMaintenance.compact(spark, d)
    assert(unexpired() === pre)
  }

  test("compaction preserves tombstones: late pre-deletion writes stay dead") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-compact-tomb").toString
    Seq((1L, 1, "qty", 10L, 100L), (2L, 1, "qty", 40L, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    Seq((1L, Int.MinValue, "!del*", 0L, 200L),
        (2L, 1, "!del:qty", 0L, 300L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    CellMaintenance.compact(spark, d)
    val raw = spark.read.format("graft.sources.CellSource").load(d)
    // shadowed data gone, tombstone markers rewritten (default grace
    // window = infinite)
    assert(raw.filter(!col("col").startsWith("!")).count() === 0)
    assert(raw.filter(col("col").startsWith("!del")).count() === 2)
    // a replica's late write with a PRE-deletion timestamp arrives
    // after the compaction: the retained tombstones must still shadow
    Seq((1L, 1, "qty", 99L, 150L), (2L, 1, "qty", 77L, 250L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    def live() = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    assert(live() === Set.empty, "pre-deletion writes must stay dead")
    // a genuinely NEWER write wins as usual
    Seq((1L, 1, "qty", 111L, 250L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    assert(live() === Set((1L, 1, "qty", 111L, 250L)))
  }

  test("range and row tombstone markers shadow across files (C5b)") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-rdel").toString
    Seq((1L, 1, "qty", 10L, 100L),
        (1L, 2, "qty", 20L, 100L),  // in range, wt <= rdts → dead
        (1L, 3, "qty", 30L, 100L),  // in range → dead
        (1L, 4, "qty", 40L, 500L),  // in range but NEWER than rdts → lives
        (1L, 5, "qty", 50L, 100L),  // outside range → lives
        (2L, 1, "qty", 60L, 100L),  // row-deleted → dead
        (2L, 1, "price", 70L, 100L),// same row → dead
        (2L, 2, "qty", 80L, 100L))  // other row → lives
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    // markers land in a SEPARATE flush file: DELETE WHERE pk=1 AND
    // ck BETWEEN 2 AND 4 at ts 200, and DELETE ROW (2, 1) at ts 200
    Seq((1L, Int.MinValue, CellSource.rangeTombstoneCol(2, 4), 0L, 200L),
        (2L, 1, CellSource.RowTombstone, 0L, 200L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    def live() = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    val expected = Set(
      (1L, 1, "qty", 10L, 100L), (1L, 4, "qty", 40L, 500L),
      (1L, 5, "qty", 50L, 100L), (2L, 2, "qty", 80L, 100L))
    assert(live() === expected)
    // compaction carries both marker kinds (default grace = infinite)…
    CellMaintenance.compact(spark, d)
    assert(live() === expected)
    val raw = spark.read.format("graft.sources.CellSource").load(d)
    assert(raw.filter(col("col").startsWith("!del")).count() === 2)
    // …so a late write with a pre-deletion timestamp still dies
    Seq((1L, 3, "qty", 99L, 150L), (2L, 1, "qty", 88L, 150L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    assert(live() === expected)
  }

  test("collection element cells reassemble over the reconcile scan (C11b)") {
    graft.GraftExtensions.register(spark)
    val d = Files.createTempDirectory("cells-coll").toString
    // list elements as element-per-cell, two flushes: pk 1 gets
    // elements at ck 1..3, then a REWRITE of element ck=2 in a later
    // flush — per-element LWW must keep the rewrite only
    Seq((1L, 1, "qty", 10L, 100L), (1L, 2, "qty", 20L, 100L),
        (1L, 3, "qty", 30L, 100L), (2L, 1, "qty", 5L, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    Seq((1L, 2, "qty", 99L, 200L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val merged = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    val lists = graft.cassandra.CellModel.reassembleList(merged)
      .select(col("pk"), col("elems"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(lists === Map(1L -> Seq(10L, 99L, 30L), 2L -> Seq(5L)))
  }

  test("composite-pk IN pushes the cartesian multiget (C8c)") {
    val d = Files.createTempDirectory("cells-cpkin").toString
    for ((t, day) <- Seq(("x", 1L), ("x", 2L), ("y", 1L), ("y", 2L)))
      (0 until 20).map(s => (t, day, s, "qty", day * 100 + s, 10L))
        .toDF("t", "d", "s", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .option("primaryKey", "((t,d),s)")
        .option("keyType.t", "string").option("keyType.d", "bigint")
        .option("keyType.s", "int")
        .mode("append").save(d)
    def read() = spark.read.format("graft.sources.CellSource").load(d)
    // all four single-partition flushes planned on a full scan
    assert(read().rdd.getNumPartitions === 4)
    // IN on one part + equality on the other: the cartesian hashes to
    // 2 tokens → per-token Summary/bloom pruning plans ≤ 2 splits
    val two = read().filter(col("t") === "x" && col("d").isin(1L, 2L))
    assert(two.rdd.getNumPartitions <= 2, "composite multiget pruning")
    assert(two.select("value").as[Long].collect().toSet ===
      (0 until 20).flatMap(s => Seq(100L + s, 200L + s)).toSet)
    // two INs: 2×2 product → all four partitions, still key-served
    val four = read().filter(col("t").isin("x", "y") &&
      col("d").isin(1L, 2L))
    assert(four.count() === 80)
    // absent combinations bloom-prune to zero splits
    val none = read().filter(col("t") === "z" && col("d").isin(1L, 2L))
    assert(none.rdd.getNumPartitions === 0, "absent-combo pruning")
    // a partial binding (missing d) cannot route: full scan, exact
    // residual — Cassandra refuses this shape; the scan stays correct
    assert(read().filter(col("t") === "x").rdd.getNumPartitions === 4)
  }

  test("pk IN (...) pushes down and prunes files per value (C8b)") {
    val d = Files.createTempDirectory("cells-multiget").toString
    (0 until 4).foreach { i =>
      val base = i * 1000L
      (0 until 50).map(j => (base + j, 0, "qty", j.toLong, 100L))
        .toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(d)
    }
    def read() = spark.read.format("graft.sources.CellSource").load(d)
    // values from ONE file's range → one partition planned
    val one = read().filter(col("pk").isin(2001L, 2002L))
    assert(one.rdd.getNumPartitions === 1, "per-value file pruning")
    assert(one.collect().map(_.getLong(0)).toSet === Set(2001L, 2002L))
    // values inside ranges but ABSENT → bloom prunes to zero
    val none = read().filter(col("pk").isin(57L, 1063L))
    assert(none.rdd.getNumPartitions === 0, "bloom per-value pruning")
    assert(none.count() === 0L)
    // spanning sets hit exactly the covering files; the residual
    // filter still drops in-range non-members
    val span = read().filter(col("pk").isin(5L, 3005L))
    assert(span.rdd.getNumPartitions === 2)
    assert(span.collect().map(_.getLong(0)).toSet === Set(5L, 3005L))
    // reconcile path: LWW winner of a multiget key survives
    Seq((2001L, 0, "qty", 777L, 999L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val rec = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .filter(col("pk").isin(2001L, 3005L))
      .as[(Long, Int, String, Long, Long)].collect().toSet
    assert(rec === Set((2001L, 0, "qty", 777L, 999L),
      (3005L, 0, "qty", 5L, 100L)))
  }

  test("cleanOrphans removes only stale staged files") {
    import java.nio.file.{Files => JF, Paths => JP}
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-orphans").toString
    Seq((1L, 1, "qty", 10L, 100L)).toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    // an OLD crash orphan, a FRESH in-flight stage, and a decoy name
    val old = JP.get(d, ".staged-1-00000-0000.cells.tmp")
    val fresh = JP.get(d, ".staged-2-00000-0000.cells.tmp")
    JF.write(old, Array[Byte](1)); JF.write(fresh, Array[Byte](1))
    val now = 1000000000L
    JF.setLastModifiedTime(old,
      java.nio.file.attribute.FileTime.fromMillis(now - 7200000L))
    JF.setLastModifiedTime(fresh,
      java.nio.file.attribute.FileTime.fromMillis(now - 1000L))
    val deleted = CellMaintenance.cleanOrphans(d,
      olderThanMs = 3600000L, nowMs = now)
    assert(deleted === Seq(".staged-1-00000-0000.cells.tmp"))
    assert(!JF.exists(old) && JF.exists(fresh))
    // the table itself is untouched
    assert(spark.read.format("graft.sources.CellSource").load(d)
      .count() === 1L)
  }

  test("runtime pk filtering: a broadcast join prunes cell files at runtime") {
    // SupportsRuntimeV2Filtering: the build side's pk set reaches the
    // scan after the broadcast materializes, and the scan re-plans to
    // the files whose Summary range + bloom admit SOME queried pk —
    // join-driven point pruning (what a 100 TB index probe needs).
    val d = Files.createTempDirectory("cells-dpp").toString
    // 4 disjoint pk-range files via 4 single-file appends
    (0 until 4).foreach { i =>
      val base = i * 1000L
      (0 until 50).map(j => (base + j, 0, "qty", j.toLong, 100L))
        .toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(d)
    }
    // file-backed dim (a LocalRelation doesn't qualify for the
    // pruning-subquery rewrite), filtered to pks in ONE file's range
    val dimDir = Files.createTempDirectory("cells-dpp-dim").toString
    import spark.implicits._
    Seq((2001L, "a"), (2002L, "b"), (9999L, "miss"))
      .toDF("jpk", "tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("tag") =!= "miss")
    val cells = spark.read.format("graft.sources.CellSource").load(d)
    val joined = cells.join(dim, col("pk") === col("jpk"))
      .select(col("pk"), col("value"), col("tag"))
    val rows = joined.collect()
    assert(rows.map(_.getLong(0)).toSet === Set(2001L, 2002L))
    // the scan carries a runtime filter in the executed plan
    val p = joined.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning") ||
      p.contains("RuntimeFilters: [pk"), p)
  }

  test("runtime pk filtering also prunes the reconcile merge plan") {
    // same join-driven pruning through the k-way MERGE scan: a file
    // holding no queried pk holds no version of any queried key, so
    // dropping it can't change a winner
    val d = Files.createTempDirectory("cells-dpp-rec").toString
    (0 until 4).foreach { i =>
      val base = i * 1000L
      (0 until 50).map(j => (base + j, 0, "qty", j.toLong, 100L + i))
        .toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(d)
    }
    // one REWRITE of a queried key in a separate flush — the merge
    // must still see both versions after pruning
    Seq((2001L, 0, "qty", 777L, 999L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val dimDir = Files.createTempDirectory("cells-dpp-rec-dim").toString
    import spark.implicits._
    Seq((2001L, "a"), (2002L, "b"), (9999L, "miss"))
      .toDF("jpk", "tag").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("tag") =!= "miss")
    val merged = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    val joined = merged.join(dim, col("pk") === col("jpk"))
      .select(col("pk"), col("value"))
    val rows = joined.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === Set((2001L, 777L), (2002L, 2L)),
      s"LWW winner must survive runtime pruning: $rows")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning") ||
      p.contains("RuntimeFilters: [pk"), p)
  }

  test("secondary index: value-keyed cell table, pruned lookup (C18b)") {
    import graft.sources.CellIndex
    val d = Files.createTempDirectory("cells-2i-base").toString
    Seq((1L, 1, "qty", 100L, 100L), (2L, 1, "qty", 200L, 100L),
        (3L, 1, "qty", 100L, 100L), (3L, 2, "qty", 100L, 100L),
        (4L, 1, "price", 100L, 100L)) // other column: NOT indexed
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    // a later flush REWRITES (1,1): pk 1 no longer holds qty=100
    Seq((1L, 1, "qty", 300L, 200L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val idx = Files.createTempDirectory("cells-2i-idx").toString
    CellIndex.build(spark, d, idx, "qty", files = 4)
    def pksOf(v: Long): Set[Long] =
      CellIndex.lookupPks(spark, idx, v).as[Long].collect().toSet
    // built from the RECONCILED base: the rewritten-away value is out
    assert(pksOf(100L) === Set(3L))
    assert(pksOf(300L) === Set(1L))
    assert(pksOf(200L) === Set(2L))
    assert(pksOf(999L) === Set.empty[Long])
    // the index IS a normal cell table: its point lookup plans with
    // file pruning (Summary/bloom over pk = the indexed value), and
    // commits published its manifest
    val lookupScan = spark.read.format("graft.sources.CellSource")
      .load(idx).filter(col("pk") === 100L)
    assert(lookupScan.rdd.getNumPartitions <=
      graft.sources.CellManifest.read(idx).map(_.size).getOrElse(99))
    assert(graft.sources.CellManifest.read(idx).nonEmpty)
    // a REBUILD after more writes replaces the index generation
    Seq((5L, 1, "qty", 100L, 300L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    CellIndex.build(spark, d, idx, "qty", files = 4)
    assert(pksOf(100L) === Set(3L, 5L))
  }

  test("CONTAINS lookup through the collection index (C64)") {
    import graft.sources.CellIndex
    import graft.cassandra.{CellModel => CM64}
    val d = Files.createTempDirectory("cells-contains-base").toString
    // element-per-cell collections: pk's 'qty' list is its ck-ordered
    // element cells (C11b layout)
    Seq((1L, 0, "qty", 10L, 100L), (1L, 1, "qty", 20L, 100L),
        (2L, 0, "qty", 20L, 100L), (2L, 1, "qty", 30L, 100L),
        (3L, 0, "qty", 40L, 100L),
        (4L, 0, "price", 20L, 100L)) // same value, other column
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val idx = Files.createTempDirectory("cells-contains-idx").toString
    CellIndex.build(spark, d, idx, "qty", files = 4)
    def containing(v: Long): Map[Long, Seq[Long]] =
      CM64.reassembleList(CellIndex.lookupBase(spark, d, idx, v))
        .filter(array_contains(col("elems"), lit(v)))
        .as[(Long, Seq[Long])].collect().toMap
    // CONTAINS 20 → pks 1 and 2, each with its FULL list
    assert(containing(20L) === Map(1L -> Seq(10L, 20L), 2L -> Seq(20L, 30L)))
    assert(containing(40L) === Map(3L -> Seq(40L)))
    // absent element: empty, and the probe never scans the base
    assert(containing(99L).isEmpty)
    // an element REMOVED by a later list rewrite drops out after the
    // base re-check even while the index still holds the stale entry
    Seq((1L, 1, "qty", 25L, 200L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    // onStale=ignore keeps the stale index entry (20 → pk 1); the
    // reassembled base row no longer contains 20 → filtered out
    val stale = CM64.reassembleList(
        CellIndex.lookupBase(spark, d, idx, 20L, onStale = "ignore"))
      .filter(array_contains(col("elems"), lit(20L)))
      .as[(Long, Seq[Long])].collect().toMap
    assert(stale === Map(2L -> Seq(20L, 30L)))
  }

  test("counter=true sums shards across flush files (C10b)") {
    val d = Files.createTempDirectory("cells-counter").toString
    // three flush generations of increments to the same counters —
    // the shard merge must meet across files, like the LWW merge
    Seq((1L, 1, "qty", 10L, 100L), (2L, 1, "qty", 5L, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    Seq((1L, 1, "qty", 7L, 200L), (1L, 1, "price", 3L, 200L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    Seq((1L, 1, "qty", -2L, 300L)) // decrements are just negative shards
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val counters = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("counter", "true").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    assert(counters === Set(
      (1L, 1, "qty", 15L, 300L),  // 10 + 7 - 2, wt = max shard wt
      (1L, 1, "price", 3L, 200L),
      (2L, 1, "qty", 5L, 100L)))
    // the same table under plain reconcile stays LWW (a counter table
    // is a READ-MODE property, the raw shards are ordinary cells)
    val lww = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    assert(lww.contains((1L, 1, "qty", -2L, 300L)))
    // counter mode on a non-numeric table is a plan-time error
    val sd = Files.createTempDirectory("cells-counter-str").toString
    Seq((1L, 1, "flag", "R", 100L)).toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("valueType", "string").mode("append").save(sd)
    val e = intercept[Exception] {
      spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").option("counter", "true").load(sd)
        .collect()
    }
    assert(e.toString.contains("numeric") ||
      Option(e.getCause).exists(_.toString.contains("numeric")), e.toString)
  }

  test("tombstones older than gcGrace are purged by compaction") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-compact-gc").toString
    Seq((1L, 1, "qty", 10L, 100L), (2L, 1, "qty", 40L, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    Seq((1L, Int.MinValue, "!del*", 0L, 200L),  // old: outside grace
        (2L, Int.MinValue, "!del*", 0L, 900L))  // recent: inside grace
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    // now=1000, grace=500 → cutoff 500: the ts-200 tombstone is purged
    // (every replica has seen it), the ts-900 one is rewritten
    CellMaintenance.compact(spark, d, gcGraceMs = 500L, nowMs = 1000L)
    val raw = spark.read.format("graft.sources.CellSource").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    assert(raw === Set((2L, Int.MinValue, "!del*", 0L, 900L)))
    // the grace window can also come from a catalog table property:
    // with TBLPROPERTIES('gcGraceMs'='50') and now=1000, the ts-900
    // tombstone (cutoff 950) is purged too
    Files.writeString(java.nio.file.Paths.get(d, "_props"),
      "gcGraceMs=50\n")
    CellMaintenance.compact(spark, d, nowMs = 1000L)
    assert(spark.read.format("graft.sources.CellSource").load(d)
      .count() === 0L)
  }

  test("append into an existing table rejects a mismatched value type") {
    val d = Files.createTempDirectory("cells-mixed").toString
    Seq((1L, 0, "qty", 10L, 1000L)).toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val strDf = Seq((2L, 0, "qty", "s", 2000L))
      .toDF("pk", "ck", "col", "value", "wt")
    // Spark's own analyzer already rejects the DataFrameWriter path
    // (inferSchema serves the existing long type, string can't cast)…
    intercept[Exception] {
      strDf.coalesce(1).write.format("graft.sources.CellSource")
        .option("valueType", "string").mode("append").save(d)
    }
    // …and the connector's OWN guard covers direct DSv2 use and the
    // plan-to-commit race, so a mixed-type table can't be published
    // even when the analyzer is out of the loop.
    val wb = new graft.sources.CellWriteBuilder(d,
      CellSource.schemaFor(org.apache.spark.sql.types.StringType))
    val e = intercept[IllegalArgumentException](wb.build())
    assert(e.getMessage.contains("does not match existing table value"),
      e.toString)
    // the table is untouched and still long-valued (a retype needs the
    // DSv2 truncate, which replaces the table wholesale — the analyzer
    // keeps even overwrite type-stable through DataFrameWriter, since
    // inferSchema serves the existing type)
    val back = spark.read.format("graft.sources.CellSource").load(d)
    assert(back.schema("value").dataType.typeName === "long")
    assert(back.count() === 1)
  }

  test("compaction preserves counter sums via the counter property") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-counter-compact").toString
    // counter shards across two flush generations
    Seq((1L, 1, "qty", 10L, 100L), (2L, 1, "qty", 5L, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    Seq((1L, 1, "qty", 7L, 200L), (1L, 1, "qty", -2L, 300L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    // the catalog-declared counter table property must steer the
    // compaction read: an LWW rewrite would keep only the -2 shard
    // and permanently lose the sum
    Files.writeString(java.nio.file.Paths.get(d, "_props"),
      "counter=true\n")
    CellMaintenance.compact(spark, d)
    val summed = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("counter", "true").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    assert(summed === Set((1L, 1, "qty", 15L, 300L),
      (2L, 1, "qty", 5L, 100L)))
    // the rewrite landed ONE summed shard per counter, not the loser
    val raw = spark.read.format("graft.sources.CellSource").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    assert(raw === summed)
  }

  test("mixed-type dir fails reconcile even when pruning drops the odd file") {
    import java.nio.file.{Paths, StandardCopyOption}
    val d = Files.createTempDirectory("cells-mixed").toString
    Seq((1L, 1, "qty", 10L, 100L)).toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    // fabricate a pre-guard mixed directory: a string-valued file
    // smuggled in as a later generation, far away in pk space so a
    // point lookup at pk=1 range-prunes it
    val sd = Files.createTempDirectory("cells-mixed-str").toString
    Seq((1000L, 1, "flag", "R", 100L)).toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("valueType", "string").mode("append").save(sd)
    val sfile = Files.list(Paths.get(sd)).iterator.asScala
      .find(_.toString.endsWith(".cells")).get
    Files.copy(sfile, Paths.get(d, "data-0001.cells"),
      StandardCopyOption.REPLACE_EXISTING)
    graft.sources.CellManifest.refresh(d)
    // manifest path: the odd-typed file is pruned by the Summary range
    // check, but the uniformity guard must still fail table-wide
    val e = intercept[Exception] {
      spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").load(d)
        .filter(col("pk") === 1L).collect()
    }
    assert(e.toString.contains("uniform") ||
      Option(e.getCause).exists(_.toString.contains("uniform")), e.toString)
    // header-fallback path (stale/absent manifest): same failure
    Files.delete(Paths.get(d, "_manifest"))
    val e2 = intercept[Exception] {
      spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").load(d)
        .filter(col("pk") === 1L).collect()
    }
    assert(e2.toString.contains("uniform") ||
      Option(e2.getCause).exists(_.toString.contains("uniform")),
      e2.toString)
  }

  // ---- CEL6: typed partition/clustering keys (C36) ----

  private def typedWrite(df: org.apache.spark.sql.DataFrame, d: String,
      pk: String, types: (String, String)*): Unit = {
    var w = df.write.format("graft.sources.CellSource")
      .option("primaryKey", pk)
    types.foreach { case (n, t) => w = w.option(s"keyType.$n", t) }
    w.mode("append").save(d)
  }

  test("string-keyed table round-trips and LWW-reconciles (C36)") {
    val d = Files.createTempDirectory("cells-typed").toString
    val rows = Seq(
      ("alice", 1, "qty", 10L, 100L),
      ("alice", 1, "qty", 20L, 200L), // newer version → wins
      ("alice", 2, "price", 5L, 100L),
      ("bob", 1, "qty", 7L, 150L),
      ("carol", 3, "qty", 9L, 100L))
    typedWrite(rows.toDF("user", "ck", "col", "value", "wt")
      .repartition(2), d, "((user),ck)", "user" -> "string",
      "ck" -> "int")
    val plain = spark.read.format("graft.sources.CellSource").load(d)
    assert(plain.schema.fieldNames.toSeq ==
      Seq("user", "ck", "col", "value", "wt"))
    assert(plain.count() == 5)
    val rec = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .orderBy("user", "ck", "col")
      .as[(String, Int, String, Long, Long)].collect().toSeq
    assert(rec == Seq(
      ("alice", 1, "qty", 20L, 200L),
      ("alice", 2, "price", 5L, 100L),
      ("bob", 1, "qty", 7L, 150L),
      ("carol", 3, "qty", 9L, 100L)))
  }

  test("composite partition key ((tenant,day),ts) reconciles (C36)") {
    val d = Files.createTempDirectory("cells-comp").toString
    val rows = (0 until 300).map { i =>
      (s"t${i % 7}", (i % 5).toLong, i, "qty", i.toLong, 100L)
    }
    typedWrite(rows.toDF("tenant", "day", "ts", "col", "value", "wt")
      .repartition(3), d, "((tenant, day), ts)",
      "tenant" -> "string", "day" -> "long", "ts" -> "int")
    val rec = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    assert(rec.schema.fieldNames.toSeq ==
      Seq("tenant", "day", "ts", "col", "value", "wt"))
    assert(rec.count() == 300) // all keys distinct → all survive
    // every pk part bound by equality → ONE token pushed; result exact
    val got = rec.filter(col("tenant") === "t3" && col("day") === 2L)
      .as[(String, Long, Int, String, Long, Long)].collect().toSet
    val want = rows.filter(r => r._1 == "t3" && r._2 == 2L).toSet
    assert(got == want)
  }

  test("typed point lookup prunes files via token bloom (C36/C8)") {
    val d = Files.createTempDirectory("cells-typed-prune").toString
    val rows = (0 until 400).map { i =>
      (f"u$i%03d", i % 3, "qty", i.toLong, 100L)
    }
    // range-partitioned by user → each file holds ~1/8 of the users,
    // so a point token passes at most one or two blooms
    typedWrite(rows.toDF("user", "ck", "col", "value", "wt")
      .repartitionByRange(8, col("user")), d, "((user),ck)",
      "user" -> "string", "ck" -> "int")
    val all = spark.read.format("graft.sources.CellSource").load(d)
    assert(all.rdd.getNumPartitions == 8)
    val one = all.filter(col("user") === "u050")
    assert(one.rdd.getNumPartitions <= 2)
    assert(one.as[(String, Int, String, Long, Long)].collect().toSeq ==
      Seq(("u050", 50 % 3, "qty", 50L, 100L)))
    // multiget: IN-list pushes per-value token pruning
    val two = all.filter(col("user").isin("u010", "u350"))
    assert(two.rdd.getNumPartitions <= 4)
    assert(two.count() == 2)
    // reconcile scan prunes the same way (pushdown commutes with merge)
    val recOne = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .filter(col("user") === "u050")
    assert(recOne.rdd.getNumPartitions <= 2)
    assert(recOne.count() == 1)
  }

  test("typed-key tombstone markers shadow through the merge (C36)") {
    val d = Files.createTempDirectory("cells-typed-del").toString
    val data = Seq(
      ("a", 1, "qty", 1L, 100L),
      ("a", 2, "qty", 2L, 100L),
      ("b", 1, "qty", 3L, 100L),
      ("b", 2, "qty", 4L, 100L),
      ("c", 1, "qty", 5L, 100L))
    typedWrite(data.toDF("user", "ck", "col", "value", "wt"), d,
      "((user),ck)", "user" -> "string", "ck" -> "int")
    // second flush: partition tombstone on 'a' (newer than its data),
    // row tombstone on ('b', 1) newer than data, cell tombstone on
    // ('c', 1).qty OLDER than data (must NOT shadow)
    val marks = Seq(
      ("a", 0, CellSource.PartitionTombstone, 0L, 150L),
      ("b", 1, CellSource.RowTombstone, 0L, 150L),
      ("c", 1, CellSource.CellTombstonePrefix + "qty", 0L, 50L))
    typedWrite(marks.toDF("user", "ck", "col", "value", "wt"), d,
      "((user),ck)", "user" -> "string", "ck" -> "int")
    val rec = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .as[(String, Int, String, Long, Long)].collect().toSet
    assert(rec == Set(
      ("b", 2, "qty", 4L, 100L),
      ("c", 1, "qty", 5L, 100L)))
  }

  test("typed append refuses a different key layout (C36)") {
    val d = Files.createTempDirectory("cells-typed-mix").toString
    typedWrite(Seq(("x", 1, "q", 1L, 1L))
      .toDF("user", "ck", "col", "value", "wt"), d, "((user),ck)",
      "user" -> "string", "ck" -> "int")
    val e = intercept[Exception] {
      Seq((1L, 1, "q", 1L, 1L)).toDF("pk", "ck", "col", "value", "wt")
        .write.format("graft.sources.CellSource")
        .mode("append").save(d)
    }
    // Spark's analyzer already rejects it (the inferred table schema
    // leads with the typed key columns); the connector's own guard in
    // CellWriteBuilder.build backstops DSv2 paths that skip analysis.
    assert(e.toString.contains("INCOMPATIBLE_DATA_FOR_TABLE") ||
      e.toString.contains("columns") ||
      e.toString.contains("key layout"), e.toString)
  }

  test("perPartitionLimit emits first n live rows per pk (C22)") {
    val d = Files.createTempDirectory("cells-pplim").toString
    // pk 1: cks 1..5 ('qty'+'price' each); pk 2: cks 1..3
    val data = for {
      pk <- Seq(1L, 2L); ck <- 1 to (if (pk == 1) 5 else 3)
      c <- Seq("qty", "price")
    } yield (pk, ck, c, ck.toLong, 100L)
    CellSource.writeSnapshot(d, data, files = 2)
    def readLim(n: Int) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true")
      .option("perPartitionLimit", n.toString).load(d)
    val two = readLim(2).as[(Long, Int, String, Long, Long)]
      .collect().toSet
    assert(two == data.filter(_._2 <= 2).toSet) // both cells of rows 1,2
    // a FULLY-SHADOWED first row must not consume the budget: delete
    // ck=1 of pk=1 (both cells) with a row tombstone, then limit 2
    // must serve cks 2 and 3
    Seq((1L, 1, CellSource.RowTombstone, 0L, 999L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val afterDel = readLim(2).filter(col("pk") === 1L)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    assert(afterDel == data.filter(r =>
      r._1 == 1L && (r._2 == 2 || r._2 == 3)).toSet)
  }

  test("pushed LIMIT caps reconcile readers per partition") {
    val d = Files.createTempDirectory("cells-lim").toString
    val data = (0 until 1000).map(i =>
      (i.toLong, 0, "qty", i.toLong, 1L))
    CellSource.writeSnapshot(d, data, files = 4)
    val lim = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d).limit(5)
    assert(lim.count() == 5)
    val plain = spark.read.format("graft.sources.CellSource").load(d)
      .limit(3)
    assert(plain.count() == 3)
  }

  test("append mid-plan / stale manifest: reads are a consistent " +
      "generation") {
    import java.nio.file.{Files => JF, Paths => JP, StandardCopyOption}
    val d = Files.createTempDirectory("cells-race").toString
    CellSource.writeSnapshot(d, Seq(
      (1L, 1, "qty", 10L, 1L), (2L, 1, "qty", 20L, 1L)), files = 1)
    def reconciled(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, String, Long, Long)].collect().toSet
    // 1. Define the read BEFORE the append commits (the "mid-plan"
    //    interleave — DSv2 plans at action time, so the read must
    //    serve exactly the post-append generation, never a torn mix).
    val df = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    Seq((2L, 1, "qty", 99L, 5L), (3L, 1, "qty", 30L, 1L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val gen1 = Set((1L, 1, "qty", 10L, 1L), (2L, 1, "qty", 99L, 5L),
      (3L, 1, "qty", 30L, 1L))
    assert(reconciled(df) == gen1)
    // 2. STALE manifest (the crash-between-publish-and-refresh
    //    window): land a third flush by hand, bypassing the commit's
    //    manifest rewrite — the name-list no longer matches, so every
    //    planner must fall back to per-file headers and still serve
    //    the full listing.
    val side = Files.createTempDirectory("cells-race-side").toString
    CellSource.writeSnapshot(side, Seq((4L, 1, "qty", 40L, 1L)),
      files = 1)
    JF.copy(JP.get(side, "data-0000.cells"),
      JP.get(d, "data-0099.cells"), StandardCopyOption.REPLACE_EXISTING)
    val manifest = JF.readString(JP.get(d, "_manifest"))
    assert(!manifest.contains("data-0099.cells")) // really stale
    assert(reconciled(spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)) ==
      gen1 + ((4L, 1, "qty", 40L, 1L)))
    // point lookups keep pruning correctly under the stale manifest
    val one = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d).filter(col("pk") === 4L)
    assert(reconciled(one) == Set((4L, 1, "qty", 40L, 1L)))
    // 3. A manifest refresh heals it; results unchanged.
    graft.sources.CellManifest.refresh(d)
    assert(JF.readString(JP.get(d, "_manifest"))
      .contains("data-0099.cells"))
    assert(reconciled(spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)) ==
      gen1 + ((4L, 1, "qty", 40L, 1L)))
  }

  /** The typed-key half of each subset-compaction test: four flushes
    * of a `((user),ck)` table, two cells with per-cell TTLs (CEL11),
    * rewritten by `pass` into one file. Every winner's `_expiry` must
    * survive the rewrite, and a read past both expiries must not serve
    * the TTL'd cells.
    */
  private def typedTtlSurvives(name: String)(pass: String => Unit): Unit = {
    val d = Files.createTempDirectory(name).toString
    Seq(("u-1", 0, "qty", 1L, 1000L, Some(500L)), // expires at 1500
      ("u-2", 0, "qty", 2L, 1000L, None),
      ("u-1", 1, "price", 3L, 1100L, Some(900L)), // expires at 2000
      ("u-3", 0, "qty", 4L, 1200L, None))
      .foreach(r => writeTypedTtl(d, Seq(r)))
    def rec(opt: (String, String)) = spark.read
      .format("graft.sources.CellSource").option("reconcile", "true")
      .option(opt._1, opt._2).load(d)
    def winners() = rec("withTtl" -> "true")
      .as[(String, Int, String, Long, Long, Long)].collect().toSet
    val before = winners()
    assert(before.count(_._6 != Long.MaxValue) == 2, before)
    pass(d)
    assert(Files.list(java.nio.file.Paths.get(d)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".cells")) == 1)
    assert(winners() == before)
    assert(rec("queryTime" -> "5000").select("user", "ck")
      .as[(String, Int)].collect().toSet == Set(("u-2", 0), ("u-3", 0)))
  }

  test("size-tiered compaction rewrites only the small tier (STCS)") {
    import java.nio.file.{Files => JF, Paths => JP}
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-stcs").toString
    def names() = scala.util.Using.resource(JF.list(JP.get(d))) { s =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".cells")).toSet
    }
    // one BIG cold generation…
    CellSource.writeSnapshot(d, (0 until 20000).map(i =>
      (i.toLong, 1, "qty", i.toLong, 1L)), files = 1)
    // …plus three small flushes with LWW rewrites…
    (1 to 3).foreach { k =>
      CellSource.writeSnapshot(d,
        Seq((k.toLong, 1, "qty", (1000 + k).toLong, 10L + k)),
        files = 1, startIndex = k)
    }
    // …and a fourth small flush carrying a row tombstone for (5, 1)
    Seq((5L, 1, CellSource.RowTombstone, 0L, 999L),
        (6L, 1, "qty", 1006L, 10L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    def reconciled() = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    val before = reconciled()
    assert(!before.exists(_._1 == 5L)) // tombstone shadows row 5
    val Some((compacted, nb, na)) = CellMaintenance.compactTiered(spark, d)
    // only the 4-file small tier compacts; the big generation is
    // untouched (name survives — cold data never rewritten)
    assert(compacted.toSet ==
      Set("data-0001.cells", "data-0002.cells", "data-0003.cells",
        "data-0004.cells"))
    assert(names().contains("data-0000.cells"))
    assert(nb == 5 && na == 2, s"$nb -> $na")
    // read parity: same winners, and the tombstone still shadows the
    // BIG tier's row 5 (markers survive a subset compaction)
    assert(reconciled() == before)
    // a second pass finds no eligible tier (1 big + 1 merged file)
    assert(CellMaintenance.compactTiered(spark, d).isEmpty)
    typedTtlSurvives("cells-stcs-typed") { t =>
      assert(CellMaintenance.compactTiered(spark, t).isDefined)
    }
  }

  test("leveled compaction: L0 merges to disjoint L1, promotes on budget (C54)") {
    import java.nio.file.{Files => JF, Paths => JP}
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-lcs").toString
    def flush(rows: Seq[(Long, Int, String, Long, Long)]) =
      rows.toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(d)
    // four overlapping L0 flushes (one is an LWW rewrite of another)
    flush((0L until 60L).map(pk => (pk, 0, "qty", pk, 100L)))
    flush((30L until 90L).map(pk => (pk, 0, "qty", pk + 1000, 200L)))
    flush((60L until 120L).map(pk => (pk, 0, "qty", pk + 2000, 300L)))
    flush(Seq((40L, 0, "qty", 9999L, 400L)))
    def reconciled() = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    val before = reconciled()
    val Some((t1, in1, out1)) =
      CellMaintenance.compactLeveled(spark, d, rollRecords = 64)
    assert(t1 == 1 && in1.size == 4, (t1, in1))
    assert(out1.nonEmpty)
    // the registry holds every output at level 1, and L1 ranges are
    // pairwise disjoint (the LCS invariant a point read relies on)
    val lv1 = CellMaintenance.levels(d)
    assert(out1.forall(lv1.get(_).contains(1)), lv1)
    val files1 = scala.util.Using.resource(JF.list(JP.get(d))) { s0 =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(s0.iterator())
        .asScala.map(_.toString).filter(_.endsWith(".cells"))
        .toList.sorted
    }
    val ranges = graft.sources.CellManifest.current(d, files1).get
      .filter(e => lv1.get(e.name).contains(1))
      .map(e => (e.minPk, e.maxPk)).sortBy(_._1)
    assert(ranges.size == out1.size)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 < b._1, s"overlap: $a $b")
      case _ =>
    }
    assert(reconciled() == before)
    // under threshold and under budget: nothing to do
    assert(CellMaintenance.compactLeveled(spark, d).isEmpty)
    // a fresh L0 flush far to the RIGHT + 3 more: the next L0 pass
    // pulls in only the L1 files its range overlaps
    (0 until 4).foreach(k =>
      flush(Seq((200L + k, 0, "qty", k.toLong, 500L))))
    val Some((t2, in2, _)) =
      CellMaintenance.compactLeveled(spark, d, rollRecords = 64)
    assert(t2 == 1 && in2.size == 4, (t2, in2)) // NO L1 file touched
    assert(reconciled() == before ++
      (0 until 4).map(k => (200L + k, 0, "qty", k.toLong, 500L)))
    // budget pressure: l1Bytes=1 puts L1 over budget → its first file
    // promotes to L2 (no L2 files exist yet to merge with)
    val Some((t3, in3, out3)) = CellMaintenance
      .compactLeveled(spark, d, l1Bytes = 1L, rollRecords = 64)
    assert(t3 == 2 && in3.size == 1, (t3, in3))
    val lv3 = CellMaintenance.levels(d)
    assert(out3.forall(lv3.get(_).contains(2)), lv3)
    assert(reconciled() == before ++
      (0 until 4).map(k => (200L + k, 0, "qty", k.toLong, 500L)))
    typedTtlSurvives("cells-lcs-typed") { t =>
      assert(CellMaintenance.compactLeveled(spark, t).exists(_._1 == 1))
    }
  }

  test("time-window compaction never merges across windows (C51, TWCS)") {
    import java.nio.file.{Files => JF, Paths => JP}
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-twcs").toString
    def names() = scala.util.Using.resource(JF.list(JP.get(d))) { s =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".cells")).toSet
    }
    def flush(rows: Seq[(Long, Int, String, Long, Long)]) =
      rows.toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(d)
    // window width 1000 ms: two flushes land in window 0 (an LWW
    // rewrite pair), two in window 5, and ONE cold file in window 9
    flush(Seq((1L, 0, "qty", 1L, 100L)))
    flush(Seq((1L, 0, "qty", 2L, 200L)))
    flush(Seq((2L, 0, "qty", 3L, 5100L)))
    flush(Seq((2L, 0, "qty", 4L, 5200L)))
    flush(Seq((3L, 0, "qty", 5L, 9100L)))
    val coldName = names().toSeq.sorted.last // data-0004, window 9
    def reconciled() = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    val before = reconciled()
    val merged = CellMaintenance.compactWindows(spark, d, 1000L)
    // windows 0 and 5 each merged their two files; the single-file
    // window 9 was NOT glued onto either (the TWCS invariant)
    assert(merged.toMap == Map(0L -> 2, 5L -> 2), merged)
    assert(names().size == 3, names())
    assert(names().contains(coldName), "cold window file rewritten")
    assert(reconciled() == before)
    // stable windows: a second pass finds nothing to do
    assert(CellMaintenance.compactWindows(spark, d, 1000L).isEmpty)
    // all four typed flushes sit in window 1
    typedTtlSurvives("cells-twcs-typed") { t =>
      assert(CellMaintenance.compactWindows(spark, t, 1000L) ==
        Seq(1L -> 4))
    }
  }

  test("clustering zone maps prune chunks for ck slices (C37/CEL7)") {
    val d = Files.createTempDirectory("cells-ckzone").toString
    // one partition, ck grows with record index → chunks have
    // disjoint ck ranges: [0,2499] [2500,4999] [5000,7499] [7500,9999]
    val cells = (0 until 10000).map(i => (1L, i, "qty", i.toLong, 1000L))
    CellSource.writeSnapshot(d, cells, files = 1, chunkRecords = 2500)
    def read() = spark.read.format("graft.sources.CellSource")
      .option("subsplitRecords", "2500").load(d)
    assert(read().rdd.getNumPartitions == 4)
    val tail = read().filter(col("ck") >= 7500)
    assert(tail.rdd.getNumPartitions == 1, "expected ck zone-map prune")
    assert(tail.count() == 2500)
    val mid = read().filter(col("ck").between(2500, 4999))
    assert(mid.rdd.getNumPartitions == 1)
    assert(mid.count() == 2500)
    // boundary-straddling slice keeps both neighbours; residual
    // filters keep the row count exact
    val straddle = read().filter(col("ck").between(2499, 5000))
    assert(straddle.rdd.getNumPartitions == 3)
    assert(straddle.count() == 2502)
  }

  test("ck slice under reconcile keeps marker chunks (no resurrection)") {
    val d = Files.createTempDirectory("cells-ckmark").toString
    CellSource.writeSnapshot(d,
      (0 until 8000).map(i => (1L, i, "qty", i.toLong, 1000L)),
      files = 1, chunkRecords = 2000)
    // flush 2: a partition tombstone (sits at ck = Int.MinValue, far
    // below any slice) shadowing every wt <= 5000 row, plus one fresh
    // in-slice row that survives it
    Seq((1L, Int.MinValue, CellSource.PartitionTombstone, 0L, 5000L),
        (1L, 6000, "qty", 42L, 9000L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val sliced = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .filter(col("ck") >= 6000)
    // if the marker chunk were ck-pruned, the 2000 shadowed rows with
    // ck in [6000, 7999] would resurrect
    assert(sliced.as[(Long, Int, String, Long, Long)].collect().toSet ==
      Set((1L, 6000, "qty", 42L, 9000L)))
    // slice-parity + limit composition on a marker-free table
    val d2 = Files.createTempDirectory("cells-ckplain").toString
    CellSource.writeSnapshot(d2,
      (0 until 8000).map(i => (2L, i, "qty", i.toLong, 1000L)),
      files = 2, chunkRecords = 2000)
    def rec(dir: String) = spark.read
      .format("graft.sources.CellSource")
      .option("reconcile", "true").load(dir)
    val full = rec(d2).as[(Long, Int, String, Long, Long)].collect()
      .filter(r => r._2 >= 1000 && r._2 <= 1500).toSet
    val push = rec(d2).filter(col("ck").between(1000, 1500))
      .as[(Long, Int, String, Long, Long)].collect().toSet
    assert(push == full && push.size == 501)
    // CQL order of clauses: slice FIRST, then PER PARTITION LIMIT
    // counts only in-slice clustering rows
    val ppl = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("perPartitionLimit", "2")
      .load(d2).filter(col("ck") >= 1000)
      .as[(Long, Int, String, Long, Long)].collect().map(_._2).sorted
    assert(ppl.toSeq == Seq(1000, 1001))
  }

  test("plain scans keep ck = MIN marker rows visible under a slice") {
    val d = Files.createTempDirectory("cells-ckraw").toString
    CellSource.writeSnapshot(d,
      (0 until 4000).map(i => (1L, i, "qty", i.toLong, 1000L)),
      files = 1, chunkRecords = 1000)
    Seq((1L, Int.MinValue, CellSource.PartitionTombstone, 0L, 5000L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    // the raw (sstable-dump) view: a point filter AT the marker's
    // physical ck still surfaces it — the zone map spans every
    // physical row, markers included
    val marks = spark.read.format("graft.sources.CellSource").load(d)
      .filter(col("ck") === Int.MinValue)
      .as[(Long, Int, String, Long, Long)].collect()
    assert(marks.toSeq ==
      Seq((1L, Int.MinValue, CellSource.PartitionTombstone, 0L, 5000L)))
    // and a data slice on the raw view prunes the marker flush cleanly
    assert(spark.read.format("graft.sources.CellSource").load(d)
      .filter(col("ck").between(3000, 3999)).count() == 1000)
  }

  test("reverse reads: ck DESC, tail limit, slice + shadow compose (C39)") {
    val d = Files.createTempDirectory("cells-rev").toString
    CellSource.writeSnapshot(d,
      (0 until 10).map(i => (1L, i, "qty", i.toLong, 100L)) ++
        (0 until 4).map(i => (2L, i, "qty", (10 + i).toLong, 100L)),
      files = 1)
    def rev(extra: (String, String)*) = {
      val r0 = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").option("reverse", "true")
      extra.foldLeft(r0)((r, kv) => r.option(kv._1, kv._2)).load(d)
    }
    // stream order: pk ascending, ck DESCENDING within each pk
    val order = rev().as[(Long, Int, String, Long, Long)].collect()
      .map(r => (r._1, r._2)).toSeq
    assert(order == (9 to 0 by -1).map((1L, _)) ++
      (3 to 0 by -1).map((2L, _)), order)
    // PER PARTITION LIMIT under reverse keeps the LAST n rows
    assert(rev("perPartitionLimit" -> "3")
      .as[(Long, Int, String, Long, Long)].collect()
      .map(r => (r._1, r._2)).toSet ==
      Set((1L, 9), (1L, 8), (1L, 7), (2L, 3), (2L, 2), (2L, 1)))
    // slice first, then the tail limit — and a row tombstone on the
    // newest row moves the tail window back
    Seq((1L, 9, CellSource.RowTombstone, 0L, 999L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    assert(rev("perPartitionLimit" -> "2")
      .filter(col("pk") === 1L)
      .as[(Long, Int, String, Long, Long)].collect()
      .map(_._2).toSet == Set(8, 7))
    assert(rev("perPartitionLimit" -> "2")
      .filter(col("pk") === 1L && col("ck").between(2, 5))
      .as[(Long, Int, String, Long, Long)].collect()
      .map(_._2).toSet == Set(5, 4))
    // unbounded reverse of a too-wide partition fails fast
    val e = intercept[org.apache.spark.SparkException] {
      rev("reverseMaxRows" -> "5").collect()
    }
    assert(e.getMessage.contains("reverse") ||
      e.getCause != null, e.getMessage)
  }

  test("stale index heals incrementally; rebuild only on compaction " +
      "(C18d)") {
    import graft.sources.{CellIndex, CellMaintenance}
    import java.nio.file.{Files => JF, Paths => JP}
    val base = Files.createTempDirectory("cells-idxd-base").toString
    val idx = Files.createTempDirectory("cells-idxd").toString
    def idxFiles() = scala.util.Using.resource(JF.list(JP.get(idx))) {
      s => scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".cells")).toSet
    }
    CellSource.writeSnapshot(base, Seq(
      (1L, 1, "qty", 100L, 10L),
      (2L, 1, "qty", 200L, 10L),
      (3L, 1, "qty", 100L, 10L)), files = 1)
    CellIndex.build(spark, base, idx, "qty")
    val gen0 = idxFiles()
    // delta flush: one NEW value and one REWRITE (pk 1: 100 -> 300)
    Seq((9L, 1, "qty", 777L, 10L), (1L, 1, "qty", 300L, 20L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(base)
    assert(CellIndex.isStale(idx))
    // default heal is INCREMENTAL: the original index generation is
    // still on disk afterwards (a full rebuild would truncate it)
    assert(CellIndex.lookupPks(spark, idx, 777L)
      .as[Long].collect().toSet == Set(9L))
    assert(gen0.subsetOf(idxFiles()), s"$gen0 vs ${idxFiles()}")
    assert(!CellIndex.isStale(idx))
    assert(CellIndex.lookupPks(spark, idx, 300L)
      .as[Long].collect().toSet == Set(1L))
    // the rewritten-away value stays as an index FALSE POSITIVE —
    // Cassandra's 2i contract — and the base re-read drops it
    assert(CellIndex.lookupPks(spark, idx, 100L)
      .as[Long].collect().toSet == Set(1L, 3L))
    assert(CellIndex.lookupBase(spark, base, idx, 100L)
      .filter(col("value") === 100L)
      .select("pk").as[Long].collect().toSet == Set(3L))
    // compaction replaces the base generation wholesale: the delta is
    // undefined, so the heal falls back to a FULL rebuild — which
    // also purges the false positive
    CellMaintenance.compact(spark, base)
    assert(CellIndex.isStale(idx))
    assert(CellIndex.lookupPks(spark, idx, 100L)
      .as[Long].collect().toSet == Set(3L))
    assert(CellIndex.lookupPks(spark, idx, 777L)
      .as[Long].collect().toSet == Set(9L))
    assert(!CellIndex.isStale(idx))
  }

  test("write-through 2i: registered index stays fresh across " +
      "writes; out-of-band flushes still heal (C18f)") {
    import graft.sources.CellIndex
    import java.nio.file.{Files => JF, Paths => JP}
    val base = Files.createTempDirectory("cells-idxf-base").toString
    val idx = Files.createTempDirectory("cells-idxf").toString
    CellSource.writeSnapshot(base, Seq(
      (1L, 1, "qty", 100L, 10L),
      (2L, 1, "qty", 200L, 10L)), files = 1)
    CellIndex.build(spark, base, idx, "qty", writeThrough = true)
    // a PLAIN append through the DSv2 writer maintains the index from
    // the write path: no refresh call, and onStale=fail proves it
    Seq((9L, 1, "qty", 777L, 10L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(base)
    assert(!CellIndex.isStale(idx))
    assert(CellIndex.lookupPks(spark, idx, 777L, onStale = "fail")
      .as[Long].collect().toSet == Set(9L))
    // out-of-band write (registry bypassed — simulates a file-level
    // restore / foreign writer): staleness is detected and the lazy
    // C18d heal still serves
    val reg = JP.get(base).resolve("_indexes")
    val regContent = JF.readString(reg)
    JF.delete(reg)
    Seq((8L, 1, "qty", 555L, 10L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(base)
    JF.writeString(reg, regContent)
    assert(CellIndex.isStale(idx))
    assert(CellIndex.lookupPks(spark, idx, 555L) // default: heal
      .as[Long].collect().toSet == Set(8L))
    assert(!CellIndex.isStale(idx))
    // write-through resumes after the heal
    Seq((7L, 1, "qty", 444L, 10L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(base)
    assert(!CellIndex.isStale(idx))
    assert(CellIndex.lookupPks(spark, idx, 444L, onStale = "fail")
      .as[Long].collect().toSet == Set(7L))
    // drop unregisters and deletes
    CellIndex.drop(idx)
    assert(!JF.exists(JP.get(idx)))
    assert(CellIndex.registered(base).isEmpty)
  }

  test("secondary index over a TYPED (CEL6) base: string keys in the " +
      "entry value, lookups compose by part name (C18g)") {
    import graft.sources.CellIndex
    val base = Files.createTempDirectory("cells-idx-typed").toString
    val idx = Files.createTempDirectory("cells-idx-typed-i").toString
    def write(rows: Seq[(String, Int, String, Long, Long)],
        start: Int = 0): Unit =
      rows.toDF("user", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .option("primaryKey", "((user),ck)")
        .option("keyType.user", "string").option("keyType.ck", "int")
        .mode("append").save(base)
    write(Seq(("u-1", 1, "qty", 100L, 10L), ("u-2", 1, "qty", 200L, 10L),
      ("u-3", 1, "qty", 100L, 10L), ("u-1", 1, "price", 5L, 10L)))
    CellIndex.build(spark, base, idx, "qty", writeThrough = true)
    // the hit set carries the base's STRING pk part
    assert(CellIndex.lookupPks(spark, idx, 100L, onStale = "fail")
      .as[String].collect().toSet == Set("u-1", "u-3"))
    // the base re-read composes by part name: full rows of hit users
    val hit = CellIndex.lookupBase(spark, base, idx, 100L)
      .select("user", "col", "value")
      .as[(String, String, Long)].collect().toSet
    assert(hit == Set(("u-1", "qty", 100L), ("u-1", "price", 5L),
      ("u-3", "qty", 100L)))
    // write-through keeps the typed index fresh (delta epoch)
    write(Seq(("u-9", 1, "qty", 100L, 10L)))
    assert(!CellIndex.isStale(idx))
    assert(CellIndex.lookupPks(spark, idx, 100L, onStale = "fail")
      .as[String].collect().toSet == Set("u-1", "u-3", "u-9"))
  }

  test("secondary index over a MULTI-part partition key: the entry " +
      "value is the C59-packed key tuple (C18h)") {
    import graft.sources.CellIndex
    // the C36c shape: PRIMARY KEY ((tenant, day), seq)
    val multi = Files.createTempDirectory("cells-idx-multi").toString
    val idx = Files.createTempDirectory("cells-idx-multi-i").toString
    def write(rows: Seq[(String, Long, Int, String, Long, Long)]): Unit =
      rows.toDF("tenant", "day", "seq", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .option("primaryKey", "((tenant,day),seq)")
        .option("keyType.tenant", "string")
        .option("keyType.day", "bigint").option("keyType.seq", "int")
        .mode("append").save(multi)
    write(Seq(
      ("t1", 1L, 1, "qty", 10L, 10L), ("t1", 1L, 1, "price", 7L, 10L),
      ("t1", 2L, 1, "qty", 20L, 10L), ("t2", 1L, 1, "qty", 10L, 10L),
      ("t2", 2L, 1, "qty", 30L, 10L)))
    CellIndex.build(spark, multi, idx, "qty", writeThrough = true)
    // the index table's value column is a BINARY packed tuple
    val idxDf = spark.read.format("graft.sources.CellSource").load(idx)
    assert(idxDf.schema("value").dataType ===
      org.apache.spark.sql.types.BinaryType)
    // lookupBase unpacks the tuples and re-reads the base by part
    // name: full rows of the (tenant, day) partitions holding qty=10
    val hit = CellIndex.lookupBase(spark, multi, idx, 10L)
      .select("tenant", "day", "col", "value")
      .as[(String, Long, String, Long)].collect().toSet
    assert(hit === Set(("t1", 1L, "qty", 10L), ("t1", 1L, "price", 7L),
      ("t2", 1L, "qty", 10L)))
    // false-positive drop: the composed read re-applies nothing here
    // (lookupBase returns whole rows); but a DIFFERENT value must not
    // leak through the hit set
    assert(CellIndex.lookupBase(spark, multi, idx, 20L)
      .select("tenant", "day").as[(String, Long)].collect().toSet ===
      Set(("t1", 2L)))
    // write-through keeps the multi-part index fresh (delta epoch)
    write(Seq(("t3", 9L, 1, "qty", 10L, 10L)))
    assert(!CellIndex.isStale(idx))
    assert(CellIndex.lookupBase(spark, multi, idx, 10L)
      .filter($"col" === "qty")
      .select("tenant", "day").as[(String, Long)].collect().toSet ===
      Set(("t1", 1L), ("t2", 1L), ("t3", 9L)))
    // the semi-join fallback path (multigetMax = 0 forces it) agrees
    assert(CellIndex.lookupBase(spark, multi, idx, 10L,
        multigetMax = 0)
      .filter($"col" === "qty")
      .select("tenant", "day").as[(String, Long)].collect().toSet ===
      Set(("t1", 1L), ("t2", 1L), ("t3", 9L)))
  }

  test("typed ck zone maps prune chunks for slices (C37b/CEL8)") {
    val d = Files.createTempDirectory("cells-typed-ckzone").toString
    // ONE text-keyed partition, ck grows with record index → chunks
    // hold disjoint ck ranges, exactly the CEL7 layout lifted to a
    // hashed key
    CellSource.writeSnapshotKeyed(d, "((user),ck)",
      Map("user" -> "string", "ck" -> "int"),
      (0 until 10000).map(i =>
        (Seq("alice"), Seq(i), "qty", i.toLong, 1000L)),
      files = 1, chunkRecords = 2500)
    def read() = spark.read.format("graft.sources.CellSource")
      .option("subsplitRecords", "2500").load(d)
    assert(read().rdd.getNumPartitions == 4)
    val tail = read().filter(col("ck") >= 7500)
    assert(tail.rdd.getNumPartitions == 1, "expected typed ck prune")
    assert(tail.count() == 2500)
    // boundary-straddling slice keeps both neighbours, counts exact
    val straddle = read().filter(col("ck").between(2499, 5000))
    assert(straddle.rdd.getNumPartitions == 3)
    assert(straddle.count() == 2502)
    // the pushed slice is visible in the plan
    assert(tail.queryExecution.executedPlan.toString.contains("ckSlice="),
      tail.queryExecution.executedPlan.toString)
  }

  test("typed slice: marker safety, limit and reverse compose (C37b)") {
    val d = Files.createTempDirectory("cells-typed-ckmark").toString
    CellSource.writeSnapshotKeyed(d, "((user),ck)",
      Map("user" -> "string", "ck" -> "int"),
      (0 until 8000).map(i =>
        (Seq("u1"), Seq(i), "qty", i.toLong, 1000L)),
      files = 1, chunkRecords = 2000)
    // DELETE the partition (marker flush; wt = max+1 = 1001), then a
    // fresh in-slice row past the deletion
    new graft.sources.CellTable(d).deleteWhere(
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("user", "u1")))
    typedWrite(Seq(("u1", 6000, "qty", 42L, 9000L))
      .toDF("user", "ck", "col", "value", "wt"), d, "((user),ck)",
      "user" -> "string", "ck" -> "int")
    def rec() = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    // if the marker chunk were slice-pruned, the 2000 shadowed rows
    // with ck in [6000, 7999] would resurrect
    assert(rec().filter(col("ck") >= 6000)
      .as[(String, Int, String, Long, Long)].collect().toSet ==
      Set(("u1", 6000, "qty", 42L, 9000L)))
    // slice-parity + CQL clause order on a marker-free table
    val d2 = Files.createTempDirectory("cells-typed-ckplain").toString
    CellSource.writeSnapshotKeyed(d2, "((user),ck)",
      Map("user" -> "string", "ck" -> "int"),
      (0 until 8000).map(i =>
        (Seq("u2"), Seq(i), "qty", i.toLong, 1000L)),
      files = 2, chunkRecords = 2000)
    val push = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d2)
      .filter(col("ck").between(1000, 1500))
    assert(push.count() == 501)
    val ppl = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("perPartitionLimit", "2")
      .load(d2).filter(col("ck") >= 1000)
      .as[(String, Int, String, Long, Long)].collect().map(_._2).sorted
    assert(ppl.toSeq == Seq(1000, 1001))
    // reverse + slice: the tail of the SLICE, not of the partition
    val rev = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("reverse", "true")
      .option("perPartitionLimit", "2").load(d2)
      .filter(col("ck").between(10, 20))
      .as[(String, Int, String, Long, Long)].collect().map(_._2)
    assert(rev.toSeq == Seq(20, 19), rev.toSeq)
  }

  test("typed raw scans vectorize and round-trip (CEL8 columnar)") {
    val d = Files.createTempDirectory("cells-typed-vec").toString
    val rows = (0 until 5000).map(i => (s"u${i % 7}", i, "qty",
      i.toLong, 1000L + i))
    typedWrite(rows.toDF("user", "ck", "col", "value", "wt"), d,
      "((user),ck)", "user" -> "string", "ck" -> "int")
    val df = spark.read.format("graft.sources.CellSource").load(d)
    // the typed plain scan feeds ColumnarBatches (ColumnarToRow on
    // top), not row-at-a-time GenericInternalRows
    assert(df.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"), df.queryExecution.executedPlan)
    assert(df.as[(String, Int, String, Long, Long)].collect().toSet ==
      rows.toSet)
    // column pruning through the vectorized path
    assert(df.select("value").as[Long].collect().sorted.toSeq ==
      (0L until 5000L).toSeq)
  }

  test("typed reconcile batches output; identity-token TopN pushes") {
    val d = Files.createTempDirectory("cells-typed-recvec").toString
    val rows = (0 until 5000).map(i => (s"u${i % 7}", i, "qty",
      i.toLong, 1000L))
    typedWrite(rows.toDF("user", "ck", "col", "value", "wt"), d,
      "((user),ck)", "user" -> "string", "ck" -> "int")
    val rec = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    assert(rec.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"), rec.queryExecution.executedPlan)
    assert(rec.count() == 5000)
    // ORDER BY the long identity-token pk LIMIT n pushes TopN on a
    // typed table too (hashed keys refuse — token order != value
    // order)
    val d2 = Files.createTempDirectory("cells-typed-topn").toString
    typedWrite((0 until 5000).map(i => (i.toLong, 1, "qty", i.toLong,
      10L)).toDF("id", "ck", "col", "value", "wt"), d2,
      "((id),ck)", "id" -> "bigint", "ck" -> "int")
    // anchor on the SCAN description ("limit=n cols=...") — the
    // TakeOrderedAndProject operator prints "limit=n" regardless
    val top = spark.read.format("graft.sources.CellSource").load(d2)
      .orderBy("id").limit(3)
    assert(top.queryExecution.executedPlan.toString
      .contains("limit=3 cols="),
      top.queryExecution.executedPlan.toString)
    assert(top.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    val hashedTop = spark.read.format("graft.sources.CellSource")
      .load(d).orderBy("user").limit(3)
    assert(!hashedTop.queryExecution.executedPlan.toString
      .contains("limit=3 cols="))
    assert(hashedTop.collect().map(_.getString(0)).forall(_ == "u0"))
  }

  test("materialized view: build + full-row lookup, no base I/O (C40)") {
    import graft.sources.CellView
    val d = Files.createTempDirectory("cells-mv-base").toString
    val vd = Files.createTempDirectory("cells-mv-view").toString
    // rows (pk, 1): qty = pk % 3, price = pk * 10
    CellSource.writeSnapshot(d, (0L until 12L).flatMap(pk => Seq(
      (pk, 1, "qty", pk % 3, 100L),
      (pk, 1, "price", pk * 10, 100L))), files = 2)
    CellView.build(spark, d, vd, "qty")
    val hit = CellView.lookup(spark, vd, 1L)
      .as[(Long, Long, Int, String, Long, Long)].collect().toSet
    // pks with qty=1: 1, 4, 7, 10 — FULL rows (price included)
    assert(hit == (Seq(1L, 4L, 7L, 10L).flatMap(pk => Seq(
      (1L, pk, 1, "price", pk * 10, 100L),
      (1L, pk, 1, "qty", 1L, 100L))).toSet), hit)
    // the lookup plans against the VIEW table only
    val plan = CellView.lookup(spark, vd, 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains(vd) && !plan.contains(d), plan)
  }

  test("materialized view refresh: update, move, delete (C40)") {
    import graft.sources.CellView
    import org.apache.spark.sql.sources.EqualTo
    val d = Files.createTempDirectory("cells-mv2-base").toString
    val vd = Files.createTempDirectory("cells-mv2-view").toString
    CellSource.writeSnapshot(d, (0L until 9L).flatMap(pk => Seq(
      (pk, 1, "qty", pk % 3, 100L),
      (pk, 1, "price", pk * 10, 100L))), files = 1)
    CellView.build(spark, d, vd, "qty")
    def vk(v: Long) = CellView.lookup(spark, vd, v)
      .as[(Long, Long, Int, String, Long, Long)].collect()
      .map(r => (r._2, r._4, r._5)).toSet
    // flush 2: pk=1 price update (same partition), pk=4 qty 1 → 2
    // (moves partitions), pk=7 row-deleted
    CellSource.writeSnapshot(d, Seq(
      (1L, 1, "price", 999L, 200L),
      (4L, 1, "qty", 2L, 200L)), files = 1, startIndex = 1)
    new graft.sources.CellTable(d).deleteWhere(
      Array[org.apache.spark.sql.sources.Filter](
        EqualTo("pk", 7L), EqualTo("ck", 1)))
    assert(CellView.isStale(vd))
    CellView.refresh(spark, vd)
    assert(!CellView.isStale(vd))
    // pk=1: updated price visible, still at vk=1
    assert(vk(1L) == Set((1L, "price", 999L), (1L, "qty", 1L)), vk(1L))
    // pk=4 moved: gone from vk=1 (asserted above), full row at vk=2
    assert(vk(2L) == Set((2L, "price", 20L), (2L, "qty", 2L),
      (5L, "price", 50L), (5L, "qty", 2L),
      (8L, "price", 80L), (8L, "qty", 2L),
      (4L, "price", 40L), (4L, "qty", 2L)), vk(2L))
    // pk=7 deleted: gone from its old partition vk=1 — checked above;
    // vk=0 untouched
    assert(vk(0L).map(_._1) == Set(0L, 3L, 6L))
    // deleting just the view column moves the row OUT of the view
    Seq((0L, 1, CellSource.CellTombstonePrefix + "qty", 0L, 300L))
      .toDF("pk", "ck", "col", "value", "wt").coalesce(1)
      .write.format("graft.sources.CellSource").mode("append").save(d)
    CellView.refresh(spark, vd)
    assert(vk(0L).map(_._1) == Set(3L, 6L))
    // compaction replaces the generation → refresh rebuilds
    graft.sources.CellMaintenance.compact(spark, d)
    assert(CellView.isStale(vd))
    val total = CellView.read(spark, vd).count()
    assert(!CellView.isStale(vd))
    // rows: pks 1..6,8 minus... pk 7 deleted, pk 0 qty-deleted →
    // 8 rows × 2 cells minus pk7, pk0 → (9-2)*2 = 14
    assert(total == 14, total)
  }

  test("materialized view A-B-A move converges (the shadowable-" +
      "tombstone corner detects and rebuilds)") {
    import graft.sources.CellView
    val d = Files.createTempDirectory("cells-mv-aba-base").toString
    val vd = Files.createTempDirectory("cells-mv-aba-view").toString
    // row pk=1: a data cell at wt=10 and the view column at wt=5 —
    // the movement tombstone (maxOldWt = 10) will EXCEED the data
    // cell's writetime on return, the exact A-B-A trap
    CellSource.writeSnapshot(d, Seq(
      (1L, 1, "price", 77L, 10L),
      (1L, 1, "qty", 100L, 5L)), files = 1)
    CellView.build(spark, d, vd, "qty")
    def vk(v: Long) = CellView.lookup(spark, vd, v)
      .as[(Long, Long, Int, String, Long, Long)].collect()
      .map(r => (r._2, r._4, r._5)).toSet
    assert(vk(100L) === Set((1L, "price", 77L), (1L, "qty", 100L)))
    // move OUT: qty 100 → 200 (wt 11); refresh writes a movement
    // tombstone at (vk=100, pk=1) with wt = maxOldWt = 10
    CellSource.writeSnapshot(d, Seq((1L, 1, "qty", 200L, 11L)),
      files = 1, startIndex = 1)
    CellView.refresh(spark, vd)
    assert(vk(100L) === Set.empty[(Long, String, Long)])
    assert(vk(200L) === Set((1L, "price", 77L), (1L, "qty", 200L)))
    // move BACK: qty 200 → 100 (wt 12). The returning row's price
    // cell still carries wt=10 — at-or-before the movement tombstone.
    // The append protocol would over-shadow it forever; refresh must
    // detect the corner and rebuild so the view converges.
    CellSource.writeSnapshot(d, Seq((1L, 1, "qty", 100L, 12L)),
      files = 1, startIndex = 2)
    CellView.refresh(spark, vd)
    assert(!CellView.isStale(vd))
    assert(vk(100L) === Set((1L, "price", 77L), (1L, "qty", 100L)))
    assert(vk(200L) === Set.empty[(Long, String, Long)])
  }

  test("materialized view over a TYPED (CEL6) base: build, refresh " +
      "(update/move/delete), lookup (C40b)") {
    import graft.sources.CellView
    val d = Files.createTempDirectory("cells-mv-typed-base").toString
    val vd = Files.createTempDirectory("cells-mv-typed-view").toString
    def write(rows: Seq[(String, Int, String, Long, Long)],
        start: Int = 0): Unit =
      rows.toDF("user", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .option("primaryKey", "((user),ck)")
        .option("keyType.user", "string").option("keyType.ck", "int")
        .mode("append").save(d)
    write(Seq(
      ("u-1", 1, "qty", 1L, 100L), ("u-1", 1, "price", 10L, 100L),
      ("u-2", 1, "qty", 2L, 100L), ("u-2", 1, "price", 20L, 100L),
      ("u-3", 1, "qty", 1L, 100L)))
    CellView.build(spark, d, vd, "qty")
    // view columns carry the typed base parts under the b-prefix
    assert(CellView.read(spark, vd).schema.fieldNames.toSeq ===
      Seq("vk", "buser", "bck", "col", "value", "wt"))
    def vk(v: Long) = CellView.lookup(spark, vd, v)
      .select("buser", "col", "value")
      .as[(String, String, Long)].collect().toSet
    assert(vk(1L) === Set(("u-1", "qty", 1L), ("u-1", "price", 10L),
      ("u-3", "qty", 1L)))
    // update (same partition), move (u-3 qty 1 -> 2), and the
    // refresh heals delta-sized
    write(Seq(("u-1", 1, "price", 999L, 200L),
      ("u-3", 1, "qty", 2L, 200L)), start = 1)
    assert(CellView.isStale(vd))
    CellView.refresh(spark, vd)
    assert(!CellView.isStale(vd))
    assert(vk(1L) === Set(("u-1", "qty", 1L), ("u-1", "price", 999L)))
    assert(vk(2L) === Set(("u-2", "qty", 2L), ("u-2", "price", 20L),
      ("u-3", "qty", 2L)))
    // typed row DELETE through the SQL path moves the row out
    spark.conf.set("spark.sql.catalog.mvtb", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.mvtb.root",
      java.nio.file.Paths.get(d).getParent.toString)
    try {
      graft.cql.Cql.execute(spark,
        s"DELETE FROM $d WHERE user = 'u-2' AND ck = 1")
    } finally {
      spark.conf.unset("spark.sql.catalog.mvtb")
      spark.conf.unset("spark.sql.catalog.mvtb.root")
    }
    CellView.refresh(spark, vd)
    assert(vk(2L) === Set(("u-3", "qty", 2L)))
  }

  test("materialized view over a MULTI-part partition key base: " +
      "build, refresh (update/move/row+partition delete) (C40c)") {
    import graft.sources.CellView
    val d = Files.createTempDirectory("cells-mv-multi-base").toString
    val vd = Files.createTempDirectory("cells-mv-multi-view").toString
    def write(rows: Seq[(String, Long, Int, String, Long, Long)]): Unit =
      rows.toDF("tenant", "day", "seq", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .option("primaryKey", "((tenant,day),seq)")
        .option("keyType.tenant", "string")
        .option("keyType.day", "bigint").option("keyType.seq", "int")
        .mode("append").save(d)
    write(Seq(
      ("t1", 1L, 1, "qty", 1L, 100L), ("t1", 1L, 1, "price", 10L, 100L),
      ("t1", 2L, 1, "qty", 2L, 100L),
      ("t2", 1L, 1, "qty", 1L, 100L),
      ("t2", 2L, 1, "qty", 3L, 100L)))
    CellView.build(spark, d, vd, "qty")
    // view key: ((vk), btenant, bday, bseq) — vk alone partitions
    assert(CellView.read(spark, vd).schema.fieldNames.toSeq ===
      Seq("vk", "btenant", "bday", "bseq", "col", "value", "wt"))
    def vk(v: Long) = CellView.lookup(spark, vd, v)
      .select("btenant", "bday", "col", "value")
      .as[(String, Long, String, Long)].collect().toSet
    assert(vk(1L) === Set(("t1", 1L, "qty", 1L),
      ("t1", 1L, "price", 10L), ("t2", 1L, "qty", 1L)))
    // update in place + MOVE ((t2,1) qty 1 -> 5) heal delta-sized
    write(Seq(("t1", 1L, 1, "price", 999L, 200L),
      ("t2", 1L, 1, "qty", 5L, 200L)))
    assert(CellView.isStale(vd))
    CellView.refresh(spark, vd)
    assert(!CellView.isStale(vd))
    assert(vk(1L) === Set(("t1", 1L, "qty", 1L),
      ("t1", 1L, "price", 999L)))
    assert(vk(5L) === Set(("t2", 1L, "qty", 5L)))
    // ROW tombstone on (t1, 2, 1) moves the row out of vk=2
    write(Seq(("t1", 2L, 1, graft.sources.CellSource.RowTombstone,
      0L, 300L)))
    CellView.refresh(spark, vd)
    assert(vk(2L) === Set.empty)
    // PARTITION tombstone on (t2, 2) — the multi-part partition key
    // names the whole partition — clears vk=3
    write(Seq(("t2", 2L, 0, graft.sources.CellSource.PartitionTombstone,
      0L, 300L)))
    CellView.refresh(spark, vd)
    assert(vk(3L) === Set.empty)
    // survivors intact after all deltas
    assert(vk(1L) === Set(("t1", 1L, "qty", 1L),
      ("t1", 1L, "price", 999L)))
  }

  test("compactIfNeeded stcs policy: tier passes, cold file survives") {
    import graft.sources.CellMaintenance
    import java.nio.file.{Files => JF, Paths => JP}
    val d = Files.createTempDirectory("cells-stcs-pol").toString
    def names() = scala.util.Using.resource(JF.list(JP.get(d))) { s =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".cells")).toSet
    }
    CellSource.writeSnapshot(d, (0 until 20000).map(i =>
      (i.toLong, 1, "qty", i.toLong, 1L)), files = 1)
    (1 to 5).foreach { k =>
      CellSource.writeSnapshot(d,
        Seq((k.toLong, 1, "qty", (1000 + k).toLong, 10L + k)),
        files = 1, startIndex = k)
    }
    def reconciled() = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .as[(Long, Int, String, Long, Long)].collect().toSet
    val before = reconciled()
    val Some((nb, na)) =
      CellMaintenance.compactIfNeeded(spark, d, maxFiles = 3,
        policy = "stcs")
    assert(nb == 6 && na <= 3, s"$nb -> $na")
    // the cold generation was never rewritten
    assert(names().contains("data-0000.cells"))
    assert(reconciled() == before)
    // below threshold: no-op
    assert(CellMaintenance.compactIfNeeded(spark, d, maxFiles = 3,
      policy = "stcs").isEmpty)
  }

  test("typed-key reverse reads: ck DESC + tail limit on CEL6 (C39)") {
    val d = Files.createTempDirectory("cells-typed-rev").toString
    typedWrite(
      ((0 until 6).map(i => ("alice", i, "qty", i.toLong, 100L)) ++
        (0 until 3).map(i => ("bob", i, "qty", (10 + i).toLong, 100L)))
        .toDF("user", "ck", "col", "value", "wt"),
      d, "((user),ck)", "user" -> "string", "ck" -> "int")
    def rev(extra: (String, String)*) = {
      val r0 = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").option("reverse", "true")
      extra.foldLeft(r0)((r, kv) => r.option(kv._1, kv._2)).load(d)
    }
    // within each user, ck strictly DESCENDING in stream order
    val byUser = rev().as[(String, Int, String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(byUser("alice") == (5 to 0 by -1) &&
      byUser("bob") == (2 to 0 by -1), byUser)
    // tail limit keeps the LAST n clustering rows per typed key, and
    // a row tombstone on the newest row moves the window back
    typedWrite(Seq(("alice", 5, CellSource.RowTombstone, 0L, 999L))
      .toDF("user", "ck", "col", "value", "wt"), d, "((user),ck)",
      "user" -> "string", "ck" -> "int")
    assert(rev("perPartitionLimit" -> "2")
      .as[(String, Int, String, Long, Long)].collect()
      .filter(_._1 == "alice").map(_._2).toSet == Set(4, 3))
  }

  test("DELETE-as-tombstone on a typed-key table (C38/CEL6)") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual,
      LessThanOrEqual}
    val d = Files.createTempDirectory("cells-typed-del").toString
    typedWrite(
      (Seq("alice", "bob", "carol").flatMap(u =>
        (0 until 4).map(i => (u, i, "qty", i.toLong, 100L))))
        .toDF("user", "ck", "col", "value", "wt"),
      d, "((user),ck)", "user" -> "string", "ck" -> "int")
    val t = new graft.sources.CellTable(d)
    def live() = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .as[(String, Int, String, Long, Long)].collect()
      .map(r => (r._1, r._2)).toSet
    // partition delete on the text key
    assert(t.canDeleteWhere(
      Array[org.apache.spark.sql.sources.Filter](
        EqualTo("user", "alice"))))
    t.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      EqualTo("user", "alice")))
    assert(!live().exists(_._1 == "alice"))
    // row delete
    t.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      EqualTo("user", "bob"), EqualTo("ck", 1)))
    assert(live().filter(_._1 == "bob").map(_._2) == Set(0, 2, 3))
    // int-ck range delete
    t.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      EqualTo("user", "carol"), GreaterThanOrEqual("ck", 1),
      LessThanOrEqual("ck", 2)))
    assert(live().filter(_._1 == "carol").map(_._2) == Set(0, 3))
    // a later write past the deletion survives (LWW)
    typedWrite(Seq(("alice", 9, "qty", 99L, 50000L))
      .toDF("user", "ck", "col", "value", "wt"), d, "((user),ck)",
      "user" -> "string", "ck" -> "int")
    assert(live().filter(_._1 == "alice") == Set(("alice", 9)))
    // unbound pk part refuses
    assert(!t.canDeleteWhere(
      Array[org.apache.spark.sql.sources.Filter](EqualTo("ck", 1))))
  }

  test("index staleness: detect, fail fast, rebuild on lookup (C18c)") {
    import graft.sources.CellIndex
    val base = Files.createTempDirectory("cells-idx-base").toString
    val idx = Files.createTempDirectory("cells-idx").toString
    CellSource.writeSnapshot(base, Seq(
      (1L, 1, "qty", 100L, 10L),
      (2L, 1, "qty", 200L, 10L),
      (3L, 1, "qty", 100L, 10L)), files = 1)
    CellIndex.build(spark, base, idx, "qty")
    assert(!CellIndex.isStale(idx))
    assert(CellIndex.lookupPks(spark, idx, 100L)
      .as[Long].collect().toSet == Set(1L, 3L))
    // a base flush after the build makes the index stale
    Seq((9L, 1, "qty", 777L, 10L)).toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(base)
    assert(CellIndex.isStale(idx))
    intercept[IllegalStateException] {
      CellIndex.lookupPks(spark, idx, 777L, onStale = "fail")
    }
    // ignore serves the recorded generation (777 not yet indexed)…
    assert(CellIndex.lookupPks(spark, idx, 777L, onStale = "ignore")
      .isEmpty)
    // …and the default REBUILDS in place, then serves the new row
    assert(CellIndex.lookupPks(spark, idx, 777L)
      .as[Long].collect().toSet == Set(9L))
    assert(!CellIndex.isStale(idx))
  }

  test("string-valued index: typed key lookup returns base pks (C18c)") {
    import graft.sources.CellIndex
    val base = Files.createTempDirectory("cells-sidx-base").toString
    val idx = Files.createTempDirectory("cells-sidx").toString
    Seq((1L, 1, "flag", "R", 10L), (2L, 1, "flag", "A", 10L),
        (3L, 1, "flag", "R", 10L), (3L, 1, "flag", "N", 20L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("valueType", "string").mode("append").save(base)
    CellIndex.build(spark, base, idx, "flag")
    // index table is CEL6: partition key = the string value
    val idxSchema = spark.read.format("graft.sources.CellSource")
      .load(idx).schema
    assert(idxSchema("pk").dataType ==
      org.apache.spark.sql.types.StringType)
    // pk 3's 'R' was rewritten to 'N' (LWW) before indexing
    assert(CellIndex.lookupPks(spark, idx, "R")
      .as[Long].collect().toSet == Set(1L))
    assert(CellIndex.lookupPks(spark, idx, "N")
      .as[Long].collect().toSet == Set(3L))
    assert(CellIndex.lookupPks(spark, idx, "Z").isEmpty)
  }

  test("identity-token long pk keeps range pushdown (C36)") {
    val d = Files.createTempDirectory("cells-typed-id").toString
    val rows = (0 until 400).map(i => (i.toLong, i % 3, "qty", i.toLong,
      100L))
    typedWrite(rows.toDF("id", "ck", "col", "value", "wt")
      .repartitionByRange(8, col("id")), d, "((id),ck)",
      "id" -> "long", "ck" -> "int")
    val all = spark.read.format("graft.sources.CellSource").load(d)
    assert(all.schema.fieldNames.head == "id")
    assert(all.rdd.getNumPartitions == 8)
    // a RANGE predicate prunes files — only identity-token layouts can
    val hi = all.filter(col("id") >= 350L)
    assert(hi.rdd.getNumPartitions <= 2)
    assert(hi.count() == 50)
  }

  test("token-range scan restricts exactly and prunes files (C41)") {
    val full = read()
    val ranged = spark.read.format("graft.sources.CellSource")
      .option("tokenRange", "20:40").load(dir)
    val expected = full.filter(col("pk").between(20, 40))
    assert(ranged.except(expected).isEmpty &&
      expected.except(ranged).isEmpty)
    // identity tokens on the range-partitioned snapshot: a narrow
    // range plans fewer than the 8 full-table files
    assert(ranged.rdd.getNumPartitions < 8)
    // pushed pk filters compose with the option by intersection
    val both = ranged.filter(col("pk") >= 30)
    val expect2 = full.filter(col("pk").between(30, 40))
    assert(both.except(expect2).isEmpty &&
      expect2.except(both).isEmpty)
  }

  test("ring splits are disjoint and exhaustive, long + hashed (C41)") {
    // identity-token table: all pks sit in split 2 of 4 ([0, 2^62)),
    // but the union must still be exactly the table — no double
    // counts (disjoint) and no gaps (exhaustive)
    val full = graft.sources.CellSnapshots.readReconciled(spark, sf())
    val union = (0 until 4)
      .map(i => graft.sources.CellSnapshots.readTokenSplit(spark, sf(),
        4, i))
      .reduce(_ unionAll _)
    assert(union.count() == full.count())
    assert(union.except(full).isEmpty && full.except(union).isEmpty)
    // hashed text-key table: tokens spread over the ring, so several
    // of 8 splits are non-empty and the union is still the table
    val kdir = graft.sources.CellSnapshots.ensureKeyed(spark, sf())
    def ksplit(i: Int) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("tokenSplits", "8")
      .option("tokenSplit", i.toString).load(kdir)
    val kfull = graft.sources.CellSnapshots.readKeyedReconciled(spark,
      sf())
    val kparts = (0 until 8).map(ksplit)
    val kunion = kparts.reduce(_ unionAll _)
    assert(kunion.count() == kfull.count())
    assert(kunion.except(kfull).isEmpty && kfull.except(kunion).isEmpty)
    assert(kparts.count(_.limit(1).count() > 0) > 1)
  }

  test("token range addresses hashed partitions by token (C41)") {
    import graft.sources.{KeyCodec, KeyPart, KeySpec, ValueCodec}
    val spec = KeySpec(
      List(KeyPart("user", ValueCodec.StringTag, 0, 0)),
      List(KeyPart("ck", ValueCodec.IntTag, 0, 0)))
    val t = KeyCodec.token(spec, Array(
      org.apache.spark.unsafe.types.UTF8String.fromString("user-3")))
    val kdir = graft.sources.CellSnapshots.ensureKeyed(spark, sf())
    val one = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true")
      .option("tokenRange", s"$t:$t").load(kdir)
    // the point token range holds exactly user-3's partition (no
    // colliding keys in this fixture)
    assert(one.select("user").distinct().as[String].collect().toSet ==
      Set("user-3"))
  }

  // ---- `_token` metadata column (withToken) ----

  test("_token surfaces the physical partition token on typed scans") {
    import graft.sources.{KeyCodec, KeyPart, KeySpec, ValueCodec}
    val kdir = graft.sources.CellSnapshots.ensureKeyed(spark, sf())
    val df = spark.read.format("graft.sources.CellSource")
      .option("withToken", "true").load(kdir)
    assert(df.schema.fieldNames.last == "_token")
    val spec = KeySpec(
      List(KeyPart("user", ValueCodec.StringTag, 0, 0)),
      List(KeyPart("ck", ValueCodec.IntTag, 0, 0)))
    // every row's _token == token(user)
    val rows = df.select(col("user"), col("_token")).distinct()
      .as[(String, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (u, t) =>
      assert(t == KeyCodec.token(spec, Array(
        org.apache.spark.unsafe.types.UTF8String.fromString(u))), u)
    }
    // a _token range predicate IS the scan's token bounds (plan
    // prunes like the tokenRange option) and restricts exactly
    val t3 = KeyCodec.token(spec, Array(
      org.apache.spark.unsafe.types.UTF8String.fromString("user-3")))
    val one = df.filter(col("_token") === t3)
    assert(one.select("user").distinct().as[String].collect().toSet ==
      Set("user-3"))
    assert(one.queryExecution.executedPlan.toString
      .contains(s"pkRange=[$t3,$t3]"))
    // refused where meaningless
    intercept[Exception] {
      spark.read.format("graft.sources.CellSource")
        .option("withToken", "true").option("reconcile", "true")
        .load(kdir).collect()
    }
    intercept[Exception] {
      spark.read.format("graft.sources.CellSource")
        .option("withToken", "true").load(dir).collect()
    }
  }

  // ---- CEL10: per-cell TTL (USING TTL) ----

  test("per-cell TTL: write with ttl, expire at queryTime, raw survives") {
    val d = Files.createTempDirectory("cells-ttl10").toString
    // pk=1 expires at 1000+50=1050; pk=2 never (null ttl)
    Seq((1L, 0, "qty", 10L, 1000L, Some(50L)),
      (2L, 0, "qty", 20L, 1000L, None))
      .toDF("pk", "ck", "col", "value", "wt", "ttl")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("ttl", "true")
      .mode("append").save(d)
    def rec(qt: Long) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("queryTime", qt.toString)
      .load(d)
    // before expiry both live; after, only the non-TTL'd cell
    assert(rec(1040L).count() == 2)
    assert(rec(2000L).select("pk").as[Long].collect().toSet == Set(2L))
    // the raw (plain) view still serves the expired record, and
    // withTtl surfaces its absolute expiry
    val raw = spark.read.format("graft.sources.CellSource")
      .option("withTtl", "true").load(d)
    assert(raw.count() == 2)
    assert(raw.filter(col("pk") === 1L).select("_expiry")
      .as[Long].head() == 1050L)
    assert(raw.filter(col("pk") === 2L).select("_expiry")
      .as[Long].head() == Long.MaxValue)
  }

  test("per-cell TTL overrides the table default and survives compaction") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-ttl10c").toString
    // partition-default TTL = 100ms via the !ttl* marker (per-pk
    // state in the merge), on BOTH partitions...
    Seq((1L, Int.MinValue, CellSource.PartitionTtl, 100L, 0L),
      (2L, Int.MinValue, CellSource.PartitionTtl, 100L, 0L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    // ...but pk=1's cell carries its own LONGER ttl (10_000ms), and
    // pk=2's cell has none (default applies)
    Seq((1L, 0, "qty", 1L, 1000L, Some(10000L)),
      (2L, 0, "qty", 2L, 1000L, None))
      .toDF("pk", "ck", "col", "value", "wt", "ttl")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("ttl", "true")
      .mode("append").save(d)
    def rec(qt: Long) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("queryTime", qt.toString)
      .load(d)
    // at t=2000: default (1000+100) expired pk=2; pk=1's own ttl wins
    assert(rec(2000L).select("pk").as[Long].collect().toSet == Set(1L))
    // compaction preserves per-cell expiry AND the default marker
    CellMaintenance.compact(spark, d)
    assert(rec(2000L).select("pk").as[Long].collect().toSet == Set(1L))
    assert(rec(20000L).count() == 0) // pk=1 expires past its own ttl
  }

  test("repair ships per-cell expiry with the delta") {
    import graft.sources.CellMaintenance
    val dA = Files.createTempDirectory("cells-ttlrep-a").toString
    val dB = Files.createTempDirectory("cells-ttlrep-b").toString
    val common = Seq((1L, 0, "qty", 1L, 1000L, None: Option[Long]))
    def w(d: String, rows: Seq[(Long, Int, String, Long, Long, Option[Long])]) =
      rows.toDF("pk", "ck", "col", "value", "wt", "ttl")
        .coalesce(1).write.format("graft.sources.CellSource")
        .option("ttl", "true")
        .mode("append").save(d)
    w(dA, common); w(dB, common)
    w(dA, Seq((5L, 0, "qty", 5L, 1000L, Some(500L)))) // TTL'd, A-only
    CellMaintenance.repair(spark, dA, dB, bucketWidth = 64L)
    val rawB = spark.read.format("graft.sources.CellSource")
      .option("withTtl", "true").load(dB)
    assert(rawB.filter(col("pk") === 5L).select("_expiry")
      .as[Long].head() == 1500L)
  }

  // ---- CEL11: per-cell TTL on TYPED tables ----

  private def writeTypedTtl(d: String,
      rows: Seq[(String, Int, String, Long, Long, Option[Long])]): Unit =
    rows.toDF("user", "ck", "col", "value", "wt", "ttl")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("ttl", "true")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(d)

  test("typed per-cell TTL: write, expire at queryTime, raw survives (CEL11)") {
    val d = Files.createTempDirectory("cells-ttl11").toString
    writeTypedTtl(d, Seq(
      ("u-1", 0, "qty", 10L, 1000L, Some(50L)), // expires at 1050
      ("u-2", 0, "qty", 20L, 1000L, None)))     // never
    def rec(qt: Long) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("queryTime", qt.toString)
      .load(d)
    assert(rec(1040L).count() == 2)
    assert(rec(2000L).select("user").as[String].collect().toSet ==
      Set("u-2"))
    // raw typed scan still serves the record; withTtl surfaces expiry
    val raw = spark.read.format("graft.sources.CellSource")
      .option("withTtl", "true").load(d)
    assert(raw.filter(col("user") === "u-1").select("_expiry")
      .as[Long].head() == 1050L)
    assert(raw.filter(col("user") === "u-2").select("_expiry")
      .as[Long].head() == Long.MaxValue)
  }

  test("typed per-cell TTL overrides the default and survives compaction") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-ttl11c").toString
    // partition-default TTL markers on both users (typed marker rows
    // append through the same typed write; ck is neutral)
    Seq(("u-1", Int.MinValue, CellSource.PartitionTtl, 100L, 0L,
        None: Option[Long]),
      ("u-2", Int.MinValue, CellSource.PartitionTtl, 100L, 0L, None))
      .toDF("user", "ck", "col", "value", "wt", "ttl")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("ttl", "true")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(d)
    writeTypedTtl(d, Seq(
      ("u-1", 0, "qty", 1L, 1000L, Some(10000L)), // own longer ttl
      ("u-2", 0, "qty", 2L, 1000L, None)))        // default applies
    def rec(qt: Long) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("queryTime", qt.toString)
      .load(d)
    // at t=2000: default (1000+100) expired u-2; u-1's own ttl wins
    assert(rec(2000L).select("user").as[String].collect().toSet ==
      Set("u-1"))
    // typed compaction preserves per-cell expiry AND the marker
    CellMaintenance.compact(spark, d)
    assert(rec(2000L).select("user").as[String].collect().toSet ==
      Set("u-1"))
    assert(rec(20000L).count() == 0)
  }

  test("typed repair ships per-cell expiry with the delta (CEL11)") {
    import graft.sources.CellMaintenance
    val dA = Files.createTempDirectory("cells-ttl11rep-a").toString
    val dB = Files.createTempDirectory("cells-ttl11rep-b").toString
    val common = Seq(("u-1", 0, "qty", 1L, 1000L, None: Option[Long]))
    writeTypedTtl(dA, common); writeTypedTtl(dB, common)
    writeTypedTtl(dA, Seq(("u-5", 0, "qty", 5L, 1000L, Some(500L))))
    CellMaintenance.repair(spark, dA, dB)
    val rawB = spark.read.format("graft.sources.CellSource")
      .option("withTtl", "true").load(dB)
    assert(rawB.filter(col("user") === "u-5").select("_expiry")
      .as[Long].head() == 1500L)
    // converged: a second repair exchanges digests only
    assert(CellMaintenance.repair(spark, dA, dB) ==
      CellMaintenance.RepairStats(0, 0L, 0L))
  }

  test("typed files without expiring cells keep the CEL8 magic") {
    val d = Files.createTempDirectory("cells-ttl11z").toString
    writeTypedTtl(d, Seq(("u-1", 0, "qty", 1L, 1000L, None)))
    writeTypedTtl(d, Seq(("u-2", 0, "qty", 2L, 1000L, Some(9L))))
    val magics = Files.list(java.nio.file.Paths.get(d)).iterator()
      .asScala.filter(_.getFileName.toString.endsWith(".cells"))
      .map { f =>
        val in = new java.io.DataInputStream(Files.newInputStream(f))
        try in.readInt() finally in.close()
      }.toSeq.sorted
    assert(magics == Seq(CellSource.Magic8, CellSource.Magic11), magics)
    // mixed CEL8/CEL11 dirs merge fine; non-expiry record reads MaxValue
    val raw = spark.read.format("graft.sources.CellSource")
      .option("withTtl", "true").load(d)
    assert(raw.select("_expiry").as[Long].collect().toSet ==
      Set(Long.MaxValue, 1009L))
  }

  // ---- C42: anti-entropy repair ----

  private def replicaPair(): (String, String) = {
    // Full table: pks 0..999 × cols qty/price. A is missing the
    // price cells of pk ∈ [100,200); B the qty cells of pk ∈ [500,600).
    val all = (0L until 1000L).flatMap(pk =>
      Seq((pk, 0, "qty", pk, 1000L), (pk, 0, "price", pk * 2, 1000L)))
    val dA = Files.createTempDirectory("cells-rep-a").toString
    val dB = Files.createTempDirectory("cells-rep-b").toString
    CellSource.writeSnapshot(dA, all.filterNot(c =>
      c._3 == "price" && c._1 >= 100 && c._1 < 200), files = 4)
    CellSource.writeSnapshot(dB, all.filterNot(c =>
      c._3 == "qty" && c._1 >= 500 && c._1 < 600), files = 4)
    (dA, dB)
  }

  test("repair converges divergent replicas, streaming only deltas (C42)") {
    val (dA, dB) = replicaPair()
    val stats = graft.sources.CellMaintenance
      .repair(spark, dA, dB, bucketWidth = 64L)
    // mismatched Merkle leaves: [100,200) → buckets 1..3 of width 64,
    // [500,600) → buckets 7..9 (bucket ids 1,2,3,7,8,9)
    assert(stats.buckets == 6, stats)
    // exactly the missing cells stream, nothing both sides hold
    assert(stats.cellsToA == 100 && stats.cellsToB == 100, stats)
    def rec(d: String) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    assert(rec(dA).count() == 2000 && rec(dB).count() == 2000)
    assert(rec(dA).except(rec(dB)).isEmpty &&
      rec(dB).except(rec(dA)).isEmpty)
    // idempotence: a second repair exchanges digests only
    val again = graft.sources.CellMaintenance
      .repair(spark, dA, dB, bucketWidth = 64L)
    assert(again == graft.sources.CellMaintenance.RepairStats(0, 0L, 0L))
  }

  test("repair converges duplicated records and negative pks") {
    import graft.sources.CellMaintenance
    val dA = Files.createTempDirectory("cells-repdup-a").toString
    val dB = Files.createTempDirectory("cells-repdup-b").toString
    def flush(d: String, rows: Seq[(Long, Int, String, Long, Long)]) =
      rows.toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(d)
    val base = Seq((-100L, 0, "qty", 1L, 1L), (5L, 0, "qty", 2L, 1L))
    flush(dA, base)
    flush(dB, base)
    // a RETRIED append: A holds the same record twice (multiset
    // divergence the digest sees but a set-based except would not)
    flush(dA, Seq((5L, 0, "qty", 2L, 1L)))
    // and a genuinely missing NEGATIVE-pk cell on B (floor-division
    // bucketing: truncation would place it outside the re-read run)
    flush(dA, Seq((-200L, 0, "qty", 3L, 1L)))
    val stats = CellMaintenance.repair(spark, dA, dB, bucketWidth = 64L)
    assert(stats.cellsToB == 2, stats) // the dup copy + the -200 cell
    assert(CellMaintenance.repair(spark, dA, dB, bucketWidth = 64L) ==
      CellMaintenance.RepairStats(0, 0L, 0L))
    def rec(d: String) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    assert(rec(dB).filter(col("pk") === -200L).count() == 1)
  }

  // ---- C52: paging state ----

  test("pageAfter resumes a reconciled read exactly after the cursor (C52)") {
    val d = Files.createTempDirectory("cells-page").toString
    val all = (0L until 100L).flatMap(pk =>
      Seq((pk, 0, "qty", pk, 100L), (pk, 0, "price", pk * 2, 100L)))
    CellSource.writeSnapshot(d, all, files = 3)
    def flush(rows: Seq[(Long, Int, String, Long, Long)]) =
      rows.toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(d)
    flush(Seq((50L, 0, "qty", 999L, 200L)))             // LWW rewrite
    flush(Seq((60L, Int.MinValue, "!del*", 0L, 300L)))  // partition gone
    def read(after: Option[String]) = {
      val r = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true")
      after.fold(r)(a => r.option("pageAfter", a)).load(d)
        .as[(Long, Int, String, Long, Long)].collect().toSeq
        .sortBy(t => (t._1, t._2, t._3))
    }
    val full = read(None)
    assert(!full.exists(_._1 == 60L))
    // resume mid-stream: the cursor is the 77th cell — the next page
    // must be exactly the remaining suffix, rewrites and the folded
    // tombstone included
    val cur = full(76)
    val page2 = read(Some(s"${cur._1}:${cur._2}:${cur._3}"))
    assert(page2 == full.drop(77))
    // resuming after the LAST cell yields an empty page
    val last = full.last
    assert(read(Some(s"${last._1}:${last._2}:${last._3}")).isEmpty)
    // the cursor pk is a pushed lower bound: a deep-page plan prunes
    // pre-cursor files (3 base files over pks 0..99 → resuming at 90
    // needs only the last file + the two small flushes)
    val deep = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("pageAfter", "90:0:zz").load(d)
    assert(deep.queryExecution.executedPlan.toString
      .contains("pageAfter=90:0:zz"))
    assert(deep.count() == full.count(_._1 > 90))
  }

  test("pageAfter refuses raw scans, typed tables, ppl and reverse") {
    val d = Files.createTempDirectory("cells-pageref").toString
    CellSource.writeSnapshot(d,
      Seq((1L, 0, "qty", 1L, 1L)), files = 1)
    def r(opts: (String, String)*) = {
      val b = spark.read.format("graft.sources.CellSource")
        .option("pageAfter", "0:0:a")
      opts.foldLeft(b)((x, kv) => x.option(kv._1, kv._2)).load(d).collect()
    }
    intercept[Exception](r())  // raw scan
    intercept[Exception](r("reconcile" -> "true",
      "perPartitionLimit" -> "1"))
    intercept[Exception](r("reconcile" -> "true", "reverse" -> "true"))
    val kd = graft.sources.CellSnapshots.ensureKeyed(spark, sf())
    intercept[Exception] {
      spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").option("pageAfter", "0:0:a")
        .load(kd).collect()
    }
  }

  // ---- C49: GROUP BY pk pushed into the reconcile scan ----

  test("GROUP BY pk aggregates fold inside the reconcile scan (C49)") {
    val d = Files.createTempDirectory("cells-gbypk").toString
    val base = (0L until 200L).flatMap(pk =>
      (0 until 3).map(ck => (pk, ck, "qty", pk + ck, 100L)))
    CellSource.writeSnapshot(d, base, files = 3)
    def flush(rows: Seq[(Long, Int, String, Long, Long)]) =
      rows.toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(d)
    // a rewrite (same key, newer wt — must not double-count) and a
    // partition delete (pk 7 must vanish from the group rows)
    flush(Seq((5L, 0, "qty", 999L, 200L)))
    flush(Seq((7L, Int.MinValue, "!del*", 0L, 300L)))
    val df = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .groupBy(col("pk"))
      .agg(expr("count(*)").as("n"), max(col("wt")).as("mw"))
    assert(df.queryExecution.executedPlan.toString
      .contains("CellGroupAggScan"), "expected the pushed group scan")
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: fold the reconciled winner rows driver-side
    val rows = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .select("pk", "wt").as[(Long, Long)].collect()
    val exp = rows.groupBy(_._1).map { case (pk, g) =>
      (pk, g.size.toLong, g.map(_._2).max)
    }.toSet
    assert(got == exp)
    assert(!got.exists(_._1 == 7L), "deleted partition leaked a group")
    assert(got.find(_._1 == 5L).get._3 == 200L, "rewrite wt not folded")
  }

  test("typed GROUP BY partition key folds inside the scan (C49b)") {
    // the string-keyed table groups by its full pk part list and
    // plans the pushed group scan — zero exchange, typed twin of C49
    val kd = graft.sources.CellSnapshots.ensureKeyed(spark, sf())
    val typed = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(kd)
      .groupBy(col("user"))
      .agg(expr("count(*)").as("n"), max(col("wt")).as("mw"))
    assert(typed.queryExecution.executedPlan.toString
      .contains("CellGroupAggScan"), "expected the pushed group scan")
    val got = typed.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val rows = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(kd)
      .select("user", "wt").as[(String, Long)].collect()
    val exp = rows.groupBy(_._1).map { case (u, g) =>
      (u, g.size.toLong, g.map(_._2).max)
    }.toSet
    assert(got == exp)
    // grouping on a ck part is NOT the partition key: no pushdown
    val byCk = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(kd)
      .groupBy(col("ck")).agg(expr("count(*)").as("n"))
    assert(!byCk.queryExecution.executedPlan.toString
      .contains("CellGroupAggScan"))
    assert(byCk.count() > 0)
  }

  test("scan metrics: winners_emitted / merge_fan_in / cells_read") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val d = Files.createTempDirectory("cells-metrics").toString
    Seq((1L, 1, "qty", 10L, 100L), (2L, 1, "qty", 20L, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    // a second flush rewriting (1,1): 3 raw versions, 2 winners
    Seq((1L, 1, "qty", 11L, 200L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val rec = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    assert(rec.collect().length === 2)
    val recScan = rec.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    assert(recScan.metrics("winners_emitted").value === 2,
      recScan.metrics)
    // both flush files overlapped the one token range → fan-in 2
    assert(recScan.metrics("merge_fan_in").value === 2, recScan.metrics)
    val raw = spark.read.format("graft.sources.CellSource").load(d)
    assert(raw.collect().length === 3)
    val rawScan = raw.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    assert(rawScan.metrics("cells_read").value === 3, rawScan.metrics)
    // typed-key layouts report through the same metrics
    val kd = graft.sources.CellSnapshots.ensureKeyed(spark, sf())
    val typed = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(kd)
    val n = typed.collect().length
    val typedScan = typed.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.get
    assert(typedScan.metrics("winners_emitted").value === n,
      typedScan.metrics)
    assert(typedScan.metrics("merge_fan_in").value > 0)
  }

  test("GROUP BY pk + clustering prefix folds inside the scan (C49c)") {
    // Cassandra 3.10's `GROUP BY pk, ck`: one group per reconciled
    // row, still fully pushed (winners stream (pk, ck, col)-sorted,
    // so the group never spans a token range)
    val d = graft.sources.CellSnapshots.ensure(spark, sf())
    val df = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .groupBy(col("pk"), col("ck"))
      .agg(expr("count(*)").as("n"), max(col("wt")).as("mw"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("CellGroupAggScan"), plan)
    assert(plan.contains("groupBy=pk,ck"), plan)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val rows = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .select("pk", "ck", "wt").as[(Long, Int, Long)].collect()
    val exp = rows.groupBy(r => (r._1, r._2)).map { case ((pk, ck), g) =>
      (pk, ck, g.size.toLong, g.map(_._3).max)
    }.toSet
    assert(got == exp)
    // typed twin: string-keyed table grouped by (user, ck)
    val kd = graft.sources.CellSnapshots.ensureKeyed(spark, sf())
    val typed = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(kd)
      .groupBy(col("user"), col("ck"))
      .agg(expr("count(*)").as("n"))
    val tplan = typed.queryExecution.executedPlan.toString
    assert(tplan.contains("CellGroupAggScan"), tplan)
    val tgot = typed.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val trows = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(kd)
      .select("user", "ck").as[(String, Int)].collect()
    val texp = trows.groupBy(identity).map { case ((u, ck), g) =>
      (u, ck, g.size.toLong)
    }.toSet
    assert(tgot == texp)
    // a ck suffix without the full prefix is NOT a CQL group: refuse
    val skipped = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .groupBy(col("ck")).agg(expr("count(*)").as("n"))
    assert(!skipped.queryExecution.executedPlan.toString
      .contains("CellGroupAggScan"))
  }

  test("grouped pushdown refuses filters and counter mode") {
    // filtered: the residual pk filter keeps a Filter under the
    // Aggregate, so Spark must NOT push — plan falls back to the
    // normal reconcile scan + hash aggregate, same results
    val d = graft.sources.CellSnapshots.ensure(spark, sf())
    val filtered = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .filter(col("pk") < 1000L)
      .groupBy(col("pk")).agg(expr("count(*)").as("n"))
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("CellGroupAggScan"))
    // counter mode: shard-SUM rows must re-aggregate in Spark
    val cd = graft.sources.CellSnapshots.ensure(spark, sf())
    val counter = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("counter", "true").load(cd)
      .groupBy(col("pk")).agg(expr("count(*)").as("n"))
    assert(!counter.queryExecution.executedPlan.toString
      .contains("CellGroupAggScan"))
  }

  // ---- C62: scrub ----

  test("scrub salvages readable chunks and quarantines dead files (C62)") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-scrub").toString
    // small chunks so one file holds several: corruption is bounded
    (0L until 4000L).map(pk => (pk, 0, "qty", pk, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    Seq((9999L, 0, "qty", 1L, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val files = Files.list(java.nio.file.Paths.get(d)).iterator()
      .asScala.filter(_.getFileName.toString.endsWith(".cells"))
      .toSeq.sortBy(_.getFileName.toString)
    // corrupt a slice of file 0's data section (past the header)
    val f0 = files.head
    val bytes = Files.readAllBytes(f0)
    val mid = bytes.length - bytes.length / 4
    (mid until math.min(mid + 64, bytes.length)).foreach(i =>
      bytes(i) = (bytes(i) ^ 0x5a).toByte)
    Files.write(f0, bytes)
    // and destroy file 1's header outright
    val f1 = files(1)
    Files.write(f1, Array.fill[Byte](32)(0x7f))
    // the table is now unreadable (a DATA read — count() alone would
    // be answered from headers/manifest and never touch the chunks)
    intercept[Exception] {
      spark.read.format("graft.sources.CellSource").load(d)
        .agg(sum(col("value"))).collect()
    }
    val reports = CellMaintenance.scrub(spark, d)
    assert(reports.exists(r => r.quarantined), reports)
    val partial = reports.find(r => r.lost > 0).get
    assert(partial.salvaged > 0 && partial.lost > 0, reports)
    // readable again; the surviving records are intact and the lost
    // count accounts exactly for the rest
    val back = spark.read.format("graft.sources.CellSource").load(d)
    assert(back.count() == partial.salvaged)
    assert(back.select("pk").as[Long].collect().toSet
      .subsetOf((0L until 4000L).toSet))
    // the quarantined file is kept for forensics, out of the listing
    assert(Files.exists(
      f1.resolveSibling(f1.getFileName.toString + ".corrupt")))
    // a second scrub is a no-op on the healed table
    assert(CellMaintenance.scrub(spark, d)
      .forall(r => r.lost == 0 && !r.quarantined))
  }

  // ---- C18e: SASI-style range index lookups ----

  test("range index lookup prunes index files by value range (C18e)") {
    import graft.sources.CellIndex
    val base = Files.createTempDirectory("cells-ridx-base").toString
    val idx = Files.createTempDirectory("cells-ridx").toString
    // values 0..999 spread over pks; index files are value-ranged
    (0L until 1000L).map(pk => (pk, 0, "score", pk % 1000, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .repartitionByRange(4, col("value"))
      .write.format("graft.sources.CellSource")
      .mode("append").save(base)
    CellIndex.build(spark, base, idx, "score", files = 4)
    val hits = CellIndex.lookupPksRange(spark, idx, 100L, 120L)
    assert(hits.count() == 21)
    // the probe's physical plan pushes the value range as the index
    // table's pk bounds (identity tokens) — visible in the scan
    val desc = hits.queryExecution.executedPlan.toString
    assert(desc.contains("pkRange=[100,120]"), desc)
    // composed base read returns exactly the in-range rows
    val rows = CellIndex.lookupBaseRange(spark, base, idx, 100L, 120L)
      .filter(col("value").between(100L, 120L))
    assert(rows.count() == 21)
    // a typed (string-valued) index refuses ranges — SASI's
    // sparse-mode-only rule
    val sIdx = graft.sources.CellSnapshots
      .ensureStringIndexed(spark, sf())
    intercept[IllegalArgumentException] {
      CellIndex.lookupPksRange(spark, sIdx, 0L, 1L)
    }
  }

  // ---- C36c: composite partition key ----

  test("composite point probe: both parts bound routes to one partition") {
    val dir = graft.sources.CellSnapshots.ensureComposite(spark, sf())
    def rec = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(dir)
    // pk 43 → tenant t3, day 5 (43 = 5*8 + 3)
    val probe = rec.filter(col("tenant") === "t3" && col("day") === 5L)
      .select("seq", "col", "value")
    val got = probe.as[(Int, String, Long)].collect().toSet
    val exp = graft.cassandra.CellModel.lwwMerge(
      graft.cassandra.CellModel.cells(spark, sf()))
      .filter(col("pk") === 43L)
      .select(col("ck").cast("int"), col("col"),
        col("value").cast("long"))
      .as[(Int, String, Long)].collect().toSet
    assert(got == exp && got.nonEmpty)
    // a LONE part is not routable (Cassandra's rule): still correct,
    // served by residual filtering over the unpruned scan
    assert(rec.filter(col("tenant") === "t3").count() > got.size)
  }

  // ---- C52b: typed paging ----

  test("typed paging resumes hashed-key tables in token order (C52b)") {
    graft.GraftExtensions.register(spark)
    val dir = graft.sources.CellSnapshots.ensureKeyed(spark, sf())
    val n = 500
    // the stream's physical order: (token, key) — reproducible
    // client-side via graft_token for the assertion
    val ord = Seq(expr("graft_token(user)"), col("user"), col("ck"),
      col("col"))
    def read(after: Option[(String, Int, String)]) = {
      val r = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true")
      after.fold(r)(a => r.option("pageAfter.user", a._1)
        .option("pageAfter.ck", a._2.toString)
        .option("pageAfter.col", a._3)).load(dir)
    }
    val full = read(None).orderBy(ord: _*)
      .select("user", "ck", "col", "value", "wt")
    val p1 = full.limit(n).collect()
    val last = p1.last
    val p2 = read(Some((last.getString(0), last.getInt(1),
      last.getString(2)))).orderBy(ord: _*)
      .select("user", "ck", "col", "value", "wt").limit(n).collect()
    // page 2 is exactly rows n+1..2n of the token-ordered stream
    val expect = full.limit(2 * n).collect().drop(n)
    assert(p2.toSeq == expect.toSeq)
    // and the pages are disjoint
    assert(p1.toSet.intersect(p2.toSet).isEmpty)
  }

  test("typed paging refuses ppl/reverse and non-reconcile reads") {
    val dir = graft.sources.CellSnapshots.ensureKeyed(spark, sf())
    def r = spark.read.format("graft.sources.CellSource")
      .option("pageAfter.user", "user-3")
      .option("pageAfter.ck", "1").option("pageAfter.col", "qty")
    intercept[Exception] { r.load(dir).collect() } // no reconcile
    intercept[Exception] {
      r.option("reconcile", "true").option("reverse", "true")
        .load(dir).collect()
    }
    intercept[Exception] {
      r.option("reconcile", "true").option("perPartitionLimit", "1")
        .load(dir).collect()
    }
  }

  // ---- C60/C61: ring operations ----

  test("cleanup drops only tokens outside the owned ranges (C60)") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-cleanup").toString
    (0L until 100L).map(pk => (pk, 0, "qty", pk, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(2).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    // a tombstone inside an owned range must survive the rewrite
    Seq((10L, Int.MinValue, CellSource.PartitionTombstone, 0L, 200L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    // identity tokens: this node keeps [0,19] and [60,79]
    val (before, after) = CellMaintenance.cleanup(spark, d,
      Seq((0L, 19L), (60L, 79L)))
    // 39 live data cells (pk 10's is shadowed and drops in the
    // compacting rewrite) + the kept tombstone marker
    assert(before == 101L && after == 40L, (before, after))
    val rec = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    val pks = rec.select("pk").as[Long].collect().toSet
    assert(pks == ((0L until 20L).toSet - 10L) ++ (60L until 80L), pks)
    // refuse the truncate-by-accident shape
    intercept[IllegalArgumentException] {
      CellMaintenance.cleanup(spark, d, Nil)
    }
  }

  test("cleanup preserves counter shards via shard-SUM rewrite") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-cleanctr").toString
    // two shard deltas of one counter cell in separate flushes — a
    // LWW rewrite would keep only the later shard and lose 3
    Seq((1L, 0, "hits", 3L, 100L)).toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    Seq((1L, 0, "hits", 4L, 200L)).toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    Files.writeString(java.nio.file.Paths.get(d, "_props"),
      "counter=true\n")
    CellMaintenance.cleanup(spark, d, Seq((0L, 10L)))
    val v = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("counter", "true").load(d)
      .select("value").as[Long].head()
    assert(v == 7L, s"counter sum lost in cleanup: $v")
  }

  test("CAS refuses typed-key tables") {
    import graft.sources.CellTransactions
    val d = Files.createTempDirectory("cells-castyped").toString
    Seq(("u-1", 0, "qty", 1L, 1L)).toDF("user", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(d)
    val e = intercept[IllegalArgumentException] {
      CellTransactions.cas(spark, d, 1L, 0, "qty", None, 1L)
    }
    assert(e.getMessage.contains("typed"), e.getMessage)
  }

  test("moveRange streams a range then cleans the source (C61)") {
    import graft.sources.CellMaintenance
    val from = Files.createTempDirectory("cells-move-a").toString
    val to = Files.createTempDirectory("cells-move-b").toString
    (0L until 50L).map(pk => (pk, 0, "qty", pk, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(from)
    // the receiving node already holds some data
    Seq((200L, 0, "qty", 7L, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(to)
    val moved = CellMaintenance.moveRange(spark, from, to, 20L, 29L)
    assert(moved == 10L)
    def pks(d: String) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .select("pk").as[Long].collect().toSet
    assert(pks(to) == (20L until 30L).toSet + 200L)
    assert(pks(from) == (0L until 50L).toSet -- (20L until 30L))
    // re-running the same move converges (LWW-idempotent stream;
    // the source no longer holds the range, so 0 cells move)
    assert(CellMaintenance.moveRange(spark, from, to, 20L, 29L) == 0L)
    assert(pks(to) == (20L until 30L).toSet + 200L)
  }

  // ---- C58: dropped-column timestamps ----

  test("dropped columns hide pre-drop cells; re-add sees only newer writes") {
    val d = Files.createTempDirectory("cells-dropcol").toString
    def flush(rows: Seq[(Long, Int, String, Long, Long)]) =
      rows.toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(d)
    flush(Seq((1L, 0, "qty", 10L, 100L), (1L, 0, "price", 7L, 100L),
      (2L, 0, "qty", 20L, 100L)))
    // DROP qty at ts=150, then the column is re-added and written
    flush(Seq((1L, 0, "qty", 11L, 200L)))
    def rec(extra: Map[String, String] = Map.empty) = {
      val r = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true")
      extra.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }
        .load(d)
    }
    val dropped = Map("droppedColumns" -> "qty:150")
    // pk=2's qty (wt=100 <= 150) is gone; pk=1's re-added write
    // (wt=200 > 150) is visible; price untouched
    val rows = rec(dropped).select("pk", "col", "value")
      .as[(Long, String, Long)].collect().toSet
    assert(rows == Set((1L, "qty", 11L), (1L, "price", 7L)), rows)
    // raw scans keep serving dropped data (sstabledump shows it)
    assert(spark.read.format("graft.sources.CellSource")
      .option("droppedColumns", "qty:150").load(d).count() == 4)
    // without the drop record everything is visible
    assert(rec().count() == 3)
  }

  test("ALTER TABLE drop property drives hiding; compaction purges (C58)") {
    import graft.sources.CellMaintenance
    val root = Files.createTempDirectory("cells-dropcat").toString
    spark.conf.set("spark.sql.catalog.dropcat",
      "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.dropcat.root", root)
    try {
      spark.sql("CREATE TABLE dropcat.default.t (pk BIGINT, ck INT, " +
        "col STRING, value BIGINT, wt BIGINT) USING cells")
      spark.sql("INSERT INTO dropcat.default.t VALUES " +
        "(1, 0, 'qty', 10, 100), (1, 0, 'price', 7, 100)")
      // the CQL `ALTER TABLE t DROP qty` analogue: record the drop ts
      spark.sql("ALTER TABLE dropcat.default.t " +
        "SET TBLPROPERTIES ('dropped.qty' = '150')")
      // catalog reads pick the property up via the table handle
      assert(spark.table("dropcat.default.t").count() == 2) // raw scan
      val rec = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true")
        .option("droppedColumns", "qty:150")
        .load(s"$root/default/t")
      assert(rec.select("col").as[String].collect().toSeq ==
        Seq("price"))
      // compaction PURGES the dropped data from disk (the props are
      // resolved from _props and forwarded)
      CellMaintenance.compact(spark, s"$root/default/t")
      val raw = spark.read.format("graft.sources.CellSource")
        .load(s"$root/default/t")
      assert(raw.select("col").as[String].collect().toSeq ==
        Seq("price"))
    } finally {
      spark.conf.unset("spark.sql.catalog.dropcat.root")
      spark.conf.unset("spark.sql.catalog.dropcat")
    }
  }

  // ---- C57: ALLOW FILTERING guard ----

  test("strictCql refuses data-filtering predicates without allowFiltering") {
    val d = Files.createTempDirectory("cells-strict").toString
    Seq((1L, 0, "qty", 10L, 100L), (2L, 0, "price", 20L, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    def strict = spark.read.format("graft.sources.CellSource")
      .option("strictCql", "true").load(d)
    // key-served shapes pass: pk point, pk range, pk IN, ck slice
    assert(strict.filter(col("pk") === 1L).count() == 1)
    assert(strict.filter(col("pk") > 0L && col("ck") <= 5).count() == 2)
    assert(strict.filter(col("pk").isin(1L, 2L)).count() == 2)
    // a non-key predicate is data filtering: refused with the CQL error
    val e = intercept[Exception] {
      strict.filter(col("value") > 15L).count()
    }
    def msgOf(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | "))
    assert(msgOf(e).contains("allowFiltering"), msgOf(e))
    intercept[Exception] { strict.filter(col("col") === "qty").count() }
    // ALLOW FILTERING opts in; result identical to the unguarded scan
    val allowed = spark.read.format("graft.sources.CellSource")
      .option("strictCql", "true").option("allowFiltering", "true")
      .load(d).filter(col("value") > 15L)
    assert(allowed.select("pk").as[Long].collect().toSeq == Seq(2L))
    // without strictCql nothing changes (the default stays permissive)
    assert(spark.read.format("graft.sources.CellSource").load(d)
      .filter(col("value") > 15L).count() == 1)
  }

  test("strictCql guards typed tables: pk-part equality passes, value refused") {
    val d = Files.createTempDirectory("cells-strict-t").toString
    Seq(("u-1", 0, "qty", 10L, 100L), ("u-2", 0, "qty", 20L, 100L))
      .toDF("user", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(d)
    def strict = spark.read.format("graft.sources.CellSource")
      .option("strictCql", "true").load(d)
    assert(strict.filter(col("user") === "u-1").count() == 1)
    intercept[Exception] { strict.filter(col("value") > 15L).count() }
  }

  // ---- C55: lightweight transactions ----

  test("CAS applies IF NOT EXISTS / IF value conditions atomically (C55)") {
    import graft.sources.CellTransactions
    import graft.sources.CellTransactions.CasResult
    val d = Files.createTempDirectory("cells-cas").toString
    // INSERT IF NOT EXISTS on an empty table: applied
    assert(CellTransactions.cas(spark, d, 1L, 0, "qty", None, 10L) ==
      CasResult(applied = true, None))
    // same again: not applied, current value returned (CQL [applied])
    assert(CellTransactions.cas(spark, d, 1L, 0, "qty", None, 99L) ==
      CasResult(applied = false, Some(10L)))
    // conditional UPDATE with the right expectation: applied
    assert(CellTransactions.cas(spark, d, 1L, 0, "qty", Some(10L), 20L) ==
      CasResult(applied = true, Some(10L)))
    // stale expectation: refused, current told
    assert(CellTransactions.cas(spark, d, 1L, 0, "qty", Some(10L), 30L) ==
      CasResult(applied = false, Some(20L)))
    // the applied chain is the reconciled winner; ballot released
    val v = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .select("value").as[Long].collect().toSeq
    assert(v == Seq(20L))
    assert(!Files.exists(java.nio.file.Paths.get(d, "_paxos.lock")))
    // other cells stay independent
    assert(CellTransactions.cas(spark, d, 1L, 1, "qty", None, 7L).applied)
  }

  test("CAS contention: live ballot refused, dead ballot broken") {
    import graft.sources.CellTransactions
    val d = Files.createTempDirectory("cells-caslock").toString
    val lock = java.nio.file.Paths.get(d, "_paxos.lock")
    Files.createFile(lock)
    // a live lock (age < timeout) means an in-flight round: refuse
    intercept[CellTransactions.ContentionException] {
      CellTransactions.cas(spark, d, 1L, 0, "qty", None, 1L,
        lockTimeoutMs = 60000L)
    }
    // a dead coordinator's lock (older than the timeout) is broken
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000L))
    assert(CellTransactions.cas(spark, d, 1L, 0, "qty", None, 1L,
      lockTimeoutMs = 60000L).applied)
    assert(!Files.exists(lock))
  }

  // ---- C56: logged batch ----

  test("logged batch applies across tables and clears its journal (C56)") {
    import graft.sources.CellTransactions
    val t1 = Files.createTempDirectory("cells-batch-1").toString
    val t2 = Files.createTempDirectory("cells-batch-2").toString
    val log = Files.createTempDirectory("cells-batchlog").toString
    def cells(rows: Seq[(Long, Int, String, Long, Long)]) =
      rows.toDF("pk", "ck", "col", "value", "wt")
    // pre-existing state in t1 the batch must LWW over
    cells(Seq((1L, 0, "qty", 1L, 100L))).coalesce(1)
      .write.format("graft.sources.CellSource").mode("append").save(t1)
    CellTransactions.loggedBatch(spark, Seq(
      t1 -> cells(Seq((1L, 0, "qty", 2L, 200L))),
      t2 -> cells(Seq((9L, 0, "price", 5L, 100L)))), log)
    def rec(d: String) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    assert(rec(t1).select("value").as[Long].collect().toSeq == Seq(2L))
    assert(rec(t2).count() == 1)
    // journal fully cleared
    assert(Files.list(java.nio.file.Paths.get(log)).count() == 0)
  }

  test("batchlog replay completes a crashed batch; replay is idempotent") {
    import graft.sources.CellTransactions
    val t1 = Files.createTempDirectory("cells-bcrash-1").toString
    val t2 = Files.createTempDirectory("cells-bcrash-2").toString
    val log = Files.createTempDirectory("cells-bcrashlog").toString
    def cells(rows: Seq[(Long, Int, String, Long, Long)]) =
      rows.toDF("pk", "ck", "col", "value", "wt")
    // "crash" after journal publish, before any table applied
    CellTransactions.loggedBatch(spark, Seq(
      t1 -> cells(Seq((1L, 0, "qty", 10L, 100L))),
      t2 -> cells(Seq((2L, 0, "qty", 20L, 100L)))), log,
      applyNow = false)
    def rec(d: String) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    assert(rec(t1).count() == 0 && rec(t2).count() == 0) // atomic: none yet
    // recovery replays the journal to completion...
    assert(CellTransactions.replayBatchlog(spark, log) == 1)
    assert(rec(t1).count() == 1 && rec(t2).count() == 1)
    // ...and a second replay finds nothing
    assert(CellTransactions.replayBatchlog(spark, log) == 0)
    // double-application is safe anyway: re-journal the same rows and
    // replay — the reconciled views are unchanged (LWW idempotence)
    CellTransactions.loggedBatch(spark, Seq(
      t1 -> cells(Seq((1L, 0, "qty", 10L, 100L)))), log)
    assert(rec(t1).select("value").as[Long].collect().toSeq == Seq(10L))
  }

  test("batchlog replay applies collection element cells and their " +
      "tombstone markers atomically (C11i)") {
    import graft.sources.CellTransactions
    val t = Files.createTempDirectory("cells-bcoll").toString
    val log = Files.createTempDirectory("cells-bcolllog").toString
    def cells(rows: Seq[(Long, Int, String, Long, Long)]) =
      rows.toDF("pk", "ck", "col", "value", "wt")
    // pre-existing list elements [5, 6] at cks 1, 2
    cells(Seq((1L, 1, "lst", 5L, 100L), (1L, 2, "lst", 6L, 100L)))
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(t)
    // "crash" after journal publish: the batch removes the element
    // at ck 1 (a !del: marker) and appends one at ck 3
    CellTransactions.loggedBatch(spark, Seq(
      t -> cells(Seq((1L, 1, "!del:lst", 0L, 200L),
        (1L, 3, "lst", 7L, 200L)))), log, applyNow = false)
    def lst = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(t)
      .filter(col("col") === "lst").orderBy("ck")
      .select("value").as[Long].collect().toSeq
    // isolation before publish: a read still sees the pre-batch list
    assert(lst == Seq(5L, 6L))
    // recovery applies marker and element together
    assert(CellTransactions.replayBatchlog(spark, log) == 1)
    assert(lst == Seq(6L, 7L))
    // idempotent
    assert(CellTransactions.replayBatchlog(spark, log) == 0)
    assert(lst == Seq(6L, 7L))
  }

  test("counter tables are refused in logged batches") {
    import graft.sources.CellTransactions
    val t = Files.createTempDirectory("cells-bcounter").toString
    Files.writeString(java.nio.file.Paths.get(t, "_props"),
      "counter=true\n")
    intercept[IllegalArgumentException] {
      CellTransactions.loggedBatch(spark, Seq(
        t -> Seq((1L, 0, "qty", 1L, 1L))
          .toDF("pk", "ck", "col", "value", "wt")),
        Files.createTempDirectory("cells-bclog").toString)
    }
  }

  test("logged batch of a DataFrame into a renamed typed table stages " +
      "storage key names and replays (C56, C51e)") {
    import graft.sources.CellTransactions
    val t = Files.createTempDirectory("cells-brename").toString
    val log = Files.createTempDirectory("cells-brenamelog").toString
    typedWrite(Seq((1L, 1, "qty", 5L, 100L))
      .toDF("id", "c", "col", "value", "wt").coalesce(1), t,
      "((id),c)", "id" -> "bigint", "c" -> "int")
    // C51e: the storage name `id` is declared as `user_id`
    Files.writeString(java.nio.file.Paths.get(t, "_props"),
      "keyRename.id=user_id\n")
    CellTransactions.loggedBatch(spark, Seq(
      t -> Seq((1L, 1, "qty", 6L, 200L), (2L, 1, "qty", 7L, 200L))
        .toDF("user_id", "c", "col", "value", "wt")), log,
      applyNow = false)
    assert(CellTransactions.replayBatchlog(spark, log) == 1)
    val back = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(t)
      .select("user_id", "value").as[(Long, Long)].collect().toSet
    assert(back == Set((1L, 6L), (2L, 7L)))
    assert(Files.list(java.nio.file.Paths.get(log)).count() == 0)
  }

  test("equality on a timestamp or a decimal key part is pushed as a " +
      "point probe") {
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    def at(i: Int) = new java.sql.Timestamp(t0 + i * 1000L)
    def dec(i: Int) = new java.math.BigDecimal(i).movePointLeft(2)
    val dT = Files.createTempDirectory("cells-tskey").toString
    val dD = Files.createTempDirectory("cells-deckey").toString
    (0 until 4).foreach { f =>
      val keys = (0 until 5).map(i => f * 5 + i)
      typedWrite(keys.map(i => (at(i), 1, "qty", i.toLong, 10L))
        .toDF("t", "c", "col", "value", "wt").coalesce(1), dT,
        "((t),c)", "t" -> "timestamp", "c" -> "int")
      typedWrite(keys.map(i => (dec(i), 1, "qty", i.toLong, 10L))
        .toDF("d", "c", "col", "value", "wt")
        .withColumn("d", col("d").cast("decimal(10,2)")).coalesce(1),
        dD, "((d),c)", "d" -> "decimal(10,2)", "c" -> "int")
    }
    Seq((dT, "t", lit(at(7))), (dD, "d", lit(dec(7)))).foreach {
      case (dir, k, v) =>
        val all = spark.read.format("graft.sources.CellSource").load(dir)
        val probe = all.filter(col(k) === v)
        assert(all.rdd.getNumPartitions == 4, k)
        assert(probe.rdd.getNumPartitions < 4, s"$k = ... not pushed")
        assert(probe.select("value").as[Long].collect().toSeq == Seq(7L))
        val rec = spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(dir).filter(col(k) === v)
        assert(rec.select("value").as[Long].collect().toSeq == Seq(7L))
    }
  }

  // ---- C50: hinted handoff ----

  test("hinted handoff stores, reports, and replays a down replica's writes") {
    import graft.sources.CellMaintenance
    val up1 = Files.createTempDirectory("cells-hint-a").toString
    val up2 = Files.createTempDirectory("cells-hint-b").toString
    val down = Files.createTempDirectory("cells-hint-c").toString
    val hints = Files.createTempDirectory("cells-hints").toString
    def cells(rows: Seq[(Long, Int, String, Long, Long)]) =
      rows.toDF("pk", "ck", "col", "value", "wt")
    // two coordinator writes while C is down
    CellMaintenance.writeWithHints(spark,
      cells(Seq((1L, 0, "qty", 10L, 100L), (2L, 0, "qty", 20L, 100L))),
      up = Seq(up1, up2), down = Seq(down), hintsDir = hints)
    CellMaintenance.writeWithHints(spark,
      cells(Seq((1L, 0, "qty", 11L, 200L))), // rewrite — LWW must hold
      up = Seq(up1, up2), down = Seq(down), hintsDir = hints)
    def rec(d: String) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    assert(rec(up1).count() == 2 && rec(down).count() == 0)
    // pending hints are visible per target, counted from headers
    val pending = CellMaintenance.pendingHints(hints)
    assert(pending == Seq(down -> 3L), pending)
    // replica returns: replay converges it to the up replicas' view
    assert(CellMaintenance.deliverHints(spark, hints, down) == 3L)
    assert(rec(down).except(rec(up1)).isEmpty &&
      rec(up1).except(rec(down)).isEmpty)
    assert(rec(down).filter(col("pk") === 1L)
      .select("value").as[Long].head() == 11L)
    // hints cleared: a second delivery ships nothing
    assert(CellMaintenance.deliverHints(spark, hints, down) == 0L)
    assert(CellMaintenance.pendingHints(hints) == Seq(down -> 0L))
  }

  test("hints past the max window are dropped, not delivered") {
    import graft.sources.CellMaintenance
    val up1 = Files.createTempDirectory("cells-hintw-a").toString
    val down = Files.createTempDirectory("cells-hintw-c").toString
    val hints = Files.createTempDirectory("cells-hintw").toString
    CellMaintenance.writeWithHints(spark,
      Seq((7L, 0, "qty", 1L, 100L)).toDF("pk", "ck", "col", "value", "wt"),
      up = Seq(up1), down = Seq(down), hintsDir = hints)
    // deliver far in the future: the hint file's mtime is long past
    // the window — Cassandra's rule: repair, don't replay stale hints
    val far = System.currentTimeMillis() + 7200000L
    assert(CellMaintenance.deliverHints(spark, hints, down,
      maxHintAgeMs = 3600000L, nowMs = far + 3600001L) == 0L)
    // dropped AND cleared — no zombie hints waiting forever
    assert(spark.read.format("graft.sources.CellSource")
      .load(down).count() == 0)
    assert(CellMaintenance.deliverHints(spark, hints, down) == 0L)
  }

  test("tombstones hint and replay like ordinary writes") {
    import graft.sources.CellMaintenance
    val up1 = Files.createTempDirectory("cells-hintt-a").toString
    val down = Files.createTempDirectory("cells-hintt-c").toString
    val hints = Files.createTempDirectory("cells-hintt").toString
    def w(rows: Seq[(Long, Int, String, Long, Long)]) =
      CellMaintenance.writeWithHints(spark,
        rows.toDF("pk", "ck", "col", "value", "wt"),
        up = Seq(up1), down = Seq(down), hintsDir = hints)
    w(Seq((1L, 0, "qty", 5L, 100L), (2L, 0, "qty", 6L, 100L)))
    CellMaintenance.deliverHints(spark, hints, down) // both in sync
    w(Seq((1L, Int.MinValue, CellSource.PartitionTombstone, 0L, 200L)))
    CellMaintenance.deliverHints(spark, hints, down)
    def rec(d: String) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    assert(rec(down).select("pk").as[Long].collect().toSet == Set(2L))
    assert(rec(up1).except(rec(down)).isEmpty)
  }

  // ---- C48: read repair ----

  test("read repair converges only the partitions read (C48)") {
    val (dA, dB) = replicaPair()
    // the quorum read touched pks 100..139 — all inside A's missing
    // price range — so read repair ships A exactly those 40 price
    // cells and B (which already holds everything there) nothing
    val pks = 100L until 140L
    val shipped = graft.sources.CellMaintenance
      .readRepair(spark, Seq(dA, dB), pks).toMap
    assert(shipped(dA) == 40 && shipped(dB) == 0, shipped)
    def rec(d: String) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    // a SOLO read of A now answers the probe set fully (40 qty + 40
    // price rows)...
    assert(rec(dA).filter(col("pk").isin(pks: _*)).count() == 80)
    // ...while the rest of A's missing range stays divergent —
    // read repair is per-read, not anti-entropy
    assert(rec(dA).filter(col("pk") >= 140 && col("pk") < 200 &&
      col("col") === "price").count() == 0)
    // idempotent: a second read repair of the same pks ships nothing
    assert(graft.sources.CellMaintenance
      .readRepair(spark, Seq(dA, dB), pks).forall(_._2 == 0L))
  }

  test("read repair ships tombstones for the read partitions") {
    val dA = Files.createTempDirectory("cells-rrepts-a").toString
    val dB = Files.createTempDirectory("cells-rrepts-b").toString
    def flush(d: String, rows: Seq[(Long, Int, String, Long, Long)]) =
      rows.toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(d)
    val base = Seq((7L, 0, "qty", 1L, 100L), (8L, 0, "qty", 2L, 100L))
    flush(dA, base); flush(dB, base)
    // B deleted partition 7 after the shared write; A never saw it
    flush(dB, Seq((7L, Int.MinValue, "!del*", 0L, 200L)))
    graft.sources.CellMaintenance
      .readRepair(spark, Seq(dA, dB), Seq(7L, 8L))
    // the tombstone travelled: A's solo read now drops pk 7 too
    val soloA = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(dA)
    assert(soloA.select("pk").as[Long].collect().toSet == Set(8L))
  }

  // ---- C44: CEL9 value zone maps ----

  test("value range prunes chunks on the plain scan (C44, CEL9)") {
    val d = Files.createTempDirectory("cells-vzone").toString
    // value == pk in pk-sorted files → tight per-chunk value zones
    val cells = (0L until 10000L).map(pk => (pk, 0, "qty", pk, 1000L))
    CellSource.writeSnapshot(d, cells, files = 1, chunkRecords = 2500)
    def scan() = spark.read.format("graft.sources.CellSource")
      .option("subsplitRecords", "2500").load(d)
    // chunk zones: [0,2499][2500,4999][5000,7499][7500,9999]
    val one = scan().filter(col("value") >= 3000L && col("value") <= 4000L)
    assert(one.rdd.getNumPartitions == 1, "expected 3 of 4 chunks pruned")
    assert(one.count() == 1001)
    assert(one.queryExecution.executedPlan.toString
      .contains("vRange=[3000,4000]"))
    // a range past every zone prunes the whole file
    val none = scan().filter(col("value") > 20000L)
    assert(none.rdd.getNumPartitions == 0)
    assert(none.count() == 0)
    // bounds compose: value AND pk zones intersect
    val both = scan().filter(col("value") <= 4000L && col("pk") >= 2600L)
    assert(both.count() == 1401) // pks 2600..4000
  }

  test("value bounds never push under reconcile (shadowed-winner rule)") {
    val d = Files.createTempDirectory("cells-vzone-rec").toString
    // two flushes: pk=1 value=5 wt=1, rewritten to value=50 wt=2
    Seq((1L, 0, "qty", 5L, 1L)).toDF("pk", "ck", "col", "value", "wt")
      .write.format("graft.sources.CellSource").mode("append").save(d)
    Seq((1L, 0, "qty", 50L, 2L)).toDF("pk", "ck", "col", "value", "wt")
      .write.format("graft.sources.CellSource").mode("append").save(d)
    val rec = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .filter(col("value") <= 10L)
    // the OLD version matches the predicate but is NOT the winner: a
    // pushed pre-merge value drop would resurrect it
    assert(rec.count() == 0)
    assert(!rec.queryExecution.executedPlan.toString.contains("vRange"))
    // the raw view still serves the shadowed version
    val raw = spark.read.format("graft.sources.CellSource").load(d)
      .filter(col("value") <= 10L)
    assert(raw.count() == 1)
  }

  // ---- C43: snapshots ----

  test("snapshot survives rewrite, compaction, and truncate (C43)") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-snapshot").toString
    val cells = (0L until 500L).map(pk => (pk, 0, "qty", pk, 1000L))
    CellSource.writeSnapshot(d, cells, files = 4)
    def rec(p: String) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(p)
    val before = rec(d).collect().toSet
    assert(CellMaintenance.snapshot(d, "t0") == 4)
    assert(CellMaintenance.listSnapshots(d) == Seq("t0"))
    val snapPath = CellMaintenance.snapshotPath(d, "t0")
    // mutate past the snapshot: rewrite + major compaction (deletes
    // every original file name), then truncate (deletes everything)
    Seq((7L, 0, "qty", 999L, 2000L)).toDF("pk", "ck", "col", "value", "wt")
      .write.format("graft.sources.CellSource").mode("append").save(d)
    CellMaintenance.compact(spark, d)
    assert(rec(d).filter(col("pk") === 7L).select("value")
      .as[Long].head() == 999L)
    // the snapshot still reconciles to the pre-mutation content
    assert(rec(snapPath).collect().toSet == before)
    new graft.sources.CellTable(d).truncateTable()
    assert(rec(d).count() == 0)
    assert(rec(snapPath).collect().toSet == before)
  }

  test("restore republishes a snapshot at fresh flush indices (C43)") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-restore").toString
    val cells = (0L until 300L).map(pk => (pk, 0, "qty", pk, 1000L))
    CellSource.writeSnapshot(d, cells, files = 3)
    def rec() = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    val golden = rec().collect().toSet
    CellMaintenance.snapshot(d, "pre")
    Seq((5L, 0, "qty", -1L, 9000L)).toDF("pk", "ck", "col", "value", "wt")
      .write.format("graft.sources.CellSource").mode("append").save(d)
    assert(rec().filter(col("pk") === 5L).select("value")
      .as[Long].head() == -1L)
    def indices(): Seq[Int] = scala.util.Using.resource(
      Files.list(java.nio.file.Paths.get(d))) {
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".cells"))
        .map(n => n.stripPrefix("data-").stripSuffix(".cells").toInt)
        .toList
    }
    val idxBefore = indices().max
    assert(CellMaintenance.restoreSnapshot(d, "pre") == 3)
    // restored content == snapshot content, at strictly FRESH indices
    // (monotonic generations keep a live CDC stream's offsets valid)
    assert(rec().collect().toSet == golden)
    assert(indices().min > idxBefore)
    // drop: snapshot dir gone, restored table unaffected
    assert(CellMaintenance.dropSnapshot(d, "pre"))
    assert(CellMaintenance.listSnapshots(d).isEmpty)
    assert(rec().collect().toSet == golden)
  }

  test("typed repair converges string-keyed replicas by token range") {
    import graft.sources.CellMaintenance
    // full table: 60 users × 3 clustering rows × qty/price
    val full = (0 until 60).flatMap(u => (0 until 3).flatMap(k => Seq(
      (s"user-$u", k, "qty", (u * 10 + k).toLong, 1000L),
      (s"user-$u", k, "price", (u * 20 + k).toLong, 1000L))))
    def write(dir: String, rows: Seq[(String, Int, String, Long, Long)])
        : Unit =
      rows.toDF("user", "ck", "col", "value", "wt")
        .repartitionByRange(4, col("user"), col("ck"), col("col"))
        .write.format("graft.sources.CellSource")
        .option("primaryKey", "((user),ck)")
        .option("keyType.user", "string").option("keyType.ck", "int")
        .mode("append").save(dir)
    val dA = Files.createTempDirectory("cells-trep-a").toString
    val dB = Files.createTempDirectory("cells-trep-b").toString
    // A is missing users 10..14 entirely; B is missing 'price' of 40..44
    write(dA, full.filterNot(r => (10 to 14)
      .exists(u => r._1 == s"user-$u")))
    write(dB, full.filterNot(r => r._3 == "price" && (40 to 44)
      .exists(u => r._1 == s"user-$u")))
    val stats = CellMaintenance.repair(spark, dA, dB)
    assert(stats.cellsToA == 30 && stats.cellsToB == 15, stats)
    def rec(d: String) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
    assert(rec(dA).count() == 360 && rec(dB).count() == 360)
    assert(rec(dA).except(rec(dB)).isEmpty &&
      rec(dB).except(rec(dA)).isEmpty)
    assert(CellMaintenance.repair(spark, dA, dB) ==
      CellMaintenance.RepairStats(0, 0L, 0L))
  }

  test("snapshots work unchanged on typed tables") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-tsnap").toString
    Seq(("alice", 0, "qty", 1L, 10L), ("bob", 0, "qty", 2L, 10L))
      .toDF("user", "ck", "col", "value", "wt")
      .write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(d)
    def rec(p: String) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(p)
    val before = rec(d).collect().toSet
    CellMaintenance.snapshot(d, "t0")
    Seq(("alice", 0, "qty", 99L, 20L))
      .toDF("user", "ck", "col", "value", "wt")
      .write.format("graft.sources.CellSource").mode("append").save(d)
    CellMaintenance.compact(spark, d)
    assert(rec(CellMaintenance.snapshotPath(d, "t0")).collect().toSet
      == before)
    CellMaintenance.restoreSnapshot(d, "t0")
    assert(rec(d).collect().toSet == before)
  }

  test("incremental backup captures only new flushes; backup dir reads") {
    import graft.sources.CellMaintenance
    val d = Files.createTempDirectory("cells-bak").toString
    val b = Files.createTempDirectory("cells-bak-dst").toString
    def flush(rows: Seq[(Long, Int, String, Long, Long)]): Unit =
      rows.toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(d)
    def rec(p: String) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(p)
    flush(Seq((1L, 0, "qty", 10L, 1L)))
    flush(Seq((2L, 0, "qty", 20L, 1L)))
    assert(CellMaintenance.backupIncremental(d, b).size == 2)
    flush(Seq((1L, 0, "qty", 11L, 2L))) // rewrite
    assert(CellMaintenance.backupIncremental(d, b).size == 1)
    // nothing new → nothing captured
    assert(CellMaintenance.backupIncremental(d, b).isEmpty)
    // compaction replaces the table's names; backup captures the new
    // generation and its merged view still equals the table's
    CellMaintenance.compact(spark, d)
    assert(CellMaintenance.backupIncremental(d, b).nonEmpty)
    assert(rec(b).collect().toSet == rec(d).collect().toSet)
    // truncate wipes the table — the backup still replays history
    new graft.sources.CellTable(d).truncateTable()
    assert(rec(d).count() == 0)
    assert(rec(b).filter(col("pk") === 1L).select("value")
      .as[Long].head() == 11L)
  }

  test("CDC stream reads CEL10 (expiry-carrying) flushes") {
    val d = Files.createTempDirectory("cells-stream-ttl").toString
    Seq((1L, 0, "qty", 10L, 1000L, Some(50L)),
      (2L, 0, "qty", 20L, 1000L, None))
      .toDF("pk", "ck", "col", "value", "wt", "ttl")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("ttl", "true").mode("append").save(d)
    val q = spark.readStream.format("graft.sources.CellSource").load(d)
      .groupBy().count()
      .writeStream.format("memory").queryName("streamttl")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      // raw CDC serves every record of the CEL10 flush (expiry is
      // storage metadata; the stream's schema is the plain 5 columns)
      assert(spark.table("streamttl").head().getLong(0) === 2L)
    } finally q.stop()
  }

  test("quorum read merges divergent replicas without writing (C47)") {
    val (dA, dB) = replicaPair()
    def quorum() = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("replicas", dB).load(dA)
    // neither replica alone holds everything; the quorum read does
    assert(quorum().count() == 2000)
    // LWW across replicas: a newer version on B wins over A's
    Seq((50L, 0, "qty", 999L, 2000L)).toDF("pk", "ck", "col", "value", "wt")
      .write.format("graft.sources.CellSource").mode("append").save(dB)
    assert(quorum().filter(col("pk") === 50L && col("col") === "qty")
      .select("value").as[Long].head() == 999L)
    // nothing was written to either replica by reading
    val aOnly = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(dA)
    assert(aOnly.filter(col("pk") === 150L && col("col") === "price")
      .count() == 0)
    // point lookups prune files across BOTH roots
    val one = quorum().filter(col("pk") === 700L)
    assert(one.rdd.getNumPartitions <= 2 && one.count() == 2)
    // a mismatched-layout replica refuses
    val kdir = graft.sources.CellSnapshots.ensureKeyed(spark, sf())
    intercept[Exception] {
      spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").option("replicas", kdir)
        .load(dA).collect()
    }
  }

  test("repair ships tombstones: a delete on one replica lands on both") {
    val (dA, dB) = replicaPair()
    import org.apache.spark.sql.sources.EqualTo
    new graft.sources.CellTable(dA).deleteWhere(
      Array[org.apache.spark.sql.sources.Filter](EqualTo("pk", 700L)))
    graft.sources.CellMaintenance.repair(spark, dA, dB,
      bucketWidth = 64L)
    val recB = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(dB)
    assert(recB.filter(col("pk") === 700L).count() == 0,
      "A's partition tombstone must shadow pk=700 on B after repair")
    // and a post-repair write with a fresh wt survives the shipped
    // tombstone on BOTH sides (rewrite-past-deletion via LWW)
    Seq((700L, 0, "qty", 9L, 5000L)).toDF("pk", "ck", "col", "value", "wt")
      .write.format("graft.sources.CellSource").mode("append").save(dB)
    assert(recB.filter(col("pk") === 700L).count() == 1)
  }
}
