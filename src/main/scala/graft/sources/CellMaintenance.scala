package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Connector-level table maintenance — the compaction face of the
  * SSTable lifecycle, built from the connector's own two halves:
  * the RECONCILING scan (C24: k-way LWW merge across flush files in
  * the reader) feeding the TRUNCATE batch write (C21: executor-staged
  * rolled files, atomic driver-side publish).
  *
  * A long-lived table accumulates flush generations: every DSv2
  * append and every micro-batch lands more `data-NNNN.cells` files,
  * each point lookup pays the merge fan-in, and shadowed cell
  * versions hold disk forever. `compact` rewrites the table to one
  * fully-reconciled generation in ONE pass:
  *
  *  - scan tasks k-way-merge each disjoint pk range across all files
  *    (never materializing more than O(open files) rows);
  *  - write tasks roll sorted staged `.cells` files (bounded heap);
  *  - the commit deletes the old generation and publishes the staged
  *    files as the new one, atomically from a reader's point of view
  *    (staged `.tmp` files are invisible to `listFiles`, and the scan
  *    finished reading before the commit runs).
  *
  * Safe in a single job because DSv2 write tasks PULL from the scan:
  * all reads complete before the driver-side commit truncates.
  * At 100 TB this is exactly a major compaction: shuffle-free (the
  * reconcile ranges ARE the write partitions), executor-parallel,
  * driver holding only file metadata. A table whose reconcile read
  * plans at most one range (its files hold at most one sub-split)
  * runs that one scan-and-write task on the driver thread instead —
  * the same DSv2 reader, writer and commit, no Spark job; so does a
  * subset rewrite of the tiered, leveled and windowed passes whose
  * inputs hold at most one sub-split.
  */
object CellMaintenance {
  /** Rewrite `dir` as one reconciled flush generation. Returns
    * (filesBefore, filesAfter).
    *
    * The read side runs the reconciling scan in `keepMarkers` mode:
    * shadowed/expired data is dropped, but the table's `!ttl*` config
    * marker is rewritten (a compaction must never disable future
    * expiry) and tombstone markers are rewritten while inside the
    * gc-grace window — `wt >= nowMs - gcGraceMs` — so a write that
    * arrives after the compaction with a pre-deletion timestamp is
    * still shadowed. Tombstones OLDER than the window are purged
    * together with the data they shadowed (dropped by this same merge
    * pass), which is exactly Cassandra's gc_grace compaction rule.
    * The default `gcGraceMs = Long.MaxValue` retains every tombstone.
    */
  def compact(spark: SparkSession, dir: String,
      rollRecords: Int = CellSource.DefaultRollRecords,
      gcGraceMs: Long = Long.MaxValue,
      nowMs: Long = Long.MaxValue): (Int, Int) = {
    // Catalog-created tables can declare their grace window once in
    // DDL (TBLPROPERTIES('gcGraceMs'='...')); the explicit parameter
    // still wins. `nowMs` has no sensible per-table default — the
    // caller owns the clock (determinism).
    val grace =
      if (gcGraceMs != Long.MaxValue) gcGraceMs
      else tableProp(dir, "gcGraceMs").map(_.toLong)
        .getOrElse(Long.MaxValue)
    // Counter tables MUST compact under shard-SUM merge: a default LWW
    // read would keep only the latest shard and permanently lose the
    // other deltas. Path-based reads never see catalog `_props`, so
    // the property is resolved here and forwarded explicitly (same
    // pattern as the grace window above). The summed cell the rewrite
    // lands is the new single shard — Σ is preserved.
    val counter = tableProp(dir, "counter").exists(_.toBoolean)
    // C58: compaction PURGES dropped-column data (Cassandra scrubs
    // dropped_columns during compaction) — the drop timestamps are
    // recorded forever in `_props`, so a purged cell can never be
    // resurrected by a later read or repair. Forwarded explicitly,
    // same pattern as counter/grace (path reads never see _props).
    val dropped = tablePropsPrefix(dir, "dropped.")
    val norm = CellPlanning.normalize(dir)
    val files = CellPlanning.listFiles(norm)
    val before = files.size
    // The truncating rewrite must RE-DECLARE a typed key layout: the
    // overwrite replaces the table, so the writer can't inherit the
    // spec from a directory it is about to empty (part types resolve
    // from the rewrite's own schema).
    val spec = CellPlanning.keySpecOf(norm, files)
    // Rewrites read + write `_expiry` so per-cell TTL (CEL10 default /
    // CEL11 typed) survives compaction — Cassandra rewrites
    // localExpirationTime with the cell for the same reason.
    rewrite(spark, dir,
      Map("keepMarkers" -> "true", "withTtl" -> "true",
        "counter" -> counter.toString, "gcGraceMs" -> grace.toString,
        "gcNowMs" -> nowMs.toString) ++
        (if (dropped.isEmpty) Nil
         else Seq("droppedColumns" ->
           dropped.map { case (c, t) => s"$c:$t" }.mkString(","))),
      dir,
      Map("withTtl" -> "true", "rollRecords" -> rollRecords.toString) ++
        (if (spec.isDefault) Nil
         else Seq("primaryKey" ->
           (s"((${spec.pkParts.map(_.name).mkString(",")})," +
             s"${spec.ckParts.map(_.name).mkString(",")})"))),
      truncate = true)
    (before, CellPlanning.listFiles(dir).size)
  }

  /** All catalog-persisted `_props` entries with the given key prefix
    * (prefix stripped).
    */
  private def tablePropsPrefix(dir: String,
      prefix: String): Map[String, String] = {
    val f = java.nio.file.Paths.get(CellPlanning.normalize(dir))
      .resolve("_props")
    if (!java.nio.file.Files.exists(f)) Map.empty
    else {
      val p = new java.util.Properties()
      scala.util.Using.resource(
        java.nio.file.Files.newBufferedReader(f))(p.load)
      import scala.jdk.CollectionConverters._
      p.stringPropertyNames().asScala.iterator
        .filter(_.startsWith(prefix))
        .map(k => k.substring(prefix.length) -> p.getProperty(k))
        .toMap
    }
  }

  /** A catalog-persisted table property (`_props` in the table dir),
    * if the table was created through [[CellCatalog]].
    */
  private def tableProp(dir: String, key: String): Option[String] = {
    val f = java.nio.file.Paths.get(CellPlanning.normalize(dir))
      .resolve("_props")
    if (!java.nio.file.Files.exists(f)) None
    else {
      val p = new java.util.Properties()
      scala.util.Using.resource(
        java.nio.file.Files.newBufferedReader(f))(p.load)
      Option(p.getProperty(key))
    }
  }

  /** Split health of a table: flush-file count and per-file record
    * counts from headers only (no data bytes) — the "do I need a
    * compaction" probe.
    */
  def generations(dir: String): Seq[(String, Int)] = {
    val files = CellPlanning.listFiles(dir)
    CellManifest.current(dir, files)
      .map(_.map(e => (e.name, e.count)))
      .getOrElse(files.map { f =>
        (java.nio.file.Paths.get(f).getFileName.toString,
          CellSource.readHeader(f).count)
      })
  }

  /** Anti-entropy range diff (the repair workflow over C23's Merkle
    * leaves): digest both tables per contiguous pk bucket and return
    * ONLY the buckets whose content differs — `mismatch` when both
    * sides have the bucket with different cells, `missing_a`/
    * `missing_b` when one side lacks it entirely. Two replicas
    * exchange O(buckets) digests and stream only the flagged ranges.
    * Digests run over the RAW scans (all versions count — reconciled
    * equality is a weaker statement than replica equality).
    */
  def rangeDiff(spark: SparkSession, dirA: String, dirB: String,
      bucketWidth: Long = 1024L): org.apache.spark.sql.DataFrame = {
    // Per-bucket digest = SUM of per-cell 64-bit hashes: commutative
    // and order-independent, so it needs no per-group collect/sort —
    // one partial-aggregating shuffle of (bucket, sum), O(1) state per
    // bucket however wide the partition (a collect-based digest caps
    // bucket width; Cassandra's Merkle leaves face the same choice).
    // Multiset-correct: equal buckets hash equal; a differing cell
    // shifts the sum except for engineered 2⁶⁴ collisions, the usual
    // anti-entropy trade.
    def digest(dir: String) = {
      import org.apache.spark.sql.functions._
      // FLOOR-division buckets (pk - pmod is an exact multiple, so
      // `div` is exact): `pk div w` truncates toward zero, which would
      // put negative pks in the wrong bucket vs the run expansion
      // below AND vs DuckDB's floor `//`. Multi-arg xxhash64 hashes
      // each field type-tagged — no delimiter-ambiguity collisions
      // (a ':' joiner would alias col="a:b",value="c" with
      // col="a",value="b:c" on string-valued tables).
      spark.read.format("graft.sources.CellSource")
        .option("withTtl", "true").load(dir)
        .select(
          expr(s"(pk - pmod(pk, $bucketWidth)) div $bucketWidth")
            .as("bucket"),
          xxhash64(col("pk"), col("ck"), col("col"), col("value"),
            col("wt"), col("_expiry")).as("h"))
        .groupBy(col("bucket"))
        // decimal(38,0) accumulator: a LONG sum would overflow under
        // ANSI; 38 digits holds ~10¹⁹ cells per bucket exactly
        .agg(sum(col("h").cast("decimal(38,0)")).as("digest"))
    }
    import org.apache.spark.sql.functions._
    val a = digest(dirA).withColumnRenamed("digest", "digest_a")
    val b = digest(dirB).withColumnRenamed("digest", "digest_b")
    a.join(b, Seq("bucket"), "full_outer")
      .withColumn("status",
        when(col("digest_a").isNull, lit("missing_a"))
          .when(col("digest_b").isNull, lit("missing_b"))
          .when(col("digest_a") =!= col("digest_b"), lit("mismatch")))
      .filter(col("status").isNotNull)
      .select(col("bucket"), col("status"))
  }

  // ---- C43: snapshots (`nodetool snapshot` analogue) ----
  // A snapshot is a HARD-LINK copy of the table's current flush files
  // under `_snapshots/<tag>/` — O(files) metadata ops, zero data
  // bytes, exactly how Cassandra snapshots SSTables. Links pin the
  // inodes, so later compaction/truncation (which deletes the table's
  // own names) cannot touch snapshot content; `listFiles` is
  // non-recursive, so `_snapshots` is invisible to the table's own
  // scans, and the snapshot directory IS a readable table path for
  // every scan/merge/export in the connector.

  private def snapshotDir(dir: String, tag: String): java.nio.file.Path = {
    require(tag.nonEmpty && !tag.contains('/') && !tag.startsWith("."),
      s"bad snapshot tag '$tag'")
    java.nio.file.Paths.get(CellPlanning.normalize(dir))
      .resolve("_snapshots").resolve(tag)
  }

  /** Delete every direct child of `p` (non-recursive). */
  private def clearDir(p: java.nio.file.Path): Unit =
    scala.util.Using.resource(java.nio.file.Files.list(p)) {
      _.iterator().asScala.toList.foreach(java.nio.file.Files.delete)
    }

  /** Snapshot the table's current generation set under
    * `_snapshots/<tag>/`. Returns the number of files captured.
    * Safe against a concurrent compaction commit: if a listed file
    * vanishes mid-link, the attempt clears and retries with a fresh
    * listing (the publish-then-delete commit order guarantees a
    * consistent listing exists at every instant). ATOMIC from a
    * reader's point of view: links land in a dot-prefixed staging dir
    * (invisible to [[listSnapshots]]) and one rename publishes the
    * tag — a crash mid-snapshot leaves only staging garbage, never a
    * partial snapshot that reads as a truncated table, and a retried
    * snapshot(tag) reclaims the stage instead of failing.
    */
  def snapshot(dir: String, tag: String): Int = {
    val norm = CellPlanning.normalize(dir)
    val snap = snapshotDir(dir, tag)
    require(!java.nio.file.Files.exists(snap),
      s"snapshot '$tag' already exists in $dir")
    val stage = snap.resolveSibling(s".stage-$tag")
    if (java.nio.file.Files.isDirectory(stage)) clearDir(stage)
    java.nio.file.Files.createDirectories(stage)
    var attempt = 0
    while (true) {
      attempt += 1
      val files = CellPlanning.listFiles(norm)
      try {
        files.foreach { f =>
          val p = java.nio.file.Paths.get(f)
          java.nio.file.Files.createLink(
            stage.resolve(p.getFileName.toString), p)
        }
        // Seed the snapshot's manifest from the parent's (cheap when
        // current), then refresh against the snapshot's own listing.
        val pm = java.nio.file.Paths.get(norm)
          .resolve(CellManifest.FileName)
        if (java.nio.file.Files.exists(pm))
          java.nio.file.Files.copy(pm,
            stage.resolve(CellManifest.FileName),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        CellManifest.refresh(stage.toString)
        java.nio.file.Files.move(stage, snap,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        return files.size
      } catch {
        case _: java.nio.file.NoSuchFileException |
            _: java.nio.file.FileAlreadyExistsException
            if attempt < 5 =>
          clearDir(stage)
      }
    }
    0 // unreachable
  }

  /** Incremental backup (`nodetool` incremental backups): hard-link
    * into `backupDir` every current flush file NOT already backed up —
    * each call captures exactly the flushes landed since the last one,
    * O(new files) metadata ops, zero data bytes. The backup directory
    * accumulates every generation ever flushed (compaction deletes the
    * table's names, never the backup's links), so it is a readable
    * table path whose reconciled view REPLAYS the table's history —
    * restoring = reading it (LWW folds duplicate generations). Names
    * collide only per flush index, which is monotonic per table.
    * Returns the newly-captured file names.
    *
    * Cassandra's own restore caveat applies verbatim: a tombstone
    * PURGED by a gc-grace compaction no longer shadows the older
    * backed-up generation that still holds the data — never fold
    * backups older than gc_grace into a live view.
    */
  def backupIncremental(dir: String, backupDir: String): Seq[String] = {
    val norm = CellPlanning.normalize(dir)
    val bdir = java.nio.file.Paths.get(CellPlanning.normalize(backupDir))
    java.nio.file.Files.createDirectories(bdir)
    val have = scala.util.Using.resource(
      java.nio.file.Files.list(bdir)) {
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".cells")).toSet
    }
    val fresh = CellPlanning.listFiles(norm).filterNot(f =>
      have(java.nio.file.Paths.get(f).getFileName.toString))
    fresh.foreach { f =>
      val p = java.nio.file.Paths.get(f)
      try java.nio.file.Files.createLink(
        bdir.resolve(p.getFileName.toString), p)
      catch { // racing backup call landed it first — fine
        case _: java.nio.file.FileAlreadyExistsException => ()
      }
    }
    CellManifest.refresh(bdir.toString)
    fresh.map(f => java.nio.file.Paths.get(f).getFileName.toString)
  }

  /** Tags of existing snapshots, sorted (staging dirs excluded). */
  def listSnapshots(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(CellPlanning.normalize(dir))
      .resolve("_snapshots")
    if (!java.nio.file.Files.isDirectory(root)) Nil
    else scala.util.Using.resource(java.nio.file.Files.list(root)) {
      _.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
        .map(_.getFileName.toString).filterNot(_.startsWith("."))
        .toList.sorted
    }
  }

  /** Delete a snapshot (`nodetool clearsnapshot`). */
  def dropSnapshot(dir: String, tag: String): Boolean = {
    val snap = snapshotDir(dir, tag)
    if (!java.nio.file.Files.isDirectory(snap)) false
    else {
      clearDir(snap)
      java.nio.file.Files.delete(snap)
      true
    }
  }

  /** The snapshot as a readable table path (feed to
    * `spark.read.format("graft.sources.CellSource").load(...)`).
    */
  def snapshotPath(dir: String, tag: String): String = {
    val snap = snapshotDir(dir, tag)
    require(java.nio.file.Files.isDirectory(snap),
      s"no snapshot '$tag' in $dir")
    snap.toString
  }

  /** Restore the table to a snapshot's content: delete the current
    * flush files and re-publish the snapshot's files as hard links at
    * FRESH flush indices (generation numbering stays monotonic, so a
    * live CDC stream's offsets never see an index reused — it replays
    * the restored generation as new LWW-idempotent flushes, the same
    * contract as compaction/truncation). Like Cassandra's own
    * refresh-from-snapshot, restore assumes no CONCURRENT WRITER on
    * the table (readers racing the swap may see a mixed listing).
    * Returns the number of files restored.
    */
  def restoreSnapshot(dir: String, tag: String): Int = {
    val norm = CellPlanning.normalize(dir)
    val snap = snapshotDir(dir, tag)
    require(java.nio.file.Files.isDirectory(snap),
      s"no snapshot '$tag' in $dir")
    val snapFiles = CellPlanning.listFiles(snap.toString)
    val current = CellPlanning.listFiles(norm)
    val next = current.map(f => CellPlanning.fileIndex(
      java.nio.file.Paths.get(f).getFileName.toString))
      .foldLeft(-1)(math.max) + 1
    current.foreach(f =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(f)))
    snapFiles.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.createLink(
        java.nio.file.Paths.get(norm).resolve(f"data-${next + i}%04d.cells"),
        java.nio.file.Paths.get(f))
    }
    CellManifest.refresh(norm)
    snapFiles.size
  }

  /** Per-direction repair statistics: mismatched Merkle-leaf buckets
    * and the number of cells streamed INTO each replica.
    */
  final case class RepairStats(buckets: Int, cellsToA: Long, cellsToB: Long)

  /** Anti-entropy REPAIR — the streaming phase Cassandra runs after
    * the Merkle-tree exchange ([[rangeDiff]] is the leaf diff): make
    * two replica directories of the same table converge by shipping
    * each side the raw cells it is missing, as ONE appended flush per
    * direction.
    *
    * Protocol (and why it scales):
    *  1. `rangeDiff` digests both tables per contiguous pk bucket and
    *     the driver collects ONLY the mismatched bucket ids —
    *     O(table-range / bucketWidth) rows, the bounded Merkle-leaf
    *     exchange, never data. Pick `bucketWidth` so leaf count stays
    *     ~2^15, exactly Cassandra's tree-depth bound.
    *  2. Mismatched buckets coalesce into contiguous pk runs; each
    *     side re-reads ONLY those runs (pk range predicates push into
    *     the scan → Summary/manifest file pruning, so an almost-in-sync
    *     pair touches almost no data).
    *  3. Cell-level delta inside the runs: `other EXCEPT self` on the
    *     full record — one shuffle bounded by the mismatched ranges,
    *     finer than Cassandra's whole-range streaming (which re-ships
    *     cells both sides already hold).
    *  4. Each non-empty delta appends as one flush generation via the
    *     normal staged-commit write — LWW-idempotent (a re-run or a
    *     crashed half-repair re-converges; second repair streams 0).
    *
    * Tombstone/TTL/range markers are ordinary sort-first records in
    * the raw scan, so DELETIONS repair exactly like writes — a
    * tombstone on one replica shadows the other side's data after
    * repair (Cassandra ships tombstones in repair streams for the
    * same reason).
    *
    * Both tables must share value type and key layout (the append
    * write validates). Typed-key (CEL6/8) tables bucket by TOKEN
    * (`_token >> tokenShift`) and re-read through `tokenRange`.
    */
  def repair(spark: SparkSession, dirA: String, dirB: String,
      bucketWidth: Long = 1024L, tokenShift: Int = 48): RepairStats = {
    val normA = CellPlanning.normalize(dirA)
    val spec = CellPlanning.keySpecOf(normA, CellPlanning.listFiles(normA))
    if (spec.isDefault) repairDefault(spark, dirA, dirB, bucketWidth)
    else repairTyped(spark, dirA, dirB, tokenShift)
  }

  /** Coalesce sorted bucket ids into inclusive runs, then cap the run
    * count at `maxRuns` by merging across the SMALLEST gaps (each run
    * becomes one pruned re-read; over-reading a small gap beats
    * planning hundreds of tiny scans).
    */
  private def bucketRuns(mism: Array[Long],
      maxRuns: Int): List[(Long, Long)] = {
    var runs = mism.foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: rest, b) if b == hi + 1 => (lo, b) :: rest
      case (acc, b) => (b, b) :: acc
    }.reverse
    while (runs.length > maxRuns) {
      // merge the adjacent pair with the smallest gap
      val gaps = runs.zip(runs.tail).map { case ((_, h), (l, _)) => l - h }
      val i = gaps.indexOf(gaps.min)
      runs = (runs.take(i) :+ ((runs(i)._1, runs(i + 1)._2))) :::
        runs.drop(i + 2)
    }
    runs
  }

  private def ship(delta: org.apache.spark.sql.DataFrame, dir: String,
      shards: Int, sortCols: Seq[String],
      withExpiry: Boolean = false): Long = {
    val d = delta.persist()
    val n = d.count()
    if (n > 0)
      d.repartitionByRange(shards, sortCols.map(col): _*)
        .write.format("graft.sources.CellSource")
        .option("withTtl", withExpiry.toString)
        .mode("append").save(dir)
    d.unpersist()
    n
  }

  private def repairDefault(spark: SparkSession, dirA: String,
      dirB: String, bucketWidth: Long): RepairStats = {
    val mism = rangeDiff(spark, dirA, dirB, bucketWidth)
      .select("bucket").collect().map(_.getLong(0)).sorted
    if (mism.isEmpty) return RepairStats(0, 0L, 0L)
    val runs = bucketRuns(mism, 32).map { case (lo, hi) =>
      (lo * bucketWidth, hi * bucketWidth + bucketWidth - 1)
    }
    def ranged(dir: String) = runs.map { case (lo, hi) =>
      // withTtl: deltas carry `_expiry`, so a shipped TTL'd cell
      // lands on the peer with its expiry intact (the write side
      // takes the trailing `_expiry` column)
      spark.read.format("graft.sources.CellSource")
        .option("withTtl", "true").load(dir)
        .filter(col("pk") >= lo && col("pk") <= hi)
    }.reduce(_ unionAll _)
    val a = ranged(dirA)
    val b = ranged(dirB)
    val shards = math.min(runs.length, 16)
    val sortCols = Seq("pk", "ck", "col")
    // exceptAll, not except: the digest is a MULTISET statement, so a
    // duplicated identical record (a retried append) must also stream
    // — set-based except would ship nothing, the digests would stay
    // unequal, and repair would re-flag the bucket forever.
    val toB = ship(a.exceptAll(b), dirB, shards, sortCols,
      withExpiry = true)
    val toA = ship(b.exceptAll(a), dirA, shards, sortCols,
      withExpiry = true)
    RepairStats(mism.length, toA, toB)
  }

  /** Typed-key (CEL6/8) repair: buckets are the top bits of the
    * physical partition token (`_token >> tokenShift` — arithmetic
    * shift = floor-division, so bucket order is token order and each
    * bucket is one contiguous ring range of width 2^tokenShift);
    * mismatched runs re-read through the `tokenRange` option, so
    * Summary/manifest/sparse-index pruning applies exactly as on the
    * default layout. Default shift 48 = 65536 Merkle leaves.
    */
  private def repairTyped(spark: SparkSession, dirA: String,
      dirB: String, tokenShift: Int): RepairStats = {
    require(tokenShift > 0 && tokenShift < 64, s"bad shift $tokenShift")
    val mism = rangeDiffTyped(spark, dirA, dirB, tokenShift)
      .select("bucket").collect().map(_.getLong(0)).sorted
    if (mism.isEmpty) return RepairStats(0, 0L, 0L)
    val maxBucket = (Long.MaxValue >> tokenShift)
    val runs = bucketRuns(mism, 32).map { case (lo, hi) =>
      (lo << tokenShift,
        if (hi >= maxBucket) Long.MaxValue
        else ((hi + 1) << tokenShift) - 1)
    }
    def ranged(dir: String) = runs.map { case (lo, hi) =>
      // withTtl: typed deltas carry `_expiry` (CEL11), so a shipped
      // TTL'd cell lands on the peer with its expiry intact
      spark.read.format("graft.sources.CellSource")
        .option("withTtl", "true")
        .option("tokenRange", s"$lo:$hi").load(dir)
    }.reduce(_ unionAll _)
    val a = ranged(dirA)
    val b = ranged(dirB)
    val shards = math.min(runs.length, 16)
    val sortCols = a.columns.init.toSeq // key parts lead; drop _expiry
    // exceptAll: multiset delta, matching the multiset digest (see
    // repairDefault)
    val toB = ship(a.exceptAll(b), dirB, shards, sortCols,
      withExpiry = true)
    val toA = ship(b.exceptAll(a), dirA, shards, sortCols,
      withExpiry = true)
    RepairStats(mism.length, toA, toB)
  }

  /** C48 — READ repair: Cassandra's per-read convergence path, as
    * opposed to [[repair]]'s full anti-entropy sweep. When a quorum
    * read (C47 `replicas=`) touches a handful of partitions, the
    * coordinator reconciles the replicas' versions and writes the
    * difference BACK to whichever replicas were stale — scoped to
    * exactly the partitions read, not the whole ring.
    *
    * Mechanics here: each root's RAW cells of the queried pks are read
    * through the pushed `pk IN (...)` multiget (Summary + bloom prune
    * files per value — the read path is k point reads per replica, not
    * a table scan), the distinct union across roots is the quorum
    * version set, and each root receives `union EXCEPT own` as one
    * appended flush. After that every replica's SOLO reconciled read
    * of those pks equals the quorum read (LWW folds the shipped
    * versions identically everywhere). Tombstone/TTL markers at those
    * pks are ordinary sort-first rows in the raw scan, so deletions
    * read-repair exactly like writes; `withTtl` carries per-cell
    * expiry intact (CEL10). Idempotent: a second call ships 0.
    *
    * Distinct (set) union is deliberate, unlike [[repair]]'s multiset
    * deltas: read repair's contract is agreement of the RECONCILED
    * views (≥1 copy of each version suffices), not digest equality —
    * Cassandra's read repair likewise ships the merged mutation, not
    * the full version history. Default-layout tables (pk long); typed
    * tables converge via [[repair]]'s token buckets instead.
    *
    * Returns shipped-cell count per root, in `roots` order.
    */
  def readRepair(spark: SparkSession, roots: Seq[String],
      pks: Seq[Long]): Seq[(String, Long)] = {
    require(roots.size >= 2, "read repair needs at least two replicas")
    require(pks.nonEmpty, "read repair is per-read: pass the read's pks")
    def cellsOf(dir: String) =
      spark.read.format("graft.sources.CellSource")
        .option("withTtl", "true").load(dir)
        .filter(col("pk").isin(pks: _*))
    val own = roots.map(r => r -> cellsOf(r))
    val quorum = own.map(_._2).reduce(_ unionAll _).distinct().persist()
    val shipped = own.map { case (r, mine) =>
      r -> ship(quorum.except(mine), r, 1, Seq("pk", "ck", "col"),
        withExpiry = true)
    }
    quorum.unpersist()
    shipped
  }

  /** Typed twin of [[rangeDiff]]: per-token-bucket sum-of-hashes
    * digests via the `_token` scan column.
    */
  def rangeDiffTyped(spark: SparkSession, dirA: String, dirB: String,
      tokenShift: Int = 48): org.apache.spark.sql.DataFrame = {
    def digest(dir: String) = {
      import org.apache.spark.sql.functions._
      // withTtl: the digest covers `_expiry` too (CEL11), so replicas
      // divergent only in a cell's TTL still flag and repair
      val df = spark.read.format("graft.sources.CellSource")
        .option("withToken", "true")
        .option("withTtl", "true").load(dir)
      // arithmetic shift IS floor division by 2^shift; multi-arg
      // xxhash64 avoids delimiter-ambiguity collisions (see rangeDiff)
      val dataCols = df.columns.filter(_ != "_token").map(col).toSeq
      df.select(expr(s"shiftright(_token, $tokenShift)").as("bucket"),
        xxhash64(dataCols: _*).as("h"))
        .groupBy(col("bucket"))
        .agg(sum(col("h").cast("decimal(38,0)")).as("digest"))
    }
    import org.apache.spark.sql.functions._
    val a = digest(dirA).withColumnRenamed("digest", "digest_a")
    val b = digest(dirB).withColumnRenamed("digest", "digest_b")
    a.join(b, Seq("bucket"), "full_outer")
      .withColumn("status",
        when(col("digest_a").isNull, lit("missing_a"))
          .when(col("digest_b").isNull, lit("missing_b"))
          .when(col("digest_a") =!= col("digest_b"), lit("mismatch")))
      .filter(col("status").isNotNull)
      .select(col("bucket"), col("status"))
  }

  /** Delete crash-orphaned staged files (`.staged-*.tmp`): a task
    * that died between roll() and commit leaves its stage behind —
    * invisible to readers (listFiles only serves `.cells`) but
    * holding disk forever. A stage older than `olderThanMs` cannot
    * belong to a live write (task stages are consumed by their own
    * job's commit). Returns the deleted names. The wall clock is only
    * a default — tests and schedulers can pin `nowMs`.
    */
  def cleanOrphans(dir: String, olderThanMs: Long = 86400000L,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val d = java.nio.file.Paths.get(CellPlanning.normalize(dir))
    if (!java.nio.file.Files.exists(d)) return Nil
    val old = scala.util.Using.resource(java.nio.file.Files.list(d)) { s =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.filter { p =>
          val n = p.getFileName.toString
          n.startsWith(".staged-") && n.endsWith(".tmp") &&
            java.nio.file.Files.getLastModifiedTime(p).toMillis <
              nowMs - olderThanMs
        }.toList
    }
    old.map { p =>
      java.nio.file.Files.delete(p); p.getFileName.toString
    }
  }

  // ---- C62: scrub (corruption recovery) ------------------------------

  /** Per-file scrub report: (file name, records salvaged, records
    * lost, quarantined?).
    */
  final case class ScrubReport(file: String, salvaged: Int, lost: Int,
      quarantined: Boolean)

  /** C62 — `nodetool scrub`: salvage what is readable from corrupt
    * flush files so the table serves again, accepting BOUNDED data
    * loss (exactly Cassandra's contract — scrub discards unreadable
    * rows; repair from replicas restores them). Per file:
    *
    *  - healthy (every chunk inflates to its recorded length and
    *    decodes): left untouched, byte-identical;
    *  - partially corrupt: the readable chunks' records are rewritten
    *    IN PLACE at the same flush name (fresh header/index/bloom,
    *    atomic replace), the bad chunks' records are LOST and
    *    counted;
    *  - header-corrupt: the whole file is QUARANTINED — renamed to
    *    `<name>.corrupt`, invisible to `listFiles`, kept on disk for
    *    forensics.
    *
    * Default-layout files only in this round (the typed record shapes
    * scrub by the same procedure; refused for now). Each file's pass
    * is independent and streaming — at scale, run one scrub per file
    * in parallel. Run [[repair]] against a replica afterwards to
    * restore the lost rows.
    */
  def scrub(spark: SparkSession, dir: String): Seq[ScrubReport] = {
    import java.nio.file.{Files => JFiles, Paths => JPaths,
      StandardCopyOption}
    val norm = CellPlanning.normalize(dir)
    CellPlanning.listFiles(norm).map { f =>
      val p = JPaths.get(f)
      val name = p.getFileName.toString
      val h =
        try Some(CellSource.readHeader(f))
        catch { case _: Exception => None }
      h match {
        case None =>
          JFiles.move(p, p.resolveSibling(name + ".corrupt"),
            StandardCopyOption.ATOMIC_MOVE)
          CellManifest.refresh(norm)
          ScrubReport(name, 0, 0, quarantined = true)
        case Some(hdr) =>
          require(hdr.keySpec.isDefault,
            s"scrub handles default-layout files for now ($name is typed)")
          val rows = Seq.newBuilder[(Long, Int, String, Any, Long, Long)]
          var lost = 0
          var salvaged = 0
          var anyBad = false
          scala.util.Using.resource(new java.io.DataInputStream(
              JFiles.newInputStream(p))) { in =>
            var pos = 0L
            var c = 0
            while (c < hdr.chunkOffsets.length) {
              try {
                val target = hdr.dataStart + hdr.chunkOffsets(c)
                var toSkip = target - pos
                while (toSkip > 0) {
                  val sk = in.skip(toSkip); toSkip -= sk; pos += sk
                }
                val compressed = new Array[Byte](hdr.chunkLens(c))
                in.readFully(compressed)
                pos += hdr.chunkLens(c)
                val inf = new java.util.zip.Inflater()
                inf.setInput(compressed)
                val raw = new Array[Byte](hdr.chunkRawLens(c))
                var off = 0
                while (off < raw.length && !inf.finished())
                  off += inf.inflate(raw, off, raw.length - off)
                inf.end()
                require(off == raw.length, "short inflate")
                val buf = java.nio.ByteBuffer.wrap(raw)
                var r = 0
                while (r < hdr.chunkRecCounts(c)) {
                  val pk = buf.getLong(); val ck = buf.getInt()
                  val col = hdr.colNames(buf.get() & 0xff)
                  val v = ValueCodec.read(buf, hdr.valueTag,
                    hdr.decPrec, hdr.decScale)
                  val wt = buf.getLong()
                  val exp = if (hdr.hasExpiry) buf.getLong()
                            else Long.MaxValue
                  rows += ((pk, ck, col, v, wt, exp))
                  salvaged += 1
                  r += 1
                }
              } catch {
                case _: Exception =>
                  lost += hdr.chunkRecCounts(c)
                  anyBad = true
              }
              c += 1
            }
          }
          if (!anyBad) ScrubReport(name, salvaged, 0,
            quarantined = false)
          else {
            // rewrite in place: fresh header/index/bloom over the
            // surviving records, atomically replacing the flush name
            val sorted = rows.result().sortBy(r =>
              (r._1, r._2, r._3, r._5))
            val cols = sorted.iterator.map(_._3).toArray.distinct.sorted
            val staged = JFiles.createTempFile(JPaths.get(norm),
              ".scrub-", ".tmp")
            CellSource.writeFileTypedE(staged, sorted, cols,
              hdr.valueTag, hdr.decPrec, hdr.decScale,
              CellSource.DefaultIndexEvery,
              CellSource.DefaultChunkRecords)
            JFiles.move(staged, p, StandardCopyOption.REPLACE_EXISTING)
            // the manifest caches per-NAME summaries and the rewrite
            // kept the flush name: drop it so refresh re-reads the
            // new header instead of trusting the stale entry
            JFiles.deleteIfExists(
              JPaths.get(norm).resolve(CellManifest.FileName))
            CellManifest.refresh(norm)
            ScrubReport(name, salvaged, lost, quarantined = false)
          }
      }
    }
  }

  // ---- C60/C61: ring operations (cleanup, range movement) ------------

  /** C60 — `nodetool cleanup`: after a ring change (a new node took
    * over part of this node's range), rewrite the table keeping ONLY
    * rows whose token falls in the ranges this node still owns.
    * Ranges are inclusive `[lo, hi]` token bounds (C41's unit); the
    * rewrite is the reconciling scan restricted to them feeding the
    * truncate write — markers kept, nothing else interpreted, so
    * tombstones/TTL/range markers inside an owned range survive and
    * everything outside is physically dropped. Returns (rowsBefore,
    * rowsAfter) raw record counts from headers.
    *
    * Cassandra's own caveat carries over: cleanup is the LAST step of
    * a movement — run it only after the receiving node holds the data
    * (see [[moveRange]], which sequences this correctly).
    */
  def cleanup(spark: SparkSession, dir: String,
      ownedRanges: Seq[(Long, Long)],
      rollRecords: Int = CellSource.DefaultRollRecords): (Long, Long) = {
    require(ownedRanges.nonEmpty,
      "cleanup with no owned ranges would truncate the table; " +
        "call truncate explicitly if that is the intent")
    val norm = CellPlanning.normalize(dir)
    val files = CellPlanning.listFiles(norm)
    val before = files.map(f => CellSource.readHeader(f).count.toLong).sum
    val spec = CellPlanning.keySpecOf(norm, files)
    // counter tables MUST rewrite under shard-SUM (same rule as
    // compact: a default LWW read keeps only the latest shard and
    // silently loses the other deltas)
    val counter = tableProp(dir, "counter").exists(_.toBoolean)
    val kept = ownedRanges.map { case (lo, hi) =>
      spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true")
        .option("keepMarkers", "true")
        .option("withTtl", "true")
        .option("counter", counter.toString)
        .option("tokenRange", s"$lo:$hi").load(dir)
    }.reduce(_ unionAll _)
    val w = kept.write.format("graft.sources.CellSource")
      .option("withTtl", "true")
      .option("rollRecords", rollRecords.toString)
    (if (spec.isDefault) w
     else w.option("primaryKey",
       s"((${spec.pkParts.map(_.name).mkString(",")})," +
         s"${spec.ckParts.map(_.name).mkString(",")})"))
      .mode("overwrite").save(dir)
    val after = CellPlanning.listFiles(norm)
      .map(f => CellSource.readHeader(f).count.toLong).sum
    (before, after)
  }

  /** C61 — range movement (`nodetool move` / bootstrap /
    * decommission): stream one inclusive token range from `from` to
    * `to`, then CLEAN the source of it. Ordered exactly as Cassandra
    * orders it: (1) the receiving node gets the data — a raw
    * keepMarkers tokenRange read (every version, tombstones and
    * expiry included) appended as one flush, LWW-idempotent on
    * retry; (2) only then does the source cleanup drop the moved
    * range (`cleanup` with the complement). A crash between the two
    * leaves BOTH nodes holding the range — over-ownership, which
    * reads tolerate (quorum/LWW) and a re-run converges — never
    * under-ownership. Returns the moved cell count.
    */
  def moveRange(spark: SparkSession, from: String, to: String,
      lo: Long, hi: Long): Long = {
    require(lo <= hi, s"empty token range $lo:$hi")
    // RAW scan: every version streams, marker rows included (a raw
    // read serves tombstone/TTL markers verbatim)
    val src = spark.read.format("graft.sources.CellSource")
      .option("withTtl", "true")
      .option("tokenRange", s"$lo:$hi").load(from)
    val moved = ship(src, to, 1, src.columns.init.toSeq,
      withExpiry = true)
    // the complement of [lo, hi] on the signed-64 ring
    val complement = Seq(
      (Long.MinValue, lo - 1), (hi + 1, Long.MaxValue)).filter {
      case (a, b) => a <= b && !(lo == Long.MinValue && b == lo - 1) &&
        !(hi == Long.MaxValue && a == hi + 1)
    }
    if (complement.nonEmpty) cleanup(spark, from, complement)
    else { // the range was the whole ring: the source is decommissioned
      val t = new CellTable(CellPlanning.normalize(from))
      t.truncateTable()
    }
    moved
  }

  // ---- C50: hinted handoff -------------------------------------------

  /** Hint-table directory for one down target under `hintsDir` — the
    * target path is URL-encoded into a single path segment, so any
    * replica path round-trips and two targets can never collide.
    */
  def hintPath(hintsDir: String, target: String): String =
    CellPlanning.normalize(hintsDir) + "/" +
      java.net.URLEncoder.encode(
        CellPlanning.normalize(target), "UTF-8")

  /** C50 — HINTED HANDOFF, the write half: Cassandra's short-outage
    * protocol. A coordinator writing while some replicas are down
    * appends `cells` to every UP replica now, and for each DOWN
    * replica appends the same rows to a per-target HINT TABLE under
    * `hintsDir`. The hint store is an ordinary cell table: hints
    * survive coordinator restarts, are inspectable with every scan,
    * and inherit the flush commit's crash atomicity — nothing new to
    * get wrong. Original writetimes ship with the cells, so a later
    * delivery folds by LWW exactly as the direct write would have;
    * tombstone/TTL markers are ordinary rows and hint like data.
    *
    * `cells` is default-layout `(pk, ck, col, value, wt[, _expiry])`;
    * pass `withExpiry = true` when the trailing per-cell expiry
    * column is present (CEL10).
    */
  def writeWithHints(spark: SparkSession,
      cells: org.apache.spark.sql.DataFrame, up: Seq[String],
      down: Seq[String], hintsDir: String,
      withExpiry: Boolean = false): Unit = {
    require(up.nonEmpty, "a write needs at least one live replica " +
      "(Cassandra: CL unmet -> the write fails, no hints are stored)")
    val d = cells.persist()
    d.count()
    def append(target: String): Unit =
      d.coalesce(1).write.format("graft.sources.CellSource")
        .option("withTtl", withExpiry.toString)
        .mode("append").save(target)
    up.foreach(append)
    down.foreach(t => append(hintPath(hintsDir, t)))
    d.unpersist()
  }

  /** C50 — HINTED HANDOFF, the replay half: when `target` comes back,
    * its pending hints are read as one view and appended as ONE flush,
    * then the hint files are cleared. Returns the delivered cell
    * count.
    *
    * Crash safety: delivery-then-crash-before-clear re-delivers on the
    * next call — LWW-idempotent (identical records reconcile to the
    * same winners), the same contract every replay path here rides on.
    *
    * Hints whose FILE is older than `maxHintAgeMs` (Cassandra's
    * `max_hint_window_in_ms`) are DROPPED, not delivered: a replica
    * down past the window must run anti-entropy [[repair]] instead —
    * hints cannot be trusted across the gc-grace boundary (a dropped
    * tombstone delivered late would resurrect data; repair re-reads
    * live state, hints replay history). Expiry granularity is the
    * hint FLUSH (one [[writeWithHints]] call), mirroring Cassandra's
    * per-hint-file expiry. `nowMs = Long.MaxValue` (the default)
    * disables expiry — callers own the clock, as with [[compact]].
    */
  def deliverHints(spark: SparkSession, hintsDir: String,
      target: String, maxHintAgeMs: Long = Long.MaxValue,
      nowMs: Long = Long.MaxValue): Long = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val hp = hintPath(hintsDir, target)
    val files = CellPlanning.listFiles(hp)
    if (files.isEmpty) return 0L
    val cutoff =
      if (maxHintAgeMs == Long.MaxValue || nowMs == Long.MaxValue)
        Long.MinValue
      else nowMs - maxHintAgeMs
    val live = files.filter(f =>
      JFiles.getLastModifiedTime(JPaths.get(f)).toMillis >= cutoff)
    var delivered = 0L
    if (live.nonEmpty) {
      // scratch hard-link view of exactly the non-expired hint files
      // (the compaction-pass trick): zero data copies, and the read
      // is pinned against a concurrent writeWithHints appending more
      val scratch = JFiles.createTempDirectory("hints-deliver")
      live.foreach { f =>
        val p = JPaths.get(f)
        JFiles.createLink(scratch.resolve(p.getFileName), p)
      }
      val df = spark.read.format("graft.sources.CellSource")
        .option("withTtl", "true").load(scratch.toString)
      delivered = ship(df, target, 1, Seq("pk", "ck", "col"),
        withExpiry = true)
      scala.util.Using.resource(JFiles.list(scratch)) { s =>
        scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
          .asScala.toList.foreach(JFiles.delete)
      }
      JFiles.delete(scratch)
    }
    // clear delivered AND expired hints; drop the manifest too so a
    // later hint append rebuilds it from the live listing
    files.foreach(f => JFiles.deleteIfExists(JPaths.get(f)))
    JFiles.deleteIfExists(
      JPaths.get(hp).resolve(CellManifest.FileName))
    delivered
  }

  /** Pending hint-cell count per target under `hintsDir` (from file
    * headers — zero data reads); targets decoded back to their paths.
    */
  def pendingHints(hintsDir: String): Seq[(String, Long)] = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = JPaths.get(CellPlanning.normalize(hintsDir))
    if (!JFiles.isDirectory(root)) return Nil
    val dirs = scala.util.Using.resource(JFiles.list(root)) { s =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
        .asScala.filter(JFiles.isDirectory(_)).toList
    }
    dirs.map { d =>
      val n = CellPlanning.listFiles(d.toString)
        .map(f => CellSource.readHeader(f).count.toLong).sum
      java.net.URLDecoder.decode(d.getFileName.toString, "UTF-8") -> n
    }.sortBy(_._1)
  }

  /** The incremental-view variant: compact only when the table has
    * more than `maxFiles` flush files (minor-compaction trigger).
    * `policy = "stcs"` (round 7) runs [[compactTiered]] passes
    * instead of a major compaction — cold generations are never
    * rewritten; the trigger fires the same way, but each pass merges
    * only the most-populous similar-size tier and repeats while a
    * tier is eligible and the file count stays above the threshold.
    * Falls back to ONE major compaction if no tier is eligible but
    * the count still exceeds `maxFiles` (pathological all-different-
    * size layout).
    */
  /** Compaction steered by the table's DECLARED strategy — the CQL
    * `WITH compaction = {'class': ...}` property (`compaction` in
    * `_props`): stcs/lcs route through [[compactIfNeeded]]'s
    * incremental passes, twcs through the time-window pass with the
    * declared window, no declaration = count-triggered major. The
    * operational entry point `nodetool compact` maps to.
    */
  def compactDeclared(spark: SparkSession, dir: String,
      maxFiles: Int = 4): Option[(Int, Int)] =
    tableProp(dir, "compaction") match {
      case Some("twcs") =>
        val win = tableProp(dir, "compactionWindowMs")
          .map(_.toLong).getOrElse(86400000L)
        val before = CellPlanning.listFiles(dir).size
        compactWindows(spark, dir, win)
        val after = CellPlanning.listFiles(dir).size
        if (before == after) None else Some((before, after))
      case Some(p @ ("stcs" | "lcs")) =>
        compactIfNeeded(spark, dir, maxFiles, p)
      case _ => compactIfNeeded(spark, dir, maxFiles)
    }

  def compactIfNeeded(spark: SparkSession, dir: String,
      maxFiles: Int, policy: String = "major"): Option[(Int, Int)] =
    if (CellPlanning.listFiles(dir).size <= maxFiles) None
    else if (policy == "stcs" || policy == "lcs") {
      val before = CellPlanning.listFiles(dir).size
      var progressed = true
      while (progressed &&
          CellPlanning.listFiles(dir).size > maxFiles)
        progressed =
          if (policy == "stcs") compactTiered(spark, dir).isDefined
          else compactLeveled(spark, dir).isDefined
      val after = CellPlanning.listFiles(dir).size
      if (after > maxFiles) Some(compact(spark, dir))
      else Some((before, after))
    } else Some(compact(spark, dir))

  /** SIZE-TIERED compaction (Cassandra's STCS default, round 7): a
    * 100 TB table must not rewrite its cold multi-GB generations every
    * time four fresh flushes land, which is exactly what a count-
    * triggered major compaction does. Files are bucketed into
    * similar-size TIERS (greedy over the size-sorted list: a file
    * joins the current bucket while its size is ≤ `bucketHigh` × the
    * bucket's average, Cassandra's own rule), and only the tier with
    * the most files — the hot, freshly-flushed one — is compacted,
    * once it holds ≥ `minThreshold` files. Each pass merges ~equal-
    * size inputs into one file a tier up; total write amplification
    * stays O(log(table/flush)) per cell instead of O(flushes).
    *
    * A tier compaction reads ONLY its own files (hard-linked into a
    * scratch dir so pruning/merge machinery runs unchanged) and
    * publishes the merged result as a new flush BEFORE deleting the
    * inputs — a reconciling reader that races the swap sees both
    * generations, which LWW merges to identical winners. Markers are
    * always kept and NEVER gc-purged here (`gcGraceMs` retention
    * needs table-wide scope: an older shadowed version may live in a
    * tier this pass can't see — the same reason Cassandra only purges
    * tombstones when the sstable set covers the partition). Full
    * [[compact]] remains the purge path.
    *
    * Returns (compacted file names, files before, files after), or
    * None when no tier is eligible.
    */
  // ---- C54: LEVELED compaction (Cassandra's LCS) ----

  /** The table's level registry (`_levels`, java-properties file:
    * flush file name → level). Files without an entry are LEVEL 0 —
    * fresh flushes land there by construction, and the registry is
    * purely a COMPACTION HINT: read correctness never consults it, so
    * a crash between publish and registry write just leaves new files
    * at L0 to be re-leveled by the next pass.
    */
  def levels(dir: String): Map[String, Int] = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val f = JPaths.get(CellPlanning.normalize(dir)).resolve("_levels")
    if (!JFiles.exists(f)) Map.empty
    else {
      val p = new java.util.Properties()
      scala.util.Using.resource(JFiles.newBufferedReader(f))(p.load)
      p.stringPropertyNames().asScala
        .map(k => k -> p.getProperty(k).toInt).toMap
    }
  }

  private def writeLevels(dir: String, m: Map[String, Int]): Unit = {
    import java.nio.file.{Files => JFiles, Paths => JPaths,
      StandardCopyOption}
    val d = JPaths.get(CellPlanning.normalize(dir))
    val tmp = JFiles.createTempFile(d, "._levels", ".tmp")
    val p = new java.util.Properties()
    m.foreach { case (k, v) => p.setProperty(k, v.toString) }
    scala.util.Using.resource(JFiles.newBufferedWriter(tmp))(
      w => p.store(w, null))
    JFiles.move(tmp, d.resolve("_levels"),
      StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** One LEVELED-compaction pass (Cassandra's LCS, round 7 — C54):
    * the read-amplification-bounded strategy. Levels ≥ 1 hold files
    * with pairwise NON-OVERLAPPING pk ranges (so a point read touches
    * ≤ 1 file per level + every L0 file); level L's byte budget is
    * `l1Bytes × fanout^(L-1)`. A pass does the first applicable of:
    *
    *  1. |L0| ≥ `l0Threshold`: merge ALL of L0 with the L1 files whose
    *     pk range overlaps any L0 file, publish the result as L1.
    *  2. Some level L ≥ 1 over budget: take its first (lowest-minPk)
    *     file, merge it with the overlapping L+1 files, publish at
    *     L+1 — files of L (and L+1) outside the overlap are NEVER
    *     rewritten, which is the whole point of LCS: write
    *     amplification per pass is bounded by fanout, not table size.
    *
    * Outputs are non-overlapping by construction: the merge reads
    * through the reconcile scan (disjoint pk ranges per task) and
    * each task's writer rolls files inside its own range. Subset
    * merges keep markers and never gc-purge (same rule as STCS/TWCS).
    * Returns (target level, inputs, outputs), or None when nothing
    * applies.
    */
  def compactLeveled(spark: SparkSession, dir: String,
      l0Threshold: Int = 4, l1Bytes: Long = 64L << 20, fanout: Int = 10,
      rollRecords: Int = CellSource.DefaultRollRecords)
      : Option[(Int, Seq[String], Seq[String])] = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val files = CellPlanning.listFiles(dir)
    val lv = levels(dir)
    def nameOf(f: String) = JPaths.get(f).getFileName.toString
    def levelOf(f: String) = lv.getOrElse(nameOf(f), 0)
    val byLevel = files.groupBy(levelOf)
    def rangeOf(f: String) = {
      val h = CellSource.readHeader(f)
      (h.minPk, h.maxPk, h.count)
    }
    def overlapping(cands: Seq[String],
        ranges: Seq[(Long, Long)]): Seq[String] =
      cands.filter { f =>
        val (lo, hi, n) = rangeOf(f)
        n > 0 && ranges.exists(r => hi >= r._1 && lo <= r._2)
      }

    def mergeInto(target: Int, inputs: Seq[String])
        : Option[(Int, Seq[String], Seq[String])] = {
      val outputs = rewriteSubset(spark, dir, inputs, rollRecords)
      writeLevels(dir,
        (lv -- inputs.map(nameOf)) ++ outputs.map(f => nameOf(f) -> target))
      Some((target, inputs.map(nameOf), outputs.map(nameOf)))
    }

    val l0 = byLevel.getOrElse(0, Nil)
    if (l0.size >= l0Threshold) {
      val l0Ranges = l0.map(rangeOf).filter(_._3 > 0)
        .map(r => (r._1, r._2))
      val l1Overlap =
        if (l0Ranges.isEmpty) Nil
        else overlapping(byLevel.getOrElse(1, Nil), l0Ranges)
      mergeInto(1, l0 ++ l1Overlap)
    } else {
      val over = byLevel.keys.filter(_ >= 1).toSeq.sorted.find { l =>
        val budget = l1Bytes * math.pow(fanout, l - 1).toLong
        byLevel(l).iterator
          .map(f => JFiles.size(JPaths.get(f))).sum > budget
      }
      over.flatMap { l =>
        val pick = byLevel(l).minBy(f => rangeOf(f)._1)
        val (lo, hi, _) = rangeOf(pick)
        val next = overlapping(byLevel.getOrElse(l + 1, Nil),
          Seq((lo, hi)))
        mergeInto(l + 1, pick +: next)
      }
    }
  }

  /** TIME-WINDOW compaction (Cassandra's TWCS, round 7 — C51): the
    * policy for TTL'd time-series tables. Files bucket by the TIME
    * WINDOW of their max writetime (`floorDiv(maxWt, windowMs)`, read
    * from header wt zone maps — zero data bytes), and compaction only
    * ever merges files WITHIN one window: a fully-expired old window
    * stays one cold file that expiry eventually empties and a major
    * compaction can drop wholesale, and fresh-flush churn never
    * rewrites last week's data. Cross-window merges are exactly what
    * TWCS exists to forbid (they glue old and new timestamps into one
    * file that can then never age out).
    *
    * Every window holding ≥ `minThreshold` files merges to one via
    * the same scratch-link + publish-then-delete pass as
    * [[compactTiered]] (markers kept, no gc purge — subset merges
    * can't see table-wide shadowing); merging never changes wt values,
    * so a file's window assignment is stable across passes. Returns
    * (window id, files merged) per compacted window.
    */
  def compactWindows(spark: SparkSession, dir: String, windowMs: Long,
      minThreshold: Int = 2,
      rollRecords: Int = CellSource.DefaultRollRecords)
      : Seq[(Long, Int)] = {
    require(windowMs > 0, s"windowMs must be positive: $windowMs")
    val files = CellPlanning.listFiles(dir)
    val byWindow = files.map { f =>
      val h = CellSource.readHeader(f)
      val maxWt =
        if (h.chunkMaxWt.isEmpty) Long.MinValue else h.chunkMaxWt.max
      (Math.floorDiv(maxWt, windowMs), f)
    }.groupBy(_._1)
    byWindow.toSeq.sortBy(_._1).flatMap { case (w, wf) =>
      val tier = wf.map(_._2)
      if (tier.size < minThreshold) None
      else {
        rewriteSubset(spark, dir, tier, rollRecords)
        Some((w, tier.size))
      }
    }
  }

  def compactTiered(spark: SparkSession, dir: String,
      minThreshold: Int = 4, bucketHigh: Double = 1.5,
      rollRecords: Int = CellSource.DefaultRollRecords)
      : Option[(Seq[String], Int, Int)] = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val files = CellPlanning.listFiles(dir)
    val sized = files.map(f => (f, JFiles.size(JPaths.get(f))))
      .sortBy(_._2)
    val buckets =
      scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[(String, Long)]]
    sized.foreach { case (f, s) =>
      buckets.lastOption match {
        case Some(b)
            if s <= bucketHigh * (b.map(_._2).sum.toDouble / b.size) =>
          b += ((f, s))
        case _ =>
          buckets += scala.collection.mutable.ArrayBuffer((f, s))
      }
    }
    val eligible = buckets.filter(_.size >= minThreshold)
    if (eligible.isEmpty) return None
    val tier = eligible.maxBy(_.size).map(_._1).toSeq
    rewriteSubset(spark, dir, tier, rollRecords)
    Some((tier.map(f => JPaths.get(f).getFileName.toString),
      files.size, CellPlanning.listFiles(dir).size))
  }

  /** The subset rewrite of [[compactTiered]], [[compactLeveled]] and
    * [[compactWindows]]: a same-filesystem scratch view of `inputs`
    * (hard links, no copies) merges through the reconcile scan with
    * markers kept and no gc purge — a subset can't see table-wide
    * shadowing — and is appended to the table; only then are the
    * inputs deleted and the manifest refreshed. `_expiry` is read and
    * written on both key layouts, as in [[compact]], so per-cell TTLs
    * (CEL10 default / CEL11 typed) survive. Returns the new files.
    */
  private def rewriteSubset(spark: SparkSession, dir: String,
      inputs: Seq[String], rollRecords: Int): Seq[String] = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val before = CellPlanning.listFiles(dir).toSet
    val counter = tableProp(dir, "counter").exists(_.toBoolean)
    val scratch = JFiles.createTempDirectory(
      JPaths.get(CellPlanning.normalize(dir)), ".subset-")
    try {
      inputs.foreach { f =>
        val p = JPaths.get(f)
        JFiles.createLink(scratch.resolve(p.getFileName), p)
      }
      // publish BEFORE deleting inputs
      rewrite(spark, scratch.toString,
        Map("keepMarkers" -> "true", "withTtl" -> "true",
          "counter" -> counter.toString),
        dir,
        Map("withTtl" -> "true", "rollRecords" -> rollRecords.toString),
        truncate = false)
      val outputs = CellPlanning.listFiles(dir).filterNot(before)
      inputs.foreach(f => JFiles.delete(JPaths.get(f)))
      CellManifest.refresh(dir)
      outputs
    } finally {
      scala.util.Using.resource(JFiles.list(scratch)) { s =>
        scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
          .asScala.toList.foreach(JFiles.deleteIfExists(_))
      }
      JFiles.deleteIfExists(scratch)
    }
  }

  /** The one rewrite of [[compact]] and [[rewriteSubset]]: the
    * reconcile read of `readDir` under `readOpts`, written into `dir`
    * by the DSv2 write of the table a path-based write of `dir` with
    * `writeOpts` resolves, truncating (`compact`) or appending. The
    * read is planned through the provider, as the driver-local point
    * read plans it. When it plans at most one input partition — every
    * table whose files hold at most one sub-split — that partition
    * runs on the driver thread with the pieces a task uses: the
    * columnar reader, a writer of the table's `newWriteBuilder`, then
    * `CellBatchWrite.commit`; as in Spark, a failing task aborts its
    * writer and a failing commit aborts the batch write. A wider read
    * runs as one Spark job.
    * Either way every row is staged before the commit truncates or
    * publishes.
    */
  private def rewrite(spark: SparkSession, readDir: String,
      readOpts: Map[String, String], dir: String,
      writeOpts: Map[String, String], truncate: Boolean): Unit = {
    import org.apache.spark.sql.connector.catalog.SupportsWrite
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
      PhysicalWriteInfo, SupportsTruncate}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val (readSchema, read) = CellSource.reconcileBatch(readDir, Nil, readOpts)
    val parts = read.planInputPartitions()
    if (parts.length > 1)
      spark.read.format("graft.sources.CellSource").options(readOpts)
        .option("reconcile", "true").load(readDir)
        .write.format("graft.sources.CellSource").options(writeOpts)
        .mode(if (truncate) "overwrite" else "append").save(dir)
    else {
      val props = new java.util.HashMap[String, String](writeOpts.asJava)
      props.put("path", dir)
      val opts = new CaseInsensitiveStringMap(props)
      val provider = new CellSource
      val builder = provider.getTable(provider.inferSchema(opts),
          Array.empty, props).asInstanceOf[SupportsWrite]
        .newWriteBuilder(new LogicalWriteInfo {
          override val queryId: String = java.util.UUID.randomUUID.toString
          override def schema = readSchema
          override def options = opts
        })
      val write = (if (truncate) builder.asInstanceOf[SupportsTruncate]
        .truncate() else builder).build().toBatch
      // a negative task id: staged names never meet a Spark task's
      val writer = write.createBatchWriterFactory(new PhysicalWriteInfo {
        override def numPartitions = 1
      }).createWriter(0, -1L - driverRewrites.getAndIncrement())
      val msg = try {
        val rf = read.createReaderFactory()
        parts.foreach(p => CellSource.foreachRow(rf, p)(writer.write))
        writer.commit()
      } catch { case e: Throwable => writer.abort(); throw e }
      finally writer.close()
      try write.commit(Array(msg))
      catch { case e: Throwable => write.abort(Array(msg)); throw e }
    }
  }

  private val driverRewrites = new java.util.concurrent.atomic.AtomicLong
}
