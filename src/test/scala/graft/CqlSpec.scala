package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.cql.Cql
import org.apache.spark.sql.graftbridge.Bridge

/** C65 — the CQL front door: every statement shape lands on the
  * connector machinery built for its contract, and write statements
  * follow the marker protocol exactly.
  */
class CqlSpec extends GraftSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val d = Files.createTempDirectory("cql-t").toString
    Seq((1L, 1, "qty", 10L, 100L), (1L, 2, "qty", 20L, 100L),
        (2L, 1, "qty", 30L, 100L), (2L, 1, "price", 5L, 100L),
        (3L, 1, "qty", 40L, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    d
  }

  private def rows(d: String): Set[(Long, Int, String, Long)] =
    spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .select("pk", "ck", "col", "value")
      .as[(Long, Int, String, Long)].collect().toSet

  test("SELECT: key predicates push, LIMIT and ORDER BY apply") {
    val d = freshTable()
    val df = Cql.execute(spark,
      s"SELECT pk, ck, col, value FROM $d WHERE pk = 2 ORDER BY ck, col")
    // the key predicate reached the scan (pkRange in the plan)
    assert(df.queryExecution.executedPlan.toString.contains("pkRange=[2,2]"))
    assert(df.as[(Long, Int, String, Long)].collect().toSeq ===
      Seq((2L, 1, "price", 5L), (2L, 1, "qty", 30L)))
    val lim = Cql.execute(spark,
      s"SELECT pk, ck, col, value FROM $d ORDER BY pk, ck, col LIMIT 2")
    assert(lim.count() === 2)
  }

  test("SELECT without ALLOW FILTERING refuses data predicates (C57)") {
    val d = freshTable()
    val bad = Cql.execute(spark,
      s"SELECT pk, ck FROM $d WHERE value = 10")
    val e = intercept[Exception] { bad.collect() }
    assert(e.getMessage.contains("allowFiltering"), e.getMessage)
    val ok = Cql.execute(spark,
      s"SELECT pk, ck FROM $d WHERE value = 10 ALLOW FILTERING")
    assert(ok.as[(Long, Int)].collect().toSet === Set((1L, 1)))
  }

  test("SELECT GROUP BY pk lands on the zero-exchange pushdown (C49)") {
    val d = freshTable()
    val g = Cql.execute(spark,
      s"SELECT pk, count(*) AS n, max(wt) AS mw FROM $d GROUP BY pk " +
        "ORDER BY pk")
    assert(g.queryExecution.executedPlan.toString
      .contains("CellGroupAggScan"))
    assert(g.as[(Long, Long, Long)].collect().toSeq ===
      Seq((1L, 2L, 100L), (2L, 2L, 100L), (3L, 1L, 100L)))
  }

  test("SELECT JSON renders rows as [json] documents (C63)") {
    val d = freshTable()
    val j = Cql.execute(spark,
      s"SELECT JSON pk, ck, col, value FROM $d WHERE pk = 3")
    val out = j.as[String].collect().toSeq
    assert(out === Seq("""{"pk":3,"ck":1,"col":"qty","value":40}"""))
    assert(j.schema.fieldNames.toSeq === Seq("[json]"))
  }

  test("PER PARTITION LIMIT routes to the merge-cursor early-out (C22)") {
    val d = freshTable()
    val df = Cql.execute(spark,
      s"SELECT pk, ck, col, value FROM $d PER PARTITION LIMIT 1")
    // pk 1 has rows ck=1,2 → only ck=1 survives; pk 2's single row
    // (both its cells) and pk 3 stay
    val got = df.as[(Long, Int, String, Long)].collect().toSet
    assert(got === Set((1L, 1, "qty", 10L), (2L, 1, "price", 5L),
      (2L, 1, "qty", 30L), (3L, 1, "qty", 40L)))
  }

  test("INSERT / UPDATE write cells with the deterministic writetime") {
    val d = freshTable()
    Cql.execute(spark,
      s"INSERT INTO $d (pk, ck, qty, price) VALUES (9, 1, 77, 88)")
    assert(rows(d).contains((9L, 1, "qty", 77L)))
    assert(rows(d).contains((9L, 1, "price", 88L)))
    // the insert's wt was table-max + 1 → a same-key UPDATE at the
    // NEXT wt shadows it
    Cql.execute(spark, s"UPDATE $d SET qty = 99 WHERE pk = 9 AND ck = 1")
    assert(rows(d).contains((9L, 1, "qty", 99L)))
    assert(!rows(d).contains((9L, 1, "qty", 77L)))
    // USING TIMESTAMP in the past does NOT shadow (LWW)
    Cql.execute(spark,
      s"UPDATE $d USING TIMESTAMP 50 SET qty = 1 WHERE pk = 9 AND ck = 1")
    assert(rows(d).contains((9L, 1, "qty", 99L)))
  }

  test("DELETE writes the marker protocol, never data rewrites") {
    val d = freshTable()
    // row tombstone
    Cql.execute(spark, s"DELETE FROM $d WHERE pk = 1 AND ck = 2")
    assert(!rows(d).exists(r => r._1 == 1L && r._2 == 2))
    assert(rows(d).contains((1L, 1, "qty", 10L)))
    // single-cell tombstone
    Cql.execute(spark, s"DELETE price FROM $d WHERE pk = 2 AND ck = 1")
    assert(!rows(d).contains((2L, 1, "price", 5L)))
    assert(rows(d).contains((2L, 1, "qty", 30L)))
    // partition tombstone
    Cql.execute(spark, s"DELETE FROM $d WHERE pk = 3")
    assert(!rows(d).exists(_._1 == 3L))
    // clustering-range tombstone
    Cql.execute(spark, s"DELETE FROM $d WHERE pk = 1 AND ck >= 1 AND ck <= 5")
    assert(!rows(d).exists(_._1 == 1L))
    // a write PAST the deletion survives it (Cassandra rewrite rule)
    Cql.execute(spark, s"INSERT INTO $d (pk, ck, qty) VALUES (3, 1, 55)")
    assert(rows(d).contains((3L, 1, "qty", 55L)))
  }

  test("LWT: IF NOT EXISTS / IF col = v route through CAS (C55)") {
    val d = freshTable()
    // first insert applies
    val r1 = Cql.execute(spark,
      s"INSERT INTO $d (pk, ck, qty) VALUES (42, 1, 5) IF NOT EXISTS")
      .as[(Boolean, Option[Long])].collect().head
    assert(r1 === ((true, None)))
    // second insert refuses and reports the current value
    val r2 = Cql.execute(spark,
      s"INSERT INTO $d (pk, ck, qty) VALUES (42, 1, 9) IF NOT EXISTS")
      .as[(Boolean, Option[Long])].collect().head
    assert(r2 === ((false, Some(5L))))
    // conditional update: wrong expectation refuses, right one applies
    val r3 = Cql.execute(spark,
      s"UPDATE $d SET qty = 6 WHERE pk = 42 AND ck = 1 IF qty = 99")
      .as[(Boolean, Option[Long])].collect().head
    assert(r3 === ((false, Some(5L))))
    val r4 = Cql.execute(spark,
      s"UPDATE $d SET qty = 6 WHERE pk = 42 AND ck = 1 IF qty = 5")
      .as[(Boolean, Option[Long])].collect().head
    assert(r4 === ((true, Some(5L))))
    assert(rows(d).contains((42L, 1, "qty", 6L)))
  }

  test("BEGIN BATCH journals all statements at one writetime (C56)") {
    val d = freshTable()
    Cql.execute(spark,
      s"""BEGIN BATCH
         |  INSERT INTO $d (pk, ck, qty) VALUES (50, 1, 11);
         |  UPDATE $d SET qty = 12 WHERE pk = 50 AND ck = 2;
         |  DELETE FROM $d WHERE pk = 1 AND ck = 1;
         |APPLY BATCH""".stripMargin)
    val r = rows(d)
    assert(r.contains((50L, 1, "qty", 11L)))
    assert(r.contains((50L, 2, "qty", 12L)))
    assert(!r.exists(x => x._1 == 1L && x._2 == 1)) // row deleted
    // one shared writetime across the batch's writes
    val wts = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .filter(col("pk") === 50L)
      .select("wt").as[Long].collect().toSet
    assert(wts.size === 1, wts)
    // the journal entry cleared after apply
    val log = java.nio.file.Paths.get(d + ".batchlog")
    assert(!java.nio.file.Files.isDirectory(log) ||
      !java.nio.file.Files.list(log).iterator().hasNext)
  }

  test("typed-key (CEL6) tables: SELECT probes and INSERT both serve") {
    val kd = graft.sources.CellSnapshots.ensureKeyed(spark, sf())
    // a typed point probe through the front door: the text-key
    // equality pushes as a hashed-token lookup like any typed read
    val df = Cql.execute(spark,
      s"SELECT user, ck, col, value FROM $kd WHERE user = 'user-5' " +
        "ORDER BY ck, col, value")
    val direct = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(kd)
      .filter(col("user") === "user-5")
      .select("user", "ck", "col", "value")
      .orderBy(col("ck"), col("col"), col("value"))
      .collect().toSeq
    assert(df.collect().toSeq === direct)
    assert(direct.nonEmpty)
    // typed INSERT routes through the typed write path (fresh table so
    // the shared fixture stays untouched)
    val td = Files.createTempDirectory("cql-typed").toString
    Seq(("u-1", 1, "qty", 10L, 100L))
      .toDF("user", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)").option("keyType.user", "string")
      .option("keyType.ck", "int")
      .mode("append").save(td)
    Cql.execute(spark,
      s"INSERT INTO $td (user, ck, qty, price) VALUES ('u-2', 3, 7, 8)")
    val back = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(td)
      .filter(col("user") === "u-2")
      .select("user", "ck", "col", "value")
      .as[(String, Int, String, Long)].collect().toSet
    assert(back === Set(("u-2", 3, "qty", 7L), ("u-2", 3, "price", 8L)))
    // unbound key part fails fast (CQL's rule), as does a wrong-typed
    // key literal
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"INSERT INTO $td (user, qty) VALUES ('u-3', 1)")
    }
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"INSERT INTO $td (user, ck, qty) VALUES (9, 1, 2)")
    }
  }

  test("INSERT JSON writes cells like its VALUES twin (C63 write half)") {
    val d = freshTable()
    Cql.execute(spark,
      s"""INSERT INTO $d JSON '{"pk": 70, "ck": 1, "qty": 7, "price": 9}'""")
    assert(rows(d).contains((70L, 1, "qty", 7L)))
    assert(rows(d).contains((70L, 1, "price", 9L)))
    // pinned timestamp honored; JSON escaping of '' round-trips
    Cql.execute(spark,
      s"INSERT INTO $d JSON '" + """{"pk": 70, "ck": 1, "qty": 8}""" +
        "' USING TIMESTAMP 50")
    assert(rows(d).contains((70L, 1, "qty", 7L))) // past wt: shadowed
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"INSERT INTO $d JSON '[1, 2]'")
    }
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"""INSERT INTO $d JSON '{"pk": 1}'""")
    }
  }

  test("DDL: keyspace/table lifecycle through the catalog (C65 + C33)") {
    val root = Files.createTempDirectory("cql-cat").toString
    spark.conf.set("spark.sql.catalog.cqlcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqlcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqlcat")
      cq("CREATE KEYSPACE ks1")
      cq("CREATE TABLE ks1.events (pk bigint, ck int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((pk), ck)) " +
        "WITH gc_grace_seconds = 3600")
      // gc_grace landed as the catalog property compaction honors
      val props = new java.util.Properties()
      val pf = java.nio.file.Paths.get(root, "ks1", "events", "_props")
      props.load(Files.newBufferedReader(pf))
      assert(props.getProperty("gcGraceMs") === "3600000")
      // DML resolves ks.table through the same executor
      cq("INSERT INTO ks1.events (pk, ck, qty) VALUES (1, 1, 10)")
      cq("INSERT INTO ks1.events (pk, ck, qty) VALUES (2, 1, 20)")
      val got = cq("SELECT pk, value FROM ks1.events ORDER BY pk")
        .as[(Long, Long)].collect().toSeq
      assert(got === Seq((1L, 10L), (2L, 20L)))
      // counter column type declares a counter table (shard-SUM)
      cq("CREATE TABLE ks1.counts (pk bigint, ck int, col text, " +
        "value counter, wt bigint, PRIMARY KEY ((pk), ck))")
      val cprops = new java.util.Properties()
      cprops.load(Files.newBufferedReader(
        java.nio.file.Paths.get(root, "ks1", "counts", "_props")))
      assert(cprops.getProperty("counter") === "true")
      // TRUNCATE then DROP
      cq("TRUNCATE ks1.events")
      assert(cq("SELECT pk FROM ks1.events").count() === 0)
      cq("DROP TABLE ks1.events")
      // a dropped table's directory is gone: the catalog no longer
      // lists it (path reads treat a missing dir as empty by design)
      assert(!spark.sql("SHOW TABLES IN cqlcat.ks1").collect()
        .map(_.getString(1)).contains("events"))
      cq("DROP TABLE ks1.counts")
      cq("DROP KEYSPACE ks1")
      // unsupported DDL shapes fail fast
      intercept[IllegalArgumentException] {
        cq("CREATE TABLE ks2.t (a int, PRIMARY KEY (a))")
      }
      intercept[IllegalArgumentException] {
        // caching/compression/... are ACCEPTED since C51c (r15);
        // a genuinely unknown option still fails fast
        cq("CREATE TABLE ks2.t (pk bigint, ck int, col text, " +
          "value bigint, wt bigint) WITH nonsense_knob = 'ALL'")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.cqlcat")
      spark.conf.unset("spark.sql.catalog.cqlcat.root")
    }
  }

  test("DDL: CREATE TABLE with a TYPED / composite PRIMARY KEY " +
      "(the full CEL6/8 lifecycle from DDL alone)") {
    val root = Files.createTempDirectory("cql-tcreate").toString
    spark.conf.set("spark.sql.catalog.tcre", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.tcre.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "tcre")
      cq("CREATE KEYSPACE ks")
      // single-part typed partition key
      cq("CREATE TABLE ks.users (user text, ck int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((user), ck))")
      // the declared layout serves BEFORE any flush: typed schema on
      // the empty table, through the catalog AND the raw path
      val empty = cq("SELECT user, ck, value FROM ks.users")
      assert(empty.count() === 0)
      assert(spark.read.format("graft.sources.CellSource")
        .load(s"$root/ks/users").schema.fieldNames.toSeq ===
        Seq("user", "ck", "col", "value", "wt"))
      // first write takes the declared layout (no primaryKey option
      // anywhere — it comes from _props)
      cq("INSERT INTO ks.users (user, ck, qty) VALUES ('u-1', 1, 10)")
      cq("INSERT INTO ks.users (user, ck, qty) VALUES ('u-2', 1, 20)")
      val got = cq("SELECT user, value FROM ks.users " +
        "WHERE user = 'u-2' AND ck = 1")
        .as[(String, Long)].collect().toSeq
      assert(got === Seq(("u-2", 20L)))
      // typed DELETE through the same door
      cq("DELETE FROM ks.users WHERE user = 'u-1' AND ck = 1")
      assert(cq("SELECT user FROM ks.users WHERE user = 'u-1' AND ck = 1")
        .count() === 0)
      // composite partition key + clustering
      cq("CREATE TABLE ks.byday (tenant text, day bigint, seq int, " +
        "col text, value bigint, wt bigint, " +
        "PRIMARY KEY ((tenant, day), seq))")
      cq("INSERT INTO ks.byday (tenant, day, seq, qty) " +
        "VALUES ('acme', 7, 1, 42)")
      assert(cq("SELECT value FROM ks.byday " +
        "WHERE tenant = 'acme' AND day = 7 AND seq = 1")
        .as[Long].collect().toSeq === Seq(42L))
      // the DDL-created typed base supports 2i/MV DDL like any other
      cq("CREATE INDEX ON ks.users (qty)")
      cq("INSERT INTO ks.users (user, ck, qty) VALUES ('u-9', 2, 20)")
      assert(cq("SELECT user FROM ks.users WHERE qty = 20 ORDER BY user")
        .as[String].collect().toSeq === Seq("u-2", "u-9"))
      // refusals: an unknown key part, a counter key part, data
      // columns outside the cell model
      intercept[IllegalArgumentException] {
        cq("CREATE TABLE ks.bad1 (user text, col text, value bigint, " +
          "wt bigint, PRIMARY KEY ((user), ck))")
      }
      intercept[IllegalArgumentException] {
        cq("CREATE TABLE ks.bad2 (user counter, ck int, col text, " +
          "value bigint, wt bigint, PRIMARY KEY ((user), ck))")
      }
      intercept[IllegalArgumentException] {
        cq("CREATE TABLE ks.bad3 (user text, ck int, name text, " +
          "col text, value bigint, wt bigint, PRIMARY KEY ((user), ck))")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.tcre")
      spark.conf.unset("spark.sql.catalog.tcre.root")
    }
  }

  test("LWT on TYPED tables: IF NOT EXISTS / IF col = v / IF EXISTS " +
      "route through the keyed CAS (C55 over CEL6/8)") {
    val root = Files.createTempDirectory("cql-tlwt").toString
    spark.conf.set("spark.sql.catalog.tlwt", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.tlwt.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "tlwt")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (user text, ck int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((user), ck))")
      def cas(stmt: String) =
        cq(stmt).as[(Boolean, Option[Long])].collect().head
      // first insert applies — on a table with ZERO flushes (the CAS
      // write itself is the first flush, taking the _props layout)
      assert(cas("INSERT INTO ks.t (user, ck, qty) VALUES " +
        "('u-1', 1, 5) IF NOT EXISTS") === ((true, None)))
      // second refuses and reports the current value
      assert(cas("INSERT INTO ks.t (user, ck, qty) VALUES " +
        "('u-1', 1, 9) IF NOT EXISTS") === ((false, Some(5L))))
      // conditional UPDATE: wrong expectation refuses, right applies
      assert(cas("UPDATE ks.t SET qty = 6 WHERE user = 'u-1' " +
        "AND ck = 1 IF qty = 99") === ((false, Some(5L))))
      assert(cas("UPDATE ks.t SET qty = 6 WHERE user = 'u-1' " +
        "AND ck = 1 IF qty = 5") === ((true, Some(5L))))
      // IF EXISTS: hit applies, miss refuses
      assert(cas("UPDATE ks.t SET qty = 7 WHERE user = 'u-1' " +
        "AND ck = 1 IF EXISTS") === ((true, None)))
      assert(cas("UPDATE ks.t SET qty = 7 WHERE user = 'ghost' " +
        "AND ck = 1 IF EXISTS") === ((false, None)))
      // conditional DELETE: the applied write IS the row tombstone
      assert(cas("DELETE FROM ks.t WHERE user = 'u-1' AND ck = 1 " +
        "IF qty = 7") === ((true, Some(7L))))
      assert(cq("SELECT value FROM ks.t WHERE user = 'u-1' AND ck = 1")
        .count() === 0)
      // composite partition key CAS
      cq("CREATE TABLE ks.c (tenant text, day bigint, seq int, " +
        "col text, value bigint, wt bigint, " +
        "PRIMARY KEY ((tenant, day), seq))")
      assert(cas("INSERT INTO ks.c (tenant, day, seq, qty) VALUES " +
        "('acme', 7, 1, 42) IF NOT EXISTS") === ((true, None)))
      assert(cas("INSERT INTO ks.c (tenant, day, seq, qty) VALUES " +
        "('acme', 7, 1, 43) IF NOT EXISTS") === ((false, Some(42L))))
      // an unbound key part refuses (Cassandra's LWT rule)
      val e = intercept[IllegalArgumentException] {
        cq("UPDATE ks.c SET qty = 1 WHERE tenant = 'acme' " +
          "IF qty = 42")
      }
      assert(e.getMessage.contains("key part") ||
        e.getMessage.contains("clustering"), e.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.tlwt")
      spark.conf.unset("spark.sql.catalog.tlwt.root")
    }
  }

  test("BEGIN BATCH over TYPED tables: one shared writetime, typed " +
      "journal slices, mixed layouts in one batch (C56 over CEL6/8)") {
    val td = Files.createTempDirectory("cql-tbatch").toString
    Seq(("u-0", 1, "qty", 1L, 100L))
      .toDF("user", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(td)
    val dd = freshTable() // default layout, max wt = 100
    Cql.execute(spark,
      s"""BEGIN BATCH
         |  INSERT INTO $td (user, ck, qty) VALUES ('u-1', 1, 11);
         |  UPDATE $td SET qty = 12 WHERE user = 'u-2' AND ck = 2;
         |  DELETE FROM $td WHERE user = 'u-0' AND ck = 1;
         |  INSERT INTO $dd (pk, ck, qty) VALUES (50, 1, 13);
         |APPLY BATCH""".stripMargin)
    val t = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(td)
      .select("user", "ck", "col", "value", "wt")
      .as[(String, Int, String, Long, Long)].collect().toSet
    // typed writes landed; the typed row delete shadowed u-0
    assert(t.map(r => (r._1, r._2, r._4)) ===
      Set(("u-1", 1, 11L), ("u-2", 2, 12L)))
    // ONE shared writetime across BOTH tables (max of their next wts)
    val wts = t.map(_._5)
    assert(wts.size === 1, wts)
    val dwt = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(dd)
      .filter(col("pk") === 50L).select("wt").as[Long].collect().toSet
    assert(dwt === wts)
    // the journal entry cleared after apply
    val log = java.nio.file.Paths.get(td + ".batchlog")
    assert(!java.nio.file.Files.isDirectory(log) ||
      !java.nio.file.Files.list(log).iterator().hasNext)
    // conditional statements on typed tables route to the keyed CAS
    // round (C56f, r18) — and the WHERE group must not absorb the IF
    // clause (the condition really gates)
    val rc = Cql.execute(spark,
      s"""BEGIN BATCH
         |  UPDATE $td SET qty = 9 WHERE user = 'u-1' AND ck = 1 IF qty = 11;
         |APPLY BATCH""".stripMargin).collect().head
    assert(rc.getBoolean(0))
    val rm = Cql.execute(spark,
      s"""BEGIN BATCH
         |  UPDATE $td SET qty = 8 WHERE user = 'u-1' AND ck = 1 IF qty = 11;
         |APPLY BATCH""".stripMargin).collect().head
    assert(!rm.getBoolean(0)) // qty is 9 now — the guard holds
  }

  test("counter arithmetic on TYPED tables: shard deltas, shard-SUM " +
      "reads, unlogged counter batch (C10 over CEL6)") {
    val root = Files.createTempDirectory("cql-tcnt").toString
    spark.conf.set("spark.sql.catalog.tcnt", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.tcnt.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "tcnt")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.hits (page text, ck int, col text, " +
        "value counter, wt bigint, PRIMARY KEY ((page), ck))")
      cq("UPDATE ks.hits SET n = n + 5 WHERE page = 'home' AND ck = 1")
      cq("UPDATE ks.hits SET n = n + 3 WHERE page = 'home' AND ck = 1")
      cq("UPDATE ks.hits SET n = n - 2 WHERE page = 'home' AND ck = 1")
      cq("UPDATE ks.hits SET n = n + 7 WHERE page = 'about' AND ck = 1")
      // shard-SUM read through the front door
      assert(cq("SELECT page, value FROM ks.hits ORDER BY page")
        .as[(String, Long)].collect().toSeq ===
        Seq(("about", 7L), ("home", 6L)))
      // the legal counter batch form: UNLOGGED, per-statement wts
      cq("""BEGIN UNLOGGED BATCH
           |  UPDATE ks.hits SET n = n + 1 WHERE page = 'home' AND ck = 1;
           |  UPDATE ks.hits SET n = n + 1 WHERE page = 'about' AND ck = 1;
           |APPLY BATCH""".stripMargin)
      assert(cq("SELECT page, value FROM ks.hits ORDER BY page")
        .as[(String, Long)].collect().toSeq ===
        Seq(("about", 8L), ("home", 7L)))
      // refusals hold on typed counter tables: INSERT, logged batch
      val e1 = intercept[IllegalArgumentException] {
        cq("INSERT INTO ks.hits (page, ck, n) VALUES ('x', 1, 5)")
      }
      assert(e1.getMessage.contains("UPDATE increments"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        cq("""BEGIN BATCH
             |  UPDATE ks.hits SET n = n + 1 WHERE page = 'x' AND ck = 1;
             |APPLY BATCH""".stripMargin)
      }
      assert(e2.getMessage.contains("LOGGED BATCH"), e2.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.tcnt")
      spark.conf.unset("spark.sql.catalog.tcnt.root")
    }
  }

  test("DDL: ALTER TABLE DROP/ADD and CREATE/DROP INDEX (C58 + C18f)") {
    val root = Files.createTempDirectory("cql-ddl2").toString
    spark.conf.set("spark.sql.catalog.ddlcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.ddlcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "ddlcat")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((pk), ck))")
      cq("INSERT INTO ks.t (pk, ck, qty, price) VALUES (1, 1, 10, 5)")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (2, 1, 20)")
      // ALTER TABLE DROP records the drop ts (= current max wt) as
      // the C58 dropped_columns property
      cq("ALTER TABLE ks.t DROP qty")
      val props = new java.util.Properties()
      props.load(Files.newBufferedReader(
        java.nio.file.Paths.get(root, "ks", "t", "_props")))
      val dropTs = props.getProperty("dropped.qty")
      assert(dropTs != null && dropTs.toLong >= 2L, dropTs)
      // the property drives hiding on a reconciled read (C58)
      val hidden = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true")
        .option("droppedColumns", s"qty:$dropTs")
        .load(s"$root/ks/t").select("col").as[String].collect().toSet
      assert(hidden === Set("price"))
      // re-ADD keeps the drop ts (old cells stay hidden); a write
      // after the re-add is visible — Cassandra's re-add rule
      cq("ALTER TABLE ks.t ADD qty bigint")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (3, 1, 30)")
      val after = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true")
        .option("droppedColumns", s"qty:$dropTs")
        .load(s"$root/ks/t")
        .select("pk", "col").as[(Long, String)].collect().toSet
      assert(after === Set((1L, "price"), (3L, "qty")))
      // model columns refuse
      intercept[IllegalArgumentException] { cq("ALTER TABLE ks.t DROP pk") }
      // uuid (C65r) and duration (C65s) are supported ADD types
      // since r15 — ADD is pure metadata; a genuinely unsupported
      // type still refuses
      cq("ALTER TABLE ks.t ADD extra duration")
      intercept[IllegalArgumentException] {
        cq("ALTER TABLE ks.t ADD extra2 tuple")
      }
      // CREATE INDEX (default Cassandra name) builds + registers for
      // write-through: a plain CQL INSERT keeps it fresh, no refresh
      cq("CREATE INDEX ON ks.t (price)")
      val idxDir = s"$root/ks/t_price_idx"
      assert(Files.isDirectory(java.nio.file.Paths.get(idxDir)))
      cq("INSERT INTO ks.t (pk, ck, price) VALUES (4, 1, 5)")
      assert(!graft.sources.CellIndex.isStale(idxDir))
      assert(graft.sources.CellIndex
        .lookupPks(spark, idxDir, 5L, onStale = "fail")
        .as[Long].collect().toSet === Set(1L, 4L))
      // IF NOT EXISTS tolerates the existing index; bare re-create fails
      cq("CREATE INDEX IF NOT EXISTS ON ks.t (price)")
      intercept[IllegalArgumentException] { cq("CREATE INDEX ON ks.t (price)") }
      // DROP INDEX removes it; a non-index table refuses the disguise
      intercept[IllegalArgumentException] { cq("DROP INDEX ks.t") }
      cq("DROP INDEX ks.t_price_idx")
      assert(!Files.isDirectory(java.nio.file.Paths.get(idxDir)))
      intercept[IllegalArgumentException] { cq("DROP INDEX ks.t_price_idx") }
      cq("DROP INDEX IF EXISTS ks.t_price_idx") // tolerated
    } finally {
      spark.conf.unset("spark.sql.catalog.ddlcat")
      spark.conf.unset("spark.sql.catalog.ddlcat.root")
    }
  }

  test("property: random CQL write programs match the sequential model") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    // Statement writetimes are strictly increasing (max-wt + 1), so
    // LWW + tombstone shadowing must behave exactly like applying the
    // statements sequentially to a mutable map — any divergence is a
    // parser, marker-protocol, or merge bug.
    sealed trait Op
    case class Ins(pk: Long, ck: Int, c: String, v: Long) extends Op
    case class DelRow(pk: Long, ck: Int) extends Op
    case class DelPart(pk: Long) extends Op
    case class DelCell(pk: Long, ck: Int, c: String) extends Op
    case class DelRange(pk: Long, lo: Int, hi: Int) extends Op

    val genOp: Gen[Op] = Gen.frequency(
      5 -> (for {
        pk <- Gen.chooseNum(0L, 3L); ck <- Gen.chooseNum(0, 2)
        c <- Gen.oneOf("qty", "price"); v <- Gen.chooseNum(0L, 100L)
      } yield Ins(pk, ck, c, v)),
      2 -> (for {
        pk <- Gen.chooseNum(0L, 3L); ck <- Gen.chooseNum(0, 2)
      } yield DelRow(pk, ck)),
      1 -> Gen.chooseNum(0L, 3L).map(DelPart.apply),
      2 -> (for {
        pk <- Gen.chooseNum(0L, 3L); ck <- Gen.chooseNum(0, 2)
        c <- Gen.oneOf("qty", "price")
      } yield DelCell(pk, ck, c)),
      1 -> (for {
        pk <- Gen.chooseNum(0L, 3L); lo <- Gen.chooseNum(0, 2)
        hi <- Gen.chooseNum(0, 2)
      } yield DelRange(pk, math.min(lo, hi), math.max(lo, hi))))

    val prop = Prop.forAll(Gen.listOfN(12, genOp)) { ops =>
      val d = Files.createTempDirectory("cql-prop").toString
      // seed row so nextWt always has a table to read
      Cql.execute(spark, s"INSERT INTO $d (pk, ck, qty) VALUES (0, 0, 1)")
      val model = scala.collection.mutable.Map[(Long, Int, String), Long](
        (0L, 0, "qty") -> 1L)
      ops.foreach {
        case Ins(pk, ck, c, v) =>
          Cql.execute(spark,
            s"INSERT INTO $d (pk, ck, $c) VALUES ($pk, $ck, $v)")
          model((pk, ck, c)) = v
        case DelRow(pk, ck) =>
          Cql.execute(spark, s"DELETE FROM $d WHERE pk = $pk AND ck = $ck")
          model.filterInPlace { case ((p, k, _), _) => p != pk || k != ck }
        case DelPart(pk) =>
          Cql.execute(spark, s"DELETE FROM $d WHERE pk = $pk")
          model.filterInPlace { case ((p, _, _), _) => p != pk }
        case DelCell(pk, ck, c) =>
          Cql.execute(spark,
            s"DELETE $c FROM $d WHERE pk = $pk AND ck = $ck")
          model.remove((pk, ck, c))
        case DelRange(pk, lo, hi) =>
          Cql.execute(spark,
            s"DELETE FROM $d WHERE pk = $pk AND ck >= $lo AND ck <= $hi")
          model.filterInPlace { case ((p, k, _), _) =>
            p != pk || k < lo || k > hi }
      }
      val got = Cql.execute(spark,
        s"SELECT pk, ck, col, value FROM $d")
        .as[(Long, Int, String, Long)].collect()
        .map { case (p, k, c, v) => (p, k, c) -> v }.toMap
      got == model.toMap
    }
    val res = check(Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: random TYPED write programs (incl. LWT) match the " +
      "sequential model") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    // The typed twin of the default-layout property: statement
    // writetimes stay strictly increasing (max-wt + 1 — the keyed
    // CAS resolves its own the same way), so LWW + typed marker
    // shadowing + the ballot CAS must behave exactly like a mutable
    // map — any divergence is a typed parser, marker, or CAS bug.
    sealed trait Op
    case class Ins(u: String, ck: Int, c: String, v: Long) extends Op
    case class CasIns(u: String, ck: Int, c: String, v: Long) extends Op
    case class CasUpd(u: String, ck: Int, c: String, exp: Long,
        v: Long) extends Op
    case class DelRow(u: String, ck: Int) extends Op
    case class DelPart(u: String) extends Op
    case class DelCell(u: String, ck: Int, c: String) extends Op
    case class DelRange(u: String, lo: Int, hi: Int) extends Op

    val genU = Gen.oneOf("u0", "u1", "u2")
    val genC = Gen.oneOf("qty", "price")
    val genOp: Gen[Op] = Gen.frequency(
      4 -> (for {
        u <- genU; ck <- Gen.chooseNum(0, 2); c <- genC
        v <- Gen.chooseNum(0L, 100L)
      } yield Ins(u, ck, c, v)),
      2 -> (for {
        u <- genU; ck <- Gen.chooseNum(0, 2); c <- genC
        v <- Gen.chooseNum(0L, 100L)
      } yield CasIns(u, ck, c, v)),
      2 -> (for {
        u <- genU; ck <- Gen.chooseNum(0, 2); c <- genC
        exp <- Gen.chooseNum(0L, 100L); v <- Gen.chooseNum(0L, 100L)
      } yield CasUpd(u, ck, c, exp, v)),
      2 -> (for {
        u <- genU; ck <- Gen.chooseNum(0, 2)
      } yield DelRow(u, ck)),
      1 -> genU.map(DelPart.apply),
      2 -> (for {
        u <- genU; ck <- Gen.chooseNum(0, 2); c <- genC
      } yield DelCell(u, ck, c)),
      1 -> (for {
        u <- genU; lo <- Gen.chooseNum(0, 2); hi <- Gen.chooseNum(0, 2)
      } yield DelRange(u, math.min(lo, hi), math.max(lo, hi))))

    val prop = Prop.forAll(Gen.listOfN(10, genOp)) { ops =>
      val d = Files.createTempDirectory("cql-tprop").toString
      // seed flush establishes the typed layout (and nextWt's table)
      Seq(("u0", 0, "qty", 1L, 100L))
        .toDF("user", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .option("primaryKey", "((user),ck)")
        .option("keyType.user", "string").option("keyType.ck", "int")
        .mode("append").save(d)
      val model = scala.collection.mutable
        .Map[(String, Int, String), Long](("u0", 0, "qty") -> 1L)
      ops.foreach {
        case Ins(u, ck, c, v) =>
          Cql.execute(spark,
            s"INSERT INTO $d (user, ck, $c) VALUES ('$u', $ck, $v)")
          model((u, ck, c)) = v
        case CasIns(u, ck, c, v) =>
          Cql.execute(spark, s"INSERT INTO $d (user, ck, $c) " +
            s"VALUES ('$u', $ck, $v) IF NOT EXISTS")
          // applies iff the CAS cell is absent
          if (!model.contains((u, ck, c))) model((u, ck, c)) = v
        case CasUpd(u, ck, c, exp, v) =>
          Cql.execute(spark, s"UPDATE $d SET $c = $v " +
            s"WHERE user = '$u' AND ck = $ck IF $c = $exp")
          if (model.get((u, ck, c)).contains(exp)) model((u, ck, c)) = v
        case DelRow(u, ck) =>
          Cql.execute(spark,
            s"DELETE FROM $d WHERE user = '$u' AND ck = $ck")
          model.filterInPlace { case ((p, k, _), _) =>
            p != u || k != ck }
        case DelPart(u) =>
          Cql.execute(spark, s"DELETE FROM $d WHERE user = '$u'")
          model.filterInPlace { case ((p, _, _), _) => p != u }
        case DelCell(u, ck, c) =>
          Cql.execute(spark,
            s"DELETE $c FROM $d WHERE user = '$u' AND ck = $ck")
          model.remove((u, ck, c))
        case DelRange(u, lo, hi) =>
          Cql.execute(spark, s"DELETE FROM $d WHERE user = '$u' " +
            s"AND ck >= $lo AND ck <= $hi")
          model.filterInPlace { case ((p, k, _), _) =>
            p != u || k < lo || k > hi }
      }
      val got = Cql.execute(spark,
        s"SELECT user, ck, col, value FROM $d")
        .as[(String, Int, String, Long)].collect()
        .map { case (p, k, c, v) => (p, k, c) -> v }.toMap
      got == model.toMap
    }
    val res = check(Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("map literals: m = m + {'k': v} puts entries, m = m - {'k'} " +
      "removes them, DELETE m['k'] tombstones one entry") {
    val d = freshTable()
    // multi-entry put; keys are DATA — case-sensitive, '' unescapes
    Cql.execute(spark, s"UPDATE $d SET m = m + " +
      "{'color': 7, 'Size': 8, 'o''brien': 9} WHERE pk = 80 AND ck = 1")
    def entries(pk: Long) = spark.read
      .format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .filter(col("pk") === pk && col("ck") === 1 &&
        !col("col").isin("qty", "price"))
      .select("col", "value").as[(String, Long)].collect().toSet
    assert(entries(80) ===
      Set(("color", 7L), ("Size", 8L), ("o'brien", 9L)))
    // map subtract tombstones the named entries (and only them)
    Cql.execute(spark,
      s"UPDATE $d SET m = m - {'Size'} WHERE pk = 80 AND ck = 1")
    assert(entries(80) === Set(("color", 7L), ("o'brien", 9L)))
    // DELETE m['k'] is the single-entry tombstone, key verbatim
    Cql.execute(spark,
      s"DELETE m['o''brien'] FROM $d WHERE pk = 80 AND ck = 1")
    assert(entries(80) === Set(("color", 7L)))
    // a map-subtract tombstone never carries TTL
    Cql.execute(spark, s"UPDATE $d USING TTL 5 SET m = m - {'color'} " +
      "WHERE pk = 80 AND ck = 1")
    val raw = spark.read.format("graft.sources.CellSource")
      .option("withTtl", "true").load(d)
      .filter(col("pk") === 80L && col("col") === "!del:color")
    assert(raw.select("_expiry").as[Long].collect().toSeq ===
      Seq(Long.MaxValue))
    // TYPED twin: put + subtract + entry DELETE over named key parts
    val td = Files.createTempDirectory("cql-mlit").toString
    Seq(("u-1", 1, "qty", 1L, 100L))
      .toDF("user", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(td)
    Cql.execute(spark, s"UPDATE $td SET m = m + {'a': 1, 'B': 2} " +
      "WHERE user = 'u-2' AND ck = 3")
    Cql.execute(spark,
      s"UPDATE $td SET m = m - {'a'} WHERE user = 'u-2' AND ck = 3")
    Cql.execute(spark,
      s"DELETE m['B'] FROM $td WHERE user = 'u-2' AND ck = 3")
    val tleft = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(td)
      .filter(col("user") === "u-2")
    assert(tleft.count() === 0)
    // refusals: unbound ck (the row IS the map), a malformed pair
    val e1 = intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"UPDATE $d SET m = m + {'k': 1} WHERE pk = 80")
    }
    assert(e1.getMessage.contains("ck"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"UPDATE $d SET m = m + {'k'} WHERE pk = 80 AND ck = 1")
    }
    assert(e2.getMessage.contains("'key': value"), e2.getMessage)
  }

  test("property: random COLLECTION write programs match the " +
      "sequential model (list order, set dedup, map entries)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    // Lists are ck-ordered element cells, sets dedup on read, maps
    // key on the entry name, partition tombstones wipe them all —
    // applying the statements to mutable list/set/map state must give
    // exactly what the reconciled read reassembles. Any divergence is
    // a ck-claiming, tombstone, or encoding bug.
    sealed trait Op
    case class LApp(pk: Long, vs: Seq[Long]) extends Op
    case class SAdd(pk: Long, vs: Seq[Long]) extends Op
    case class SRem(pk: Long, v: Long) extends Op
    case class MPut(pk: Long, k: String, v: Long) extends Op
    case class DelPart(pk: Long) extends Op

    val genPk = Gen.chooseNum(0L, 2L)
    val genV = Gen.chooseNum(0L, 9L)
    val genOp: Gen[Op] = Gen.frequency(
      4 -> (for {
        pk <- genPk; n <- Gen.chooseNum(1, 3)
        vs <- Gen.listOfN(n, genV)
      } yield LApp(pk, vs)),
      3 -> (for {
        pk <- genPk; n <- Gen.chooseNum(1, 2)
        vs <- Gen.listOfN(n, genV)
      } yield SAdd(pk, vs)),
      2 -> (for { pk <- genPk; v <- genV } yield SRem(pk, v)),
      2 -> (for {
        pk <- genPk; k <- Gen.oneOf("k0", "k1"); v <- genV
      } yield MPut(pk, k, v)),
      1 -> genPk.map(DelPart.apply))

    val prop = Prop.forAll(Gen.listOfN(8, genOp)) { ops =>
      val d = Files.createTempDirectory("cql-cprop").toString
      Cql.execute(spark, s"INSERT INTO $d (pk, ck, qty) VALUES (0, 0, 1)")
      val lists = scala.collection.mutable
        .Map.empty[Long, Vector[Long]].withDefaultValue(Vector.empty)
      val sets = scala.collection.mutable
        .Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
      val maps = scala.collection.mutable.Map.empty[(Long, String), Long]
      ops.foreach {
        case LApp(pk, vs) =>
          Cql.execute(spark, s"UPDATE $d SET tags = tags + " +
            s"[${vs.mkString(", ")}] WHERE pk = $pk")
          lists(pk) = lists(pk) ++ vs
        case SAdd(pk, vs) =>
          Cql.execute(spark, s"UPDATE $d SET st = st + " +
            s"{${vs.mkString(", ")}} WHERE pk = $pk")
          sets(pk) = sets(pk) ++ vs
        case SRem(pk, v) =>
          Cql.execute(spark,
            s"UPDATE $d SET st = st - {$v} WHERE pk = $pk")
          sets(pk) = sets(pk) - v
        case MPut(pk, k, v) =>
          Cql.execute(spark,
            s"UPDATE $d SET m['$k'] = $v WHERE pk = $pk AND ck = 9")
          maps((pk, k)) = v
        case DelPart(pk) =>
          Cql.execute(spark, s"DELETE FROM $d WHERE pk = $pk")
          lists.remove(pk); sets.remove(pk)
          maps.filterInPlace { case ((p, _), _) => p != pk }
      }
      val cells = Cql.execute(spark, s"SELECT pk, ck, col, value FROM $d")
        .as[(Long, Int, String, Long)].collect()
      val gotLists = cells.filter(_._3 == "tags").sortBy(c => (c._1, c._2))
        .groupBy(_._1).view.mapValues(_.map(_._4).toVector).toMap
      val gotSets = cells.filter(_._3 == "st")
        .groupBy(_._1).view.mapValues(_.map(_._4).toSet).toMap
      val gotMaps = cells.filter(c => c._3.startsWith("k"))
        .map(c => (c._1, c._3) -> c._4).toMap
      gotLists == lists.toMap.filter(_._2.nonEmpty) &&
        gotSets == sets.toMap.filter(_._2.nonEmpty) &&
        gotMaps == maps.toMap
    }
    val res = check(Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("INSERT JSON on TYPED tables binds key parts by name and type") {
    val td = Files.createTempDirectory("cql-tjson").toString
    Seq(("u-1", 1, "qty", 10L, 100L))
      .toDF("user", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(td)
    Cql.execute(spark,
      s"""INSERT INTO $td JSON '{"user": "u-2", "ck": 3, "qty": 7, "price": 8}'""")
    val got = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(td)
      .filter(col("user") === "u-2")
      .select("user", "ck", "col", "value")
      .as[(String, Int, String, Long)].collect().toSet
    assert(got === Set(("u-2", 3, "qty", 7L), ("u-2", 3, "price", 8L)))
    // a JSON number where the text key part is required refuses
    val e = intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"""INSERT INTO $td JSON '{"user": 5, "ck": 1, "qty": 1}'""")
    }
    assert(e.getMessage.contains("string"), e.getMessage)
    // an unbound key part refuses
    val e2 = intercept[IllegalArgumentException] {
      Cql.execute(spark, s"""INSERT INTO $td JSON '{"user": "u", "qty": 1}'""")
    }
    assert(e2.getMessage.contains("key part ck"), e2.getMessage)
  }

  test("collection writes on TYPED tables: map put, list append, " +
      "set add/remove over named key parts (C11/C12/C13 over CEL6)") {
    val td = Files.createTempDirectory("cql-tcoll").toString
    Seq(("u-1", 0, "qty", 1L, 100L))
      .toDF("user", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(td)
    def cells(u: String) = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(td)
      .filter(col("user") === u)
      .select("ck", "col", "value")
      .as[(Int, String, Long)].collect().toSet
    // list append claims cks after the partition max; a second append
    // continues the sequence (list order = ck order)
    Cql.execute(spark,
      s"UPDATE $td SET tags = tags + [10, 11] WHERE user = 'u-1'")
    Cql.execute(spark,
      s"UPDATE $td SET tags = tags + [12] WHERE user = 'u-1'")
    assert(cells("u-1").filter(_._2 == "tags") ===
      Set((1, "tags", 10L), (2, "tags", 11L), (3, "tags", 12L)))
    // set add + remove: the remove is one element tombstone per hit
    Cql.execute(spark,
      s"UPDATE $td SET st = st + {5, 6} WHERE user = 'u-2'")
    Cql.execute(spark,
      s"UPDATE $td SET st = st - {5} WHERE user = 'u-2'")
    assert(cells("u-2").map(r => (r._2, r._3)) === Set(("st", 6L)))
    // map put: the row IS the map — full key bound, entry key = col
    Cql.execute(spark,
      s"UPDATE $td SET m['color'] = 7 WHERE user = 'u-3' AND ck = 1")
    assert(cells("u-3") === Set((1, "color", 7L)))
    // a non-int clustering layout refuses list/set writes loudly
    val sd = Files.createTempDirectory("cql-tcoll-s").toString
    Seq(("u-1", "a", "qty", 1L, 100L))
      .toDF("user", "tag", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),tag)")
      .option("keyType.user", "string").option("keyType.tag", "string")
      .mode("append").save(sd)
    val e = intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"UPDATE $sd SET l = l + [1] WHERE user = 'u-1'")
    }
    assert(e.getMessage.contains("int clustering"), e.getMessage)
  }

  test("catalog DELETE on a typed table routes through C38's SQL path") {
    val root = Files.createTempDirectory("cql-cat-typed").toString
    spark.conf.set("spark.sql.catalog.cqlct", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqlct.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqlct")
      cq("CREATE KEYSPACE ks1")
      Seq(("u-1", 1, "qty", 10L, 100L), ("u-2", 1, "qty", 20L, 100L))
        .toDF("user", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .option("primaryKey", "((user),ck)")
        .option("keyType.user", "string").option("keyType.ck", "int")
        .mode("append").save(s"$root/ks1/tt")
      cq("DELETE FROM ks1.tt WHERE user = 'u-1' AND ck = 1")
      val left = cq("SELECT user, value FROM ks1.tt")
        .as[(String, Long)].collect().toSet
      assert(left === Set(("u-2", 20L)))
    } finally {
      spark.conf.unset("spark.sql.catalog.cqlct")
      spark.conf.unset("spark.sql.catalog.cqlct.root")
    }
  }

  test("WRITETIME(col) selects the named cell's writetime") {
    val d = freshTable()
    val got = Cql.execute(spark,
      s"SELECT pk, ck, qty, WRITETIME(qty) FROM $d WHERE pk = 2")
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(got === Seq((2L, 1, 30L, 100L)))
    // a later rewrite moves the writetime with the winner
    Cql.execute(spark, s"UPDATE $d SET qty = 31 WHERE pk = 2 AND ck = 1")
    val after = Cql.execute(spark,
      s"SELECT qty, WRITETIME(qty) AS wt_q FROM $d WHERE pk = 2")
      .as[(Long, Long)].collect().head
    assert(after._1 === 31L && after._2 > 100L, after)
    // two different data columns under WRITETIME refuse
    intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"SELECT price, WRITETIME(qty) FROM $d WHERE pk = 2")
    }
  }

  test("executeScript runs statements in order, batches stay whole") {
    val d = freshTable()
    val out = Cql.executeScript(spark,
      s"""INSERT INTO $d (pk, ck, qty) VALUES (80, 1, 1);
         |BEGIN BATCH
         |  INSERT INTO $d (pk, ck, qty) VALUES (81, 1, 2);
         |  DELETE FROM $d WHERE pk = 80 AND ck = 1;
         |APPLY BATCH;
         |SELECT pk, value FROM $d WHERE pk = 81 ORDER BY pk""".stripMargin)
    assert(out.as[(Long, Long)].collect().toSeq === Seq((81L, 2L)))
    assert(!rows(d).exists(_._1 == 80L)) // the batch's delete applied
    intercept[IllegalArgumentException] {
      Cql.executeScript(spark, "  ;;  ")
    }
  }

  test("unsupported statements fail fast, never silently wrong") {
    val d = freshTable()
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"SELECT pk FROM $d WHERE value LIKE 'x'")
    }
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"DROP TABLE $d")
    }
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"DELETE qty FROM $d WHERE pk = 1") // no ck
    }
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"INSERT INTO $d (pk, ck) VALUES (1, 2)")
    }
    // PER PARTITION LIMIT counts rows pre-filter: combining it with a
    // data predicate would silently drop rows Cassandra returns
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"SELECT pk FROM $d WHERE value = 10 " +
        "PER PARTITION LIMIT 1 ALLOW FILTERING")
    }
    // an out-of-int-range ck must refuse, not wrap onto another row
    val e = intercept[IllegalArgumentException] {
      Cql.execute(spark, s"DELETE FROM $d WHERE pk = 1 AND ck = 4294967297")
    }
    assert(e.getMessage.contains("range"), e.getMessage)
    // ck IN pushes only its bounding slice — with PER PARTITION
    // LIMIT the cursor would count rows the residual then drops
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"SELECT pk FROM $d WHERE pk = 1 " +
        "AND ck IN (1, 2) PER PARTITION LIMIT 1")
    }
    // a string where a bigint cell value is required: parse error, not
    // a ClassCastException
    val e2 = intercept[IllegalArgumentException] {
      Cql.execute(spark, s"INSERT INTO $d (pk, ck, qty) VALUES (1, 1, 'x')")
    }
    assert(e2.getMessage.startsWith("CQL:"), e2.getMessage)
  }

  test("BATCH honors an explicit USING TIMESTAMP 0 sub-statement") {
    val d = freshTable()
    Cql.execute(spark,
      s"""BEGIN BATCH
         |  INSERT INTO $d (pk, ck, qty) VALUES (60, 1, 5) USING TIMESTAMP 0;
         |  INSERT INTO $d (pk, ck, qty) VALUES (61, 1, 6);
         |APPLY BATCH""".stripMargin)
    val wts = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .filter(col("pk").isin(60L, 61L))
      .select("pk", "wt").as[(Long, Long)].collect().toMap
    // the pinned timestamp stays 0 (lowest LWW priority, as written);
    // the unpinned one gets the batch writetime
    assert(wts(60L) === 0L, wts)
    assert(wts(61L) > 100L, wts)
  }

  test("DELETE with a boundary exclusive ck bound is a no-op, " +
      "not a partition wipe") {
    val d = freshTable()
    val before = rows(d)
    // ck > Int.MaxValue matches zero rows per CQL; the exclusive-bound
    // +1 must not wrap to Int.MinValue and read as "no range bound"
    // (which would escalate to a partition tombstone)
    Cql.execute(spark,
      s"DELETE FROM $d WHERE pk = 1 AND ck > 2147483647")
    Cql.execute(spark,
      s"DELETE FROM $d WHERE pk = 1 AND ck < -2147483648")
    // a range that's empty by contradiction is also a no-op
    Cql.execute(spark,
      s"DELETE FROM $d WHERE pk = 1 AND ck > 5 AND ck < 3")
    assert(rows(d) === before)
  }

  test("BATCH body split is quote-aware (';' inside a literal)") {
    val d = freshTable()
    // a string literal containing ';' must not split the sub-statement;
    // reachable batch VALUES are bigint-only, so the correct outcome is
    // the bigint-literal parse error for 'a;b' — NOT the mis-split
    // "unsupported CQL statement" garbage
    val e = intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"""BEGIN BATCH
           |  INSERT INTO $d (pk, ck, qty) VALUES (70, 1, 'a;b');
           |APPLY BATCH""".stripMargin)
    }
    assert(e.getMessage.contains("bigint literal"), e.getMessage)
  }

  test("script split survives length-changing case mappings in " +
      "literals") {
    val d = freshTable()
    // 'ß'.toUpperCase = "SS" lengthens an uppercased copy of the
    // script; a splitter that indexed the original with positions from
    // the uppercased string would desync statement boundaries after
    // the literal. All statements after the ß must still run whole.
    val out = Cql.executeScript(spark,
      s"""SELECT pk, ck FROM $d WHERE pk = 1 AND col = 'straße' ALLOW FILTERING;
         |INSERT INTO $d (pk, ck, qty) VALUES (91, 1, 8);
         |SELECT pk, value FROM $d WHERE pk = 91""".stripMargin)
    assert(out.as[(Long, Long)].collect().toSeq === Seq((91L, 8L)))
  }

  test("USING TTL round-trips through TTL(col); expiry applies") {
    val d = freshTable()
    Cql.execute(spark, s"INSERT INTO $d (pk, ck, qty) VALUES (7, 1, 3) " +
      "USING TIMESTAMP 200 AND TTL 50")
    // stored ttl comes back exactly (Cassandra right-after-write
    // behavior, deterministic); a no-ttl cell reads NULL
    val t = Cql.execute(spark, s"SELECT TTL(qty) AS t FROM $d WHERE pk = 7")
    assert(t.as[Option[Long]].collect().toSeq === Seq(Some(50L)))
    val none = Cql.execute(spark,
      s"SELECT TTL(qty) AS t FROM $d WHERE pk = 1 AND ck = 1")
    assert(none.as[Option[Long]].collect().toSeq === Seq(None))
    // value + ttl together, plus WRITETIME alongside
    val both = Cql.execute(spark,
      s"SELECT qty, TTL(qty) AS t, WRITETIME(qty) AS w FROM $d " +
        "WHERE pk = 7")
    assert(both.as[(Long, Option[Long], Long)].collect().toSeq ===
      Seq((3L, Some(50L), 200L)))
    // the expiry is real: past wt + ttl the reconciling read drops it
    val live = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("queryTime", "251")
      .load(d).filter(col("pk") === 7L)
    assert(live.count() === 0)
    // UPDATE ... USING TTL writes the expiring shape too
    Cql.execute(spark, s"UPDATE $d USING TIMESTAMP 300 AND TTL 10 " +
      "SET qty = 4 WHERE pk = 8 AND ck = 1")
    val t2 = Cql.execute(spark, s"SELECT TTL(qty) AS t FROM $d WHERE pk = 8")
    assert(t2.as[Option[Long]].collect().toSeq === Seq(Some(10L)))
    // TTL 0 is legal CQL: "no expiry", explicitly (the spelling that
    // overrides a table default_time_to_live)
    Cql.execute(spark,
      s"INSERT INTO $d (pk, ck, qty) VALUES (9, 1, 1) USING TTL 0")
    assert(Cql.execute(spark, s"SELECT TTL(qty) AS t FROM $d WHERE pk = 9")
      .as[Option[Long]].collect().toSeq === Seq(None))
    // refusals: negative TTL, unknown USING option
    intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"INSERT INTO $d (pk, ck, qty) VALUES (9, 1, 1) USING TTL -1")
    }
    intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"INSERT INTO $d (pk, ck, qty) VALUES (9, 1, 1) USING TIMEOUT 5")
    }
  }

  test("BATCH carries per-statement USING TTL (the expiry journal " +
      "shape); rows without TTL never expire") {
    val d = freshTable()
    Cql.execute(spark,
      s"""BEGIN BATCH
         |  INSERT INTO $d (pk, ck, qty) VALUES (60, 1, 1) USING TTL 10;
         |  INSERT INTO $d (pk, ck, qty) VALUES (61, 1, 2);
         |APPLY BATCH""".stripMargin)
    // both visible at the batch wt (101); TTL round-trips
    val t = Cql.execute(spark,
      s"SELECT TTL(qty) AS t FROM $d WHERE pk = 60")
    assert(t.as[Option[Long]].collect().toSeq === Seq(Some(10L)))
    // past wt + ttl the expiring row drops; the plain row survives
    val late = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("queryTime", "112")
      .load(d).filter(col("pk") >= 60L)
      .select("pk").as[Long].collect().toSet
    assert(late === Set(61L))
    // a TYPED member in the same TTL-carrying batch expires too
    val td = Files.createTempDirectory("cql-tbttl").toString
    Seq(("u-1", 1, "qty", 1L, 100L))
      .toDF("user", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(td)
    Cql.execute(spark,
      s"""BEGIN BATCH
         |  INSERT INTO $td (user, ck, qty) VALUES ('u-9', 1, 9) USING TTL 5;
         |  INSERT INTO $td (user, ck, qty) VALUES ('u-8', 1, 8);
         |APPLY BATCH""".stripMargin)
    val tlate = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("queryTime", "107")
      .load(td).filter(col("ck") === 1)
      .select("user").as[String].collect().toSet
    assert(tlate === Set("u-1", "u-8"))
  }

  test("BEGIN BATCH with collection updates: appends, puts and " +
      "removes land atomically at ONE batch writetime (C11i)") {
    val d = freshTable()
    // pre-batch state the batch's reads resolve against
    Cql.execute(spark, s"UPDATE $d SET lst = lst + [1, 2] WHERE pk = 7")
    Cql.execute(spark, s"UPDATE $d SET m['a'] = 1, m['drop'] = 9 " +
      "WHERE pk = 7 AND ck = 50")
    Cql.execute(spark,
      s"""BEGIN BATCH
         |  UPDATE $d SET lst = lst + [3] WHERE pk = 7;
         |  UPDATE $d SET lst = lst + [4] WHERE pk = 7;
         |  UPDATE $d SET m['b'] = 2, m['a'] = 11 WHERE pk = 7 AND ck = 50;
         |  DELETE m['drop'] FROM $d WHERE pk = 7 AND ck = 50;
         |  UPDATE $d SET qty = 99 WHERE pk = 7 AND ck = 60;
         |APPLY BATCH""".stripMargin)
    def live = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d).filter(col("pk") === 7L)
    // two same-batch appends to ONE list land as DISTINCT elements,
    // in statement order (the shared per-batch append-position map)
    val lst = live.filter(col("col") === "lst")
      .orderBy("ck").select("value").as[Long].collect().toSeq
    assert(lst === Seq(1L, 2L, 3L, 4L))
    // map puts applied; the entry delete removed 'drop'
    val ents = live.filter(col("ck") === 50 && col("col") =!= "lst")
      .select("col", "value").as[(String, Long)].collect().toSet
    assert(ents === Set(("a", 11L), ("b", 2L)))
    // ONE shared writetime across every cell the batch wrote —
    // including the entry-delete marker (raw read)
    val freshWts = live
      .filter((col("col") === "lst" && col("value") >= 3L) ||
        (col("ck") === 50 && col("col").isin("a", "b")) ||
        col("col") === "qty")
      .select("wt").as[Long].collect().toSet
    assert(freshWts.size === 1, freshWts)
    val markerWt = spark.read.format("graft.sources.CellSource")
      .load(d).filter(col("pk") === 7L && col("col") === "!del:drop")
      .select("wt").as[Long].collect().toSet
    assert(markerWt === freshWts)
  }

  test("batched collection replace reads PRE-batch state: a " +
      "same-batch append survives the replace (C11i)") {
    val d = freshTable()
    Cql.execute(spark, s"UPDATE $d SET lst = lst + [1, 2] WHERE pk = 8")
    Cql.execute(spark,
      s"""BEGIN BATCH
         |  UPDATE $d SET lst = [100] WHERE pk = 8;
         |  UPDATE $d SET lst = lst + [101] WHERE pk = 8;
         |APPLY BATCH""".stripMargin)
    val lst = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .filter(col("pk") === 8L && col("col") === "lst")
      .orderBy("ck").select("value").as[Long].collect().toSeq
    // the replace shadows only the PRE-batch elements; the
    // same-batch append lands above it (Cassandra's batch rule: no
    // intra-batch read-your-writes)
    assert(lst === Seq(100L, 101L))
  }

  test("INSERT with collection literals inside BATCH desugars to " +
      "the replace form (C11i)") {
    val d = freshTable()
    Cql.execute(spark, s"UPDATE $d SET lst = lst + [5] WHERE pk = 9")
    Cql.execute(spark,
      s"""BEGIN BATCH
         |  INSERT INTO $d (pk, lst) VALUES (9, [7, 8]);
         |  INSERT INTO $d (pk, ck, qty) VALUES (9, 1, 42);
         |APPLY BATCH""".stripMargin)
    val r = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d).filter(col("pk") === 9L)
    assert(r.filter(col("col") === "lst").orderBy("ck")
      .select("value").as[Long].collect().toSeq === Seq(7L, 8L))
    assert(r.filter(col("col") === "qty")
      .select("value").as[Long].collect().toSeq === Seq(42L))
  }

  test("batched collection writes carry per-statement TTL; their " +
      "tombstone markers never expire (C11i)") {
    val d = freshTable()
    Cql.execute(spark, s"UPDATE $d SET st = st + {5, 6} WHERE pk = 11")
    Cql.execute(spark,
      s"""BEGIN BATCH
         |  UPDATE $d USING TTL 10 SET st = st + {7} WHERE pk = 11;
         |  UPDATE $d SET st = st - {5} WHERE pk = 11;
         |APPLY BATCH""".stripMargin)
    val raw = spark.read.format("graft.sources.CellSource")
      .option("withTtl", "true").load(d).filter(col("pk") === 11L)
    // the TTL'd element expires at wt + 10; the remove marker never
    val el7 = raw.filter(col("col") === "st" && col("value") === 7L)
      .select(col("_expiry") - col("wt")).as[Long].collect().toSeq
    assert(el7 === Seq(10L))
    assert(raw.filter(col("col") === "!del:st")
      .select("_expiry").as[Long].collect().toSeq ===
      Seq(Long.MaxValue))
    // reconciled now: {6, 7}; past the expiry the TTL'd element
    // drops and the removed one STAYS removed
    val wt = raw.filter(col("col") === "st" && col("value") === 7L)
      .select("wt").as[Long].collect().head
    def setAt(t: Long) = spark.read
      .format("graft.sources.CellSource")
      .option("reconcile", "true").option("queryTime", t.toString)
      .load(d).filter(col("pk") === 11L && col("col") === "st")
      .select("value").as[Long].collect().toSet
    assert(setAt(wt) === Set(6L, 7L))
    assert(setAt(wt + 11) === Set(6L))
  }

  test("batched collection refusals stay scoped (C11i)") {
    // typed layouts journal too since the r18 typed twin — the
    // append claims a ck after the partition max, at the batch wt
    val td = Files.createTempDirectory("cql-bcoll-t").toString
    Seq(("u-1", 1, "qty", 10L, 100L))
      .toDF("user", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(td)
    Cql.execute(spark,
      s"""BEGIN BATCH
         |  UPDATE $td SET lst = lst + [1] WHERE user = 'u-1';
         |APPLY BATCH""".stripMargin)
    assert(spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(td)
      .filter(col("col") === "lst")
      .select("value").as[Long].collect().toSeq === Seq(1L))
    // non-bigint element storage: refuses by name
    val root = Files.createTempDirectory("cql-bcoll-c").toString
    spark.conf.set("spark.sql.catalog.cqlbcoll",
      "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqlbcoll.root", root)
    def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqlbcoll")
    cq("CREATE KEYSPACE ks")
    cq("CREATE TABLE ks.si (pk bigint, ck int, col text, " +
      "value set<inet>, wt bigint)")
    val e2 = intercept[IllegalArgumentException] {
      cq("""BEGIN BATCH
           |  UPDATE ks.si SET st = st + {'10.0.0.1'} WHERE pk = 1;
           |APPLY BATCH""".stripMargin)
    }
    assert(e2.getMessage.contains("bigint cells"))
    // state-derived DELETE forms stay single-statement
    cq("CREATE TABLE ks.bl (pk bigint, ck int, col text, " +
      "value list<bigint>, wt bigint)")
    cq("UPDATE ks.bl SET l = l + [1, 2] WHERE pk = 1")
    val e3 = intercept[IllegalArgumentException] {
      cq("""BEGIN BATCH
           |  DELETE l[0] FROM ks.bl WHERE pk = 1;
           |APPLY BATCH""".stripMargin)
    }
    assert(e3.getMessage.contains("inside BATCH is outside this subset"))
    val e4 = intercept[IllegalArgumentException] {
      cq("""BEGIN BATCH
           |  DELETE l FROM ks.bl WHERE pk = 1;
           |APPLY BATCH""".stripMargin)
    }
    assert(e4.getMessage.contains("whole-collection DELETE"))
    // conditional BATCH still excludes collection updates
    val d = freshTable()
    val e5 = intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"""BEGIN BATCH
           |  UPDATE $d SET lst = lst + [1] WHERE pk = 1 IF qty = 10;
           |APPLY BATCH""".stripMargin)
    }
    assert(e5.getMessage.contains(
      "collection updates are not supported inside BATCH"))
    // counter exclusion unchanged
    val cd = Files.createTempDirectory("cql-bcoll-cnt").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(cd, "_props"), "counter=true\n")
    val e6 = intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"""BEGIN BATCH
           |  UPDATE $cd SET hits = hits + 1 WHERE pk = 1 AND ck = 1;
           |APPLY BATCH""".stripMargin)
    }
    assert(e6.getMessage.contains("counter increments"))
  }

  test("default_time_to_live: writes without USING TTL take the " +
      "table default at write time; TTL 0 overrides; ALTER is " +
      "future-only") {
    val root = Files.createTempDirectory("cql-dttl").toString
    spark.conf.set("spark.sql.catalog.cqldttl", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqldttl.root", root)
    def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqldttl")
    cq("CREATE KEYSPACE ks")
    cq("CREATE TABLE ks.t (pk bigint, ck int, col text, value bigint, " +
      "wt bigint, PRIMARY KEY ((pk), ck)) " +
      "WITH default_time_to_live = 50")
    def ttlOf(pk: Long): Option[Long] =
      cq(s"SELECT TTL(qty) AS t FROM ks.t WHERE pk = $pk")
        .as[Option[Long]].collect().head
    // no USING TTL → the table default; explicit TTL overrides;
    // TTL 0 explicitly disables
    cq("INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 1)")
    assert(ttlOf(1) === Some(50L))
    cq("INSERT INTO ks.t (pk, ck, qty) VALUES (2, 1, 2) USING TTL 7")
    assert(ttlOf(2) === Some(7L))
    cq("INSERT INTO ks.t (pk, ck, qty) VALUES (3, 1, 3) USING TTL 0")
    assert(ttlOf(3) === None)
    // UPDATE and logged-BATCH members take the default too
    cq("UPDATE ks.t SET qty = 9 WHERE pk = 4 AND ck = 1")
    assert(ttlOf(4) === Some(50L))
    cq("""BEGIN BATCH
         |  INSERT INTO ks.t (pk, ck, qty) VALUES (5, 1, 5);
         |  INSERT INTO ks.t (pk, ck, qty) VALUES (6, 1, 6) USING TTL 0;
         |APPLY BATCH""".stripMargin)
    assert(ttlOf(5) === Some(50L) && ttlOf(6) === None)
    // ALTER raises the default for FUTURE writes only
    cq("ALTER TABLE ks.t WITH default_time_to_live = 90")
    cq("INSERT INTO ks.t (pk, ck, qty) VALUES (7, 1, 7)")
    assert(ttlOf(7) === Some(90L) && ttlOf(1) === Some(50L))
    // ALTER ... = 0 removes the default
    cq("ALTER TABLE ks.t WITH default_time_to_live = 0")
    cq("INSERT INTO ks.t (pk, ck, qty) VALUES (8, 1, 8)")
    assert(ttlOf(8) === None)
    // counter tables refuse the property (create AND alter)
    val e1 = intercept[IllegalArgumentException] {
      cq("CREATE TABLE ks.c (pk bigint, ck int, col text, " +
        "value counter, wt bigint, PRIMARY KEY ((pk), ck)) " +
        "WITH default_time_to_live = 5")
    }
    assert(e1.getMessage.contains("counter"), e1.getMessage)
    cq("CREATE TABLE ks.c (pk bigint, ck int, col text, " +
      "value counter, wt bigint, PRIMARY KEY ((pk), ck))")
    val e2 = intercept[IllegalArgumentException] {
      cq("ALTER TABLE ks.c WITH default_time_to_live = 5")
    }
    assert(e2.getMessage.contains("counter"), e2.getMessage)
  }

  test("collection remove tombstones never take TTL (explicit or " +
      "default) — an expiring tombstone would resurrect elements") {
    val d = freshTable()
    Cql.execute(spark, s"UPDATE $d SET st = st + {5, 6} WHERE pk = 70")
    // the remove statement carries USING TTL: the DATA it writes may
    // expire, its tombstone must not
    Cql.execute(spark,
      s"UPDATE $d USING TTL 5 SET st = st - {5} WHERE pk = 70")
    val raw = spark.read.format("graft.sources.CellSource")
      .option("withTtl", "true").load(d).filter(col("pk") === 70L)
    assert(raw.filter(col("col") === "!del:st")
      .select("_expiry").as[Long].collect().toSeq === Seq(Long.MaxValue))
    // far past any expiry, the removed element stays removed
    val late = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("queryTime", "100000")
      .load(d).filter(col("pk") === 70L && col("col") === "st")
      .select("value").as[Long].collect().toSet
    assert(late === Set(6L))
    // same invariant on the TYPED twin
    val td = Files.createTempDirectory("cql-tcoll-ttl").toString
    Seq(("u-1", 0, "qty", 1L, 100L))
      .toDF("user", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(td)
    Cql.execute(spark, s"UPDATE $td SET st = st + {5, 6} WHERE user = 'u-1'")
    Cql.execute(spark,
      s"UPDATE $td USING TTL 5 SET st = st - {5} WHERE user = 'u-1'")
    val traw = spark.read.format("graft.sources.CellSource")
      .option("withTtl", "true").load(td)
    assert(traw.filter(col("col") === "!del:st")
      .select("_expiry").as[Long].collect().toSeq === Seq(Long.MaxValue))
  }

  private def freshTypedTable(): String = {
    val td = Files.createTempDirectory("cql-typed2").toString
    Seq(("u-1", 1, "qty", 10L, 100L), ("u-2", 3, "qty", 20L, 100L),
        ("u-2", 3, "price", 5L, 100L), ("u-3", 1, "qty", 30L, 100L),
        ("u-3", 2, "qty", 31L, 100L), ("u-3", 4, "qty", 34L, 100L),
        ("u-4", 1, "qty", 40L, 100L), ("u-5", 1, "qty", 50L, 100L),
        ("u-6", 1, "qty", 60L, 100L))
      .toDF("user", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(td)
    td
  }

  private def typedRows(td: String): Set[(String, Int, String, Long)] =
    spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(td)
      .select("user", "ck", "col", "value")
      .as[(String, Int, String, Long)].collect().toSet

  test("typed-table GROUP BY lands on the C49b typed grouped pushdown") {
    val td = freshTypedTable()
    val g = Cql.execute(spark,
      s"SELECT user, count(*) AS n, max(wt) AS mw FROM $td " +
        "GROUP BY user ORDER BY user")
    assert(g.queryExecution.executedPlan.toString
      .contains("CellGroupAggScan"),
      g.queryExecution.executedPlan.toString)
    val got = g.as[(String, Long, Long)].collect().toSeq
    assert(got.map(_._1) ===
      Seq("u-1", "u-2", "u-3", "u-4", "u-5", "u-6"))
    assert(got.find(_._1 == "u-3").get._2 === 3L)
  }

  test("typed UPDATE lands on the typed write path") {
    val td = freshTypedTable()
    Cql.execute(spark,
      s"UPDATE $td SET qty = 99 WHERE user = 'u-1' AND ck = 1")
    assert(typedRows(td).contains(("u-1", 1, "qty", 99L)))
    // a pinned PAST timestamp is shadowed by the existing wt=100 cell
    Cql.execute(spark, s"UPDATE $td USING TIMESTAMP 50 " +
      "SET qty = 1 WHERE user = 'u-2' AND ck = 3")
    assert(typedRows(td).contains(("u-2", 3, "qty", 20L)))
    // multi-SET; pk IN fans out
    Cql.execute(spark, s"UPDATE $td SET qty = 7, price = 8 " +
      "WHERE user IN ('u-5', 'u-6') AND ck = 1")
    assert(typedRows(td).contains(("u-5", 1, "price", 8L)))
    assert(typedRows(td).contains(("u-6", 1, "qty", 7L)))
    // refusals: SET on a key part, unbound ck, range in UPDATE WHERE
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"UPDATE $td SET ck = 2 WHERE user = 'u-1' AND ck = 1")
    }
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"UPDATE $td SET qty = 1 WHERE user = 'u-1'")
    }
    intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"UPDATE $td SET qty = 1 WHERE user = 'u-1' AND ck > 2")
    }
  }

  test("typed DELETE writes the typed marker protocol") {
    val td = freshTypedTable()
    // row tombstone at a typed (pk, ck)
    Cql.execute(spark, s"DELETE FROM $td WHERE user = 'u-1' AND ck = 1")
    assert(!typedRows(td).exists(_._1 == "u-1"))
    // single-cell tombstone
    Cql.execute(spark, s"DELETE price FROM $td WHERE user = 'u-2' AND ck = 3")
    assert(!typedRows(td).contains(("u-2", 3, "price", 5L)))
    assert(typedRows(td).contains(("u-2", 3, "qty", 20L)))
    // int-ck range tombstone
    Cql.execute(spark,
      s"DELETE FROM $td WHERE user = 'u-3' AND ck >= 2 AND ck <= 5")
    assert(typedRows(td).filter(_._1 == "u-3").map(_._2) === Set(1))
    // partition tombstone
    Cql.execute(spark, s"DELETE FROM $td WHERE user = 'u-4'")
    assert(!typedRows(td).exists(_._1 == "u-4"))
    // pk IN fans out
    Cql.execute(spark, s"DELETE FROM $td WHERE user IN ('u-5', 'u-6')")
    assert(!typedRows(td).exists(r => r._1 == "u-5" || r._1 == "u-6"))
    // boundary exclusive bound: empty range = no-op, NOT a wipe
    val before = typedRows(td)
    Cql.execute(spark,
      s"DELETE FROM $td WHERE user = 'u-2' AND ck > 2147483647")
    assert(typedRows(td) === before)
    // a write PAST the deletion survives it
    Cql.execute(spark, s"INSERT INTO $td (user, ck, qty) VALUES ('u-4', 1, 41)")
    assert(typedRows(td).contains(("u-4", 1, "qty", 41L)))
    // refusals: DELETE <col> without full ck; non-key predicate
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"DELETE qty FROM $td WHERE user = 'u-2'")
    }
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"DELETE FROM $td WHERE value = 20")
    }
  }

  test("typed INSERT USING TTL (CEL11) round-trips through TTL(col)") {
    val td = freshTypedTable()
    Cql.execute(spark, s"INSERT INTO $td (user, ck, qty) " +
      "VALUES ('u-9', 1, 5) USING TIMESTAMP 400 AND TTL 30")
    val t = Cql.execute(spark,
      s"SELECT TTL(qty) AS t FROM $td WHERE user = 'u-9'")
    assert(t.as[Option[Long]].collect().toSeq === Seq(Some(30L)))
    // and the expiry is live at queryTime past wt + ttl
    val live = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").option("queryTime", "431")
      .load(td).filter(col("user") === "u-9")
    assert(live.count() === 0)
  }

  test("token() range predicates route to the C41 token-range scan") {
    val d = freshTable()
    val df = Cql.execute(spark,
      s"SELECT pk, ck, col FROM $d WHERE token(pk) >= 2 " +
        "AND token(pk) < 3 ORDER BY pk, ck, col")
    // the range reached the scan as physical token bounds
    assert(df.queryExecution.executedPlan.toString
      .contains("tokenRange=[2,2]") ||
      df.queryExecution.executedPlan.toString.contains("pkRange=[2,2]"),
      df.queryExecution.executedPlan.toString)
    assert(df.as[(Long, Int, String)].collect().toSeq ===
      Seq((2L, 1, "price"), (2L, 1, "qty")))
    // an exclusive bound AT the ring edge is empty, never wrapped
    val empty = Cql.execute(spark,
      s"SELECT pk FROM $d WHERE token(pk) > 9223372036854775807")
    assert(empty.count() === 0)
    // token() must name the partition key
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"SELECT pk FROM $d WHERE token(ck) > 0")
    }
  }

  test("SELECT DISTINCT returns the partition keys, nothing else") {
    val d = freshTable()
    val df = Cql.execute(spark,
      s"SELECT DISTINCT pk FROM $d ORDER BY pk")
    assert(df.schema.fieldNames.toSeq === Seq("pk"))
    assert(df.as[Long].collect().toSeq === Seq(1L, 2L, 3L))
    // DISTINCT composes with token paging (the Cassandra idiom)
    val page = Cql.execute(spark,
      s"SELECT DISTINCT pk FROM $d WHERE token(pk) > 1 ORDER BY pk")
    assert(page.as[Long].collect().toSeq === Seq(2L, 3L))
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"SELECT DISTINCT ck FROM $d")
    }
  }

  test("global aggregates without GROUP BY serve") {
    val d = freshTable()
    val g = Cql.execute(spark,
      s"SELECT count(*) AS n, max(wt) AS mw FROM $d")
    // the reconciled count CANNOT come from the C20 header agg (the
    // headers describe RAW cells; CQL count(*) is post-merge), so the
    // right plan is the column-pruned reconcile scan + a map-side
    // partial aggregate — assert both
    val plan = g.queryExecution.executedPlan.toString
    assert(plan.contains("CellReconcileScan"), plan)
    assert(plan.contains("cols=wt"), plan) // pruned to the one column
    assert(plan.contains("partial_count") || plan.contains("partial"),
      plan)
    assert(g.as[(Long, Long)].collect().toSeq === Seq((5L, 100L)))
    val k = Cql.execute(spark,
      s"SELECT sum(value) AS s FROM $d WHERE pk = 1")
    assert(k.as[Long].collect().toSeq === Seq(30L))
  }

  test("indexed data predicates serve without ALLOW FILTERING (C18)") {
    val d = freshTable()
    val idx = Files.createTempDirectory("cql-idx").toString
    graft.sources.CellIndex.build(spark, d, idx, "qty",
      writeThrough = true)
    val df = Cql.execute(spark, s"SELECT pk, ck FROM $d WHERE qty = 10")
    assert(df.as[(Long, Int)].collect().toSeq === Seq((1L, 1)))
    // composes with a key predicate (applied on the fetched base)
    val both = Cql.execute(spark,
      s"SELECT pk, ck, value FROM $d WHERE qty = 30 AND pk = 2")
    assert(both.as[(Long, Int, Long)].collect().toSeq ===
      Seq((2L, 1, 30L)))
    // write-through keeps the route fresh: insert then query again
    Cql.execute(spark, s"INSERT INTO $d (pk, ck, qty) VALUES (9, 1, 10)")
    val fresh = Cql.execute(spark,
      s"SELECT pk FROM $d WHERE qty = 10 ORDER BY pk")
    assert(fresh.as[Long].collect().toSeq === Seq(1L, 9L))
    // an unindexed data column still refuses
    val e = intercept[IllegalArgumentException] {
      Cql.execute(spark, s"SELECT pk FROM $d WHERE price = 5")
    }
    assert(e.getMessage.contains("no secondary index"), e.getMessage)
  }

  test("indexed RANGE predicates serve through the sparse index " +
      "without ALLOW FILTERING (C18e front door)") {
    val d = Files.createTempDirectory("cql-rbase").toString
    spark.range(1000)
      .selectExpr("id AS pk", "1 AS ck", "'qty' AS col",
        "id AS value", "100L AS wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val idx = Files.createTempDirectory("cql-ridx").toString
    graft.sources.CellIndex.build(spark, d, idx, "qty",
      writeThrough = true)
    // only index files OVERLAPPING the value range open: the value IS
    // the index pk (identity tokens), so the bounds push as a
    // Summary-pruned pk range over the 8 range-partitioned files
    val probe = spark.read.format("graft.sources.CellSource").load(idx)
      .filter(col("pk") >= 100L && col("pk") <= 130L)
    assert(probe.rdd.getNumPartitions <= 2,
      s"probe opened ${probe.rdd.getNumPartitions} index splits")
    // BETWEEN-shaped range serves with no ALLOW FILTERING clause
    val df = Cql.execute(spark,
      s"SELECT pk FROM $d WHERE qty >= 100 AND qty <= 130 ORDER BY pk")
    assert(df.as[Long].collect().toSeq === (100L to 130L))
    // strict bounds normalize to the closed interval
    val open = Cql.execute(spark,
      s"SELECT pk FROM $d WHERE qty > 100 AND qty < 104 ORDER BY pk")
    assert(open.as[Long].collect().toSeq === Seq(101L, 102L, 103L))
    // composes with a key predicate (re-applied on the fetched base)
    val both = Cql.execute(spark,
      s"SELECT pk FROM $d WHERE qty >= 100 AND qty <= 130 AND pk = 111")
    assert(both.as[Long].collect().toSeq === Seq(111L))
    // provably-empty range short-circuits to zero rows
    assert(Cql.execute(spark,
      s"SELECT pk FROM $d WHERE qty > 50 AND qty < 50").count() === 0L)
    // write-through keeps the range route fresh
    Cql.execute(spark,
      s"INSERT INTO $d (pk, ck, qty) VALUES (2000, 1, 115)")
    val fresh = Cql.execute(spark,
      s"SELECT pk FROM $d WHERE qty >= 114 AND qty <= 115 ORDER BY pk")
    assert(fresh.as[Long].collect().toSeq === Seq(114L, 115L, 2000L))
    // mixing an indexed equality with an indexed range refuses (one
    // indexed predicate per statement, Cassandra's own rule)
    val mix = intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"SELECT pk FROM $d WHERE qty = 5 AND qty > 3")
    }
    assert(mix.getMessage.contains("one indexed data predicate"),
      mix.getMessage)
    // a range on an UNindexed column still demands ALLOW FILTERING
    val d2 = freshTable()
    val strict = Cql.execute(spark,
      s"SELECT pk FROM $d2 WHERE value > 15")
    val e2 = intercept[Exception] { strict.collect() }
    assert(e2.getMessage.contains("allowFiltering"), e2.getMessage)
  }

  test("PAGE AFTER pages a SELECT through the C52 cursor and " +
      "stitches back to the unpaged read") {
    val d = Files.createTempDirectory("cql-page").toString
    spark.range(100)
      .selectExpr("id % 20 AS pk", "CAST(id / 20 AS INT) AS ck",
        "'v' AS col", "id AS value", "100L AS wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val all = Cql.execute(spark,
      s"SELECT pk, ck, col, value FROM $d ORDER BY pk, ck, col")
      .as[(Long, Int, String, Long)].collect().toSeq
    assert(all.size === 100)
    // the CQL driver loop: page with LIMIT n, hand the last row's
    // (pk, ck, col) back as the next page's state
    var after: Option[(Long, Int, String)] = None
    val seen =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Int, String, Long)]
    var pages = 0
    var done = false
    while (!done) {
      val clause =
        after.fold("")(a => s" PAGE AFTER '${a._1}:${a._2}:${a._3}'")
      val p = Cql.execute(spark,
        s"SELECT pk, ck, col, value FROM $d " +
          s"ORDER BY pk, ck, col LIMIT 37$clause")
        .as[(Long, Int, String, Long)].collect().toSeq
      seen ++= p
      pages += 1
      if (p.size < 37) done = true
      else { val l = p.last; after = Some((l._1, l._2, l._3)) }
    }
    assert(pages === 3, s"expected 3 pages of 37, got $pages")
    assert(seen.toSeq === all)
    // typed layout (C52b): per-part name=value state — identity-token
    // long key, so token order == key order and ORDER BY matches the
    // cursor's resume order
    val td = Files.createTempDirectory("cql-page-t").toString
    spark.range(30)
      .selectExpr("id AS id", "1 AS seq", "'qty' AS col",
        "id AS value", "100L AS wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((id),seq)")
      .option("keyType.id", "long").option("keyType.seq", "int")
      .mode("append").save(td)
    val tAll = Cql.execute(spark,
      s"SELECT id, seq, col, value FROM $td ORDER BY id, seq, col")
      .as[(Long, Int, String, Long)].collect().toSeq
    var tAfter: Option[(Long, Int, String)] = None
    val tSeen =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Int, String, Long)]
    done = false
    while (!done) {
      val clause = tAfter.fold("")(a =>
        s" PAGE AFTER 'id=${a._1};seq=${a._2};col=${a._3}'")
      val p = Cql.execute(spark,
        s"SELECT id, seq, col, value FROM $td " +
          s"ORDER BY id, seq, col LIMIT 11$clause")
        .as[(Long, Int, String, Long)].collect().toSeq
      tSeen ++= p
      if (p.size < 11) done = true
      else { val l = p.last; tAfter = Some((l._1, l._2, l._3)) }
    }
    assert(tSeen.toSeq === tAll)
    // paging state is bound to the statement shape that produced it:
    // token() ranges carry their own resume rule
    val e = intercept[IllegalArgumentException] {
      Cql.execute(spark, s"SELECT pk FROM $d WHERE token(pk) > 5 " +
        "PAGE AFTER '1:0:v'")
    }
    assert(e.getMessage.contains("PAGE AFTER"), e.getMessage)
  }

  test("collection writes: map put, list append, set add/remove " +
      "(C11/C12/C13 encodings)") {
    val d = freshTable()
    // map put: the (pk, ck) row IS the map; a put is one cell at
    // (pk, ck, key, v)
    Cql.execute(spark,
      s"UPDATE $d SET m['discount'] = 3 WHERE pk = 1 AND ck = 1")
    assert(rows(d).contains((1L, 1, "discount", 3L)))
    // map entry delete is the existing single-cell DELETE
    Cql.execute(spark,
      s"DELETE discount FROM $d WHERE pk = 1 AND ck = 1")
    assert(!rows(d).exists(_._3 == "discount"))
    // list append claims cks after the partition's current max for
    // the collection column; a second append continues the order
    Cql.execute(spark,
      s"UPDATE $d SET tags = tags + [7, 8] WHERE pk = 5")
    Cql.execute(spark,
      s"UPDATE $d SET tags = tags + [9] WHERE pk = 5")
    val lst = rows(d).filter(r => r._1 == 5L && r._3 == "tags")
      .toSeq.sortBy(_._2)
    assert(lst.map(r => (r._2, r._4)) === Seq((1, 7L), (2, 8L), (3, 9L)))
    // set add + remove: removal tombstones the matching element
    // cells; re-adding a removed element works (fresh ck, newer wt)
    Cql.execute(spark,
      s"UPDATE $d SET st = st + {40, 41} WHERE pk = 6")
    Cql.execute(spark,
      s"UPDATE $d SET st = st - {40} WHERE pk = 6")
    assert(rows(d).filter(r => r._1 == 6L && r._3 == "st")
      .map(_._4) === Set(41L))
    Cql.execute(spark,
      s"UPDATE $d SET st = st + {40} WHERE pk = 6")
    assert(rows(d).filter(r => r._1 == 6L && r._3 == "st")
      .map(_._4) === Set(40L, 41L))
    // scalar SET items compose with collection items in one statement
    Cql.execute(spark,
      s"UPDATE $d SET qty = 99, m['x'] = 1 WHERE pk = 2 AND ck = 1")
    assert(rows(d).contains((2L, 1, "qty", 99L)))
    assert(rows(d).contains((2L, 1, "x", 1L)))
    // two appends to the SAME collection in ONE statement claim
    // disjoint cks (a ck collision at one wt would LWW-drop elements)
    Cql.execute(spark,
      s"UPDATE $d SET tg2 = tg2 + [1], tg2 = tg2 + [2] WHERE pk = 7")
    assert(rows(d).filter(r => r._1 == 7L && r._3 == "tg2")
      .toSeq.sortBy(_._2).map(r => (r._2, r._4)) ===
      Seq((1, 1L), (2, 2L)))
    // refusals: map put without ck; mismatched names. (Batched
    // appends JOURNAL since C11i — asserted in their own tests.)
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"UPDATE $d SET m['k'] = 1 WHERE pk = 1")
    }
    Cql.execute(spark,
      s"""BEGIN BATCH
         |  UPDATE $d SET tags = tags + [1] WHERE pk = 5;
         |APPLY BATCH""".stripMargin)
    assert(rows(d).exists(r => r._1 == 5L && r._3 == "tags" &&
      r._4 == 1L))
    intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"UPDATE $d SET tags = other + [1] WHERE pk = 5")
    }
  }

  test("LWT tail: UPDATE IF EXISTS and conditional DELETE (C55)") {
    val d = freshTable()
    // row-level IF EXISTS: applies on a live row, not on an absent one
    val hit = Cql.execute(spark,
      s"UPDATE $d SET qty = 77 WHERE pk = 1 AND ck = 1 IF EXISTS")
      .as[(Boolean, Option[Long])].collect().head
    assert(hit === ((true, None)))
    assert(rows(d).contains((1L, 1, "qty", 77L)))
    val miss = Cql.execute(spark,
      s"UPDATE $d SET qty = 1 WHERE pk = 50 AND ck = 1 IF EXISTS")
      .as[(Boolean, Option[Long])].collect().head
    assert(miss === ((false, None)))
    assert(!rows(d).exists(_._1 == 50L))
    // conditional cell DELETE: IF col = v gates the tombstone
    val no = Cql.execute(spark,
      s"DELETE price FROM $d WHERE pk = 2 AND ck = 1 IF price = 99")
      .as[(Boolean, Option[Long])].collect().head
    assert(no === ((false, Some(5L)))) // current value reported
    assert(rows(d).contains((2L, 1, "price", 5L)))
    val yes = Cql.execute(spark,
      s"DELETE price FROM $d WHERE pk = 2 AND ck = 1 IF price = 5")
      .as[(Boolean, Option[Long])].collect().head
    assert(yes === ((true, Some(5L))))
    assert(!rows(d).exists(_._3 == "price"))
    // conditional row DELETE: IF EXISTS writes the row tombstone
    val dead = Cql.execute(spark,
      s"DELETE FROM $d WHERE pk = 3 AND ck = 1 IF EXISTS")
      .as[(Boolean, Option[Long])].collect().head
    assert(dead === ((true, None)))
    assert(!rows(d).exists(_._1 == 3L))
    // and refuses nothing silently: absent row → not applied, no write
    val dead2 = Cql.execute(spark,
      s"DELETE FROM $d WHERE pk = 3 AND ck = 1 IF EXISTS")
      .as[(Boolean, Option[Long])].collect().head
    assert(dead2 === ((false, None)))
  }

  test("CQL counters: increments are shard deltas, reads sum (C10)") {
    val root = Files.createTempDirectory("cql-cnt").toString
    spark.conf.set("spark.sql.catalog.cntcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cntcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cntcat")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.c (pk bigint, ck int, col text, " +
        "value counter, wt bigint, PRIMARY KEY ((pk), ck))")
      cq("UPDATE ks.c SET hits = hits + 5 WHERE pk = 1 AND ck = 1")
      cq("UPDATE ks.c SET hits = hits + 3 WHERE pk = 1 AND ck = 1")
      cq("UPDATE ks.c SET hits = hits - 2 WHERE pk = 1 AND ck = 1")
      cq("UPDATE ks.c SET hits = hits + 7 WHERE pk = 2 AND ck = 1")
      // two increments of the SAME column in ONE statement: both
      // shards land (same wt — counter mode sums ALL shards, no LWW)
      cq("UPDATE ks.c SET hits = hits + 10, hits = hits + 20 " +
        "WHERE pk = 3 AND ck = 1")
      // the facade SELECT reads in shard-SUM mode
      val got = cq("SELECT pk, value FROM ks.c ORDER BY pk")
        .as[(Long, Long)].collect().toSeq
      assert(got === Seq((1L, 6L), (2L, 7L), (3L, 30L)))
      // the shards stay distinct cells on disk (no read-modify-write)
      val raw = spark.read.format("graft.sources.CellSource")
        .load(s"$root/ks/c")
      assert(raw.count() === 6)
      // refusals: INSERT on a counter table, plain SET, TTL, BATCH
      intercept[IllegalArgumentException] {
        cq("INSERT INTO ks.c (pk, ck, hits) VALUES (3, 1, 9)")
      }
      intercept[IllegalArgumentException] {
        cq("UPDATE ks.c SET hits = 9 WHERE pk = 1 AND ck = 1")
      }
      intercept[IllegalArgumentException] {
        cq("UPDATE ks.c USING TTL 5 SET hits = hits + 1 " +
          "WHERE pk = 1 AND ck = 1")
      }
      intercept[IllegalArgumentException] {
        cq("""BEGIN BATCH
             |  UPDATE ks.c SET hits = hits + 1 WHERE pk = 1 AND ck = 1;
             |APPLY BATCH""".stripMargin)
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.cntcat")
      spark.conf.unset("spark.sql.catalog.cntcat.root")
    }
  }

  test("CQL materialized views: DDL + write-through maintenance (C40)") {
    val root = Files.createTempDirectory("cql-mv").toString
    spark.conf.set("spark.sql.catalog.mvcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.mvcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "mvcat")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((pk), ck))")
      cq("INSERT INTO ks.t (pk, ck, qty, price) VALUES (1, 1, 100, 5)")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (2, 1, 200)")
      cq("CREATE MATERIALIZED VIEW ks.by_qty AS SELECT * FROM ks.t " +
        "WHERE qty IS NOT NULL PRIMARY KEY ((qty), pk, ck)")
      val viewDir = s"$root/ks/by_qty"
      // view lookup answers WITHOUT the base table; full row present
      val hit = graft.sources.CellView
        .lookup(spark, viewDir, 100L, onStale = "fail")
        .select("bpk", "col", "value")
        .as[(Long, String, Long)].collect().toSet
      assert(hit === Set((1L, "qty", 100L), (1L, "price", 5L)))
      // write-through: a plain INSERT through the front door keeps
      // the view fresh with NO refresh call
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (3, 1, 100)")
      assert(!graft.sources.CellView.isStale(viewDir))
      assert(graft.sources.CellView
        .lookup(spark, viewDir, 100L, onStale = "fail")
        .filter(col("col") === "qty")
        .select("bpk").as[Long].collect().toSet === Set(1L, 3L))
      // a MOVE (qty changes) relocates the row's view partition
      cq("UPDATE ks.t SET qty = 300 WHERE pk = 2 AND ck = 1")
      assert(!graft.sources.CellView.isStale(viewDir))
      assert(graft.sources.CellView
        .lookup(spark, viewDir, 200L, onStale = "fail").count() === 0)
      assert(graft.sources.CellView
        .lookup(spark, viewDir, 300L, onStale = "fail")
        .filter(col("col") === "qty")
        .select("bpk").as[Long].collect().toSet === Set(2L))
      // the facade SELECT serves the view as a typed table — and
      // heals an out-of-band staleness first (never silently stale):
      // simulate a bypass by unregistering, writing, re-registering
      graft.sources.CellView.unregister(s"$root/ks/t", viewDir)
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (4, 1, 300)")
      graft.sources.CellView.register(s"$root/ks/t", viewDir)
      assert(graft.sources.CellView.isStale(viewDir))
      val sel = cq("SELECT vk, bpk FROM ks.by_qty WHERE vk = 300 " +
        "ORDER BY bpk")
      assert(sel.as[(Long, Long)].collect().toSeq ===
        Seq((300L, 2L), (300L, 4L)))
      assert(!graft.sources.CellView.isStale(viewDir))
      // refusals and lifecycle
      intercept[IllegalArgumentException] {
        cq("CREATE MATERIALIZED VIEW ks.by_qty AS SELECT * FROM ks.t " +
          "WHERE qty IS NOT NULL PRIMARY KEY ((qty), pk, ck)")
      }
      cq("CREATE MATERIALIZED VIEW IF NOT EXISTS ks.by_qty AS " +
        "SELECT * FROM ks.t WHERE qty IS NOT NULL " +
        "PRIMARY KEY ((qty), pk, ck)")
      intercept[IllegalArgumentException] {
        cq("CREATE MATERIALIZED VIEW ks.bad AS SELECT * FROM ks.t " +
          "WHERE qty IS NOT NULL PRIMARY KEY ((price), pk, ck)")
      }
      cq("DROP MATERIALIZED VIEW ks.by_qty")
      assert(!Files.isDirectory(java.nio.file.Paths.get(viewDir)))
      intercept[IllegalArgumentException] {
        cq("DROP MATERIALIZED VIEW ks.by_qty")
      }
      cq("DROP MATERIALIZED VIEW IF EXISTS ks.by_qty")
    } finally {
      spark.conf.unset("spark.sql.catalog.mvcat")
      spark.conf.unset("spark.sql.catalog.mvcat.root")
    }
  }

  test("token() in the select list projects the ring position") {
    val d = freshTable()
    // identity tokens on the default layout: token(pk) == pk
    val t = Cql.execute(spark,
      s"SELECT token(pk) AS t, pk, ck FROM $d WHERE pk = 2")
      .as[(Long, Long, Int)].collect().toSet
    assert(t === Set((2L, 2L, 1)))
    // typed layout: token(user) is the hashed ring position — must
    // match the connector's own _token column exactly
    val td = freshTypedTable()
    val viaCql = Cql.execute(spark,
      s"SELECT token(user) AS t, user FROM $td WHERE user = 'u-2'")
      .as[(Long, String)].collect().toSet
    val direct = spark.read.format("graft.sources.CellSource")
      .option("withToken", "true").load(td) // plain scan: raw cells
      .filter(col("user") === "u-2")
      .select(col("_token"), col("user"))
      .as[(Long, String)].collect().toSet
    assert(viaCql === direct && viaCql.nonEmpty)
    // token() must name the partition key
    intercept[IllegalArgumentException] {
      Cql.execute(spark, s"SELECT token(ck) FROM $d")
    }
  }

  test("UNLOGGED BATCH: grouping only, per-statement writetimes, " +
      "counters allowed") {
    val d = freshTable()
    Cql.execute(spark,
      s"""BEGIN UNLOGGED BATCH
         |  INSERT INTO $d (pk, ck, qty) VALUES (60, 1, 5);
         |  INSERT INTO $d (pk, ck, qty) VALUES (61, 1, 6);
         |  DELETE FROM $d WHERE pk = 60 AND ck = 1;
         |APPLY BATCH""".stripMargin)
    // sequential per-statement writetimes: the later DELETE shadows
    // the earlier insert (unlike the LOGGED batch's one shared wt)
    assert(!rows(d).exists(_._1 == 60L))
    assert(rows(d).contains((61L, 1, "qty", 6L)))
    // scripts keep unlogged blocks whole
    val out = Cql.executeScript(spark,
      s"""BEGIN UNLOGGED BATCH
         |  INSERT INTO $d (pk, ck, qty) VALUES (62, 1, 7);
         |APPLY BATCH;
         |SELECT pk, value FROM $d WHERE pk = 62""".stripMargin)
    assert(out.as[(Long, Long)].collect().toSeq === Seq((62L, 7L)))
    // counter batches are legal UNLOGGED (Cassandra's rule): each
    // increment gets its own writetime, shards stay distinct
    val root = Files.createTempDirectory("cql-ubatch").toString
    spark.conf.set("spark.sql.catalog.ubcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.ubcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "ubcat")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.c (pk bigint, ck int, col text, " +
        "value counter, wt bigint, PRIMARY KEY ((pk), ck))")
      cq("""BEGIN UNLOGGED BATCH
           |  UPDATE ks.c SET hits = hits + 5 WHERE pk = 1 AND ck = 1;
           |  UPDATE ks.c SET hits = hits + 3 WHERE pk = 1 AND ck = 1;
           |APPLY BATCH""".stripMargin)
      assert(cq("SELECT pk, value FROM ks.c")
        .as[(Long, Long)].collect().toSeq === Seq((1L, 8L)))
      // LOGGED counter batch still refuses
      intercept[IllegalArgumentException] {
        cq("""BEGIN BATCH
             |  UPDATE ks.c SET hits = hits + 1 WHERE pk = 1 AND ck = 1;
             |APPLY BATCH""".stripMargin)
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.ubcat")
      spark.conf.unset("spark.sql.catalog.ubcat.root")
    }
  }

  test("CREATE INDEX / MATERIALIZED VIEW DDL over a TYPED table " +
      "(C18g + C40b through the front door)") {
    val root = Files.createTempDirectory("cql-tddl").toString
    spark.conf.set("spark.sql.catalog.tddl", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.tddl.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "tddl")
      cq("CREATE KEYSPACE ks")
      // a typed table under the catalog root (layout bootstrapped by
      // the first write — the CQL CREATE TABLE grammar is
      // default-layout only, a recorded round-10 item)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(root, "ks"))
      Seq(("u-1", 1, "qty", 100L, 10L), ("u-2", 1, "qty", 200L, 10L))
        .toDF("user", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .option("primaryKey", "((user),ck)")
        .option("keyType.user", "string").option("keyType.ck", "int")
        .mode("append").save(s"$root/ks/t")
      // typed-base INDEX through the DDL + write-through freshness
      cq("CREATE INDEX ON ks.t (qty)")
      cq("INSERT INTO ks.t (user, ck, qty) VALUES ('u-9', 1, 100)")
      val idxDir = s"$root/ks/t_qty_idx"
      assert(!graft.sources.CellIndex.isStale(idxDir))
      assert(graft.sources.CellIndex
        .lookupPks(spark, idxDir, 100L, onStale = "fail")
        .as[String].collect().toSet === Set("u-1", "u-9"))
      // indexed data predicate through the facade, typed base
      val sel = cq("SELECT user FROM ks.t WHERE qty = 100 ORDER BY user")
      assert(sel.as[String].collect().toSeq === Seq("u-1", "u-9"))
      // typed-base MATERIALIZED VIEW through the DDL: the PRIMARY KEY
      // tail must name the base's REAL key parts — the positional
      // 'pk, ck' shorthand is default-layout only (on a typed base it
      // would misdescribe the view's actual clustering, and Cassandra
      // refuses unknown columns)
      val ep = intercept[IllegalArgumentException] {
        cq("CREATE MATERIALIZED VIEW ks.by_qty AS SELECT * FROM ks.t " +
          "WHERE qty IS NOT NULL PRIMARY KEY ((qty), pk, ck)")
      }
      assert(ep.getMessage.contains("user, ck"), ep.getMessage)
      cq("CREATE MATERIALIZED VIEW ks.by_qty AS SELECT * FROM ks.t " +
        "WHERE qty IS NOT NULL PRIMARY KEY ((qty), user, ck)")
      val vd = s"$root/ks/by_qty"
      assert(graft.sources.CellView
        .lookup(spark, vd, 100L, onStale = "fail")
        .select("buser").as[String].collect().toSet ===
        Set("u-1", "u-9"))
      // write-through maintains the typed view too
      cq("INSERT INTO ks.t (user, ck, qty) VALUES ('u-5', 1, 100)")
      assert(!graft.sources.CellView.isStale(vd))
      assert(graft.sources.CellView
        .lookup(spark, vd, 100L, onStale = "fail")
        .select("buser").as[String].collect().toSet ===
        Set("u-1", "u-9", "u-5"))
    } finally {
      spark.conf.unset("spark.sql.catalog.tddl")
      spark.conf.unset("spark.sql.catalog.tddl.root")
    }
  }

  test("CREATE INDEX / MATERIALIZED VIEW DDL over a MULTI-part " +
      "partition key base (C18h + C40c through the front door)") {
    val root = Files.createTempDirectory("cql-mddl").toString
    spark.conf.set("spark.sql.catalog.mddl", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.mddl.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "mddl")
      cq("CREATE KEYSPACE ks")
      // the C36c shape, bootstrapped by the first write (CQL CREATE
      // TABLE grammar is default-layout only)
      Seq(("t1", 1L, 1, "qty", 100L, 10L),
          ("t1", 2L, 1, "qty", 200L, 10L),
          ("t2", 1L, 1, "qty", 100L, 10L))
        .toDF("tenant", "day", "seq", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .option("primaryKey", "((tenant,day),seq)")
        .option("keyType.tenant", "string")
        .option("keyType.day", "bigint").option("keyType.seq", "int")
        .mode("append").save(s"$root/ks/t")
      // multi-part 2i through the DDL; lookups + facade SELECT
      cq("CREATE INDEX ON ks.t (qty)")
      val sel = cq("SELECT tenant, day FROM ks.t WHERE qty = 100 " +
        "ORDER BY tenant")
      assert(sel.as[(String, Long)].collect().toSeq ===
        Seq(("t1", 1L), ("t2", 1L)))
      // multi-part MV: the PRIMARY KEY tail names the base's parts
      cq("CREATE MATERIALIZED VIEW ks.by_qty AS SELECT * FROM ks.t " +
        "WHERE qty IS NOT NULL PRIMARY KEY ((qty), tenant, day, seq)")
      val vd = s"$root/ks/by_qty"
      assert(graft.sources.CellView
        .lookup(spark, vd, 100L, onStale = "fail")
        .select("btenant", "bday").as[(String, Long)].collect().toSet
        === Set(("t1", 1L), ("t2", 1L)))
      // write-through keeps both fresh
      cq("INSERT INTO ks.t (tenant, day, seq, qty) " +
        "VALUES ('t3', 5, 1, 100)")
      assert(!graft.sources.CellIndex.isStale(s"$root/ks/t_qty_idx"))
      assert(!graft.sources.CellView.isStale(vd))
      assert(graft.sources.CellView
        .lookup(spark, vd, 100L, onStale = "fail")
        .select("btenant").as[String].collect().toSet ===
        Set("t1", "t2", "t3"))
      // a WRONG key tail refuses with the base's real part names
      val e = intercept[IllegalArgumentException] {
        cq("CREATE MATERIALIZED VIEW ks.bad AS SELECT * FROM ks.t " +
          "WHERE qty IS NOT NULL PRIMARY KEY ((qty), tenant, seq)")
      }
      assert(e.getMessage.contains("tenant, day, seq"), e.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.mddl")
      spark.conf.unset("spark.sql.catalog.mddl.root")
    }
  }

  test("counter tables refuse 2i and MV DDL (Cassandra's rule)") {
    // the index/view build reads the base reconcile-only (LWW), which
    // on a counter table bakes in the last shard DELTA, not the sum —
    // an index-routed read would then be silently wrong. Refuse.
    val root = Files.createTempDirectory("cql-cntddl").toString
    spark.conf.set("spark.sql.catalog.cdl", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cdl.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cdl")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.c (pk bigint, ck int, col text, " +
        "value counter, wt bigint, PRIMARY KEY ((pk), ck))")
      cq("UPDATE ks.c SET hits = hits + 5 WHERE pk = 1 AND ck = 1")
      val e1 = intercept[IllegalArgumentException] {
        cq("CREATE INDEX ON ks.c (hits)")
      }
      assert(e1.getMessage.contains("counter"))
      val e2 = intercept[IllegalArgumentException] {
        cq("CREATE MATERIALIZED VIEW ks.by_hits AS SELECT * FROM " +
          "ks.c WHERE hits IS NOT NULL PRIMARY KEY ((hits), pk, ck)")
      }
      assert(e2.getMessage.contains("counter"))
      // nothing was built or registered
      assert(!Files.isDirectory(
        java.nio.file.Paths.get(s"$root/ks/c_hits_idx")))
      assert(!Files.isDirectory(
        java.nio.file.Paths.get(s"$root/ks/by_hits")))
      // refusal PARITY: the path-based library entry points refuse
      // the same counter base the DDL front door just did
      val e3 = intercept[IllegalArgumentException] {
        graft.sources.CellIndex.build(spark, s"$root/ks/c",
          s"$root/ks/c_lib_idx", "hits")
      }
      assert(e3.getMessage.contains("counter"))
      val e4 = intercept[IllegalArgumentException] {
        graft.sources.CellView.build(spark, s"$root/ks/c",
          s"$root/ks/c_lib_view", "hits")
      }
      assert(e4.getMessage.contains("counter"))
    } finally {
      spark.conf.unset("spark.sql.catalog.cdl")
      spark.conf.unset("spark.sql.catalog.cdl.root")
    }
  }

  test("conditional LOGGED BATCH: single-partition CAS round (C56d)") {
    val d = freshTable()
    def cb(body: String) = Cql.execute(spark,
      s"BEGIN BATCH\n$body;\nAPPLY BATCH")
    def applied(body: String): (Boolean, Option[Long]) =
      cb(body).as[(Boolean, Option[Long])].collect().head
    // all conditions pass -> every statement's cells land, at ONE
    // shared writetime (the batch-wide CAS rule)
    val r1 = applied(
      s"""INSERT INTO $d (pk, ck, qty) VALUES (7, 1, 70) IF NOT EXISTS;
         |UPDATE $d SET qty = 71 WHERE pk = 7 AND ck = 2;
         |INSERT INTO $d (pk, ck, price) VALUES (7, 3, 72)""".stripMargin)
    assert(r1 === ((true, None)))
    val r = rows(d)
    assert(r.contains((7L, 1, "qty", 70L)))
    assert(r.contains((7L, 2, "qty", 71L)))
    assert(r.contains((7L, 3, "price", 72L)))
    val wts = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .filter(col("pk") === 7L).select("wt").as[Long].collect().toSet
    assert(wts.size === 1, wts)
    // one failing condition applies NOTHING (and reports the current
    // value of the unmet condition's cell)
    val r2 = applied(
      s"""UPDATE $d SET qty = 99 WHERE pk = 7 AND ck = 1 IF qty = 1;
         |INSERT INTO $d (pk, ck, qty) VALUES (7, 9, 9)""".stripMargin)
    assert(r2 === ((false, Some(70L))))
    assert(!rows(d).exists(x => x._1 == 7L && x._2 == 9))
    assert(rows(d).contains((7L, 1, "qty", 70L)))
    // several conditions, each on its own clustering row
    val r3 = applied(
      s"""UPDATE $d SET qty = 75 WHERE pk = 7 AND ck = 1 IF qty = 70;
         |DELETE FROM $d WHERE pk = 7 AND ck = 3 IF EXISTS""".stripMargin)
    assert(r3._1 === true)
    assert(rows(d).contains((7L, 1, "qty", 75L)))
    assert(!rows(d).exists(x => x._1 == 7L && x._2 == 3))
    // a row-presence miss refuses the whole batch
    val r4 = applied(
      s"""UPDATE $d SET qty = 1 WHERE pk = 7 AND ck = 55 IF EXISTS;
         |UPDATE $d SET qty = 2 WHERE pk = 7 AND ck = 1""".stripMargin)
    assert(r4 === ((false, None)))
    assert(rows(d).contains((7L, 1, "qty", 75L)))
    // conditional single-column DELETE rides the same round
    val r5 = applied(
      s"DELETE qty FROM $d WHERE pk = 7 AND ck = 1 IF qty = 75")
    assert(r5._1 === true)
    assert(!rows(d).exists(x => x._1 == 7L && x._2 == 1 && x._3 == "qty"))
    // refusals: Cassandra's spanning rules + timestamp rules
    def refuse(stmt: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        Cql.execute(spark, stmt) }
      assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
    }
    refuse(s"BEGIN BATCH\nUPDATE $d SET qty = 1 WHERE pk = 1 AND " +
      s"ck = 1 IF qty = 10;\nUPDATE $d SET qty = 2 WHERE pk = 2 AND " +
      "ck = 1;\nAPPLY BATCH", "cannot span multiple partitions")
    val d2 = freshTable()
    refuse(s"BEGIN BATCH\nUPDATE $d SET qty = 1 WHERE pk = 1 AND " +
      s"ck = 1 IF qty = 10;\nUPDATE $d2 SET qty = 2 WHERE pk = 1 AND " +
      "ck = 1;\nAPPLY BATCH", "cannot span multiple tables")
    refuse(s"BEGIN BATCH USING TIMESTAMP 5\nUPDATE $d SET qty = 1 " +
      "WHERE pk = 1 AND ck = 1 IF qty = 10;\nAPPLY BATCH",
      "custom timestamps")
    refuse(s"BEGIN BATCH\nINSERT INTO $d (pk, ck, qty) VALUES " +
      s"(1, 8, 1) USING TIMESTAMP 5;\nUPDATE $d SET qty = 1 WHERE " +
      "pk = 1 AND ck = 1 IF qty = 10;\nAPPLY BATCH", "USING")
    // contention: an unexpired ballot (in-flight round) surfaces as
    // ContentionException, Cassandra's CAS-contention WriteTimeout
    val lock = java.nio.file.Paths.get(d, "_paxos.lock")
    java.nio.file.Files.createFile(lock)
    try intercept[graft.sources.CellTransactions.ContentionException] {
      cb(s"UPDATE $d SET qty = 1 WHERE pk = 7 AND ck = 2 IF qty = 71")
    } finally java.nio.file.Files.deleteIfExists(lock)
    // the ballot released: the same batch now applies
    val r6 = applied(
      s"UPDATE $d SET qty = 1 WHERE pk = 7 AND ck = 2 IF qty = 71")
    assert(r6._1 === true)
  }

  test("BEGIN BATCH collection updates over TYPED layouts (C11i " +
      "typed twin): appends, puts, removes and replaces journal at " +
      "ONE batch writetime") {
    val root = Files.createTempDirectory("cql-tbcoll").toString
    spark.conf.set("spark.sql.catalog.tbcl", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.tbcl.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "tbcl")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (user text, ck int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((user), ck))")
      // pre-batch state: a list with two elements
      cq("UPDATE ks.t SET l = l + [1, 2] WHERE user = 'u'")
      cq("""BEGIN BATCH
        |  UPDATE ks.t SET l = l + [3] WHERE user = 'u';
        |  UPDATE ks.t SET l = l + [4] WHERE user = 'u';
        |  UPDATE ks.t SET st = st + {7, 8} WHERE user = 'u';
        |  UPDATE ks.t SET m['k'] = 5 WHERE user = 'u' AND ck = 1;
        |APPLY BATCH""".stripMargin)
      def cells(u: String) = spark.read
        .format("graft.sources.CellSource")
        .option("reconcile", "true").load(s"$root/ks/t")
        .filter(col("user") === u)
        .select("ck", "col", "value", "wt")
        .as[(Int, String, Long, Long)].collect().toSeq
      val c1 = cells("u")
      // same-batch appends claimed DISJOINT cks in statement order
      assert(c1.filter(_._2 == "l").sortBy(_._1).map(_._3) ===
        Seq(1L, 2L, 3L, 4L))
      assert(c1.filter(_._2 == "st").map(_._3).toSet === Set(7L, 8L))
      assert(c1.filter(_._2 == "k").map(_._3) === Seq(5L))
      // ONE shared writetime for every batch cell
      val batchWts = c1.filter(r => r._3 >= 3L || r._2 == "k")
        .map(_._4).toSet
      assert(batchWts.size === 1, batchWts)
      // a batched REPLACE reads PRE-batch state: the same-batch
      // append survives it (only pre-batch cells shadow)
      cq("""BEGIN BATCH
        |  UPDATE ks.t SET l = [100] WHERE user = 'u';
        |  UPDATE ks.t SET l = l + [101] WHERE user = 'u';
        |APPLY BATCH""".stripMargin)
      assert(cells("u").filter(_._2 == "l").sortBy(_._1).map(_._3)
        === Seq(100L, 101L))
      // set REMOVE inside a batch tombstones the pre-batch element
      cq("""BEGIN BATCH
        |  UPDATE ks.t SET st = st - {7} WHERE user = 'u';
        |  UPDATE ks.t SET st = st + {9} WHERE user = 'u';
        |APPLY BATCH""".stripMargin)
      assert(cells("u").filter(_._2 == "st").map(_._3).toSet ===
        Set(8L, 9L))
      // composite partition key rides too
      cq("CREATE TABLE ks.c (tenant text, day bigint, seq int, " +
        "col text, value bigint, wt bigint, " +
        "PRIMARY KEY ((tenant, day), seq))")
      cq("""BEGIN BATCH
        |  UPDATE ks.c SET m['a'] = 1 WHERE tenant = 'x' AND day = 7 AND seq = 1;
        |  UPDATE ks.c SET m['b'] = 2 WHERE tenant = 'x' AND day = 7 AND seq = 1;
        |APPLY BATCH""".stripMargin)
      assert(spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").load(s"$root/ks/c")
        .filter(!col("col").startsWith("!"))
        .select("col", "value").as[(String, Long)].collect().toMap ===
        Map("a" -> 1L, "b" -> 2L))
    } finally {
      spark.conf.unset("spark.sql.catalog.tbcl")
      spark.conf.unset("spark.sql.catalog.tbcl.root")
    }
  }

  test("conditional BATCH over TYPED / composite key layouts: one " +
      "keyed ballot round arbitrates the partition (C56f)") {
    val root = Files.createTempDirectory("cql-tcbat").toString
    spark.conf.set("spark.sql.catalog.tcbat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.tcbat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "tcbat")
      def cas(stmt: String) =
        cq(stmt).as[(Boolean, Option[Long])].collect().head
      def cb(body: String) =
        cas(s"BEGIN BATCH\n$body;\nAPPLY BATCH")
      cq("CREATE KEYSPACE ks")
      // ---- typed single-part pk ----
      cq("CREATE TABLE ks.t (user text, ck int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((user), ck))")
      cq("INSERT INTO ks.t (user, ck, qty) VALUES ('u-1', 1, 10)")
      // all conditions pass: every statement's cells land at ONE
      // shared writetime, unconditional riders included
      assert(cb(
        """INSERT INTO ks.t (user, ck, qty) VALUES ('u-1', 2, 20) IF NOT EXISTS;
          |UPDATE ks.t SET qty = 11 WHERE user = 'u-1' AND ck = 1 IF qty = 10;
          |INSERT INTO ks.t (user, ck, price) VALUES ('u-1', 3, 30)"""
          .stripMargin) === ((true, None)))
      def cells(t: String) = cq(s"SELECT ck, col, value FROM ks.$t " +
        "WHERE user = 'u-1'").as[(Int, String, Long)].collect().toSet
      assert(cells("t") === Set((1, "qty", 11L), (2, "qty", 20L),
        (3, "price", 30L)))
      // every reconciled winner is a batch cell (the UPDATE shadowed
      // the seed), and all share ONE batch writetime
      val wts = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").load(s"$root/ks/t")
        .select("wt").as[Long].collect().toSet
      assert(wts.size === 1, wts)
      // one failing condition applies NOTHING (reports the unmet
      // cell's current value), unconditional riders included
      assert(cb(
        """UPDATE ks.t SET qty = 99 WHERE user = 'u-1' AND ck = 1 IF qty = 5;
          |INSERT INTO ks.t (user, ck, qty) VALUES ('u-1', 9, 9)"""
          .stripMargin) === ((false, Some(11L))))
      assert(!cells("t").exists(_._1 == 9))
      // multi-condition terms, IF IN, IF EXISTS, conditional DELETE
      // (cell + row forms) all ride the keyed round
      assert(cb(
        """UPDATE ks.t SET extra = 7 WHERE user = 'u-1' AND ck = 1 IF qty = 11 AND qty > 10;
          |UPDATE ks.t SET qty = 21 WHERE user = 'u-1' AND ck = 2 IF qty IN (19, 20);
          |DELETE FROM ks.t WHERE user = 'u-1' AND ck = 3 IF EXISTS"""
          .stripMargin) === ((true, None)))
      assert(cells("t") === Set((1, "qty", 11L), (1, "extra", 7L),
        (2, "qty", 21L)))
      assert(cb(
        """DELETE extra FROM ks.t WHERE user = 'u-1' AND ck = 1 IF extra = 7;
          |UPDATE ks.t SET qty = 12 WHERE user = 'u-1' AND ck = 1 IF EXISTS"""
          .stripMargin) === ((true, None)))
      assert(cells("t") === Set((1, "qty", 12L), (2, "qty", 21L)))
      // a row-presence miss refuses the whole batch
      assert(cb(
        """UPDATE ks.t SET qty = 1 WHERE user = 'u-1' AND ck = 55 IF EXISTS;
          |UPDATE ks.t SET qty = 2 WHERE user = 'u-1' AND ck = 1"""
          .stripMargin) === ((false, None)))
      assert(cells("t").contains((1, "qty", 12L)))
      // ---- composite pk, two clustering parts ----
      cq("CREATE TABLE ks.c (tenant text, day bigint, seq int, " +
        "col text, value bigint, wt bigint, " +
        "PRIMARY KEY ((tenant, day), seq))")
      cq("INSERT INTO ks.c (tenant, day, seq, qty) " +
        "VALUES ('acme', 7, 1, 42)")
      assert(cb(
        """UPDATE ks.c SET qty = 43 WHERE tenant = 'acme' AND day = 7 AND seq = 1 IF qty = 42;
          |INSERT INTO ks.c (tenant, day, seq, qty) VALUES ('acme', 7, 2, 50) IF NOT EXISTS"""
          .stripMargin) === ((true, None)))
      assert(cq("SELECT seq, value FROM ks.c WHERE tenant = 'acme' " +
        "AND day = 7").as[(Int, Long)].collect().toSet ===
        Set((1, 43L), (2, 50L)))
      // refusals: Cassandra's spanning rules, typed edition
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      refuse("""BEGIN BATCH
          |UPDATE ks.c SET qty = 1 WHERE tenant = 'acme' AND day = 7 AND seq = 1 IF qty = 43;
          |UPDATE ks.c SET qty = 2 WHERE tenant = 'acme' AND day = 8 AND seq = 1;
          |APPLY BATCH""".stripMargin, "cannot span multiple partitions")
      refuse("""BEGIN BATCH
          |UPDATE ks.c SET qty = 1 WHERE tenant = 'acme' AND day IN (7, 8) AND seq = 1;
          |UPDATE ks.c SET qty = 2 WHERE tenant = 'acme' AND day = 7 AND seq = 1 IF qty = 43;
          |APPLY BATCH""".stripMargin, "cannot span multiple partitions")
      refuse("""BEGIN BATCH
          |UPDATE ks.t SET qty = 1 WHERE user = 'u-1' AND ck = 1 IF qty = 12;
          |UPDATE ks.c SET qty = 2 WHERE tenant = 'acme' AND day = 7 AND seq = 1;
          |APPLY BATCH""".stripMargin, "cannot span multiple tables")
      refuse("""BEGIN BATCH
          |UPDATE ks.t USING TIMESTAMP 5 SET qty = 1 WHERE user = 'u-1' AND ck = 1 IF qty = 12;
          |APPLY BATCH""".stripMargin, "USING")
      refuse("""BEGIN BATCH
          |UPDATE ks.t SET qty = 1 WHERE user = 'u-1' IF qty = 12;
          |APPLY BATCH""".stripMargin, "clustering")
      // value-type gate: a text-valued typed table refuses by name
      cq("CREATE TABLE ks.s (user text, ck int, col text, " +
        "value text, wt bigint, PRIMARY KEY ((user), ck))")
      refuse("""BEGIN BATCH
          |UPDATE ks.s SET name = 'x' WHERE user = 'u' AND ck = 1 IF name = 'y';
          |APPLY BATCH""".stripMargin, "bigint cells")
      // statics never reach the typed batch: typed layouts cannot
      // declare them (the CREATE gate) — asserted here so the
      // no-partition-front-case assumption above stays pinned
      refuse("CREATE TABLE ks.st (user text, ck int, flag bigint " +
        "STATIC, col text, value bigint, wt bigint, " +
        "PRIMARY KEY ((user), ck))", "static columns are supported " +
        "on the default")
      // ck-less typed layout: the partition IS the CAS row
      cq("CREATE TABLE ks.one (id text, col text, value bigint, " +
        "wt bigint, PRIMARY KEY ((id)))")
      assert(cb(
        """INSERT INTO ks.one (id, n) VALUES ('a', 1) IF NOT EXISTS;
          |UPDATE ks.one SET m = 2 WHERE id = 'a'"""
          .stripMargin) === ((true, None)))
      assert(cb(
        "INSERT INTO ks.one (id, n) VALUES ('a', 9) IF NOT EXISTS")
        === ((false, None)))
      assert(cq("SELECT col, value FROM ks.one WHERE id = 'a'")
        .as[(String, Long)].collect().toSet ===
        Set(("n", 1L), ("m", 2L)))
      // contention: an unexpired ballot surfaces as the CAS
      // ContentionException on the keyed round too
      val lock = java.nio.file.Paths.get(root, "ks", "t", "_paxos.lock")
      java.nio.file.Files.createFile(lock)
      try intercept[graft.sources.CellTransactions.ContentionException] {
        cb("UPDATE ks.t SET qty = 1 WHERE user = 'u-1' AND ck = 1 " +
          "IF qty = 12")
      } finally java.nio.file.Files.deleteIfExists(lock)
      assert(cb("UPDATE ks.t SET qty = 13 WHERE user = 'u-1' AND " +
        "ck = 1 IF qty = 12") === ((true, None)))
    } finally {
      spark.conf.unset("spark.sql.catalog.tcbat")
      spark.conf.unset("spark.sql.catalog.tcbat.root")
    }
  }

  test("UNLOGGED BATCH rejects conditional (LWT) sub-statements") {
    // Cassandra refuses conditions in unlogged batches; before the
    // guard, UpdateRe/DeleteRe's lazy WHERE group absorbed the IF
    // clause and ran the CAS as a plain write.
    val d = freshTable()
    def ub(body: String) = Cql.execute(spark,
      s"BEGIN UNLOGGED BATCH\n$body;\nAPPLY BATCH")
    val e1 = intercept[IllegalArgumentException] {
      ub(s"UPDATE $d SET qty = 9 WHERE pk = 1 AND ck = 1 IF qty = 10")
    }
    assert(e1.getMessage.contains("conditional"))
    val e2 = intercept[IllegalArgumentException] {
      ub(s"UPDATE $d SET qty = 9 WHERE pk = 1 AND ck = 1 IF EXISTS")
    }
    assert(e2.getMessage.contains("conditional"))
    val e3 = intercept[IllegalArgumentException] {
      ub(s"DELETE FROM $d WHERE pk = 1 AND ck = 1 IF EXISTS")
    }
    assert(e3.getMessage.contains("conditional"))
    val e4 = intercept[IllegalArgumentException] {
      ub(s"INSERT INTO $d (pk, ck, qty) VALUES (9, 1, 1) IF NOT EXISTS")
    }
    assert(e4.getMessage.contains("conditional"))
    // and none of the refused statements wrote anything
    assert(rows(d).contains((1L, 1, "qty", 10L)))
    assert(!rows(d).exists(_._1 == 9L))
  }

  test("map keys are data: m['A'] and m['a'] stay distinct entries") {
    val d = freshTable()
    Cql.execute(spark,
      s"UPDATE $d SET m['A'] = 1, m['a'] = 2 WHERE pk = 7 AND ck = 1")
    val entries = rows(d).filter(_._1 == 7L)
      .map(r => (r._3, r._4))
    assert(entries === Set(("A", 1L), ("a", 2L)))
  }

  test("CREATE INDEX/MV IF NOT EXISTS is satisfied only by the SAME " +
      "index/view — a name collision fails loudly") {
    val root = Files.createTempDirectory("cql-ifne").toString
    spark.conf.set("spark.sql.catalog.ifne", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.ifne.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "ifne")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((pk), ck))")
      cq("CREATE TABLE ks.other (pk bigint, ck int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((pk), ck))")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 100)")
      // an unrelated TABLE squatting on the index name: IF NOT EXISTS
      // must NOT silently succeed (nothing would be built; later
      // indexed SELECTs would fail despite the "successful" CREATE)
      val e1 = intercept[IllegalArgumentException] {
        cq("CREATE INDEX IF NOT EXISTS other ON ks.t (qty)")
      }
      assert(e1.getMessage.contains("not an index"))
      // the REAL index: create, then IF NOT EXISTS is a no-op...
      cq("CREATE INDEX qidx ON ks.t (qty)")
      cq("CREATE INDEX IF NOT EXISTS qidx ON ks.t (qty)")
      // ...but the same name requested for a DIFFERENT column fails
      val e2 = intercept[IllegalArgumentException] {
        cq("CREATE INDEX IF NOT EXISTS qidx ON ks.t (price)")
      }
      assert(e2.getMessage.contains("not an index"))
      // same identity rule for materialized views
      val e3 = intercept[IllegalArgumentException] {
        cq("CREATE MATERIALIZED VIEW IF NOT EXISTS ks.other AS " +
          "SELECT * FROM ks.t WHERE qty IS NOT NULL " +
          "PRIMARY KEY ((qty), pk, ck)")
      }
      assert(e3.getMessage.contains("not a materialized view"))
      cq("CREATE MATERIALIZED VIEW ks.byq AS SELECT * FROM ks.t " +
        "WHERE qty IS NOT NULL PRIMARY KEY ((qty), pk, ck)")
      cq("CREATE MATERIALIZED VIEW IF NOT EXISTS ks.byq AS " +
        "SELECT * FROM ks.t WHERE qty IS NOT NULL " +
        "PRIMARY KEY ((qty), pk, ck)")
    } finally {
      spark.conf.unset("spark.sql.catalog.ifne")
      spark.conf.unset("spark.sql.catalog.ifne.root")
    }
  }

  test("SELECT JSON with ORDER BY orders rows, then renders") {
    val d = freshTable()
    val j = Cql.execute(spark,
      s"SELECT JSON pk, ck, value FROM $d WHERE pk = 1 " +
        "ORDER BY ck DESC LIMIT 2")
    assert(j.schema.fieldNames.toSeq === Seq("[json]"))
    assert(j.as[String].collect().toSeq === Seq(
      """{"pk":1,"ck":2,"value":20}""",
      """{"pk":1,"ck":1,"value":10}"""))
  }

  test("ck IN serves as a pushed slice + exact residual (multiget)") {
    val d = Files.createTempDirectory("cql-ckin").toString
    Seq((1L, 1, "qty", 10L, 100L), (1L, 2, "qty", 20L, 100L),
        (1L, 3, "qty", 30L, 100L), (1L, 4, "qty", 40L, 100L),
        (2L, 1, "qty", 50L, 100L))
      .toDF("pk", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .mode("append").save(d)
    val df = Cql.execute(spark,
      s"SELECT pk, ck, value FROM $d WHERE pk = 1 AND ck IN (1, 3) " +
        "ORDER BY ck")
    // ck=2 (inside the bounding slice) dropped by the residual;
    // ck=4 (outside) never read
    assert(df.as[(Long, Int, Long)].collect().toSeq ===
      Seq((1L, 1, 10L), (1L, 3, 30L)))
    // the bounding slice reached the cursor: ckRange=[1,3]
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ckRange=[1,3]"), plan)
    // no ALLOW FILTERING demanded — ck IN is key-served in CQL
    assert(Cql.execute(spark,
      s"SELECT value FROM $d WHERE pk = 2 AND ck IN (1)")
      .as[Long].collect().toSeq === Seq(50L))
  }

  test("system_schema virtual tables + DESCRIBE serve the driver " +
      "metadata round from catalog metadata (C67)") {
    val root = Files.createTempDirectory("cql-sysschema").toString
    spark.conf.set("spark.sql.catalog.cqlss", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqlss.root", root)
    def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqlss")
    cq("CREATE KEYSPACE ks")
    cq("CREATE TABLE ks.t (user text, ck int, col text, value bigint, " +
      "wt bigint, PRIMARY KEY ((user), ck)) " +
      "WITH default_time_to_live = 50 AND gc_grace_seconds = 3600")
    cq("CREATE TABLE ks.plain (pk bigint, ck int, col text, " +
      "value bigint, wt bigint, PRIMARY KEY ((pk), ck))")
    cq("INSERT INTO ks.plain (pk, ck, qty) VALUES (1, 1, 7)")
    cq("CREATE INDEX ON ks.plain (qty)")
    cq("CREATE MATERIALIZED VIEW ks.by_qty AS SELECT * FROM ks.plain " +
      "WHERE qty IS NOT NULL PRIMARY KEY ((qty), pk, ck)")
    // keyspaces / tables (indexes and views EXCLUDED — Cassandra's
    // split), with the table options surfaced
    assert(cq("SELECT keyspace_name FROM system_schema.keyspaces")
      .as[String].collect().toSet === Set("ks"))
    val tbl = cq("SELECT table_name, default_time_to_live " +
      "FROM system_schema.tables WHERE keyspace_name = 'ks'")
      .as[(String, Long)].collect().toSet
    assert(tbl === Set(("t", 50L), ("plain", 0L)))
    // columns: key parts with kind/position/type, the cell tail as
    // regulars
    val cols = cq("SELECT column_name, kind, position, type " +
      "FROM system_schema.columns WHERE keyspace_name = 'ks' " +
      "AND table_name = 't'")
      .as[(String, String, Int, String)].collect().toSet
    assert(cols === Set(
      ("user", "partition_key", 0, "text"),
      ("ck", "clustering", 0, "int"),
      ("col", "regular", -1, "text"),
      ("value", "regular", -1, "bigint"),
      ("wt", "regular", -1, "bigint")), cols)
    // views and indexes relations name their base
    assert(cq("SELECT view_name, base_table_name " +
        "FROM system_schema.views")
      .as[(String, String)].collect().toSet === Set(("by_qty", "plain")))
    assert(cq("SELECT index_name, table_name, target " +
        "FROM system_schema.indexes")
      .as[(String, String, String)].collect().toSet ===
      Set(("plain_qty_idx", "plain", "qty")))
    // DESCRIBE TABLE round-trips: the printed statement RECREATES an
    // identical table (same DESCRIBE output modulo the name)
    val stmt = cq("DESCRIBE TABLE ks.t").as[String].head()
    assert(stmt.contains("PRIMARY KEY ((user), ck)") &&
      stmt.contains("default_time_to_live = 50") &&
      stmt.contains("gc_grace_seconds = 3600"), stmt)
    cq(stmt.replace("ks.t ", "ks.t2 "))
    assert(cq("DESCRIBE TABLE ks.t2").as[String].head() ===
      stmt.replace("ks.t ", "ks.t2 "))
    // DESCRIBE listings
    assert(cq("DESC TABLES").as[(String, String)].collect().toSet ===
      Set(("ks", "t"), ("ks", "plain"), ("ks", "t2")))
    // kind disjointness: a view is NOT droppable as an index and
    // vice versa (the 3-line vs 4-line `_base` discriminator)
    val ed1 = intercept[IllegalArgumentException] {
      cq("DROP MATERIALIZED VIEW ks.plain_qty_idx")
    }
    assert(ed1.getMessage.contains("not a materialized view"))
    val ed2 = intercept[IllegalArgumentException] {
      cq("DROP INDEX ks.by_qty")
    }
    assert(ed2.getMessage.contains("not a secondary index"))
    // refusals: unknown relation/column, non-equality WHERE
    val e1 = intercept[IllegalArgumentException] {
      cq("SELECT x FROM system_schema.nope")
    }
    assert(e1.getMessage.contains("unknown system_schema"))
    val e2 = intercept[IllegalArgumentException] {
      cq("SELECT keyspace_name FROM system_schema.tables " +
        "WHERE default_time_to_live > 5")
    }
    assert(e2.getMessage.contains("equalities"), e2.getMessage)
  }

  test("system.local / system.peers answer the connect round (C67b)") {
    val root = Files.createTempDirectory("cql-syslocal").toString
    spark.conf.set("spark.sql.catalog.cqlsl", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqlsl.root", root)
    def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqlsl")
    cq("CREATE KEYSPACE ks")
    // the exact statement every driver sends first
    val row = cq("SELECT * FROM system.local WHERE key = 'local'")
    assert(row.count() === 1)
    val r = row.collect().head
    assert(r.getAs[String]("key") === "local")
    assert(r.getAs[String]("bootstrapped") === "COMPLETED")
    assert(r.getAs[String]("cluster_name") === "graft")
    assert(r.getAs[String]("partitioner") ===
      "graft.sources.Mix64Partitioner")
    // the single node owns a full deterministic token map
    val tokens = r.getAs[scala.collection.Seq[String]]("tokens")
    assert(tokens.length === 16 && tokens.distinct.length === 16)
    assert(tokens.contains(Long.MinValue.toString))
    // host_id is stable across reads (names the catalog root)
    assert(cq("SELECT host_id FROM system.local").as[String].head() ===
      r.getAs[String]("host_id"))
    // schema_version fingerprints the DDL: stable across reads,
    // MOVES on any schema change (the drivers' agreement check)
    val v1 = cq("SELECT schema_version FROM system.local")
      .as[String].head()
    assert(v1 === r.getAs[String]("schema_version"))
    cq("CREATE TABLE ks.t (pk bigint, ck int, col text, value bigint, " +
      "wt bigint, PRIMARY KEY ((pk), ck))")
    val v2 = cq("SELECT schema_version FROM system.local")
      .as[String].head()
    assert(v2 !== v1)
    cq("ALTER TABLE ks.t WITH default_time_to_live = 9")
    val v3 = cq("SELECT schema_version FROM system.local")
      .as[String].head()
    assert(v3 !== v2)
    assert(v3 !== v1)
    // peers: empty on the single-node topology, schema still served
    val peers = cq("SELECT peer, tokens FROM system.peers")
    assert(peers.count() === 0)
    assert(peers.schema.fieldNames.toSeq === Seq("peer", "tokens"))
    // WHERE misses filter (a foreign key returns nothing, not an error)
    assert(cq("SELECT * FROM system.local WHERE key = 'other'")
      .count() === 0)
    // the C53 operational relations route through the same door
    assert(cq("SELECT namespace, table FROM system.tables")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("ks", "t")))
    // refusals: unknown relation / unknown column
    val e1 = intercept[IllegalArgumentException] {
      cq("SELECT * FROM system.sstable_activity")
    }
    assert(e1.getMessage.contains("unknown system relation"))
    val e2 = intercept[IllegalArgumentException] {
      cq("SELECT nope FROM system.local")
    }
    assert(e2.getMessage.contains("unknown system.local column"))
  }

  test("system.size_estimates answers the split-planning round (C67c)") {
    val root = Files.createTempDirectory("cql-sizeest").toString
    spark.conf.set("spark.sql.catalog.cqlsz", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqlsz.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqlsz")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      // empty table: no estimate rows yet
      assert(cq("SELECT * FROM system.size_estimates").count() === 0)
      // identity tokens: small positive pks land in ONE vnode range
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 10)")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (2, 1, 20)")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (3, 1, 30)")
      val est = cq("SELECT * FROM system.size_estimates " +
        "WHERE keyspace_name = 'ks' AND table_name = 't'")
        .as[(String, String, String, String, Long, Long)]
        .collect().toSeq
      assert(est.length === 1, est) // one covering range
      val (_, _, lo, hi, mean, parts) = est.head
      // three single-partition flushes → 3 partitions estimated
      assert(parts === 3L, est)
      assert(mean > 0L)
      // the covering range contains the identity tokens 1..3
      assert(lo.toLong < 1L && hi.toLong >= 3L)
      // estimates are header-only and per-table: a second table's
      // rows don't leak into the first's estimate
      cq("CREATE TABLE ks.u (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("INSERT INTO ks.u (pk, ck, qty) VALUES (9, 1, 1)")
      assert(cq("SELECT partitions_count FROM system.size_estimates " +
        "WHERE table_name = 't'").as[Long].collect().toSeq === Seq(3L))
      assert(cq("SELECT partitions_count FROM system.size_estimates " +
        "WHERE table_name = 'u'").as[Long].collect().toSeq === Seq(1L))
      // a wide partition written across many flushes: per-file
      // estimates SUM (Cassandra's own per-SSTable overcount of a
      // partition that spans sstables) — and compaction collapses it
      // back to the true count
      for (i <- 1 to 5)
        cq(s"INSERT INTO ks.u (pk, ck, qty) VALUES (9, ${i + 1}, $i)")
      assert(cq("SELECT partitions_count FROM system.size_estimates " +
        "WHERE table_name = 'u'").as[Long].collect().toSeq === Seq(6L))
      graft.sources.CellMaintenance.compact(spark, s"$root/ks/u")
      val u = cq("SELECT partitions_count, mean_partition_size " +
        "FROM system.size_estimates WHERE table_name = 'u'")
        .as[(Long, Long)].collect().toSeq
      assert(u.length === 1 && u.head._1 === 1L, u)
    } finally {
      spark.conf.unset("spark.sql.catalog.cqlsz")
      spark.conf.unset("spark.sql.catalog.cqlsz.root")
    }
  }

  test("clustering-prefix DELETE shadows the bound prefix (C5d)") {
    val root = Files.createTempDirectory("cql-pfx").toString
    spark.conf.set("spark.sql.catalog.cqlpfx", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqlpfx.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqlpfx")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.ev (tenant text, day bigint, seq int, " +
        "col text, value bigint, wt bigint, " +
        "PRIMARY KEY ((tenant), day, seq))")
      cq("INSERT INTO ks.ev (tenant, day, seq, qty) VALUES ('a', 1, 1, 10)")
      cq("INSERT INTO ks.ev (tenant, day, seq, qty) VALUES ('a', 1, 2, 11)")
      cq("INSERT INTO ks.ev (tenant, day, seq, qty) VALUES ('a', 2, 1, 20)")
      cq("INSERT INTO ks.ev (tenant, day, seq, qty) VALUES ('b', 1, 1, 30)")
      def live(t: String): Set[(Long, Int, Long)] =
        cq(s"SELECT day, seq, value FROM ks.ev WHERE tenant = '$t'")
          .as[(Long, Int, Long)].collect().toSet
      // Cassandra's multi-row DELETE: bind a clustering PREFIX
      cq("DELETE FROM ks.ev WHERE tenant = 'a' AND day = 1")
      assert(live("a") === Set((2L, 1, 20L)))
      assert(live("b") === Set((1L, 1, 30L))) // other partitions untouched
      // a LATER write into the deleted prefix is visible (wt ordering)
      cq("INSERT INTO ks.ev (tenant, day, seq, qty) VALUES ('a', 1, 3, 99)")
      assert(live("a") === Set((2L, 1, 20L), (1L, 3, 99L)))
      // the marker survives compaction (keepMarkers) and still
      // shadows the ORIGINAL prefix rows, not the later write
      graft.sources.CellMaintenance.compact(spark, s"$root/ks/ev")
      assert(live("a") === Set((2L, 1, 20L), (1L, 3, 99L)))
      // full-binding DELETE stays a row tombstone
      cq("DELETE FROM ks.ev WHERE tenant = 'a' AND day = 2 AND seq = 1")
      assert(live("a") === Set((1L, 3, 99L)))
      // refusals: a gap in the prefix, DELETE <col> on a prefix,
      // UPDATE on a prefix (Cassandra: UPDATE binds the full key)
      val e1 = intercept[IllegalArgumentException] {
        cq("DELETE FROM ks.ev WHERE tenant = 'a' AND seq = 1")
      }
      assert(e1.getMessage.contains("front-to-back"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        cq("DELETE qty FROM ks.ev WHERE tenant = 'a' AND day = 1")
      }
      assert(e2.getMessage.contains("every clustering part"),
        e2.getMessage)
      intercept[IllegalArgumentException] {
        cq("UPDATE ks.ev SET qty = 5 WHERE tenant = 'a' AND day = 1")
      }
      // composite partition key + two clustering parts: prefix on the
      // first ck part only, both pk parts bound
      cq("CREATE TABLE ks.ev2 (t text, d bigint, h bigint, s int, " +
        "col text, value bigint, wt bigint, " +
        "PRIMARY KEY ((t, d), h, s))")
      cq("INSERT INTO ks.ev2 (t, d, h, s, qty) VALUES ('x', 1, 10, 1, 1)")
      cq("INSERT INTO ks.ev2 (t, d, h, s, qty) VALUES ('x', 1, 10, 2, 2)")
      cq("INSERT INTO ks.ev2 (t, d, h, s, qty) VALUES ('x', 1, 11, 1, 3)")
      cq("DELETE FROM ks.ev2 WHERE t = 'x' AND d = 1 AND h = 10")
      assert(cq("SELECT h, s, value FROM ks.ev2 WHERE t = 'x' AND d = 1")
        .as[(Long, Int, Long)].collect().toSet === Set((11L, 1, 3L)))
    } finally {
      spark.conf.unset("spark.sql.catalog.cqlpfx")
      spark.conf.unset("spark.sql.catalog.cqlpfx.root")
    }
  }

  test("IN on multi-part partition keys: cartesian multiget (C8c)") {
    val root = Files.createTempDirectory("cql-pkin").toString
    spark.conf.set("spark.sql.catalog.cqlpkin", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqlpkin.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqlpkin")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.m (t text, d bigint, s int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((t, d), s))")
      for ((t, d, s, q) <- Seq(("x", 1, 1, 10), ("x", 2, 1, 20),
          ("x", 3, 1, 30), ("y", 1, 1, 40), ("y", 2, 1, 50)))
        cq(s"INSERT INTO ks.m (t, d, s, qty) VALUES ('$t', $d, $s, $q)")
      // SELECT: IN on one part, equality on the other — Cassandra's
      // composite multiget; key-served, no ALLOW FILTERING
      assert(cq("SELECT value FROM ks.m WHERE t = 'x' AND d IN (1, 3)")
        .as[Long].collect().toSet === Set(10L, 30L))
      // two INs: cartesian product of partitions
      assert(cq("SELECT value FROM ks.m " +
        "WHERE t IN ('x', 'y') AND d IN (1, 2)")
        .as[Long].collect().toSet === Set(10L, 20L, 40L, 50L))
      // UPDATE across the product (full primary key per row)
      cq("UPDATE ks.m SET qty = 7 WHERE t = 'y' AND d IN (1, 2) " +
        "AND s = 1")
      assert(cq("SELECT value FROM ks.m WHERE t = 'y' AND d IN (1, 2)")
        .as[Long].collect().toSet === Set(7L))
      // DELETE across the product: one partition tombstone each
      cq("DELETE FROM ks.m WHERE t = 'x' AND d IN (1, 2)")
      assert(cq("SELECT value FROM ks.m WHERE t IN ('x') " +
        "AND d IN (1, 2, 3)").as[Long].collect().toSet === Set(30L))
      // refusals: same part bound by IN and equality; unbounded
      // cartesian product
      val e1 = intercept[IllegalArgumentException] {
        cq("UPDATE ks.m SET qty = 1 WHERE t = 'x' AND t IN ('y') " +
          "AND d = 1 AND s = 1")
      }
      assert(e1.getMessage.contains("both IN and equality"),
        e1.getMessage)
      val big = (1 to 200).mkString(", ")
      val e2 = intercept[IllegalArgumentException] {
        cq(s"UPDATE ks.m SET qty = 1 WHERE t = 'x' AND d IN ($big) " +
          "AND s = 1")
      }
      assert(e2.getMessage.contains("cartesian product"), e2.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.cqlpkin")
      spark.conf.unset("spark.sql.catalog.cqlpkin.root")
    }
  }

  test("CONTAINS / CONTAINS KEY over element-per-cell collections (C64b)") {
    val root = Files.createTempDirectory("cql-contains").toString
    spark.conf.set("spark.sql.catalog.cqlcont", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqlcont.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqlcont")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("UPDATE ks.t SET tags = tags + [5, 7] WHERE pk = 1")
      cq("UPDATE ks.t SET tags = tags + [7] WHERE pk = 2")
      cq("UPDATE ks.t SET st = st + {9} WHERE pk = 3")
      cq("UPDATE ks.t SET m['color'] = 4 WHERE pk = 4 AND ck = 1")
      // element containment is a cell filter (elements are cells)
      assert(cq("SELECT pk FROM ks.t WHERE tags CONTAINS 7 " +
        "ALLOW FILTERING").as[Long].collect().toSet === Set(1L, 2L))
      assert(cq("SELECT pk FROM ks.t WHERE st CONTAINS 9 " +
        "ALLOW FILTERING").as[Long].collect().toSet === Set(3L))
      // map-entry presence: entry keys ARE col names on this layout
      assert(cq("SELECT pk FROM ks.t WHERE m CONTAINS KEY 'color' " +
        "ALLOW FILTERING").as[Long].collect().toSet === Set(4L))
      // without ALLOW FILTERING: Cassandra's refusal (no index)
      val e1 = intercept[IllegalArgumentException] {
        cq("SELECT pk FROM ks.t WHERE tags CONTAINS 7")
      }
      assert(e1.getMessage.contains("ALLOW FILTERING"), e1.getMessage)
      // a collection 2i serves CONTAINS key-routed (index entries ARE
      // element values) — no ALLOW FILTERING needed
      cq("CREATE INDEX ON ks.t (tags)")
      assert(cq("SELECT pk FROM ks.t WHERE tags CONTAINS 7")
        .as[Long].collect().toSet === Set(1L, 2L))
      // CONTAINS KEY takes a text key
      val e2 = intercept[IllegalArgumentException] {
        cq("SELECT pk FROM ks.t WHERE m CONTAINS KEY 5 ALLOW FILTERING")
      }
      assert(e2.getMessage.contains("text key"), e2.getMessage)
      // combination guard: PER PARTITION LIMIT counts pre-filter
      val e3 = intercept[IllegalArgumentException] {
        cq("SELECT pk FROM ks.t WHERE tags CONTAINS 7 " +
          "PER PARTITION LIMIT 1 ALLOW FILTERING")
      }
      assert(e3.getMessage.contains("PER PARTITION LIMIT"),
        e3.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.cqlcont")
      spark.conf.unset("spark.sql.catalog.cqlcont.root")
    }
  }

  test("ck IN on typed layouts: bounding slice + last-part IN (C65j)") {
    val root = Files.createTempDirectory("cql-ckin").toString
    spark.conf.set("spark.sql.catalog.cqlckin", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqlckin.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqlckin")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (user text, seq int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((user), seq))")
      for (s <- Seq(1, 3, 5))
        cq(s"INSERT INTO ks.t (user, seq, qty) VALUES ('u', $s, ${s * 10})")
      // IN on the (single) clustering part: bounding slice pushed,
      // exact residual — the in-between row (seq 3) must NOT return
      assert(cq("SELECT seq, value FROM ks.t WHERE user = 'u' " +
        "AND seq IN (1, 5)").as[(Int, Long)].collect().toSet ===
        Set((1, 10L), (5, 50L)))
      // multi-part clustering: IN on the LAST part with the prior
      // part bound by equality (Cassandra's key-served shape)
      cq("CREATE TABLE ks.m (t text, a bigint, b int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((t), a, b))")
      for ((a, b) <- Seq((1, 1), (1, 2), (1, 3), (2, 1)))
        cq(s"INSERT INTO ks.m (t, a, b, qty) VALUES ('x', $a, $b, " +
          s"${a * 10 + b})")
      assert(cq("SELECT value FROM ks.m WHERE t = 'x' AND a = 1 " +
        "AND b IN (1, 3)").as[Long].collect().toSet === Set(11L, 13L))
      // IN on the FIRST part alone: a bounding slice, key-served
      assert(cq("SELECT value FROM ks.m WHERE t = 'x' AND a IN (1, 2)")
        .as[Long].collect().toSet === Set(11L, 12L, 13L, 21L))
      // IN on the last part WITHOUT binding the prior one: data
      // filtering — Cassandra's refusal without ALLOW FILTERING
      val e = intercept[Exception] {
        cq("SELECT value FROM ks.m WHERE t = 'x' AND b IN (1, 3)")
          .collect()
      }
      assert(e.getMessage.contains("data filtering"), e.getMessage)
      assert(cq("SELECT value FROM ks.m WHERE t = 'x' AND b IN (1, 3) " +
        "ALLOW FILTERING").as[Long].collect().toSet ===
        Set(11L, 13L, 21L))
    } finally {
      spark.conf.unset("spark.sql.catalog.cqlckin")
      spark.conf.unset("spark.sql.catalog.cqlckin.root")
    }
  }

  test("static columns: per-partition cells through the front door (C15b)") {
    val root = Files.createTempDirectory("cql-static").toString
    spark.conf.set("spark.sql.catalog.cqlstat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqlstat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqlstat")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint, s bigint STATIC)")
      // a static-only INSERT addresses the partition — no ck bound
      cq("INSERT INTO ks.t (pk, s) VALUES (1, 100)")
      // mixed INSERT: the regular cell lands at (pk, ck), the static
      // at the partition-front position
      cq("INSERT INTO ks.t (pk, ck, qty, s) VALUES (2, 1, 5, 200)")
      def sOf(pk: Long): Seq[Long] =
        cq(s"SELECT s FROM ks.t WHERE pk = $pk").as[Long].collect().toSeq
      assert(sOf(1) === Seq(100L))
      assert(sOf(2) === Seq(200L))
      // ONE static cell per partition however many rows exist
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (2, 2, 6)")
      assert(sOf(2) === Seq(200L))
      // per-partition LWW: UPDATE without a ck binding
      cq("UPDATE ks.t SET s = 111 WHERE pk = 1")
      assert(sOf(1) === Seq(111L))
      // WRITETIME of a static column narrows to the same cell
      assert(cq("SELECT WRITETIME(s) FROM ks.t WHERE pk = 1")
        .as[Long].head() > 0L)
      // DELETE of the static column alone; regular cells untouched
      cq("DELETE s FROM ks.t WHERE pk = 2")
      assert(sOf(2) === Seq.empty)
      assert(cq("SELECT value FROM ks.t WHERE pk = 2")
        .as[Long].collect().toSet === Set(5L, 6L))
      // a partition tombstone shadows the static cell too
      cq("DELETE FROM ks.t WHERE pk = 1")
      assert(sOf(1) === Seq.empty)
      // ... and a LATER static write is visible again
      cq("INSERT INTO ks.t (pk, s) VALUES (1, 7)")
      assert(sOf(1) === Seq(7L))
      // compaction preserves live statics and drops shadowed ones
      graft.sources.CellMaintenance.compact(spark, s"$root/ks/t")
      assert(sOf(1) === Seq(7L) && sOf(2) === Seq.empty)
      // statics work inside a logged BATCH
      cq("BEGIN BATCH " +
        "INSERT INTO ks.t (pk, ck, qty) VALUES (3, 1, 9); " +
        "UPDATE ks.t SET s = 300 WHERE pk = 3; " +
        "APPLY BATCH")
      assert(sOf(3) === Seq(300L))
      // the metadata round surfaces statics: system_schema.columns
      // lists kind='static', and DESCRIBE round-trips the modifier
      assert(cq("SELECT column_name FROM system_schema.columns " +
        "WHERE table_name = 't' AND kind = 'static'")
        .as[String].collect().toSeq === Seq("s"))
      val create = cq("DESCRIBE TABLE ks.t").as[String].head()
      assert(create.contains("s bigint static"), create)
      cq(create.replace("ks.t", "ks.t2"))
      cq("INSERT INTO ks.t2 (pk, s) VALUES (1, 1)")
      assert(cq("SELECT s FROM ks.t2 WHERE pk = 1")
        .as[Long].collect().toSeq === Seq(1L))
      // SELECT DISTINCT pk, s — the per-partition listing idiom:
      // one row per partition, absent statics are null
      val listing = cq("SELECT DISTINCT pk, s FROM ks.t")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      assert(listing === Set((1L, Some(7L)), (2L, None), (3L, Some(300L))),
        listing)
      intercept[IllegalArgumentException] {
        cq("SELECT DISTINCT pk, qty FROM ks.t") // non-static extras
      }
      // ALTER TABLE ADD ... STATIC registers a new per-partition
      // column on an existing table
      cq("ALTER TABLE ks.t ADD s2 bigint STATIC")
      cq("UPDATE ks.t SET s2 = 42 WHERE pk = 1")
      assert(cq("SELECT s2 FROM ks.t WHERE pk = 1")
        .as[Long].collect().toSeq === Seq(42L))
      assert(cq("DESCRIBE TABLE ks.t").as[String].head()
        .contains("s2 bigint static"))
      // refusals: static on a typed layout, static under LWT, DELETE
      // of a static with a clustering predicate, static key part
      val e1 = intercept[IllegalArgumentException] {
        cq("CREATE TABLE ks.bad1 (user text, ck int, col text, " +
          "value bigint, wt bigint, s bigint STATIC, " +
          "PRIMARY KEY ((user), ck))")
      }
      assert(e1.getMessage.contains("default"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        cq("UPDATE ks.t SET s = 1 WHERE pk = 3 IF EXISTS")
      }
      assert(e2.getMessage.contains("static"), e2.getMessage)
      val e3 = intercept[IllegalArgumentException] {
        cq("DELETE s FROM ks.t WHERE pk = 3 AND ck = 1")
      }
      assert(e3.getMessage.contains("partition alone"), e3.getMessage)
      intercept[IllegalArgumentException] {
        cq("CREATE TABLE ks.bad2 (pk bigint STATIC, ck int, col text, " +
          "value bigint, wt bigint)")
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.cqlstat")
      spark.conf.unset("spark.sql.catalog.cqlstat.root")
    }
  }

  test("COPY TO / COPY FROM: the cqlsh bulk round (C68)") {
    val root = Files.createTempDirectory("cql-copy").toString
    val out = Files.createTempDirectory("cql-copy-out").toString + "/t.csv"
    spark.conf.set("spark.sql.catalog.cqlcopy", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqlcopy.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqlcopy")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 10)")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (2, 1, 20)")
      cq("DELETE FROM ks.t WHERE pk = 2") // tombstoned rows don't export
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (3, 1, 30)")
      // export: live reconciled rows only
      assert(cq(s"COPY ks.t TO '$out' WITH HEADER = TRUE")
        .as[Long].head() === 2L)
      // round trip into a fresh table — writetimes ride along
      cq("CREATE TABLE ks.u (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      assert(cq(s"COPY ks.u FROM '$out' WITH HEADER = TRUE")
        .as[Long].head() === 2L)
      assert(cq("SELECT pk, ck, col, value FROM ks.u ORDER BY pk")
        .as[(Long, Int, String, Long)].collect().toSeq ===
        Seq((1L, 1, "qty", 10L), (3L, 1, "qty", 30L)))
      // writetimes preserved exactly (better than cqlsh, which
      // re-stamps on load)
      assert(
        cq("SELECT WRITETIME(qty) FROM ks.u WHERE pk = 1").as[Long]
          .head() ===
        cq("SELECT WRITETIME(qty) FROM ks.t WHERE pk = 1").as[Long]
          .head())
      // counter tables: COPY FROM imports each row as an INCREMENT
      // (C68b, r18 — cqlsh's own semantics), so a TO→FROM round trip
      // onto the same table DOUBLES the counts
      cq("CREATE TABLE ks.c (pk bigint, ck int, col text, " +
        "value counter, wt bigint)")
      cq("UPDATE ks.c SET n = n + 5 WHERE pk = 1 AND ck = 1")
      cq("UPDATE ks.c SET n = n + 3 WHERE pk = 1 AND ck = 1")
      cq("UPDATE ks.c SET m = m + 2 WHERE pk = 2 AND ck = 1")
      val cout = Files.createTempDirectory("cql-copy-cnt").toString +
        "/c.csv"
      assert(cq(s"COPY ks.c TO '$cout'").as[Long].head() === 2L)
      assert(cq(s"COPY ks.c FROM '$cout'").as[Long].head() === 2L)
      assert(cq("SELECT pk, col, value FROM ks.c ORDER BY pk")
        .as[(Long, String, Long)].collect().toSeq ===
        Seq((1L, "n", 16L), (2L, "m", 4L)))
      // ...and a second import keeps incrementing (8 more on pk 1)
      assert(cq(s"COPY ks.c FROM '$cout'").as[Long].head() === 2L)
      assert(cq("SELECT value FROM ks.c WHERE pk = 1 AND ck = 1")
        .as[Long].head() === 24L)
    } finally {
      spark.conf.unset("spark.sql.catalog.cqlcopy")
      spark.conf.unset("spark.sql.catalog.cqlcopy.root")
    }
  }

  test("property: random STATIC write programs match the sequential model") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    // Statics are per-partition LWW cells: interleaving static and
    // regular writes with partition tombstones must behave exactly
    // like a mutable (statics, cells) pair applied sequentially.
    sealed trait Op
    case class InsS(pk: Long, v: Long) extends Op
    case class UpdS(pk: Long, v: Long) extends Op
    case class DelS(pk: Long) extends Op
    case class DelPart(pk: Long) extends Op
    case class InsReg(pk: Long, ck: Int, v: Long) extends Op
    val genOp: Gen[Op] = Gen.frequency(
      3 -> (for { pk <- Gen.chooseNum(0L, 2L); v <- Gen.chooseNum(0L, 99L) }
        yield InsS(pk, v)),
      2 -> (for { pk <- Gen.chooseNum(0L, 2L); v <- Gen.chooseNum(0L, 99L) }
        yield UpdS(pk, v)),
      1 -> Gen.chooseNum(0L, 2L).map(DelS.apply),
      1 -> Gen.chooseNum(0L, 2L).map(DelPart.apply),
      3 -> (for {
        pk <- Gen.chooseNum(0L, 2L); ck <- Gen.chooseNum(0, 1)
        v <- Gen.chooseNum(0L, 99L)
      } yield InsReg(pk, ck, v)))
    val root = Files.createTempDirectory("cql-statprop").toString
    spark.conf.set("spark.sql.catalog.cqlsp", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqlsp.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqlsp")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.p (pk bigint, ck int, col text, " +
        "value bigint, wt bigint, s bigint STATIC)")
      val prop = Prop.forAll(Gen.listOfN(10, genOp)) { ops =>
        cq("TRUNCATE ks.p")
        cq("INSERT INTO ks.p (pk, ck, qty) VALUES (0, 0, 1)") // seed
        val statics = scala.collection.mutable.Map.empty[Long, Long]
        val cells = scala.collection.mutable
          .Map[(Long, Int), Long]((0L, 0) -> 1L)
        ops.foreach {
          case InsS(pk, v) =>
            cq(s"INSERT INTO ks.p (pk, s) VALUES ($pk, $v)")
            statics(pk) = v
          case UpdS(pk, v) =>
            cq(s"UPDATE ks.p SET s = $v WHERE pk = $pk")
            statics(pk) = v
          case DelS(pk) =>
            cq(s"DELETE s FROM ks.p WHERE pk = $pk")
            statics.remove(pk)
          case DelPart(pk) =>
            cq(s"DELETE FROM ks.p WHERE pk = $pk")
            statics.remove(pk)
            cells.filterInPlace { case ((p, _), _) => p != pk }
          case InsReg(pk, ck, v) =>
            cq(s"INSERT INTO ks.p (pk, ck, qty) VALUES ($pk, $ck, $v)")
            cells((pk, ck)) = v
        }
        val gotS = cq("SELECT pk, s FROM ks.p")
          .as[(Long, Long)].collect().toMap
        val gotC = cq("SELECT pk, ck, value FROM ks.p " +
          "WHERE col = 'qty' ALLOW FILTERING")
          .as[(Long, Int, Long)].collect()
          .map { case (p, k, v) => (p, k) -> v }.toMap
        gotS == statics.toMap && gotC == cells.toMap
      }
      val res = check(Parameters.default.withMinSuccessfulTests(6), prop)
      assert(res.passed, res.status.toString)
    } finally {
      spark.conf.unset("spark.sql.catalog.cqlsp")
      spark.conf.unset("spark.sql.catalog.cqlsp.root")
    }
  }

  test("WITH compaction = {'class': ...} declares the strategy (C51b)") {
    val root = Files.createTempDirectory("cql-compaction").toString
    spark.conf.set("spark.sql.catalog.cqlcmp", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqlcmp.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqlcmp")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint) " +
        "WITH compaction = {'class': 'LeveledCompactionStrategy'}")
      // DESCRIBE round-trips the declaration (short class accepted)
      val create = cq("DESCRIBE TABLE ks.t").as[String].head()
      assert(create.contains("LeveledCompactionStrategy"), create)
      cq(create.replace("ks.t", "ks.t2"))
      // ALTER switches the strategy; TWCS carries its window
      cq("ALTER TABLE ks.t WITH compaction = " +
        "{'class': 'TimeWindowCompactionStrategy', " +
        "'compaction_window_unit': 'HOURS', " +
        "'compaction_window_size': '6'}")
      val c2 = cq("DESCRIBE TABLE ks.t").as[String].head()
      assert(c2.contains("TimeWindowCompactionStrategy") &&
        c2.contains("'compaction_window_unit': 'HOURS'") &&
        c2.contains("'compaction_window_size': '6'"), c2)
      cq(c2.replace("ks.t", "ks.t3")) // TWCS round-trips too
      // compactDeclared routes by the declared strategy: stcs leaves
      // a cold file alone while merging the hot tier
      cq("CREATE TABLE ks.s (pk bigint, ck int, col text, " +
        "value bigint, wt bigint) " +
        "WITH compaction = {'class': 'SizeTieredCompactionStrategy'}")
      for (i <- 1 to 6)
        cq(s"INSERT INTO ks.s (pk, ck, qty) VALUES ($i, 1, $i)")
      def nFiles: Int = {
        import scala.jdk.CollectionConverters._
        Files.list(java.nio.file.Paths.get(s"$root/ks/s")).iterator()
          .asScala.count(_.toString.endsWith(".cells"))
      }
      val before = nFiles
      val r = graft.sources.CellMaintenance
        .compactDeclared(spark, s"$root/ks/s", maxFiles = 3)
      assert(r.isDefined && r.get._1 === before && r.get._2 < before, r)
      assert(cq("SELECT value FROM ks.s").as[Long].collect().toSet ===
        (1L to 6L).toSet)
      // refusals: unknown class, window options on non-TWCS
      val e1 = intercept[IllegalArgumentException] {
        cq("ALTER TABLE ks.t WITH compaction = " +
          "{'class': 'MagicCompactionStrategy'}")
      }
      assert(e1.getMessage.contains("unknown compaction class"),
        e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        cq("ALTER TABLE ks.t WITH compaction = " +
          "{'class': 'LeveledCompactionStrategy', " +
          "'compaction_window_size': '3'}")
      }
      assert(e2.getMessage.contains("TimeWindow"), e2.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.cqlcmp")
      spark.conf.unset("spark.sql.catalog.cqlcmp.root")
    }
  }

  test("WITH CLUSTERING ORDER BY (ck DESC): declared-order reads (C39c)") {
    val root = Files.createTempDirectory("cql-desc").toString
    spark.conf.set("spark.sql.catalog.cqldesc", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cqldesc.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cqldesc")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint) WITH CLUSTERING ORDER BY (ck DESC)")
      for (c <- 1 to 4)
        cq(s"INSERT INTO ks.t (pk, ck, qty) VALUES (1, $c, ${c * 10})")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (2, 1, 100)")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (2, 2, 200)")
      // implicit reads serve the DECLARED order: partition tail-first
      assert(cq("SELECT ck FROM ks.t WHERE pk = 1")
        .as[Int].collect().toSeq === Seq(4, 3, 2, 1))
      // LIMIT takes the NEWEST rows — the time-series idiom
      assert(cq("SELECT ck FROM ks.t WHERE pk = 1 LIMIT 2")
        .as[Int].collect().toSeq === Seq(4, 3))
      // PER PARTITION LIMIT keeps the LAST n per partition
      assert(cq("SELECT pk, ck FROM ks.t PER PARTITION LIMIT 1")
        .as[(Long, Int)].collect().toSet === Set((1L, 4), (2L, 2)))
      // explicit ORDER BY overrides the declaration
      assert(cq("SELECT ck FROM ks.t WHERE pk = 1 ORDER BY ck ASC")
        .as[Int].collect().toSeq === Seq(1, 2, 3, 4))
      // DESCRIBE round-trips the declaration
      val create = cq("DESCRIBE TABLE ks.t").as[String].head()
      assert(create.contains("CLUSTERING ORDER BY (ck DESC)"), create)
      cq(create.replace("ks.t", "ks.t2"))
      cq("INSERT INTO ks.t2 (pk, ck, qty) VALUES (1, 1, 1)")
      cq("INSERT INTO ks.t2 (pk, ck, qty) VALUES (1, 2, 2)")
      assert(cq("SELECT ck FROM ks.t2 WHERE pk = 1 LIMIT 1")
        .as[Int].head() === 2)
      // ASC is the no-op spelling; typed single-ck tables declare too
      cq("CREATE TABLE ks.a (pk bigint, ck int, col text, " +
        "value bigint, wt bigint) WITH CLUSTERING ORDER BY (ck ASC)")
      cq("CREATE TABLE ks.ty (user text, seq int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((user), seq)) " +
        "WITH CLUSTERING ORDER BY (seq DESC)")
      for (sq <- Seq(1, 2, 3))
        cq(s"INSERT INTO ks.ty (user, seq, qty) VALUES ('u', $sq, $sq)")
      assert(cq("SELECT seq FROM ks.ty WHERE user = 'u' LIMIT 1")
        .as[Int].head() === 3)
      // refusals: a name that is not the clustering column; mixed
      // directions
      val e1 = intercept[IllegalArgumentException] {
        cq("CREATE TABLE ks.b1 (pk bigint, ck int, col text, " +
          "value bigint, wt bigint) WITH CLUSTERING ORDER BY (pk DESC)")
      }
      assert(e1.getMessage.contains("clustering column"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        cq("CREATE TABLE ks.b2 (t text, a bigint, b int, col text, " +
          "value bigint, wt bigint, PRIMARY KEY ((t), a, b)) " +
          "WITH CLUSTERING ORDER BY (a DESC, b ASC)")
      }
      assert(e2.getMessage.contains("mixed"), e2.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.cqldesc")
      spark.conf.unset("spark.sql.catalog.cqldesc.root")
    }
  }

  test("BEGIN BATCH USING TIMESTAMP: the batch-level writetime (C56c)") {
    val d = Files.createTempDirectory("cql-batchts").toString
    Cql.execute(spark, s"INSERT INTO $d (pk, ck, qty) VALUES (0, 0, 1)")
    // every member takes the batch timestamp verbatim
    Cql.execute(spark,
      s"""BEGIN BATCH USING TIMESTAMP 5000
         |INSERT INTO $d (pk, ck, qty) VALUES (1, 1, 10);
         |INSERT INTO $d (pk, ck, price) VALUES (1, 1, 20);
         |APPLY BATCH""".stripMargin)
    assert(Cql.execute(spark,
      s"SELECT WRITETIME(qty) FROM $d WHERE pk = 1 AND ck = 1")
      .as[Long].head() === 5000L)
    assert(Cql.execute(spark,
      s"SELECT WRITETIME(price) FROM $d WHERE pk = 1 AND ck = 1")
      .as[Long].head() === 5000L)
    // a LATER ordinary write shadows the batch-stamped cell
    Cql.execute(spark, s"INSERT INTO $d (pk, ck, qty) VALUES (1, 1, 99)")
    assert(Cql.execute(spark,
      s"SELECT value FROM $d WHERE pk = 1 AND ck = 1 AND col = 'qty' " +
        "ALLOW FILTERING").as[Long].collect().toSeq === Seq(99L))
    // refusals: both batch- and statement-level timestamps; the
    // unlogged form has no shared writetime
    val e1 = intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"""BEGIN BATCH USING TIMESTAMP 6000
           |INSERT INTO $d (pk, ck, qty) VALUES (2, 1, 1) USING TIMESTAMP 7000;
           |APPLY BATCH""".stripMargin)
    }
    assert(e1.getMessage.contains("either on BATCH"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Cql.execute(spark,
        s"""BEGIN UNLOGGED BATCH USING TIMESTAMP 6000
           |INSERT INTO $d (pk, ck, qty) VALUES (2, 1, 1);
           |APPLY BATCH""".stripMargin)
    }
    assert(e2.getMessage.contains("LOGGED"), e2.getMessage)
  }

  // --- prepared statements (bind markers) ---------------------------

  test("prepared statements: bound execution equals the literal form") {
    val d = freshTable()
    // prepared SELECT, bound key
    val p = Cql.prepare(
      s"SELECT pk, ck, col, value FROM $d WHERE pk = ? ORDER BY ck, col")
    assert(p.markers === 1)
    val bound = Cql.execute(spark, p.bind(2L))
      .as[(Long, Int, String, Long)].collect().toSeq
    val lit = Cql.execute(spark,
      s"SELECT pk, ck, col, value FROM $d WHERE pk = 2 ORDER BY ck, col")
      .as[(Long, Int, String, Long)].collect().toSeq
    assert(bound === lit && bound.nonEmpty)
    // prepared INSERT + UPDATE, bound values (incl. LIMIT-style int)
    Cql.executePrepared(spark,
      s"INSERT INTO $d (pk, ck, qty) VALUES (?, ?, ?)", Seq(60L, 1, 7L))
    assert(rows(d).contains((60L, 1, "qty", 7L)))
    Cql.executePrepared(spark,
      s"UPDATE $d SET qty = ? WHERE pk = ? AND ck = ?", Seq(8L, 60L, 1))
    assert(rows(d).contains((60L, 1, "qty", 8L)))
    val lim = Cql.executePrepared(spark,
      s"SELECT pk FROM $d ORDER BY pk, ck, col LIMIT ?", Seq(2))
    assert(lim.count() === 2)
    // the Prepared object is reusable across binds
    assert(Cql.execute(spark, p.bind(60L)).count() === 1)
  }

  test("prepared statements on typed tables; injection stays data") {
    val td = Files.createTempDirectory("cql-prep-typed").toString
    Seq(("u-1", 1, "qty", 10L, 100L))
      .toDF("user", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(td)
    // a hostile bound key: quotes and statement syntax stay DATA
    val evil = "u' OR pk = 1; DROP TABLE t; --"
    Cql.executePrepared(spark,
      s"INSERT INTO $td (user, ck, qty) VALUES (?, ?, ?)",
      Seq(evil, 3, 42L))
    val back = Cql.executePrepared(spark,
      s"SELECT user, ck, value FROM $td WHERE user = ? AND ck = ?",
      Seq(evil, 3)).as[(String, Int, Long)].collect().toSeq
    assert(back === Seq((evil, 3, 42L)))
    // the pre-existing row is untouched (nothing executed as syntax)
    assert(Cql.execute(spark,
      s"SELECT value FROM $td WHERE user = 'u-1' AND ck = 1")
      .as[Long].collect().toSeq === Seq(10L))
  }

  test("prepared statements: marker hygiene") {
    val d = freshTable()
    // '?' inside a string literal is data, not a marker
    val td = Files.createTempDirectory("cql-prep-q").toString
    Seq(("what?", 1, "qty", 1L, 10L))
      .toDF("user", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(td)
    val p = Cql.prepare(s"SELECT value FROM $td WHERE user = 'what?'")
    assert(p.markers === 0)
    assert(Cql.execute(spark, p.bind()).as[Long].collect().toSeq ===
      Seq(1L))
    // arity mismatch fails loudly
    val p1 = Cql.prepare(s"SELECT pk FROM $d WHERE pk = ?")
    val e1 = intercept[IllegalArgumentException] { p1.bind(1L, 2L) }
    assert(e1.getMessage.contains("bind markers"))
    // unpreparable shapes fail at PREPARE time, not first bind
    val e2 = intercept[IllegalArgumentException] {
      Cql.prepare("GRANT ALL ON ks.t TO ?")
    }
    assert(e2.getMessage.contains("cannot prepare"))
    // unbindable value types fail with the type named
    val e3 = intercept[IllegalArgumentException] {
      Cql.prepare(s"SELECT pk FROM $d WHERE pk = ?").bind(Seq(1, 2))
    }
    assert(e3.getMessage.contains("cannot bind"))
  }

  test("prepared statements: named markers (:name) bind by name") {
    val d = freshTable()
    // a repeated name binds ONE value at every occurrence
    val p = Cql.prepare(s"SELECT pk, ck, value FROM $d " +
      "WHERE pk = :key AND ck >= :lo AND ck <= :lo")
    assert(p.markers === 3 && p.markerNames === Seq("key", "lo"))
    val bound = Cql.execute(spark,
        p.bindNamed(Map("key" -> 2L, "lo" -> 1)))
      .as[(Long, Int, Long)].collect().toSeq
    val lit = Cql.execute(spark, s"SELECT pk, ck, value FROM $d " +
        "WHERE pk = 2 AND ck >= 1 AND ck <= 1")
      .as[(Long, Int, Long)].collect().toSeq
    assert(bound === lit && bound.nonEmpty)
    // named INSERT on a typed table; injection-shaped value stays data
    val td = Files.createTempDirectory("cql-prep-named").toString
    Seq(("u-1", 1, "qty", 10L, 100L))
      .toDF("user", "ck", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((user),ck)")
      .option("keyType.user", "string").option("keyType.ck", "int")
      .mode("append").save(td)
    val evil = "u'; DROP TABLE t; --"
    Cql.executePrepared(spark,
      s"INSERT INTO $td (user, ck, qty) VALUES (:u, :c, :q)",
      Map[String, Any]("u" -> evil, "c" -> 5, "q" -> 9L), identity)
    assert(Cql.executePrepared(spark,
        s"SELECT value FROM $td WHERE user = :u AND ck = :c",
        Map[String, Any]("u" -> evil, "c" -> 5), identity)
      .as[Long].collect().toSeq === Seq(9L))
    // hygiene: ':' inside a quoted literal is data, not a marker
    assert(Cql.prepare(
      s"SELECT value FROM $td WHERE user = 'a:b'").markers === 0)
    // mixing styles refuses at prepare time (the drivers' rule)
    val e1 = intercept[IllegalArgumentException] {
      Cql.prepare(s"SELECT pk FROM $d WHERE pk = ? AND ck = :c")
    }
    assert(e1.getMessage.contains("mix"), e1.getMessage)
    // unknown and missing names refuse with the name
    val e2 = intercept[IllegalArgumentException] {
      p.bindNamed(Map("key" -> 1L, "lo" -> 1, "zz" -> 2))
    }
    assert(e2.getMessage.contains("zz"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      p.bindNamed(Map("key" -> 1L))
    }
    assert(e3.getMessage.contains("lo"), e3.getMessage)
    // style cross-calls refuse
    val e4 = intercept[IllegalArgumentException] { p.bind(1L, 2, 3) }
    assert(e4.getMessage.contains("bindNamed"), e4.getMessage)
  }

  // --- per-script writetime allocator -------------------------------

  private def wtsOf(d: String, pk: Long): Map[(Int, String), Long] =
    spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .filter(col("pk") === pk)
      .select("ck", "col", "wt").as[(Int, String, Long)]
      .collect().map { case (ck, c, wt) => ((ck, c), wt) }.toMap

  /** Count Spark jobs submitted by `body`. Job-start events arrive on
    * the async listener bus — poll until the count stabilizes.
    */
  private def countJobs(body: => Unit): Int =
    countEvents(_.isInstanceOf[
      org.apache.spark.scheduler.SparkListenerJobStart])(body)

  private def countSqlExecutions(body: => Unit): Int =
    countEvents(_.isInstanceOf[
      org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart])(body)

  /** The listener events `body` posts that `counted` accepts, read
    * once the count has held still for 100 ms.
    */
  private def countEvents(
      counted: org.apache.spark.scheduler.SparkListenerEvent => Boolean)(
      body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (counted(j)) { n.incrementAndGet(); () }
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (counted(e)) { n.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1
      var cur = n.get
      var spins = 0
      while (cur != prev && spins < 50) {
        Thread.sleep(100); prev = cur; cur = n.get; spins += 1
      }
      cur
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("executeScript resolves the table max ONCE per table") {
    // r15: the timestamp mint is HEADER-served (CellSource.maxWt) —
    // NO Spark job per statement at all. r19: the memtable FLUSH is
    // node-local too (CellSource.localAppend — the driver-local
    // twin of the DSv2 commit), so a default-layout INSERT schedules
    // ZERO Spark jobs whether standalone or scripted; what this pin
    // now protects is that no job sneaks back into the statement
    // path, and that the per-script allocator still mints the same
    // writetime sequence either way.
    val d1 = freshTable()
    val individual = countJobs {
      Cql.execute(spark, s"INSERT INTO $d1 (pk, ck, qty) VALUES (70, 1, 1)")
      Cql.execute(spark, s"INSERT INTO $d1 (pk, ck, qty) VALUES (70, 2, 2)")
      Cql.execute(spark, s"INSERT INTO $d1 (pk, ck, qty) VALUES (70, 3, 3)")
    }
    val d2 = freshTable()
    val scripted = countJobs {
      Cql.executeScript(spark,
        s"""INSERT INTO $d2 (pk, ck, qty) VALUES (70, 1, 1);
           |INSERT INTO $d2 (pk, ck, qty) VALUES (70, 2, 2);
           |INSERT INTO $d2 (pk, ck, qty) VALUES (70, 3, 3)""".stripMargin)
    }
    assert(individual === 0,
      s"a default-layout INSERT must not schedule jobs, got $individual")
    assert(scripted === 0,
      s"a buffered script flush must not schedule jobs, got $scripted")
    // identical writetime sequence either way: max(100) + 1, 2, 3 —
    // so in-script statement order still shadows correctly
    assert(wtsOf(d2, 70L) ===
      Map((1, "qty") -> 101L, (2, "qty") -> 102L, (3, "qty") -> 103L))
    assert(wtsOf(d1, 70L) ===
      Map((1, "qty") -> 101L, (2, "qty") -> 102L, (3, "qty") -> 103L))
  }

  test("single-partition SELECTs read driver-local: zero Spark jobs " +
      "on both key layouts, the reconcile scan's rows") {
    val root = Files.createTempDirectory("cql-zjob").toString
    spark.conf.set("spark.sql.catalog.zjcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.zjcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "zjcat")
      def plan(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.toString
      cq("CREATE KEYSPACE ks")
      Seq(("d", "pk", "bigint", 5L: Any, "5", "6"),
          ("u", "user", "text", "u-5": Any, "'u-5'", "'u-6'")).foreach {
        case (t, kc, kt, kv, k, other) =>
          val tn = s"ks.$t"
          cq(s"CREATE TABLE $tn ($kc $kt, ck int, col text, " +
            s"value bigint, wt bigint, PRIMARY KEY (($kc), ck))")
          // one flush file per statement: an overwrite, a row DELETE,
          // a TTL'd cell, a later update, another partition
          Seq(s"INSERT INTO $tn ($kc, ck, qty) VALUES ($k, 1, 1)",
            s"INSERT INTO $tn ($kc, ck, qty) VALUES ($k, 1, 2)",
            s"INSERT INTO $tn ($kc, ck, qty) VALUES ($k, 2, 3)",
            s"DELETE FROM $tn WHERE $kc = $k AND ck = 2",
            s"INSERT INTO $tn ($kc, ck, price) VALUES ($k, 3, 4) " +
              "USING TTL 1",
            s"UPDATE $tn SET price = 6 WHERE $kc = $k AND ck = 1",
            s"INSERT INTO $tn ($kc, ck, qty) VALUES ($other, 1, 9)")
            .foreach(cq)
          val dir = s"$root/ks/$t"
          assert(new java.io.File(dir).listFiles()
            .count(_.getName.endsWith(".cells")) >= 7, t)
          def reference(ck: Option[Int]) = {
            val r = spark.read.format("graft.sources.CellSource")
              .option("reconcile", "true").load(dir)
              .filter(col(kc) === lit(kv))
            ck.fold(r)(c => r.filter(col("ck") === c))
              .select("ck", "col", "value").collect()
              .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
          }
          var part: org.apache.spark.sql.DataFrame = null
          var partRows = Set.empty[(Int, String, Long)]
          val partJobs = countJobs {
            part = cq(s"SELECT ck, col, value FROM $tn WHERE $kc = $k")
            partRows = part.collect()
              .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
          }
          assert(partJobs === 0, s"$t partition SELECT")
          assert(partRows === reference(None), t)
          assert(partRows ===
            Set((1, "qty", 2L), (1, "price", 6L), (3, "price", 4L)), t)
          assert(!plan(part).contains("CellReconcileScan"), plan(part))
          var rowRows = Set.empty[(Int, String, Long)]
          val rowJobs = countJobs {
            rowRows = cq(s"SELECT ck, col, value FROM $tn " +
                s"WHERE $kc = $k AND ck = 1").collect()
              .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
          }
          assert(rowJobs === 0, s"$t row SELECT")
          assert(rowRows === reference(Some(1)), t)
          // the withTtl option reaches the local read
          var ttl = Seq.empty[Any]
          val ttlJobs = countJobs {
            ttl = cq(s"SELECT TTL(price) AS t FROM $tn " +
              s"WHERE $kc = $k AND ck = 3").collect().map(_.get(0)).toSeq
          }
          assert(ttlJobs === 0, s"$t TTL SELECT")
          assert(ttl === Seq(1L), t)
          // forms needing an operator above the scan, or not binding
          // the partition, keep the cell scan
          val ordered = cq(s"SELECT ck, col, value FROM $tn " +
            s"WHERE $kc = $k ORDER BY ck")
          assert(plan(ordered).contains("CellReconcileScan"), t)
          assert(ordered.collect().map(_.getInt(0)).toSeq === Seq(1, 1, 3))
          val filtered = cq(s"SELECT ck, col FROM $tn WHERE value = 9 " +
            "ALLOW FILTERING")
          assert(plan(filtered).contains("CellReconcileScan"), t)
          assert(filtered.collect().map(r => (r.getInt(0), r.getString(1)))
            .toSeq === Seq((1, "qty")), t)
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.zjcat")
      spark.conf.unset("spark.sql.catalog.zjcat.root")
    }
  }

  test("CQL writes flush driver-local: zero Spark jobs on both key " +
      "layouts for INSERT, UPDATE, DELETE and both BATCH kinds") {
    val root = Files.createTempDirectory("cql-zjw").toString
    spark.conf.set("spark.sql.catalog.zwcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.zwcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "zwcat")
      cq("CREATE KEYSPACE ks")
      Seq(("d", "pk", "bigint", "5", "6"),
          ("u", "user", "text", "'u-5'", "'u-6'")).foreach {
        case (t, kc, kt, k, k2) =>
          val tn = s"ks.$t"
          cq(s"CREATE TABLE $tn ($kc $kt, ck int, col text, " +
            s"value bigint, wt bigint, PRIMARY KEY (($kc), ck))")
          def part(key: String): Set[(Int, String, Long)] =
            cq(s"SELECT ck, col, value FROM $tn WHERE $kc = $key")
              .collect()
              .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
          def step(what: String, stmt: String,
              key: String = k)(want: Set[(Int, String, Long)]): Unit = {
            val jobs = countJobs(cq(stmt))
            assert(jobs === 0, s"$t $what scheduled $jobs Spark jobs")
            assert(part(key) === want, s"$t $what")
          }
          step("INSERT",
            s"INSERT INTO $tn ($kc, ck, qty) VALUES ($k, 1, 1)")(
            Set((1, "qty", 1L)))
          step("INSERT", s"INSERT INTO $tn ($kc, ck, qty) VALUES " +
            s"($k2, 1, 9)", k2)(Set((1, "qty", 9L)))
          step("UPDATE", s"UPDATE $tn SET qty = 2, price = 5 " +
            s"WHERE $kc = $k AND ck = 2")(
            Set((1, "qty", 1L), (2, "qty", 2L), (2, "price", 5L)))
          step("cell DELETE",
            s"DELETE price FROM $tn WHERE $kc = $k AND ck = 2")(
            Set((1, "qty", 1L), (2, "qty", 2L)))
          step("row DELETE",
            s"DELETE FROM $tn WHERE $kc = $k AND ck = 2")(
            Set((1, "qty", 1L)))
          step("partition DELETE", s"DELETE FROM $tn WHERE $kc = $k2",
            k2)(Set.empty)
          step("logged BATCH", "BEGIN BATCH " +
            s"INSERT INTO $tn ($kc, ck, qty) VALUES ($k, 3, 3); " +
            s"UPDATE $tn SET price = 7 WHERE $kc = $k AND ck = 1; " +
            s"INSERT INTO $tn ($kc, ck, qty) VALUES ($k2, 2, 8); " +
            s"DELETE FROM $tn WHERE $kc = $k2 AND ck = 2 " +
            "APPLY BATCH")(
            Set((1, "qty", 1L), (1, "price", 7L), (3, "qty", 3L)))
          assert(part(k2) === Set.empty, s"$t batch row DELETE")
          step("UNLOGGED BATCH", "BEGIN UNLOGGED BATCH " +
            s"INSERT INTO $tn ($kc, ck, qty) VALUES ($k, 4, 4); " +
            s"DELETE qty FROM $tn WHERE $kc = $k AND ck = 3 " +
            "APPLY BATCH")(
            Set((1, "qty", 1L), (1, "price", 7L), (4, "qty", 4L)))
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.zwcat")
      spark.conf.unset("spark.sql.catalog.zwcat.root")
    }
  }

  test("point SELECT shapes equal the reconcile scan's schema and rows " +
      "on both key layouts and both clustering orders, zero Spark jobs") {
    val root = Files.createTempDirectory("cql-pread").toString
    spark.conf.set("spark.sql.catalog.prcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.prcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "prcat")
      def runZeroJobs(stmt: String)
          : (org.apache.spark.sql.types.StructType,
            Seq[org.apache.spark.sql.Row]) = {
        var out: (org.apache.spark.sql.types.StructType,
          Seq[org.apache.spark.sql.Row]) = null
        val jobs = countJobs {
          val df = cq(stmt)
          out = (df.schema, df.collect().toSeq)
        }
        assert(jobs === 0, s"$stmt scheduled $jobs Spark jobs")
        out
      }
      cq("CREATE KEYSPACE ks")
      Seq(("d", "pk", "bigint", 5L: Any, "5", "6", false),
          ("u", "user", "text", "u-5": Any, "'u-5'", "'u-6'", false),
          ("dd", "pk", "bigint", 5L: Any, "5", "6", true),
          ("ud", "user", "text", "u-5": Any, "'u-5'", "'u-6'", true))
        .foreach { case (t, kc, kt, kv, k, other, desc) =>
          val tn = s"ks.$t"
          cq(s"CREATE TABLE $tn ($kc $kt, ck int, col text, " +
            s"value bigint, wt bigint, PRIMARY KEY (($kc), ck))" +
            (if (desc) " WITH CLUSTERING ORDER BY (ck DESC)" else ""))
          // one logged batch is one flush file, so ck 1..6 share a
          // chunk and a ck range cuts inside it; then one flush file
          // per statement: an overwrite, a row DELETE, a later update
          // and another partition
          cq((1 to 6).map(c => s"INSERT INTO $tn ($kc, ck, qty) " +
            s"VALUES ($k, $c, ${c * 10})")
            .mkString("BEGIN BATCH\n", ";\n", ";\nAPPLY BATCH"))
          Seq(s"INSERT INTO $tn ($kc, ck, qty) VALUES ($k, 2, 21)",
            s"DELETE FROM $tn WHERE $kc = $k AND ck = 4",
            s"UPDATE $tn SET price = 7 WHERE $kc = $k AND ck = 3",
            s"INSERT INTO $tn ($kc, ck, qty) VALUES ($other, 1, 9)")
            .foreach(cq)
          val dir = s"$root/ks/$t"
          assert(new java.io.File(dir).listFiles()
            .count(_.getName.endsWith(".cells")) >= 5, t)
          def reference(ckPred: Option[org.apache.spark.sql.Column],
              proj: Seq[org.apache.spark.sql.Column], lim: Option[Int]) = {
            val rd = spark.read.format("graft.sources.CellSource")
              .option("reconcile", "true")
            var r = (if (desc) rd.option("reverse", "true") else rd)
              .load(dir).filter(col(kc) === lit(kv))
            ckPred.foreach(p => r = r.filter(p))
            if (proj.nonEmpty) r = r.select(proj: _*)
            val df = lim.fold(r)(r.limit)
            (df.schema, df.collect().toSeq)
          }
          val KC = kc.toUpperCase
          Seq(
            (s"SELECT * FROM $tn WHERE $kc = $k", None, Nil, None),
            (s"SELECT $KC, CK, Col AS c2, VALUE FROM $tn " +
              s"WHERE $kc = $k LIMIT 2", None,
              Seq(col(KC), col("CK"), col("Col").as("c2"), col("VALUE")),
              Some(2)),
            (s"SELECT * FROM $tn WHERE $kc = $k LIMIT 3", None, Nil,
              Some(3)),
            (s"SELECT col, value, wt FROM $tn WHERE $kc = $k AND ck = 3",
              Some(col("ck") === 3),
              Seq(col("col"), col("value"), col("wt")), None),
            (s"SELECT ck AS c, value FROM $tn WHERE $kc = $k " +
              "AND ck IN (1, 4, 5, 9)", Some(col("ck").isin(1, 4, 5, 9)),
              Seq(col("ck").as("c"), col("value")), None),
            (s"SELECT ck, col, value FROM $tn WHERE $KC = $k " +
              "AND CK > 1 AND CK <= 5",
              Some(col("ck") > 1 && col("ck") <= 5),
              Seq(col("ck"), col("col"), col("value")), None),
            (s"SELECT * FROM $tn WHERE $kc = $k AND ck >= 2 AND ck < 6 " +
              "LIMIT 2", Some(col("ck") >= 2 && col("ck") < 6), Nil,
              Some(2))
          ).foreach { case (stmt, ckPred, proj, lim) =>
            val got = runZeroJobs(stmt)
            assert(got === reference(ckPred, proj, lim), stmt)
          }
          // the rows themselves: declared order, LIMIT, the overwrite,
          // the row DELETE and the ck range cut inside the batch chunk
          val (sch, top2) = runZeroJobs(s"SELECT $KC, CK, Col AS c2, " +
            s"VALUE FROM $tn WHERE $kc = $k LIMIT 2")
          assert(sch.fieldNames.toSeq === Seq(KC, "CK", "c2", "VALUE"))
          assert(top2.map(r => (r.get(0), r.getInt(1), r.getString(2),
            r.getLong(3))) === (if (desc)
              Seq((kv, 6, "qty", 60L), (kv, 5, "qty", 50L))
            else Seq((kv, 1, "qty", 10L), (kv, 2, "qty", 21L))), t)
          val range = runZeroJobs(s"SELECT ck, col, value FROM $tn " +
            s"WHERE $kc = $k AND ck > 1 AND ck <= 5")._2
            .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
          val asc = Seq((2, "qty", 21L), (3, "price", 7L), (3, "qty", 30L),
            (5, "qty", 50L))
          assert(range === (if (desc)
            Seq((5, "qty", 50L), (3, "price", 7L), (3, "qty", 30L),
              (2, "qty", 21L))
          else asc), t)
        }
      // a range on a LATER clustering part is no slice the scan can
      // push (only the first part's is), so the read re-applies it
      // row by row: ints numerically, text in UTF-8 byte order
      // (Spark's string order) — U+FF21 sorts before a supplementary
      // character, though UTF-16 code units order them the other way
      cq("CREATE TABLE ks.tx (user text, a int, name text, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((user), a, name))")
      cq("CREATE TABLE ks.tn (user text, a text, n int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((user), a, n))")
      cq((for (a <- Seq(1, 2); (n, i) <- Seq("a", "b", "Ａ", "😀")
          .zipWithIndex) yield s"INSERT INTO ks.tx (user, a, name, qty) " +
          s"VALUES ('x', $a, '$n', ${a * 10 + i})")
        .mkString("BEGIN BATCH\n", ";\n", ";\nAPPLY BATCH"))
      cq((for (a <- Seq("p", "q"); n <- 1 to 5) yield
          s"INSERT INTO ks.tn (user, a, n, qty) VALUES ('x', '$a', $n, $n)")
        .mkString("BEGIN BATCH\n", ";\n", ";\nAPPLY BATCH"))
      Seq(
        ("SELECT a, name, value FROM ks.tx WHERE user = 'x' AND a = 1 " +
          "AND name > 'a' AND name <= 'Ａ' ALLOW FILTERING", "tx",
          col("a") === 1 && col("name") > "a" && col("name") <= "Ａ",
          Seq("a", "name", "value"), Seq(Seq(1, "b", 11L), Seq(1, "Ａ", 12L))),
        ("SELECT n, value FROM ks.tn WHERE user = 'x' AND a = 'p' " +
          "AND n > 1 AND n < 4 ALLOW FILTERING", "tn",
          col("a") === "p" && col("n") > 1 && col("n") < 4,
          Seq("n", "value"), Seq(Seq(2, 2L), Seq(3, 3L)))
      ).foreach { case (stmt, t, pred, proj, want) =>
        val got = runZeroJobs(stmt)
        val ref = spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/$t")
          .filter(col("user") === "x" && pred)
          .select(proj.map(col): _*)
        assert(got === ((ref.schema, ref.collect().toSeq)), stmt)
        assert(got._2.map(_.toSeq) === want, stmt)
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.prcat")
      spark.conf.unset("spark.sql.catalog.prcat.root")
    }
  }

  test("LWT results: one [applied] row whose current column takes the " +
      "value's type, on every scalar value type and a conditional BATCH") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("cql-lwtres").toString
    spark.conf.set("spark.sql.catalog.lrcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.lrcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "lrcat")
      def check(stmt: String, dt: DataType, applied: Boolean,
          current: Any): Unit = {
        val df = cq(stmt)
        assert(df.schema === StructType(Seq(
          StructField("[applied]", BooleanType, nullable = false),
          StructField("current", dt, nullable = true))), stmt)
        val rows = df.collect()
        assert(rows.length === 1, stmt)
        assert(rows.head.getBoolean(0) === applied, stmt)
        (rows.head.get(1), current) match {
          case (g: Array[Byte], w: Array[Byte]) =>
            assert(g.toSeq === w.toSeq, stmt)
          case (g, w) => assert(g === w, stmt)
        }
      }
      def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
      def dec(s: String) = new java.math.BigDecimal(s)
      cq("CREATE KEYSPACE ks")
      Seq(
        ("bi", "bigint", LongType, "1", 1L, "2", 2L),
        ("tx", "text", StringType, "'a'", "a", "'b'", "b"),
        ("it", "int", IntegerType, "1", 1, "2", 2),
        ("db", "double", DoubleType, "1.5", 1.5, "2.5", 2.5),
        ("bo", "boolean", BooleanType, "false", false, "true", true),
        ("de", "decimal", DecimalType(38, 18), "1.5",
          dec("1.500000000000000000"), "2.25", dec("2.250000000000000000")),
        ("ts", "timestamp", TimestampType, "'2020-06-01T12:00:00Z'",
          ts("2020-06-01T12:00:00Z"), "'2021-01-01T00:00:00Z'",
          ts("2021-01-01T00:00:00Z")),
        ("bl", "blob", BinaryType, "0x0a0b", Array[Byte](10, 11), "0xff01",
          Array[Byte](-1, 1))
      ).foreach { case (t, decl, dt, l1, v1, l2, v2) =>
        cq(s"CREATE TABLE ks.$t (pk bigint, ck int, col text, " +
          s"value $decl, wt bigint)")
        // IF NOT EXISTS on an absent cell applies and reports no value
        // (a null bigint); on a live cell it reports the winner
        check(s"INSERT INTO ks.$t (pk, ck, v) VALUES (1, 1, $l1) " +
          "IF NOT EXISTS", LongType, true, null)
        check(s"INSERT INTO ks.$t (pk, ck, v) VALUES (1, 1, $l2) " +
          "IF NOT EXISTS", dt, false, v1)
        // UPDATE ... IF reports the value the condition saw
        check(s"UPDATE ks.$t SET v = $l2 WHERE pk = 1 AND ck = 1 " +
          s"IF v = $l1", dt, true, v1)
        check(s"UPDATE ks.$t SET v = $l1 WHERE pk = 1 AND ck = 1 " +
          s"IF v = $l1", dt, false, v2)
      }
      // a conditional BATCH: applied reports nothing, a miss reports
      // the condition column's winner
      check("BEGIN BATCH\nUPDATE ks.bi SET v = 3 WHERE pk = 1 AND " +
        "ck = 1 IF v = 2;\nINSERT INTO ks.bi (pk, ck, w) VALUES " +
        "(1, 1, 4);\nAPPLY BATCH", LongType, true, null)
      check("BEGIN BATCH\nUPDATE ks.bi SET v = 5 WHERE pk = 1 AND " +
        "ck = 1 IF v = 2;\nAPPLY BATCH", LongType, false, 3L)
      assert(cq("SELECT col, value FROM ks.bi WHERE pk = 1 AND ck = 1")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
        Set(("v", 3L), ("w", 4L)))
    } finally {
      spark.conf.unset("spark.sql.catalog.lrcat")
      spark.conf.unset("spark.sql.catalog.lrcat.root")
    }
  }

  /** `df`'s `collect()` and `collectAsList()` against Spark's own
    * collect of the same plan: the rows in order, the Java class of
    * every value, and the column names, types and nullability.
    */
  private def assertCollectsAsSpark(df: org.apache.spark.sql.DataFrame,
      what: String): Unit = {
    import scala.jdk.CollectionConverters._
    val ref = Bridge.ofRows(spark, df.queryExecution.logical)
    assert(df.schema === ref.schema, what)
    val want = ref.collect().toSeq
    Seq(df.collect().toSeq, df.collectAsList().asScala.toSeq).foreach {
      got =>
        assert(got.length === want.length, what)
        got.zip(want).foreach { case (g, w) =>
          assert(g.schema === w.schema, what)
          assert(g.length === w.length, what)
          (0 until g.length).foreach { i =>
            val (a, b) = (g.get(i), w.get(i))
            assert(Option(a).map(_.getClass) === Option(b).map(_.getClass),
              s"$what: column $i")
            (a, b) match {
              case (x: Array[Byte], y: Array[Byte]) =>
                assert(x.toSeq === y.toSeq, s"$what: column $i")
              case _ => assert(a === b, s"$what: column $i")
            }
          }
        }
    }
  }

  test("CQL result frames collect exactly as Spark does, with no SQL " +
      "execution, on both key layouts") {
    import org.apache.spark.sql.graftbridge.ResultFrame
    val root = Files.createTempDirectory("cql-rframe").toString
    spark.conf.set("spark.sql.catalog.rfcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.rfcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "rfcat")
      // the statement's result collects as Spark would, and its
      // collect() posts no SQL execution
      def pinned(stmt: String): Seq[org.apache.spark.sql.Row] = {
        val df = cq(stmt)
        assert(df.isInstanceOf[ResultFrame], stmt)
        var rows = Seq.empty[org.apache.spark.sql.Row]
        assert(countSqlExecutions { rows = df.collect().toSeq } === 0, stmt)
        assertCollectsAsSpark(df, stmt)
        rows
      }
      cq("CREATE KEYSPACE ks")
      Seq(("pk", "bigint", "1", "2"), ("user", "text", "'u-1'", "'u-2'"))
        .foreach { case (kc, kt, k, other) =>
          // LWT on typed layouts conditions bigint cells only
          Seq(
            ("bi", "bigint", "1", "2"),
            ("tx", "text", "'a'", "'b'"),
            ("it", "int", "1", "2"),
            ("db", "double", "1.5", "2.5"),
            ("bo", "boolean", "false", "true"),
            ("de", "decimal", "1.5", "2.25"),
            ("ts", "timestamp", "'2020-06-01T12:00:00Z'",
              "'2021-01-01T00:00:00Z'"),
            ("bl", "blob", "0x0a0b", "0xff01")
          ).filter(t => kt == "bigint" || t._2 == "bigint").foreach {
            case (v, decl, l1, l2) =>
              val tn = s"ks.${v}_$kt"
              cq(s"CREATE TABLE $tn ($kc $kt, ck int, col text, " +
                s"value $decl, wt bigint" +
                (if (kt == "text") s", PRIMARY KEY (($kc), ck))" else ")"))
              // an absent cell: applied, current is a null bigint
              val absent = pinned(s"INSERT INTO $tn ($kc, ck, v) " +
                s"VALUES ($k, 1, $l1) IF NOT EXISTS")
              assert(absent.map(_.toSeq) === Seq(Seq(true, null)), tn)
              // a live cell: the winner, typed by the value
              val live = pinned(s"INSERT INTO $tn ($kc, ck, v) " +
                s"VALUES ($k, 1, $l2) IF NOT EXISTS")
              assert(live.map(_.getBoolean(0)) === Seq(false), tn)
              assert(live.head.get(1) != null, tn)
              pinned(s"UPDATE $tn SET v = $l2 WHERE $kc = $k AND ck = 1 " +
                s"IF v = $l1")
          }
          val tn = s"ks.r_$kt"
          cq(s"CREATE TABLE $tn ($kc $kt, ck int, col text, " +
            s"value bigint, wt bigint" +
            (if (kt == "text") s", PRIMARY KEY (($kc), ck))" else ")"))
          // a write's result is the session's one empty frame
          Seq(s"INSERT INTO $tn ($kc, ck, qty, price) VALUES ($k, 1, 1, 5)",
            s"INSERT INTO $tn ($kc, ck, qty) VALUES ($k, 2, 2)",
            s"UPDATE $tn SET qty = 3 WHERE $kc = $k AND ck = 3",
            s"DELETE price FROM $tn WHERE $kc = $k AND ck = 1")
            .foreach(stmt => assert(pinned(stmt).isEmpty, stmt))
          assert(cq(s"INSERT INTO $tn ($kc, ck, qty) VALUES ($k, 4, 4)") eq
            cq(s"DELETE FROM $tn WHERE $kc = $k AND ck = 4"), tn)
          val KC = kc.toUpperCase
          Seq(s"SELECT * FROM $tn WHERE $kc = $k",
            s"SELECT ck, col, value FROM $tn WHERE $kc = $k",
            s"SELECT $KC, CK AS c, col AS name, value FROM $tn " +
              s"WHERE $kc = $k",
            s"SELECT * FROM $tn WHERE $kc = $k LIMIT 2",
            s"SELECT ck, value FROM $tn WHERE $kc = $k AND ck = 2",
            s"SELECT * FROM $tn WHERE $kc = $other",
            s"SELECT ck AS c FROM $tn WHERE $kc = $other LIMIT 1")
            .foreach(pinned)
          assert(pinned(s"SELECT * FROM $tn WHERE $kc = $k").length === 3)
          assert(pinned(s"SELECT * FROM $tn WHERE $kc = $k LIMIT 2")
            .map(_.getAs[Int]("ck")) === Seq(1, 2))
          assert(pinned(s"SELECT * FROM $tn WHERE $kc = $other").isEmpty)
          // a result composes like any DataFrame
          val part = cq(s"SELECT ck, col, value FROM $tn WHERE $kc = $k")
          assert(part.count() === 3)
          assert(part.filter(col("ck") > 1).select(col("value") * 10)
            .collect().map(_.getLong(0)).sorted.toSeq === Seq(20L, 30L))
          assert(part.filter(col("col") === "qty").count() === 3)
          val shown = new java.io.ByteArrayOutputStream
          Console.withOut(shown)(part.show())
          assert(shown.toString.contains("| ck|col|value|"), shown.toString)
          val lwt = cq(s"UPDATE $tn SET qty = 9 WHERE $kc = $k AND ck = 1 " +
            "IF qty = 1")
          assert(lwt.filter(col("`[applied]`")).select("current")
            .collect().map(_.getLong(0)).toSeq === Seq(1L))
          assert(cq(s"INSERT INTO $tn ($kc, ck, qty) VALUES ($k, 5, 5)")
            .count() === 0)
        }
    } finally {
      spark.conf.unset("spark.sql.catalog.rfcat")
      spark.conf.unset("spark.sql.catalog.rfcat.root")
    }
  }

  test("one-partition compactions rewrite on the driver: zero Spark " +
      "jobs, the job route's raw cells, for compact and a tiered pass") {
    import graft.sources.CellMaintenance
    val root = Files.createTempDirectory("cql-cmp").toString
    spark.conf.set("spark.sql.catalog.cmcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cmcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cmcat")
      val src = "graft.sources.CellSource"
      // every raw record with its absolute expiry, markers included
      def raw(dir: String, kc: String, kv: Any): Seq[String] =
        spark.read.format(src).option("withTtl", "true").load(dir)
          .filter(col(kc) === lit(kv)).collect()
          .map(_.toSeq.mkString("|")).toSeq.sorted
      def reconcilePartitions(dir: String): Int =
        spark.read.format(src).option("reconcile", "true")
          .option("keepMarkers", "true").option("withTtl", "true")
          .load(dir).rdd.getNumPartitions
      cq("CREATE KEYSPACE ks")
      Seq(("d", "pk", "bigint", "bigint", 5L: Any, "5"),
          ("u", "user", "text", "bigint", "u-5": Any, "'u-5'"),
          ("c", "pk", "bigint", "counter", 5L: Any, "5")).foreach {
        case (t, kc, kt, vt, kv, k) =>
          // twins: `t` holds one partition; `t_big` the same statements
          // plus one bulk write of 70,000 records in other partitions,
          // more than one sub-split, so its rewrite is a Spark job
          val twins = Seq("", "_big").map(s => s"$t$s")
          twins.foreach(n => cq(s"CREATE TABLE ks.$n ($kc $kt, ck int, " +
            s"col text, value $vt, wt bigint, PRIMARY KEY (($kc), ck))"))
          def fill(n: String): Unit = (if (vt == "counter") Seq(
              s"UPDATE ks.$n SET hits = hits + 5 WHERE $kc = $k AND ck = 1",
              s"UPDATE ks.$n SET hits = hits + 3 WHERE $kc = $k AND ck = 1",
              s"UPDATE ks.$n SET hits = hits + 7 WHERE $kc = $k AND ck = 2",
              s"DELETE FROM ks.$n WHERE $kc = $k AND ck = 2",
              s"UPDATE ks.$n SET hits = hits - 2 WHERE $kc = $k AND ck = 1",
              s"UPDATE ks.$n SET hits = hits + 4 WHERE $kc = $k AND ck = 3")
            else Seq(
              s"INSERT INTO ks.$n ($kc, ck, qty) VALUES ($k, 1, 1)",
              s"INSERT INTO ks.$n ($kc, ck, qty) VALUES ($k, 1, 2)",
              s"INSERT INTO ks.$n ($kc, ck, price) VALUES ($k, 2, 3) " +
                "USING TTL 100000",
              s"DELETE FROM ks.$n WHERE $kc = $k AND ck = 1",
              s"UPDATE ks.$n USING TTL 50000 SET qty = 4 " +
                s"WHERE $kc = $k AND ck = 3",
              s"DELETE price FROM ks.$n WHERE $kc = $k AND ck = 3",
              s"INSERT INTO ks.$n ($kc, ck, qty) VALUES ($k, 4, 6)"))
            .foreach(cq)
          def bulk(n: String): Unit = {
            val key = if (kt == "text") concat(lit("b-"), col("id"))
              else col("id") + 1000L
            spark.range(70000).select(key.as(kc),
                (col("id") % 7).cast("int").as("ck"),
                lit("qty").as("col"), col("id").as("value"),
                lit(1L).as("wt"))
              .coalesce(1).write.format(src).mode("append")
              .save(s"$root/ks/$n")
          }
          // major compaction (no declared strategy: count-triggered)
          twins.foreach(fill)
          bulk(s"${t}_big")
          val dir = s"$root/ks/$t"
          val big = s"$root/ks/${t}_big"
          assert(reconcilePartitions(dir) === 1, t)
          assert(reconcilePartitions(big) >= 2, t)
          var out: Option[(Int, Int)] = None
          val jobs = countJobs {
            out = CellMaintenance.compactDeclared(spark, dir)
          }
          assert(jobs === 0, s"$t compaction scheduled $jobs Spark jobs")
          assert(out.map(_._2) === Some(1), t)
          assert(countJobs(CellMaintenance.compactDeclared(spark, big)) > 0)
          val compacted = raw(dir, kc, kv)
          assert(compacted.nonEmpty, t)
          assert(compacted === raw(big, kc, kv), t)
          // the flush indices stay monotonic: the one new generation
          // lands above every replaced file
          assert(new java.io.File(dir).list().filter(_.endsWith(".cells"))
            .toSeq === Seq(f"data-${out.get._1}%04d.cells"), t)
          // a tiered pass: more statements, then one size bucket
          // holding every file, so the tier is the whole table
          twins.foreach(fill)
          bulk(s"${t}_big")
          assert(reconcilePartitions(dir) === 1, t)
          assert(reconcilePartitions(big) >= 2, t)
          var tier: Option[(Seq[String], Int, Int)] = None
          val tierJobs = countJobs {
            tier = CellMaintenance.compactTiered(spark, dir,
              bucketHigh = Double.MaxValue)
          }
          assert(tierJobs === 0, s"$t tiered pass scheduled $tierJobs jobs")
          assert(tier.map(_._3) === Some(1), t)
          assert(countJobs(CellMaintenance.compactTiered(spark, big,
            bucketHigh = Double.MaxValue)) > 0)
          assert(raw(dir, kc, kv) === raw(big, kc, kv), t)
          // the reconciled partition reads as before the passes
          val read = cq(s"SELECT ck, col, value FROM ks.$t WHERE $kc = $k")
            .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
            .toSet
          assert(read === (if (vt == "counter")
            Set((1, "hits", 12L), (3, "hits", 8L))
          else Set((2, "price", 3L), (3, "qty", 4L), (4, "qty", 6L))), t)
      }
    } finally {
      spark.conf.unset("spark.sql.catalog.cmcat")
      spark.conf.unset("spark.sql.catalog.cmcat.root")
    }
  }

  test("script allocator: later statements shadow earlier ones") {
    val d = freshTable()
    Cql.executeScript(spark,
      s"""INSERT INTO $d (pk, ck, qty) VALUES (71, 1, 5);
         |DELETE FROM $d WHERE pk = 71 AND ck = 1;
         |INSERT INTO $d (pk, ck, qty) VALUES (71, 1, 6)""".stripMargin)
    // delete (wt 102) shadows the first insert (101); the re-insert
    // (103) survives the delete — Cassandra's rewrite rule
    assert(rows(d).filter(_._1 == 71L) === Set((71L, 1, "qty", 6L)))
  }

  test("script allocator invalidates on explicit USING TIMESTAMP") {
    val d = freshTable()
    Cql.executeScript(spark,
      s"""INSERT INTO $d (pk, ck, qty) VALUES (72, 1, 1);
         |INSERT INTO $d (pk, ck, qty) VALUES (72, 2, 2) USING TIMESTAMP 500;
         |INSERT INTO $d (pk, ck, qty) VALUES (72, 3, 3)""".stripMargin)
    // the explicit ts moved the table max outside the local counter's
    // view — the third statement re-resolves to 501, NOT 102
    assert(wtsOf(d, 72L) ===
      Map((1, "qty") -> 101L, (2, "qty") -> 500L, (3, "qty") -> 501L))
  }

  test("script allocator invalidates after an LWT statement") {
    val d = freshTable()
    Cql.executeScript(spark,
      s"""INSERT INTO $d (pk, ck, qty) VALUES (73, 1, 1) IF NOT EXISTS;
         |INSERT INTO $d (pk, ck, qty) VALUES (73, 2, 2)""".stripMargin)
    // the CAS resolved its own wt (101) internally; the follower must
    // continue PAST it, not reuse the stale pre-LWT counter
    assert(wtsOf(d, 73L) ===
      Map((1, "qty") -> 101L, (2, "qty") -> 102L))
  }

  test("script allocator invalidates after logged and unlogged BATCH") {
    val d = freshTable()
    Cql.executeScript(spark,
      s"""BEGIN BATCH
         |  INSERT INTO $d (pk, ck, qty) VALUES (74, 1, 1);
         |  INSERT INTO $d (pk, ck, qty) VALUES (74, 2, 2);
         |APPLY BATCH;
         |INSERT INTO $d (pk, ck, qty) VALUES (74, 3, 3)""".stripMargin)
    // the batch's shared wt (101) moved the max; the follower is 102
    assert(wtsOf(d, 74L) ===
      Map((1, "qty") -> 101L, (2, "qty") -> 101L, (3, "qty") -> 102L))
    val d2 = freshTable()
    Cql.executeScript(spark,
      s"""BEGIN UNLOGGED BATCH
         |  INSERT INTO $d2 (pk, ck, qty) VALUES (75, 1, 1);
         |  INSERT INTO $d2 (pk, ck, qty) VALUES (75, 2, 2);
         |APPLY BATCH;
         |INSERT INTO $d2 (pk, ck, qty) VALUES (75, 3, 3)""".stripMargin)
    // unlogged: per-statement wts 101, 102 (each its own), then 103
    assert(wtsOf(d2, 75L) ===
      Map((1, "qty") -> 101L, (2, "qty") -> 102L, (3, "qty") -> 103L))
  }

  test("re-entrant executeScript shares the outer script's counters") {
    val d = freshTable()
    var calls = 0
    val res: String => String = { _ =>
      calls += 1
      if (calls == 2)
        // mid-script nested call (same thread): must CONTINUE the
        // outer allocator's sequence, not restart from the table max
        Cql.executeScript(spark,
          s"INSERT INTO $d (pk, ck, qty) VALUES (77, 9, 9)")
      d
    }
    Cql.executeScript(spark,
      """INSERT INTO t (pk, ck, qty) VALUES (76, 1, 1);
        |INSERT INTO t (pk, ck, qty) VALUES (76, 2, 2)""".stripMargin, res)
    assert(wtsOf(d, 76L) ===
      Map((1, "qty") -> 101L, (2, "qty") -> 103L))
    assert(wtsOf(d, 77L) === Map((9, "qty") -> 102L))
  }

  test("script allocator: path aliases share one counter") {
    val d = freshTable()
    // 'a' and 'b' resolve to two spellings of the SAME directory —
    // they must share a counter or both statements would allocate
    // the same writetime (a later tombstone would tie, not shadow)
    val res: String => String = n => if (n == "a") d else s"$d/."
    Cql.executeScript(spark,
      """INSERT INTO a (pk, ck, qty) VALUES (78, 1, 1);
        |INSERT INTO b (pk, ck, qty) VALUES (78, 2, 2)""".stripMargin, res)
    assert(wtsOf(d, 78L) ===
      Map((1, "qty") -> 101L, (2, "qty") -> 102L))
  }

  // -----------------------------------------------------------------
  test("LWT on frozen<udt>-valued tables (C55i): whole-value " +
      "equality + presence ride the CAS round; the refusal is " +
      "scoped, not table-wide") {
    val root = Files.createTempDirectory("cql-udtlwt").toString
    spark.conf.set("spark.sql.catalog.ulcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.ulcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "ulcat")
      def applied(stmt: String): Boolean =
        cq(stmt).collect().head.getBoolean(0)
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TYPE ks.item (q bigint, t text)")
      cq("CREATE TABLE ks.o (pk bigint, ck int, col text, " +
        "value frozen<item>, wt bigint, PRIMARY KEY ((pk), ck))")
      // IF NOT EXISTS: first applies, replay refuses
      assert(applied("INSERT INTO ks.o (pk, ck, v) VALUES (1, 1, " +
        "{q: 10, t: 'a'}) IF NOT EXISTS"))
      assert(!applied("INSERT INTO ks.o (pk, ck, v) VALUES (1, 1, " +
        "{q: 99, t: 'z'}) IF NOT EXISTS"))
      // whole-value equality: frozen values compare as whole packed
      // blobs — a matching literal applies, a mismatch refuses
      assert(applied("UPDATE ks.o SET v = {q: 11, t: 'b'} WHERE " +
        "pk = 1 AND ck = 1 IF v = {q: 10, t: 'a'}"))
      assert(!applied("UPDATE ks.o SET v = {q: 77, t: 'x'} WHERE " +
        "pk = 1 AND ck = 1 IF v = {q: 10, t: 'a'}"))
      // != (absent satisfies — Cassandra's null rule) and IN
      assert(applied("UPDATE ks.o SET v = {q: 1, t: 'n'} WHERE " +
        "pk = 2 AND ck = 1 IF v != {q: 1, t: 'n'}"))
      assert(applied("UPDATE ks.o SET v = {q: 12, t: 'c'} WHERE " +
        "pk = 1 AND ck = 1 IF v IN ({q: 9, t: 'q'}, {q: 11, t: 'b'})"))
      assert(!applied("UPDATE ks.o SET v = {q: 99, t: 'z'} WHERE " +
        "pk = 1 AND ck = 1 IF v IN ({q: 1, t: 'a'})"))
      // IF EXISTS / multi-term equality over the packed value
      assert(applied("UPDATE ks.o SET v = {q: 13, t: 'd'} WHERE " +
        "pk = 1 AND ck = 1 IF EXISTS"))
      assert(!applied("UPDATE ks.o SET v = {q: 1, t: 'e'} WHERE " +
        "pk = 9 AND ck = 1 IF EXISTS"))
      assert(applied("UPDATE ks.o SET v = {q: 14, t: 'e'} WHERE " +
        "pk = 1 AND ck = 1 IF v = {q: 13, t: 'd'} AND " +
        "v != {q: 1, t: 'x'}"))
      // conditional DELETE: the applied write is the tombstone
      assert(!applied("DELETE FROM ks.o WHERE pk = 1 AND ck = 1 " +
        "IF v = {q: 1, t: 'nope'}"))
      assert(applied("DELETE FROM ks.o WHERE pk = 1 AND ck = 1 " +
        "IF v = {q: 14, t: 'e'}"))
      assert(cq("SELECT pk FROM ks.o WHERE pk = 1 AND ck = 1")
        .count() === 0)
      // scoped refusals, each by name: ordered blob comparison,
      // non-frozen layout, typed key layout
      refuse("UPDATE ks.o SET v = {q: 1, t: 'a'} WHERE pk = 2 AND " +
        "ck = 1 IF v > {q: 0, t: 'a'}", "no order")
      cq("CREATE TABLE ks.u (pk bigint, ck int, col text, " +
        "value item, wt bigint, PRIMARY KEY ((pk), ck))")
      refuse("UPDATE ks.u SET v = {q: 1, t: 'a'} WHERE pk = 1 AND " +
        "ck = 1 IF EXISTS", "non-frozen")
      cq("CREATE TABLE ks.t (user text, ck int, col text, " +
        "value frozen<item>, wt bigint, PRIMARY KEY ((user), ck))")
      refuse("UPDATE ks.t SET v = {q: 1, t: 'a'} WHERE " +
        "user = 'u' AND ck = 1 IF EXISTS", "default ((pk), ck)")
      // conditional BATCH keeps the table-wide refusal (scoped out)
      refuse("BEGIN BATCH\nUPDATE ks.o SET v = {q: 1, t: 'a'} " +
        "WHERE pk = 2 AND ck = 1 IF EXISTS;\nAPPLY BATCH",
        "frozen<udt>")
    } finally {
      spark.conf.unset("spark.sql.catalog.ulcat")
      spark.conf.unset("spark.sql.catalog.ulcat.root")
    }
  }

  // C59b — UDTs through the front door: CREATE TYPE + frozen<udt>

  test("UDT lifecycle: CREATE TYPE, frozen<udt> table, write/read (C59b)") {
    val root = Files.createTempDirectory("cql-udt").toString
    spark.conf.set("spark.sql.catalog.udtcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.udtcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "udtcat")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TYPE ks.item (q bigint, t text)")
      cq("CREATE TABLE ks.orders (pk bigint, ck int, col text, " +
        "value frozen<item>, wt bigint, PRIMARY KEY ((pk), ck))")
      // the layout landed as table metadata (the C59 schema layer)
      val props = new java.util.Properties()
      props.load(Files.newBufferedReader(
        java.nio.file.Paths.get(root, "ks", "orders", "_props")))
      assert(props.getProperty("udtName") === "item")
      assert(props.getProperty("udtLayout") === "q bigint,t string")
      // pre-first-flush: the empty table already reads (binary value)
      assert(cq("SELECT pk, ck FROM ks.orders").count() === 0)
      // writes: INSERT packs; a later INSERT LWW-overwrites the BLOB
      cq("INSERT INTO ks.orders (pk, ck, qty) VALUES (1, 1, " +
        "{q: 10, t: 'a'})")
      cq("INSERT INTO ks.orders (pk, ck, qty) VALUES (1, 1, " +
        "{q: 11, t: 'b'})")
      cq("INSERT INTO ks.orders (pk, ck, qty) VALUES (2, 1, {q: 20})")
      cq("UPDATE ks.orders SET qty = {q: 30, t: 'c'} WHERE pk = 3 " +
        "AND ck = 1")
      // field selection c.f — Cassandra's own projection shape
      val got = cq("SELECT pk, qty.q AS q, qty.t AS tag FROM ks.orders" +
        " ORDER BY pk").as[(Long, Option[Long], Option[String])]
        .collect().toSeq
      assert(got === Seq((1L, Some(11L), Some("b")),
        (2L, Some(20L), None), // unset field unpacks null
        (3L, Some(30L), Some("c"))))
      // bare column select projects the whole struct
      val st = cq("SELECT pk, qty FROM ks.orders WHERE pk = 1")
        .selectExpr("pk", "qty.q", "qty.t")
        .as[(Long, Long, String)].collect().toSeq
      assert(st === Seq((1L, 11L, "b")))
      // WRITETIME rides the cell wt, no decode
      assert(cq("SELECT WRITETIME(qty) AS w FROM ks.orders " +
        "WHERE pk = 1 AND ck = 1").as[Long].collect().toSeq.nonEmpty)
      // DELETE tombstones (empty-blob markers) shadow
      cq("DELETE FROM ks.orders WHERE pk = 1 AND ck = 1")
      assert(cq("SELECT pk, qty.q AS q FROM ks.orders ORDER BY pk")
        .as[(Long, Option[Long])].collect().toSeq ===
        Seq((2L, Some(20L)), (3L, Some(30L))))
      // UNLOGGED batch routes per-statement and so supports UDTs
      cq("BEGIN UNLOGGED BATCH " +
        "INSERT INTO ks.orders (pk, ck, qty) VALUES (4, 1, " +
        "{q: 40, t: 'd'}); " +
        "APPLY BATCH")
      assert(cq("SELECT qty.q AS q FROM ks.orders WHERE pk = 4")
        .as[Long].collect().toSeq === Seq(40L))
    } finally spark.conf.unset("spark.sql.catalog.udtcat")
  }

  test("UDT wire format: CQL-written and expression-packed blobs merge (C59b)") {
    val root = Files.createTempDirectory("cql-udt-wire").toString
    spark.conf.set("spark.sql.catalog.udtw", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.udtw.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "udtw")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TYPE ks.pair (q bigint, t text)")
      cq("CREATE TABLE ks.m (pk bigint, ck int, col text, " +
        "value frozen<pair>, wt bigint, PRIMARY KEY ((pk), ck))")
      cq("INSERT INTO ks.m (pk, ck, v) VALUES (1, 1, {q: 5, t: 'x'})")
      val dir = java.nio.file.Paths.get(root, "ks", "m").toString
      // the CQL-packed blob is byte-identical to graft_udt_pack's
      graft.GraftExtensions.register(spark)
      val blob = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").load(dir)
        .select("value").as[Array[Byte]].collect().head
      val expected = spark.range(1)
        .selectExpr("graft_udt_pack('q bigint,t string', " +
          "CAST(5 AS BIGINT), 'x') AS b")
        .as[Array[Byte]].collect().head
      assert(blob.toSeq === expected.toSeq)
      // a DataFrame-written blob at a higher wt LWW-wins over the
      // CQL-written one and unpacks through the same SELECT
      spark.range(1).selectExpr("CAST(1 AS BIGINT) AS pk",
          "CAST(1 AS INT) AS ck", "'v' AS col",
          "graft_udt_pack('q bigint,t string', CAST(9 AS BIGINT), " +
            "'z') AS value", "CAST(999 AS BIGINT) AS wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(dir)
      assert(cq("SELECT v.q AS q, v.t AS t FROM ks.m WHERE pk = 1")
        .as[(Long, String)].collect().toSeq === Seq((9L, "z")))
    } finally spark.conf.unset("spark.sql.catalog.udtw")
  }

  test("UDT refusals: type DDL, frozen placement, literals, LWT/BATCH/JSON (C59b)") {
    val root = Files.createTempDirectory("cql-udt-ref").toString
    spark.conf.set("spark.sql.catalog.udtr", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.udtr.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "udtr")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      refuse("CREATE TYPE noks.t (q bigint)", "does not exist")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TYPE ks.item (q bigint, t text)")
      // duplicate / IF NOT EXISTS semantics (same-layout only)
      refuse("CREATE TYPE ks.item (q bigint, t text)", "already exists")
      cq("CREATE TYPE IF NOT EXISTS ks.item (q bigint, t text)") // no-op
      refuse("CREATE TYPE IF NOT EXISTS ks.item (q bigint)",
        "different layout")
      refuse("CREATE TYPE ks.bad (q counter)", "unsupported UDT field")
      refuse("CREATE TYPE ks.dup (q bigint, q bigint)", "duplicate")
      // frozen placement rules
      refuse("CREATE TABLE ks.t1 (pk bigint, ck int, col text, " +
        "value frozen<nosuch>, wt bigint)", "unknown type")
      refuse("CREATE TABLE ks.t2 (pk frozen<item>, ck int, col text, " +
        "value bigint, wt bigint)", "value column only")
      // `value item` WITHOUT frozen<> is the r13 C59d feature —
      // ACCEPTED on the default layout (field-per-cell storage; the
      // per-field matrix has its own test), and the table counts as
      // a type reference like any frozen one
      cq("CREATE TABLE ks.t3 (pk bigint, ck int, col text, " +
        "value item, wt bigint)")
      refuse("DROP TYPE ks.item", "still used by") // t3 references it
      cq("DROP TABLE ks.t3")
      // …and on TYPED layouts too (C59e, r14 — previously refused)
      cq("CREATE TABLE ks.t3b (pk bigint, name text, ck int, " +
        "col text, value item, wt bigint, " +
        "PRIMARY KEY ((pk), name, ck))")
      refuse("DROP TYPE ks.item", "still used by") // t3b references it
      cq("DROP TABLE ks.t3b")
      // typed layouts accept frozen values too (C59c) — and count
      // as references for DROP TYPE
      cq("CREATE TABLE ks.t4 (pk bigint, name text, ck int, " +
        "col text, value frozen<item>, wt bigint, " +
        "PRIMARY KEY ((pk), name, ck))")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value frozen<item>, wt bigint)")
      // literal rules
      refuse("INSERT INTO ks.t (pk, ck, v) VALUES (1, 1, 5)",
        "UDT literal")
      refuse("INSERT INTO ks.t (pk, ck, v) VALUES (1, 1, {z: 5})",
        "unknown UDT field")
      refuse("INSERT INTO ks.t (pk, ck, v) VALUES (1, 1, {q: 'x'})",
        "does not accept")
      // the refused-statement surface: LOGGED BATCH, INSERT JSON —
      // LWT serves since C55i (r18; whole-value CAS, its own test)
      assert(cq("INSERT INTO ks.t (pk, ck, v) VALUES (1, 1, {q: 5}) " +
        "IF NOT EXISTS").collect().head.getBoolean(0))
      refuse("BEGIN BATCH INSERT INTO ks.t (pk, ck, v) VALUES " +
        "(1, 1, {q: 5}); APPLY BATCH", "not supported on frozen<udt>")
      refuse("INSERT INTO ks.t JSON '{\"pk\": 1, \"ck\": 1, " +
        "\"v\": 5}'", "not supported on frozen<udt>")
      // field selection demands the udt layout
      cq("CREATE TABLE ks.plain (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      refuse("SELECT v.q FROM ks.plain", "needs a UDT")
      // DROP TYPE: refused while referenced, allowed after
      refuse("DROP TYPE ks.item", "still used by")
      cq("DROP TABLE ks.t")
      refuse("DROP TYPE ks.item", "still used by") // t4 still does
      cq("DROP TABLE ks.t4")
      cq("DROP TYPE ks.item") // last reference gone
      refuse("DROP TYPE ks.item", "does not exist")
      cq("DROP TYPE IF EXISTS ks.item") // no-op
    } finally spark.conf.unset("spark.sql.catalog.udtr")
  }

  test("unfrozen UDT per-field matrix: LWW, tombstone precedence, compaction, refusals (C59d)") {
    val root = Files.createTempDirectory("cql-udt-nf").toString
    spark.conf.set("spark.sql.catalog.udtnf", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.udtnf.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "udtnf")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      // one row's (q, t) through the pivot — None = the row vanished
      // (no live field cells), Some((None, …)) = a null field
      def row(pk: Long): Option[(Option[Long], Option[String])] =
        cq(s"SELECT v.q AS q, v.t AS t FROM ks.t WHERE pk = $pk")
          .collect().headOption.map(r =>
            (Option(r.get(0)).map(_.asInstanceOf[Long]),
             Option(r.get(1)).map(_.toString)))
      cq("CREATE KEYSPACE ks")
      cq("CREATE TYPE ks.item (q bigint, t text)")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value item, wt bigint)")
      // (1) per-field LWW ACROSS FLUSHES: each catalogExecute call is
      // its own script, so each write lands in its own file — the
      // patched field's later cell wins, the untouched field's cell
      // survives from the earlier file (the whole point of C59d)
      cq("INSERT INTO ks.t (pk, ck, v) VALUES (1, 1, {q: 10, t: 'a'})")
      cq("UPDATE ks.t SET v.q = 11 WHERE pk = 1 AND ck = 1")
      assert(row(1) === Some((Some(11L), Some("a"))))
      cq("UPDATE ks.t SET v.t = 'b' WHERE pk = 1 AND ck = 1")
      assert(row(1) === Some((Some(11L), Some("b"))))
      // (2) whole-value overwrite: the unset field gets a tombstone
      // at the same writetime — 'b' dies even though its cell is in
      // an older file
      cq("UPDATE ks.t SET v = {q: 12} WHERE pk = 1 AND ck = 1")
      assert(row(1) === Some((Some(12L), None)))
      // …and a LATER per-field patch revives exactly that field
      cq("UPDATE ks.t SET v.t = 'c' WHERE pk = 1 AND ck = 1")
      assert(row(1) === Some((Some(12L), Some("c"))))
      // (3) delete precedence — field vs whole-column vs row
      cq("INSERT INTO ks.t (pk, ck, v) VALUES (2, 1, {q: 20, t: 'd'})")
      cq("DELETE v.q FROM ks.t WHERE pk = 2 AND ck = 1")
      assert(row(2) === Some((None, Some("d")))) // one field gone
      cq("UPDATE ks.t SET v.q = 21 WHERE pk = 2 AND ck = 1")
      assert(row(2) === Some((Some(21L), Some("d")))) // later write wins
      cq("INSERT INTO ks.t (pk, ck, v) VALUES (3, 1, {q: 30, t: 'e'})")
      cq("DELETE v FROM ks.t WHERE pk = 3 AND ck = 1")
      assert(row(3) === None) // every field tombstoned -> row vanishes
      cq("UPDATE ks.t SET v.t = 'f' WHERE pk = 3 AND ck = 1")
      assert(row(3) === Some((None, Some("f")))) // field write revives
      cq("INSERT INTO ks.t (pk, ck, v) VALUES (4, 1, {q: 40, t: 'g'})")
      cq("DELETE FROM ks.t WHERE pk = 4 AND ck = 1") // row tombstone
      assert(row(4) === None)
      cq("UPDATE ks.t SET v.q = 41 WHERE pk = 4 AND ck = 1")
      assert(row(4) === Some((Some(41L), None))) // later field survives
      // a whole-value overwrite AFTER a field tombstone restores both
      cq("INSERT INTO ks.t (pk, ck, v) VALUES (5, 1, {q: 50, t: 'h'})")
      cq("DELETE v.t FROM ks.t WHERE pk = 5 AND ck = 1")
      cq("UPDATE ks.t SET v = {q: 51, t: 'i'} WHERE pk = 5 AND ck = 1")
      assert(row(5) === Some((Some(51L), Some("i"))))
      // (4) compaction: live field cells survive, field tombstones
      // survive (default gc_grace retains them) and still shadow a
      // write that arrives AFTERWARDS with a pre-deletion timestamp
      cq("INSERT INTO ks.t (pk, ck, v) VALUES (6, 1, {q: 60, t: 'j'})")
      cq("DELETE v.t FROM ks.t WHERE pk = 6 AND ck = 1")
      val pre = (1L to 6L).map(row)
      graft.sources.CellMaintenance.compact(spark, s"$root/ks/t")
      assert((1L to 6L).map(row) === pre) // nothing resurrected/lost
      cq("UPDATE ks.t USING TIMESTAMP 1 SET v.t = 'late' " +
        "WHERE pk = 6 AND ck = 1") // stale wt, post-compaction
      assert(row(6) === Some((Some(60L), None))) // still shadowed
      // (5) the refusal arms
      refuse("DELETE v.zz FROM ks.t WHERE pk = 1 AND ck = 1",
        "unknown UDT field")
      refuse("UPDATE ks.t SET v.zz = 5 WHERE pk = 1 AND ck = 1",
        "unknown UDT field")
      refuse("INSERT INTO ks.t (pk, ck, v) VALUES (9, 1, {zz: 5})",
        "unknown UDT field")
      // field-cell deletes address one row exactly
      refuse("DELETE v.q FROM ks.t WHERE pk = 1",
        "v.q needs WHERE")
      refuse("DELETE v.q FROM ks.t WHERE pk = 1 AND ck = 1 AND ck >= 0",
        "clustering ranges cannot combine")
      // collection/entry targets have no field cells here
      refuse("DELETE v['k'] FROM ks.t WHERE pk = 1 AND ck = 1",
        "not a UDT column delete")
      refuse("INSERT INTO ks.t (pk, ck, v['k']) VALUES (9, 1, {q: 5})",
        "not a plain identifier")
      // dotted deletes demand field cells: frozen and plain refuse
      cq("CREATE TABLE ks.fz (pk bigint, ck int, col text, " +
        "value frozen<item>, wt bigint)")
      refuse("DELETE v.q FROM ks.fz WHERE pk = 1 AND ck = 1",
        "non-frozen UDT value column")
      cq("CREATE TABLE ks.plain (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      refuse("DELETE v.q FROM ks.plain WHERE pk = 1 AND ck = 1",
        "non-frozen UDT value column")
      // unfrozen columns byte-compare per FIELD, never whole-value
      refuse("SELECT pk FROM ks.t WHERE v = {q: 12} ALLOW FILTERING",
        "per-field cells")
      // WRITETIME/TTL are per-FIELD on this layout (r14): each field
      // cell carries its own writetime — the q patch at pk=1 is
      // newer than the t patch before it
      val wq = cq("SELECT WRITETIME(v.q) AS w FROM ks.t " +
        "WHERE pk = 1 AND ck = 1").as[Long].collect().head
      val wtq = cq("SELECT WRITETIME(v.t) AS w FROM ks.t " +
        "WHERE pk = 1 AND ck = 1").as[Long].collect().head
      assert(wtq > wq, s"t patched after q: $wtq > $wq") // 'c' was last
      refuse("SELECT WRITETIME(v) FROM ks.t",
        "unfrozen UDT column")
      refuse("SELECT WRITETIME(v.zz) FROM ks.t", "unknown UDT field")
      refuse("SELECT WRITETIME(v.q) FROM ks.fz",
        "frozen values carry ONE writetime")
    } finally spark.conf.unset("spark.sql.catalog.udtnf")
  }

  test("unfrozen UDT over TYPED layouts: per-field matrix (C59e)") {
    val root = Files.createTempDirectory("cql-udt-te").toString
    spark.conf.set("spark.sql.catalog.udtte", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.udtte.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "udtte")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      def row(user: String): Option[(Option[Long], Option[String])] =
        cq("SELECT v.q AS q, v.t AS t FROM ks.t WHERE " +
          s"user = '$user' AND ck = 1")
          .collect().headOption.map(r =>
            (Option(r.get(0)).map(_.asInstanceOf[Long]),
             Option(r.get(1)).map(_.toString)))
      cq("CREATE KEYSPACE ks")
      cq("CREATE TYPE ks.item (q bigint, t text)")
      cq("CREATE TABLE ks.t (user text, ck int, col text, " +
        "value item, wt bigint, PRIMARY KEY ((user), ck))")
      // per-field LWW across statements over a NAMED text pk
      cq("INSERT INTO ks.t (user, ck, v) VALUES ('u1', 1, " +
        "{q: 10, t: 'a'})")
      cq("UPDATE ks.t SET v.q = 11 WHERE user = 'u1' AND ck = 1")
      assert(row("u1") === Some((Some(11L), Some("a"))))
      // whole-value overwrite tombstones the unset field
      cq("UPDATE ks.t SET v = {q: 12} WHERE user = 'u1' AND ck = 1")
      assert(row("u1") === Some((Some(12L), None)))
      // field write alone creates a row; keys pivot by NAMED parts
      cq("UPDATE ks.t SET v.t = 'z' WHERE user = 'u2' AND ck = 1")
      assert(row("u2") === Some((None, Some("z"))))
      // field / whole-column / row deletes
      cq("INSERT INTO ks.t (user, ck, v) VALUES ('u3', 1, " +
        "{q: 30, t: 'c'})")
      cq("DELETE v.t FROM ks.t WHERE user = 'u3' AND ck = 1")
      assert(row("u3") === Some((Some(30L), None)))
      cq("INSERT INTO ks.t (user, ck, v) VALUES ('u4', 1, " +
        "{q: 40, t: 'd'})")
      cq("DELETE v FROM ks.t WHERE user = 'u4' AND ck = 1")
      assert(row("u4") === None)
      cq("INSERT INTO ks.t (user, ck, v) VALUES ('u5', 1, " +
        "{q: 50, t: 'e'})")
      cq("DELETE FROM ks.t WHERE user = 'u5' AND ck = 1")
      assert(row("u5") === None)
      // whole-column selection reassembles the struct per named key
      val whole = cq("SELECT user, v FROM ks.t WHERE user = 'u1' " +
        "AND ck = 1").collect().head
      assert(whole.getString(0) === "u1")
      assert(whole.getStruct(1).getLong(0) === 12L)
      // refusals carry over: unknown field, missing ck, ranges
      refuse("UPDATE ks.t SET v.zz = 5 WHERE user = 'u1' AND ck = 1",
        "unknown UDT field")
      refuse("DELETE v.q FROM ks.t WHERE user = 'u1'",
        "every clustering part")
      refuse("DELETE v.q FROM ks.t WHERE user = 'u1' AND ck >= 0",
        "clustering ranges cannot combine")
    } finally spark.conf.unset("spark.sql.catalog.udtte")
  }

  test("buffered flush under an injected writer failure (r13 write-then-remove)") {
    val root = Files.createTempDirectory("cql-flushfail").toString
    spark.conf.set("spark.sql.catalog.ffcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.ffcat.root", root)
    try {
      def script(s: String) = Cql.catalogScript(spark, s, "ffcat")
      script("CREATE KEYSPACE ks; " +
        "CREATE TABLE ks.a (pk bigint, ck int, col text, value bigint, wt bigint); " +
        "CREATE TABLE ks.b (pk bigint, ck int, col text, value bigint, wt bigint)")
      def liveRows(t: String): Set[(Long, Long)] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/$t")
          .select("pk", "value").as[(Long, Long)].collect().toSet
      // (a)+(b): table a is buffered FIRST (first-write order), b's
      // writer throws at the success-path flush — a's cells must have
      // landed, and the failure must propagate to the caller
      Cql.failFlushOf = _.endsWith("/ks/b")
      val e = intercept[java.io.IOException] {
        script("INSERT INTO ks.a (pk, ck, qty) VALUES (1, 1, 10); " +
          "INSERT INTO ks.b (pk, ck, qty) VALUES (2, 1, 20); " +
          "INSERT INTO ks.a (pk, ck, qty) VALUES (3, 1, 30)")
      }
      assert(e.getMessage.contains("injected flush failure"))
      assert(liveRows("a") === Set((1L, 10L), (3L, 30L)))
      assert(liveRows("b") === Set.empty)
      // (c): on an already-failing script, a flush failure is warned,
      // not rethrown — the ORIGINAL statement error propagates and
      // the healthy table's buffer still lands from the finally-path
      val errBuf = new java.io.ByteArrayOutputStream()
      val savedErr = System.err
      System.setErr(new java.io.PrintStream(errBuf, true))
      val e2 = try intercept[IllegalArgumentException] {
        script("INSERT INTO ks.b (pk, ck, qty) VALUES (4, 1, 40); " +
          "INSERT INTO ks.a (pk, ck, qty) VALUES (5, 1, 50); " +
          "SYNTAX ERROR HERE")
      } finally System.setErr(savedErr)
      assert(e2.getMessage.contains("unsupported CQL statement"))
      assert(errBuf.toString.contains("flush failed"),
        s"expected the flush warning on stderr, got: $errBuf")
      assert(liveRows("a") === Set((1L, 10L), (3L, 30L), (5L, 50L)))
      // b: the 20/40 cells were lost WITH an error each time — never
      // silently (propagated in the first script, warned in the second)
      assert(liveRows("b") === Set.empty)
      // clean writer again: everything flows
      Cql.failFlushOf = _ => false
      script("INSERT INTO ks.b (pk, ck, qty) VALUES (6, 1, 60)")
      assert(liveRows("b") === Set((6L, 60L)))
    } finally {
      Cql.failFlushOf = _ => false
      spark.conf.unset("spark.sql.catalog.ffcat")
    }
  }

  test("text-valued tables through the CQL front door (C65o)") {
    val root = Files.createTempDirectory("cql-txt").toString
    spark.conf.set("spark.sql.catalog.txtcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.txtcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "txtcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.profiles (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      // INSERT/UPDATE write text cells; later statements LWW-shadow
      cq("INSERT INTO ks.profiles (pk, ck, name, city) VALUES " +
        "(1, 1, 'alice', 'york')")
      cq("UPDATE ks.profiles SET city = 'leeds' WHERE pk = 1 AND ck = 1")
      cq("INSERT INTO ks.profiles (pk, ck, name) VALUES (2, 1, 'bob')")
      def row(pk: Long, c: String): Option[String] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/profiles")
          .filter(col("pk") === pk && col("col") === c)
          .select("value").collect().headOption.map(_.getString(0))
      assert(row(1, "name") === Some("alice"))
      assert(row(1, "city") === Some("leeds")) // LWW shadowed 'york'
      assert(row(2, "name") === Some("bob"))
      // cell and row deletes tombstone with empty-string markers
      cq("DELETE city FROM ks.profiles WHERE pk = 1 AND ck = 1")
      assert(row(1, "city") === None)
      assert(row(1, "name") === Some("alice"))
      cq("DELETE FROM ks.profiles WHERE pk = 2 AND ck = 1")
      assert(row(2, "name") === None)
      // a buffered script lands its writes as ONE flush per table
      def nFiles: Int = new java.io.File(s"$root/ks/profiles")
        .list().count(_.endsWith(".cells"))
      val before = nFiles
      Cql.catalogScript(spark,
        """INSERT INTO ks.profiles (pk, ck, name) VALUES (3, 1, 'cara');
          |INSERT INTO ks.profiles (pk, ck, name) VALUES (4, 1, 'dan');
          |UPDATE ks.profiles SET name = 'carla' WHERE pk = 3 AND ck = 1
          |""".stripMargin, "txtcat")
      assert(nFiles === before + 1)
      assert(row(3, "name") === Some("carla"))
      assert(row(4, "name") === Some("dan"))
      // WRITETIME projects; the text 2i serves equality lookups
      assert(cq("SELECT WRITETIME(name) AS w FROM ks.profiles " +
        "WHERE pk = 3 AND ck = 1").as[Long].collect().nonEmpty)
      cq("CREATE INDEX ON ks.profiles (name)")
      assert(cq("SELECT pk FROM ks.profiles WHERE name = 'carla'")
        .as[Long].collect().toSeq === Seq(3L))
      // USING TTL expires text cells like any other layout
      cq("INSERT INTO ks.profiles (pk, ck, name) VALUES " +
        "(9, 1, 'ghost') USING TTL 1")
      val raw = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").option("withTtl", "true")
        .load(s"$root/ks/profiles").filter(col("pk") === 9L)
      assert(raw.count() === 1) // written, expiry recorded
      // collections with TEXT elements (r14): the same element-per-
      // cell encodings, elements/values parsed as text literals
      def coll(pk: Long, c: String): Seq[String] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/profiles")
          .filter(col("pk") === pk && col("col") === c)
          .orderBy(col("ck")).select("value")
          .collect().map(_.getString(0)).toSeq
      cq("UPDATE ks.profiles SET tags = tags + ['red', 'blue'] " +
        "WHERE pk = 6")
      cq("UPDATE ks.profiles SET tags = tags + ['green'] " +
        "WHERE pk = 6")
      assert(coll(6, "tags") === Seq("red", "blue", "green"))
      // set add/remove: remove tombstones matching element cells
      cq("UPDATE ks.profiles SET colors = colors + {'red', 'blue'} " +
        "WHERE pk = 7")
      cq("UPDATE ks.profiles SET colors = colors - {'red'} " +
        "WHERE pk = 7")
      assert(coll(7, "colors") === Seq("blue"))
      // map with TEXT values: bracket put, literal put, entry delete
      cq("UPDATE ks.profiles SET attrs['hair'] = 'brown' " +
        "WHERE pk = 8 AND ck = 1")
      cq("UPDATE ks.profiles SET attrs = attrs + {'eyes': 'green'} " +
        "WHERE pk = 8 AND ck = 1")
      assert(coll(8, "hair") === Seq("brown"))
      assert(coll(8, "eyes") === Seq("green"))
      cq("DELETE attrs['hair'] FROM ks.profiles WHERE pk = 8 AND " +
        "ck = 1")
      assert(coll(8, "hair") === Seq.empty)
      assert(coll(8, "eyes") === Seq("green"))
      // LWT on text cells (r14): IF NOT EXISTS / IF col = 'v' route
      // through the same ballot round, conditions compare strings
      // and the miss row reports the current TEXT value
      val r1 = cq("INSERT INTO ks.profiles (pk, ck, status) VALUES " +
        "(20, 1, 'pending') IF NOT EXISTS")
        .as[(Boolean, Option[String])].collect().head
      assert(r1 === ((true, None)))
      val r2 = cq("INSERT INTO ks.profiles (pk, ck, status) VALUES " +
        "(20, 1, 'done') IF NOT EXISTS")
        .as[(Boolean, Option[String])].collect().head
      assert(r2 === ((false, Some("pending"))))
      val r3 = cq("UPDATE ks.profiles SET status = 'done' WHERE " +
        "pk = 20 AND ck = 1 IF status = 'wrong'")
        .as[(Boolean, Option[String])].collect().head
      assert(r3 === ((false, Some("pending"))))
      val r4 = cq("UPDATE ks.profiles SET status = 'done' WHERE " +
        "pk = 20 AND ck = 1 IF status = 'pending'")
        .as[(Boolean, Option[String])].collect().head
      assert(r4 === ((true, Some("pending"))))
      assert(row(20, "status") === Some("done"))
      // conditional DELETE: the write is the tombstone
      val r5 = cq("DELETE FROM ks.profiles WHERE pk = 20 AND ck = 1 " +
        "IF status = 'done'")
        .as[(Boolean, Option[String])].collect().head
      assert(r5._1 === true)
      assert(row(20, "status") === None)
      // refusals: type mismatches and the out-of-subset shapes
      refuse("INSERT INTO ks.profiles (pk, ck, age) VALUES (5, 1, 30)",
        "takes a text literal")
      refuse("UPDATE ks.profiles SET age = 30 WHERE pk = 5 AND ck = 1",
        "takes a text literal")
      refuse("UPDATE ks.profiles SET tags = tags + [7] " +
        "WHERE pk = 5 AND ck = 1", "takes a text literal")
      // UNLOGGED batch executes per statement, so text writes flow;
      // the LOGGED form journals bigint cells and refuses by name
      cq("BEGIN UNLOGGED BATCH\n" +
        "INSERT INTO ks.profiles (pk, ck, name) VALUES (22, 1, 'kim');\n" +
        "UPDATE ks.profiles SET name = 'lee' WHERE pk = 23 AND ck = 1;\n" +
        "APPLY BATCH")
      assert(row(22, "name") === Some("kim"))
      assert(row(23, "name") === Some("lee"))
      refuse("BEGIN BATCH\nINSERT INTO ks.profiles (pk, ck, name) " +
        "VALUES (24, 1, 'x');\nAPPLY BATCH",
        "UNLOGGED BATCH or single")
      // INSERT JSON carries the cell type in the DOCUMENT
      // (Cassandra's rule): strings write, numbers refuse here
      cq("INSERT INTO ks.profiles JSON " +
        "'{\"pk\": 21, \"ck\": 1, \"name\": \"judy\"}'")
      assert(row(21, "name") === Some("judy"))
      refuse("INSERT INTO ks.profiles JSON " +
        "'{\"pk\": 5, \"ck\": 1, \"name\": 7}'", "JSON string")
    } finally spark.conf.unset("spark.sql.catalog.txtcat")
  }

  test("LOGGED BATCH value-type gate (r15): every non-bigint declared " +
    "type refuses up front; UNLOGGED serves mapped tables") {
    val root = Files.createTempDirectory("cql-batchguard").toString
    spark.conf.set("spark.sql.catalog.bgcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.bgcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "bgcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      // int-STORAGE mapped type: a long-typed journal write would
      // stamp over the declared int layout (silent type flip)
      cq("CREATE TABLE ks.md (pk bigint, ck int, col text, " +
        "value date, wt bigint)")
      refuse("BEGIN BATCH\nINSERT INTO ks.md (pk, ck, day) VALUES " +
        "(1, 1, '2020-01-01');\nAPPLY BATCH",
        "date-valued tables take UNLOGGED")
      // C65q scalar (double): same class
      cq("CREATE TABLE ks.sd (pk bigint, ck int, col text, " +
        "value double, wt bigint)")
      refuse("BEGIN BATCH\nINSERT INTO ks.sd (pk, ck, x) VALUES " +
        "(1, 1, 5);\nAPPLY BATCH", "double-valued tables take UNLOGGED")
      // bigint-STORAGE mapped type (varint): would bypass the
      // declared range validation
      cq("CREATE TABLE ks.mv (pk bigint, ck int, col text, " +
        "value varint, wt bigint)")
      refuse("BEGIN BATCH\nUPDATE ks.mv SET n = 5 WHERE pk = 1 AND " +
        "ck = 1;\nAPPLY BATCH", "varint-valued tables take UNLOGGED")
      refuse("BEGIN BATCH\nDELETE n FROM ks.mv WHERE pk = 1 AND " +
        "ck = 1;\nAPPLY BATCH", "varint-valued tables take UNLOGGED")
      // the pointed-to alternative works: UNLOGGED routes each
      // statement through the full mapped grammar and buffers into
      // one flush
      cq("BEGIN UNLOGGED BATCH\n" +
        "INSERT INTO ks.md (pk, ck, day) VALUES (1, 1, '2020-01-01');\n" +
        "INSERT INTO ks.md (pk, ck, day) VALUES (2, 1, '2020-01-02');\n" +
        "APPLY BATCH")
      assert(cq("SELECT count(*) AS n FROM ks.md").collect()
        .head.getLong(0) === 2L)
      // a plain bigint table still serves LOGGED BATCH
      cq("CREATE TABLE ks.b (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("BEGIN BATCH\nINSERT INTO ks.b (pk, ck, n) VALUES " +
        "(1, 1, 5);\nAPPLY BATCH")
      assert(cq("SELECT count(*) AS n FROM ks.b").collect()
        .head.getLong(0) === 1L)
    } finally spark.conf.unset("spark.sql.catalog.bgcat")
  }

  test("JSON over declared value types (C63b): document fields route " +
    "through the table's literal grammar; SELECT JSON renders " +
    "declared semantics") {
    val root = Files.createTempDirectory("cql-tjson").toString
    spark.conf.set("spark.sql.catalog.tjcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.tjcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "tjcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      def cell(t: String, pk: Long, c: String): Option[Any] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/$t")
          .filter(col("pk") === pk && col("col") === c)
          .select("value").collect().headOption.map(_.get(0))
      cq("CREATE KEYSPACE ks")
      // booleans: JSON booleans write, numbers refuse
      cq("CREATE TABLE ks.b (pk bigint, ck int, col text, " +
        "value boolean, wt bigint)")
      cq("INSERT INTO ks.b JSON '{\"pk\": 1, \"ck\": 1, \"f\": true}'")
      assert(cell("b", 1, "f") === Some(true))
      refuse("INSERT INTO ks.b JSON '{\"pk\": 2, \"ck\": 1, \"f\": 1}'",
        "true/false")
      // timestamps: ISO strings and epoch-millis numbers land equal
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value timestamp, wt bigint)")
      cq("INSERT INTO ks.t JSON '{\"pk\": 1, \"ck\": 1, " +
        "\"seen\": \"2020-01-02T03:04:05Z\"}'")
      cq("INSERT INTO ks.t JSON '{\"pk\": 2, \"ck\": 1, " +
        "\"seen\": 1577934245000}'")
      assert(cell("t", 1, "seen") === cell("t", 2, "seen"))
      // floats: JSON numbers write, strings refuse (no string-typed
      // numerics — the document's type must agree with the grammar)
      cq("CREATE TABLE ks.f (pk bigint, ck int, col text, " +
        "value float, wt bigint)")
      cq("INSERT INTO ks.f JSON '{\"pk\": 1, \"ck\": 1, \"x\": 2.5}'")
      assert(cell("f", 1, "x") === Some(2.5))
      refuse("INSERT INTO ks.f JSON '{\"pk\": 2, \"ck\": 1, " +
        "\"x\": \"2.5\"}'", "float literal")
      // SELECT JSON renders a date value as its ISO string
      cq("CREATE TABLE ks.d (pk bigint, ck int, col text, " +
        "value date, wt bigint)")
      cq("INSERT INTO ks.d JSON '{\"pk\": 1, \"ck\": 1, " +
        "\"day\": \"2020-03-01\"}'")
      assert(cq("SELECT JSON pk, value FROM ks.d").collect()
        .head.getString(0) === "{\"pk\":1,\"value\":\"2020-03-01\"}")
      // ... and a time value as the fixed-width HH:MM:SS.fffffffff
      // form (Cassandra's TimeSerializer shape), not stored nanos
      cq("CREATE TABLE ks.tm (pk bigint, ck int, col text, " +
        "value time, wt bigint)")
      cq("INSERT INTO ks.tm JSON '{\"pk\": 1, \"ck\": 1, " +
        "\"at\": \"01:02:03\"}'")
      assert(cq("SELECT JSON pk, value FROM ks.tm").collect()
        .head.getString(0) ===
        "{\"pk\":1,\"value\":\"01:02:03.000000000\"}")
      // blob/counter/vector documents stay outside the subset
      cq("CREATE TABLE ks.bl (pk bigint, ck int, col text, " +
        "value blob, wt bigint)")
      refuse("INSERT INTO ks.bl JSON '{\"pk\": 1, \"ck\": 1, " +
        "\"v\": \"0x00\"}'", "scalar-valued")
      // SELECT JSON renders a vector value as its float array
      // (Cassandra's JSON form), not the wire blob
      cq("CREATE TABLE ks.ve (pk bigint, ck int, col text, " +
        "value vector<float, 2>, wt bigint)")
      cq("INSERT INTO ks.ve (pk, ck, v) VALUES (1, 1, [1.0, 0.5])")
      assert(cq("SELECT JSON pk, value FROM ks.ve").collect()
        .head.getString(0) === "{\"pk\":1,\"value\":[1.0,0.5]}")
    } finally spark.conf.unset("spark.sql.catalog.tjcat")
  }

  test("SASI case-insensitive analyzer (C18k): _ci LIKE modes, " +
    "sensitive-index precedence, option refusals") {
    val root = Files.createTempDirectory("cql-cilike").toString
    spark.conf.set("spark.sql.catalog.cicat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cicat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cicat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      def pks(sel: String): Seq[Long] =
        cq(sel).collect().map(_.getLong(0)).toSeq.sorted
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.d (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      cq("INSERT INTO ks.d (pk, ck, name) VALUES (1, 1, 'Apple')")
      cq("INSERT INTO ks.d (pk, ck, name) VALUES (2, 1, 'apricot')")
      cq("INSERT INTO ks.d (pk, ck, name) VALUES (3, 1, 'GRAPE jam')")
      // without any index LIKE still refuses
      refuse("SELECT pk FROM ks.d WHERE name LIKE 'ap%'",
        "needs a prefix index")
      cq("CREATE INDEX ON ks.d (prefix(name)) " +
        "WITH OPTIONS = {'case_sensitive': 'false'}")
      cq("CREATE INDEX ON ks.d (contains(name)) " +
        "WITH OPTIONS = {'case_sensitive': 'false'}")
      // the default index names carry the _ci marker
      assert(cq("SELECT index_name FROM system_schema.indexes " +
        "WHERE table_name = 'd'").collect().map(_.getString(0)).sorted
        === Array("d_name_contains_ci_idx", "d_name_prefix_ci_idx"))
      // mixed-case probes hit mixed-case rows in BOTH modes
      assert(pks("SELECT pk FROM ks.d WHERE name LIKE 'AP%'") ===
        Seq(1L, 2L))
      assert(pks("SELECT pk FROM ks.d WHERE name LIKE '%grape%'") ===
        Seq(3L))
      assert(pks("SELECT pk FROM ks.d WHERE name LIKE '%E JA%'") ===
        Seq(3L))
      // write-through freshness: a later write serves immediately
      cq("INSERT INTO ks.d (pk, ck, name) VALUES (4, 1, 'APEX')")
      assert(pks("SELECT pk FROM ks.d WHERE name LIKE 'ap%'") ===
        Seq(1L, 2L, 4L))
      // a case-SENSITIVE index on the same column takes precedence
      cq("CREATE TABLE ks.s (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      cq("INSERT INTO ks.s (pk, ck, name) VALUES (1, 1, 'Apple')")
      cq("INSERT INTO ks.s (pk, ck, name) VALUES (2, 1, 'apple')")
      cq("CREATE INDEX ON ks.s (prefix(name))")
      cq("CREATE INDEX sci ON ks.s (prefix(name)) " +
        "WITH OPTIONS = {'case_sensitive': 'false'}")
      assert(pks("SELECT pk FROM ks.s WHERE name LIKE 'appl%'") ===
        Seq(2L)) // verbatim match only — the sensitive index serves
      // option refusals
      refuse("CREATE INDEX ON ks.d (name) " +
        "WITH OPTIONS = {'case_sensitive': 'false'}",
        "SASI LIKE modes only")
      refuse("CREATE INDEX ON ks.d (prefix(name)) " +
        "WITH OPTIONS = {'mode': 'SPARSE'}",
        "unsupported index OPTIONS")
      refuse("CREATE INDEX ON ks.d (prefix(name)) " +
        "WITH OPTIONS = {'case_sensitive': 'maybe'}",
        "takes 'true' or 'false'")
      // case_sensitive: 'true' is the plain index (no _ci marker)
      cq("CREATE INDEX ON ks.s (contains(name)) " +
        "WITH OPTIONS = {'case_sensitive': 'true'}")
      assert(pks("SELECT pk FROM ks.s WHERE name LIKE '%ppl%'") ===
        Seq(1L, 2L))
    } finally spark.conf.unset("spark.sql.catalog.cicat")
  }

  test("CAST(col AS type) selection casts (C65t): direction matrix, " +
    "truncation, aliases, refusals") {
    val root = Files.createTempDirectory("cql-cast").toString
    spark.conf.set("spark.sql.catalog.cstcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cstcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cstcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.cb (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("INSERT INTO ks.cb (pk, ck, n) VALUES (1, 1, 41)")
      // numeric → text/double/int; default + explicit alias; a plain
      // column mixes in
      val r = cq("SELECT pk, CAST(value AS text), " +
        "CAST(value AS double) AS d, CAST(value AS int) AS i, " +
        "CAST(wt AS text) AS w FROM ks.cb WHERE pk = 1").collect().head
      assert(r.getLong(0) === 1L)
      assert(r.getString(1) === "41")
      assert(r.getDouble(2) === 41.0)
      assert(r.getInt(3) === 41)
      assert(r.getString(4).toLong > 0L)
      // the default output name is Cassandra's cast(col as type)
      val names = cq("SELECT CAST(value AS text) FROM ks.cb")
        .schema.fieldNames.toSeq
      assert(names === Seq("cast(value as text)"))
      // narrowing truncates toward zero (Java/Cassandra semantics)
      cq("CREATE TABLE ks.cd (pk bigint, ck int, col text, " +
        "value double, wt bigint)")
      cq("INSERT INTO ks.cd (pk, ck, x) VALUES (1, 1, 2.75)")
      cq("INSERT INTO ks.cd (pk, ck, x) VALUES (2, 1, -1.25)")
      val tr = cq("SELECT pk, CAST(value AS int) AS i FROM ks.cd")
        .collect().map(x => (x.getLong(0), x.getInt(1))).toMap
      assert(tr === Map(1L -> 2, 2L -> -1))
      // boolean/text sources render to text only
      cq("CREATE TABLE ks.bo (pk bigint, ck int, col text, " +
        "value boolean, wt bigint)")
      cq("INSERT INTO ks.bo (pk, ck, f) VALUES (1, 1, true)")
      assert(cq("SELECT CAST(value AS text) AS t FROM ks.bo")
        .collect().head.getString(0) === "true")
      refuse("SELECT CAST(value AS int) FROM ks.bo",
        "Cassandra's CAST matrix")
      cq("CREATE TABLE ks.tx (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      cq("INSERT INTO ks.tx (pk, ck, s) VALUES (1, 1, '42')")
      refuse("SELECT CAST(value AS bigint) FROM ks.tx",
        "Cassandra's CAST matrix")
      assert(cq("SELECT CAST(value AS text) AS t FROM ks.tx")
        .collect().head.getString(0) === "42")
      // unsupported targets / arguments / table kinds refuse by name
      refuse("SELECT CAST(value AS blob) FROM ks.cb",
        "outside this subset")
      refuse("SELECT CAST(nope AS text) FROM ks.cb",
        "key or cell-model column")
      // CAST over MAPPED declared types (C65y, r16): declared
      // SEMANTICS, never the storage rendering
      cq("CREATE TABLE ks.mu (pk bigint, ck int, col text, " +
        "value uuid, wt bigint)")
      cq("INSERT INTO ks.mu (pk, ck, id) VALUES (1, 1, " +
        "123E4567-E89B-12D3-A456-426614174000)")
      assert(cq("SELECT CAST(value AS text) AS t FROM ks.mu")
        .collect().head.getString(0) ===
        "123e4567-e89b-12d3-a456-426614174000")
      refuse("SELECT CAST(value AS bigint) FROM ks.mu",
        "uuid casts to text")
      cq("CREATE TABLE ks.mdt (pk bigint, ck int, col text, " +
        "value date, wt bigint)")
      cq("INSERT INTO ks.mdt (pk, ck, d) VALUES (1, 1, '2024-01-29')")
      // the ISO date, NOT the stored day count 19751
      assert(cq("SELECT CAST(value AS text) AS t FROM ks.mdt")
        .collect().head.getString(0) === "2024-01-29")
      refuse("SELECT CAST(value AS int) FROM ks.mdt",
        "date casts to text")
      cq("CREATE TABLE ks.mtm (pk bigint, ck int, col text, " +
        "value time, wt bigint)")
      cq("INSERT INTO ks.mtm (pk, ck, at) VALUES (1, 1, '01:02:03')")
      assert(cq("SELECT CAST(value AS text) AS t FROM ks.mtm")
        .collect().head.getString(0) === "01:02:03.000000000")
      cq("CREATE TABLE ks.msi (pk bigint, ck int, col text, " +
        "value smallint, wt bigint)")
      cq("INSERT INTO ks.msi (pk, ck, n) VALUES (1, 1, -7)")
      assert(cq("SELECT CAST(value AS bigint) AS b FROM ks.msi")
        .collect().head.getLong(0) === -7L)
      cq("CREATE TABLE ks.mdc (pk bigint, ck int, col text, " +
        "value decimal, wt bigint)")
      cq("INSERT INTO ks.mdc (pk, ck, p) VALUES (1, 1, 12.9)")
      val dec = cq("SELECT CAST(value AS int) AS i, " +
        "CAST(value AS text) AS t FROM ks.mdc").collect().head
      assert(dec.getInt(0) === 12) // truncation toward zero
      assert(dec.getString(1) === "12.900000") // declared (18,6) scale
      cq("CREATE TABLE ks.mdu (pk bigint, ck int, col text, " +
        "value duration, wt bigint)")
      refuse("SELECT CAST(value AS text) FROM ks.mdu",
        "outside Cassandra's CAST matrix")
    } finally spark.conf.unset("spark.sql.catalog.cstcat")
  }

  test("ascii value type (C65v): US-ASCII validation, distinct " +
    "rendering, LWT") {
    val root = Files.createTempDirectory("cql-ascii").toString
    spark.conf.set("spark.sql.catalog.ascat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.ascat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "ascat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.a (pk bigint, ck int, col text, " +
        "value ascii, wt bigint)")
      cq("INSERT INTO ks.a (pk, ck, tag) VALUES (1, 1, 'plain')")
      // non-ASCII refuses with the code point — Cassandra validates
      // ascii on write
      refuse("INSERT INTO ks.a (pk, ck, tag) VALUES (2, 1, 'café')",
        "US-ASCII only")
      refuse("UPDATE ks.a SET tag = 'über' WHERE pk = 1 AND ck = 1",
        "US-ASCII only")
      refuse("INSERT INTO ks.a JSON '{\"pk\": 2, \"ck\": 1, " +
        "\"tag\": \"naïve\"}'", "US-ASCII only")
      // WHERE probes parse through the same grammar
      assert(cq("SELECT pk FROM ks.a WHERE col = 'tag' AND " +
        "value = 'plain' ALLOW FILTERING").collect()
        .map(_.getLong(0)).toSeq === Seq(1L))
      refuse("SELECT pk FROM ks.a WHERE col = 'tag' AND " +
        "value = 'é' ALLOW FILTERING", "US-ASCII only")
      // distinct declared rendering + text alias unchanged
      assert(cq("DESCRIBE TABLE ks.a").collect().head.getString(0)
        .contains("value ascii"))
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      cq("INSERT INTO ks.t (pk, ck, s) VALUES (1, 1, 'café')")
      assert(cq("DESCRIBE TABLE ks.t").collect().head.getString(0)
        .contains("value text"))
    } finally spark.conf.unset("spark.sql.catalog.ascat")
  }

  test("duration value type (C65s): both literal grammars, canonical " +
    "rendering, non-comparability refusals") {
    val root = Files.createTempDirectory("cql-duration").toString
    spark.conf.set("spark.sql.catalog.ducat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.ducat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "ducat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      def v(pk: Long): Option[String] =
        cq(s"SELECT value FROM ks.du WHERE pk = $pk AND ck = 1")
          .collect().headOption.map(_.getString(0))
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.du (pk bigint, ck int, col text, " +
        "value duration, wt bigint)")
      // ---- unit-suffixed grammar, canonical largest-unit rendering
      cq("INSERT INTO ks.du (pk, ck, up) VALUES (1, 1, 12h30m)")
      assert(v(1) === Some("12h30m"))
      cq("UPDATE ks.du SET up = 90m WHERE pk = 1 AND ck = 1")
      assert(v(1) === Some("1h30m")) // canonicalized, LWW overwrote
      cq("INSERT INTO ks.du (pk, ck, up) VALUES (2, 1, " +
        "1y2mo3d4h5m6s7ms8us9ns)")
      assert(v(2) === Some("1y2mo3d4h5m6s7ms8us9ns"))
      // months/days/nanos are INDEPENDENT axes: 26h stays 26h (no
      // day roll-up), 14mo folds to years (a fixed 12:1 ratio)
      cq("INSERT INTO ks.du (pk, ck, up) VALUES (3, 1, 26h)")
      assert(v(3) === Some("26h"))
      cq("INSERT INTO ks.du (pk, ck, up) VALUES (4, 1, 14mo)")
      assert(v(4) === Some("1y2mo"))
      // negative durations negate the whole value; -0 is 0
      cq("INSERT INTO ks.du (pk, ck, up) VALUES (5, 1, -1d12h)")
      assert(v(5) === Some("-1d12h"))
      cq("INSERT INTO ks.du (pk, ck, up) VALUES (6, 1, -0s)")
      assert(v(6) === Some("0s"))
      // ---- ISO-8601 grammar (both forms), quoted variant
      cq("INSERT INTO ks.du (pk, ck, up) VALUES (7, 1, P1Y2M3DT4H5M6S)")
      assert(v(7) === Some("1y2mo3d4h5m6s"))
      cq("INSERT INTO ks.du (pk, ck, up) VALUES (8, 1, P2W)")
      assert(v(8) === Some("14d"))
      cq("INSERT INTO ks.du (pk, ck, up) VALUES (9, 1, 'PT1.5S')")
      assert(v(9) === Some("1s500ms"))
      // deletes write the text tombstone neutral like any text cell
      cq("DELETE up FROM ks.du WHERE pk = 9 AND ck = 1")
      assert(v(9) === None)
      // count is the one legal aggregate
      assert(cq("SELECT count(*) AS n FROM ks.du").collect()
        .head.getLong(0) === 8L)
      // ---- grammar refusals
      refuse("INSERT INTO ks.du (pk, ck, up) VALUES (10, 1, 1m2h)",
        "descending order")
      refuse("INSERT INTO ks.du (pk, ck, up) VALUES (10, 1, 2h3h)",
        "descending order")
      refuse("INSERT INTO ks.du (pk, ck, up) VALUES (10, 1, 'bogus')",
        "duration literal")
      refuse("INSERT INTO ks.du (pk, ck, up) VALUES (10, 1, 5)",
        "duration literal")
      // ---- non-comparability refusals: WHERE, index, min/max/sum/avg
      refuse("SELECT pk FROM ks.du WHERE col = 'up' AND value = 26h " +
        "ALLOW FILTERING", "not comparable")
      refuse("SELECT pk FROM ks.du WHERE up = 26h ALLOW FILTERING",
        "not comparable")
      refuse("CREATE INDEX duidx ON ks.du (up)", "not comparable")
      refuse("CREATE INDEX dupfx ON ks.du (prefix(up))",
        "not comparable")
      refuse("SELECT min(value) FROM ks.du", "not comparable")
      refuse("SELECT pk, sum(value) FROM ks.du GROUP BY pk",
        "not comparable")
      // max(wt) stays legal — the refusal narrows to duration CELLS
      assert(cq("SELECT max(wt) AS w FROM ks.du").collect()
        .head.getLong(0) > 0L)
      // ---- placement refusals: keys, statics, LWT, JSON
      refuse("CREATE TABLE ks.dk (pk duration, ck int, col text, " +
        "value bigint, wt bigint)", "PRIMARY KEY")
      // statics over mapped types serve since C65x (r16) when the
      // declared types MATCH — durations are values, not orderings,
      // so a partition-level duration cell is legal; a mismatch
      // still refuses by name, and collections parse the duration
      // grammar (element equality on the canonical rendering)
      cq("CREATE TABLE ks.ds (pk bigint, ck int, col text, " +
        "value duration, s duration STATIC, wt bigint)")
      cq("INSERT INTO ks.ds (pk, ck, up, s) VALUES (1, 1, 1h, P2W)")
      assert(spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").load(s"$root/ks/ds")
        .filter(col("col") === "!s:s").select("value")
        .collect().map(_.getString(0)).toSeq === Seq("14d"))
      refuse("CREATE TABLE ks.ds2 (pk bigint, ck int, col text, " +
        "value duration, s date STATIC, wt bigint)",
        "must share the table's declared value type")
      cq("UPDATE ks.ds SET ups = ups + {26h, P1Y} WHERE pk = 1")
      assert(spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").load(s"$root/ks/ds")
        .filter(col("col") === "ups").select("value")
        .collect().map(_.getString(0)).toSet === Set("26h", "1y"))
      refuse("INSERT INTO ks.du (pk, ck, up) VALUES (11, 1, 1h) " +
        "IF NOT EXISTS", "duration-valued tables")
      // INSERT JSON routes through the duration grammar (C63b):
      // string documents canonicalize, numbers refuse
      cq("INSERT INTO ks.du JSON '{\"pk\": 11, \"ck\": 1, " +
        "\"up\": \"90m\"}'")
      assert(v(11) === Some("1h30m"))
      refuse("INSERT INTO ks.du JSON '{\"pk\": 12, \"ck\": 1, " +
        "\"up\": 5}'", "duration literal")
      // DESCRIBE + system_schema render the declared name
      assert(cq("DESCRIBE TABLE ks.du").collect().head.getString(0)
        .contains("value duration"))
      assert(cq("SELECT type FROM system_schema.columns WHERE " +
        "table_name = 'du' AND column_name = 'value'")
        .collect().map(_.getString(0)).toSeq === Seq("duration"))
    } finally spark.conf.unset("spark.sql.catalog.ducat")
  }

  test("mapped CQL value types (C65r): uuid/timeuuid/inet/float/" +
    "decimal/varint/time/date/smallint/tinyint lifecycles + grammar") {
    val root = Files.createTempDirectory("cql-mapped").toString
    spark.conf.set("spark.sql.catalog.mpcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.mpcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "mpcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      def cell(t: String, pk: Long, c: String): Option[Any] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/$t")
          .filter(col("pk") === pk && col("col") === c)
          .select("value").collect().headOption.map(_.get(0))
      cq("CREATE KEYSPACE ks")
      // ---- uuid: unquoted canonical literals, validated + lowered
      cq("CREATE TABLE ks.u (pk bigint, ck int, col text, " +
        "value uuid, wt bigint)")
      cq("INSERT INTO ks.u (pk, ck, id) VALUES (1, 1, " +
        "123E4567-E89B-12D3-A456-426614174000)")
      assert(cell("u", 1, "id") ===
        Some("123e4567-e89b-12d3-a456-426614174000"))
      cq("UPDATE ks.u SET id = 00000000-0000-1000-8000-000000000001 " +
        "WHERE pk = 1 AND ck = 1")
      assert(cell("u", 1, "id") ===
        Some("00000000-0000-1000-8000-000000000001"))
      cq("DELETE id FROM ks.u WHERE pk = 1 AND ck = 1")
      assert(cell("u", 1, "id") === None)
      refuse("INSERT INTO ks.u (pk, ck, id) VALUES (2, 1, 'nope')",
        "uuid literal")
      refuse("INSERT INTO ks.u (pk, ck, id) VALUES (2, 1, 7)",
        "uuid literal")
      // value-equality predicates parse through the uuid grammar on
      // BOTH routes: the cell-model ALLOW FILTERING form and an
      // indexed data column (the index entry stores the canonical
      // lowercase form, so an UPPERCASE probe must still hit)
      cq("INSERT INTO ks.u (pk, ck, id) VALUES (3, 1, " +
        "123e4567-e89b-12d3-a456-426614174000)")
      val hit = cq("SELECT pk FROM ks.u WHERE col = 'id' AND value = " +
        "123E4567-E89B-12D3-A456-426614174000 ALLOW FILTERING")
        .collect().map(_.getLong(0)).toSeq
      assert(hit === Seq(3L))
      cq("CREATE INDEX uidx ON ks.u (id)")
      val ihit = cq("SELECT pk FROM ks.u WHERE id = " +
        "123E4567-E89B-12D3-A456-426614174000")
        .collect().map(_.getLong(0)).toSeq
      assert(ihit === Seq(3L))
      // DESCRIBE + system_schema render the DECLARED type
      assert(cq("DESCRIBE TABLE ks.u").collect().head.getString(0)
        .contains("value uuid"))
      val colType = cq("SELECT type FROM system_schema.columns " +
        "WHERE table_name = 'u' AND column_name = 'value'")
        .collect().map(_.getString(0)).toSeq
      assert(colType === Seq("uuid"))
      // LWT serves text-storage mapped types through the validated
      // grammar (C55c, r15): IF NOT EXISTS miss + hit, UPDATE IF on
      // the canonical form, invalid literals refuse inside the round
      val ap1 = cq("INSERT INTO ks.u (pk, ck, id) VALUES (5, 1, " +
        "123E4567-E89B-12D3-A456-426614174000) IF NOT EXISTS")
        .collect().head
      assert(ap1.getBoolean(ap1.fieldIndex("[applied]")))
      assert(cell("u", 5, "id") ===
        Some("123e4567-e89b-12d3-a456-426614174000"))
      val ap2 = cq("INSERT INTO ks.u (pk, ck, id) VALUES (5, 1, " +
        "00000000-0000-1000-8000-00000000000f) IF NOT EXISTS")
        .collect().head
      assert(!ap2.getBoolean(ap2.fieldIndex("[applied]")))
      // the [applied]=false row surfaces the CURRENT canonical value
      assert(ap2.getString(ap2.fieldIndex("current")) ===
        "123e4567-e89b-12d3-a456-426614174000")
      val ap3 = cq("UPDATE ks.u SET id = " +
        "00000000-0000-1000-8000-000000000009 WHERE pk = 5 AND " +
        "ck = 1 IF id = 123e4567-E89B-12d3-a456-426614174000")
        .collect().head
      assert(ap3.getBoolean(ap3.fieldIndex("[applied]")))
      assert(cell("u", 5, "id") ===
        Some("00000000-0000-1000-8000-000000000009"))
      refuse("INSERT INTO ks.u (pk, ck, id) VALUES (6, 1, 'nope') " +
        "IF NOT EXISTS", "uuid literal")
      refuse("UPDATE ks.u SET id = " +
        "00000000-0000-1000-8000-000000000009 WHERE pk = 5 AND " +
        "ck = 1 IF id = 'nope'", "uuid literal")
      // non-text-storage mapped types still refuse LWT by name
      // (validated later in this test once ks.dc exists)
      // INSERT JSON routes through the uuid grammar (C63b): a valid
      // document writes, a non-uuid string refuses with the same
      // message INSERT VALUES gives
      cq("INSERT INTO ks.u JSON '{\"pk\": 6, \"ck\": 1, \"id\": " +
        "\"123E4567-E89B-12D3-A456-426614174000\"}'")
      assert(cell("u", 6, "id") ===
        Some("123e4567-e89b-12d3-a456-426614174000"))
      refuse("INSERT INTO ks.u JSON '{\"pk\": 5, \"ck\": 1, " +
        "\"id\": \"x\"}'", "uuid literal")
      // collections over mapped types (C65x, r16): elements parse
      // through the DECLARED grammar — a non-uuid element refuses
      refuse("UPDATE ks.u SET tags = tags + ['red'] WHERE pk = 5 " +
        "AND ck = 1", "uuid literal")
      cq("UPDATE ks.u SET tags = tags + " +
        "[00000000-0000-1000-8000-0000000000aa] WHERE pk = 5 AND " +
        "ck = 1")
      assert(cell("u", 5, "tags") ===
        Some("00000000-0000-1000-8000-0000000000aa"))
      // statics over mapped types (C65x): legal when the declared
      // type matches the table's value type; a mismatch refuses
      cq("CREATE TABLE ks.us (pk bigint, ck int, col text, " +
        "value uuid, wt bigint, s uuid STATIC)")
      refuse("CREATE TABLE ks.us2 (pk bigint, ck int, col text, " +
        "value uuid, wt bigint, s inet STATIC)",
        "must share the table's declared value type")
      // ---- timeuuid: version-1 only
      cq("CREATE TABLE ks.tu (pk bigint, ck int, col text, " +
        "value timeuuid, wt bigint)")
      cq("INSERT INTO ks.tu (pk, ck, ts) VALUES (1, 1, " +
        "58e0a7d7-eebc-11d8-9669-0800200c9a66)")
      assert(cell("tu", 1, "ts") ===
        Some("58e0a7d7-eebc-11d8-9669-0800200c9a66"))
      refuse("INSERT INTO ks.tu (pk, ck, ts) VALUES (2, 1, " +
        "123e4567-e89b-42d3-a456-426614174000)", "version-1")
      // ---- inet: textual v4/v6, validated shape
      cq("CREATE TABLE ks.ip (pk bigint, ck int, col text, " +
        "value inet, wt bigint)")
      cq("INSERT INTO ks.ip (pk, ck, addr) VALUES (1, 1, " +
        "'192.168.0.1')")
      cq("INSERT INTO ks.ip (pk, ck, addr) VALUES (2, 1, " +
        "'2001:DB8::8:800:200C:417A')")
      assert(cell("ip", 1, "addr") === Some("192.168.0.1"))
      assert(cell("ip", 2, "addr") === Some("2001:db8::8:800:200c:417a"))
      refuse("INSERT INTO ks.ip (pk, ck, addr) VALUES (3, 1, " +
        "'999.1.1.1')", "IPv4/IPv6")
      refuse("INSERT INTO ks.ip (pk, ck, addr) VALUES (3, 1, " +
        "'not-an-ip')", "IPv4/IPv6")
      // ---- float: literals ROUND to 32-bit precision
      cq("CREATE TABLE ks.f (pk bigint, ck int, col text, " +
        "value float, wt bigint)")
      cq("INSERT INTO ks.f (pk, ck, ratio) VALUES (1, 1, 1.1)")
      assert(cell("f", 1, "ratio") === Some(1.1f.toDouble))
      refuse("INSERT INTO ks.f (pk, ck, ratio) VALUES (2, 1, 'x')",
        "float literal")
      // ---- decimal: fixed decimal(18,6) layout, exact arithmetic
      cq("CREATE TABLE ks.dc (pk bigint, ck int, col text, " +
        "value decimal, wt bigint)")
      cq("INSERT INTO ks.dc (pk, ck, price) VALUES (1, 1, 12.345)")
      cq("UPDATE ks.dc SET price = 99 WHERE pk = 1 AND ck = 1")
      assert(cell("dc", 1, "price").map(_.toString) ===
        Some("99.000000"))
      refuse("INSERT INTO ks.dc (pk, ck, price) VALUES (2, 1, " +
        "0.1234567)", "scale beyond 6")
      refuse("INSERT INTO ks.dc (pk, ck, price) VALUES (2, 1, " +
        "1234567890123.456789)", "precision beyond 18")
      // ---- varint: bigint-backed subset, 64-bit bound named
      cq("CREATE TABLE ks.vi (pk bigint, ck int, col text, " +
        "value varint, wt bigint)")
      cq("INSERT INTO ks.vi (pk, ck, n) VALUES (1, 1, " +
        "-9223372036854775808)")
      assert(cell("vi", 1, "n") === Some(Long.MinValue))
      refuse("INSERT INTO ks.vi (pk, ck, n) VALUES (2, 1, " +
        "99999999999999999999)", "beyond 64 bits")
      // ---- time: nanos since midnight, both literal forms
      cq("CREATE TABLE ks.tm (pk bigint, ck int, col text, " +
        "value time, wt bigint)")
      cq("INSERT INTO ks.tm (pk, ck, at) VALUES (1, 1, '01:02:03')")
      cq("INSERT INTO ks.tm (pk, ck, at) VALUES (2, 1, 3723000000000)")
      assert(cell("tm", 1, "at") === Some(3723000000000L))
      assert(cell("tm", 2, "at") === Some(3723000000000L))
      refuse("INSERT INTO ks.tm (pk, ck, at) VALUES (3, 1, " +
        "86400000000000)", "out of range")
      // ---- date: 'YYYY-MM-DD' → signed day count; predicates parse
      // through the same grammar (compare as the stored days)
      cq("CREATE TABLE ks.dt (pk bigint, ck int, col text, " +
        "value date, wt bigint)")
      cq("INSERT INTO ks.dt (pk, ck, d) VALUES (1, 1, '1970-01-11')")
      assert(cell("dt", 1, "d") === Some(10))
      val dhit = cq("SELECT pk FROM ks.dt WHERE col = 'd' AND " +
        "value = '1970-01-11' ALLOW FILTERING")
        .collect().map(_.getLong(0)).toSeq
      assert(dhit === Seq(1L))
      refuse("INSERT INTO ks.dt (pk, ck, d) VALUES (2, 1, " +
        "'not-a-date')", "YYYY-MM-DD")
      // ---- smallint/tinyint: range-checked int storage
      cq("CREATE TABLE ks.si (pk bigint, ck int, col text, " +
        "value smallint, wt bigint)")
      cq("INSERT INTO ks.si (pk, ck, n) VALUES (1, 1, -32768)")
      assert(cell("si", 1, "n") === Some(-32768))
      refuse("INSERT INTO ks.si (pk, ck, n) VALUES (2, 1, 32768)",
        "smallint range")
      cq("CREATE TABLE ks.ti (pk bigint, ck int, col text, " +
        "value tinyint, wt bigint)")
      cq("INSERT INTO ks.ti (pk, ck, n) VALUES (1, 1, 127)")
      assert(cell("ti", 1, "n") === Some(127))
      refuse("UPDATE ks.ti SET n = 128 WHERE pk = 1 AND ck = 1",
        "tinyint range")
      // buffered script over a mapped table: one flush, LWW inside
      def nFiles: Int = new java.io.File(s"$root/ks/u")
        .list().count(_.endsWith(".cells"))
      val before = nFiles
      Cql.catalogScript(spark,
        """INSERT INTO ks.u (pk, ck, id) VALUES (10, 1,
          |  00000000-0000-1000-8000-00000000000a);
          |UPDATE ks.u SET id = 00000000-0000-1000-8000-00000000000b
          |  WHERE pk = 10 AND ck = 1
          |""".stripMargin, "mpcat")
      assert(nFiles === before + 1)
      assert(cell("u", 10, "id") ===
        Some("00000000-0000-1000-8000-00000000000b"))
    } finally spark.conf.unset("spark.sql.catalog.mpcat")
  }

  test("uuid-keyed typed tables (C36d): unquoted uuid key literals " +
    "through the CEL6 comparator, LWT, DESCRIBE") {
    val root = Files.createTempDirectory("cql-uuidkey").toString
    spark.conf.set("spark.sql.catalog.ukcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.ukcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "ukcat")
      val u1 = "123e4567-e89b-12d3-a456-426614174000"
      val u2 = "00000000-0000-1000-8000-000000000002"
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.events (id uuid, seq int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((id), seq))")
      // unquoted uuid literals bind the typed text-storage key part;
      // uppercase input canonicalizes to the same key
      cq(s"INSERT INTO ks.events (id, seq, qty) VALUES ($u1, 1, 10)")
      cq("INSERT INTO ks.events (id, seq, qty) VALUES " +
        s"(${u1.toUpperCase}, 2, 20)")
      cq(s"INSERT INTO ks.events (id, seq, qty) VALUES ($u2, 1, 30)")
      val rows = cq(s"SELECT seq, value FROM ks.events WHERE id = $u1")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
      assert(rows === Seq((1, 10L), (2, 20L)))
      // LWT through the keyed CAS round — the canonical Cassandra
      // idiom: uuid-keyed INSERT ... IF NOT EXISTS
      val r1 = cq(s"INSERT INTO ks.events (id, seq, qty) VALUES " +
        s"($u2, 9, 90) IF NOT EXISTS")
        .as[(Boolean, Option[Long])].collect().head
      assert(r1 === ((true, None)))
      val r2 = cq(s"INSERT INTO ks.events (id, seq, qty) VALUES " +
        s"($u2, 9, 91) IF NOT EXISTS")
        .as[(Boolean, Option[Long])].collect().head
      assert(r2 === ((false, Some(90L))))
      // UPDATE/DELETE address the uuid key
      cq(s"UPDATE ks.events SET qty = 11 WHERE id = $u1 AND seq = 1")
      cq(s"DELETE FROM ks.events WHERE id = $u1 AND seq = 2")
      val after = cq(s"SELECT seq, value FROM ks.events WHERE id = $u1")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
      assert(after === Seq((1, 11L)))
      // DESCRIBE + system_schema render the DECLARED key type
      assert(cq("DESCRIBE TABLE ks.events").collect().head.getString(0)
        .contains("id uuid"))
      val kt = cq("SELECT type FROM system_schema.columns " +
        "WHERE table_name = 'events' AND column_name = 'id'")
        .collect().map(_.getString(0)).toSeq
      assert(kt === Seq("uuid"))
      // a varint/smallint pk-ck pair maps to bigint/int STORAGE (the
      // default layout's shape — writes ride the default grammar),
      // while the DECLARED names still ride as props and render
      cq("CREATE TABLE ks.vk (pk varint, ck smallint, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((pk), ck))")
      cq("INSERT INTO ks.vk (pk, ck, qty) VALUES (5, 1, 7)")
      assert(cq("SELECT value FROM ks.vk WHERE pk = 5 AND ck = 1")
        .collect().map(_.getLong(0)).toSeq === Seq(7L))
      assert(cq("DESCRIBE TABLE ks.vk").collect().head.getString(0)
        .contains("pk varint"))
    } finally spark.conf.unset("spark.sql.catalog.ukcat")
  }

  test("partition-restricted ANN (C70b): WHERE pk = ? bounds the " +
    "rerank to the partition; ck restrictions refuse") {
    val root = Files.createTempDirectory("cql-rvec").toString
    spark.conf.set("spark.sql.catalog.rvcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.rvcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "rvcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.e (pk bigint, ck int, col text, " +
        "value vector<float, 2>, wt bigint)")
      // the index is still REQUIRED with a restriction (Cassandra's
      // planner rule) — pinned before it exists
      refuse("SELECT pk, ck FROM ks.e WHERE pk = 1 ORDER BY v " +
        "ANN OF [1.0, 0.0] LIMIT 2", "needs a vector index")
      cq("CREATE INDEX ON ks.e (ann(v))")
      cq("INSERT INTO ks.e (pk, ck, v) VALUES (1, 1, [1.0, 0.0])")
      cq("INSERT INTO ks.e (pk, ck, v) VALUES (1, 2, [0.0, 1.0])")
      cq("INSERT INTO ks.e (pk, ck, v) VALUES (1, 3, [0.9, 0.1])")
      cq("INSERT INTO ks.e (pk, ck, v) VALUES (2, 1, [1.0, 0.0])")
      // the partition bound excludes pk 2's perfect match; rank
      // within pk 1 is ck 1 (cos 1.0) then ck 3
      val hits = cq("SELECT pk, ck FROM ks.e WHERE pk = 1 " +
        "ORDER BY v ANN OF [1.0, 0.0] LIMIT 2").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(hits === Seq((1L, 1), (1L, 3)))
      // pk IN widens the slice
      val in2 = cq("SELECT pk, ck FROM ks.e WHERE pk IN (1, 2) " +
        "ORDER BY v ANN OF [1.0, 0.0] LIMIT 2").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(in2 === Set((1L, 1), (2L, 1)))
      // clustering restrictions refuse: ANN's output order is
      // similarity, not clustering
      refuse("SELECT pk, ck FROM ks.e WHERE pk = 1 AND ck = 1 " +
        "ORDER BY v ANN OF [1.0, 0.0] LIMIT 2",
        "partition-key restrictions only")
      refuse("SELECT pk, ck FROM ks.e WHERE pk = 1 AND ck > 1 " +
        "ORDER BY v ANN OF [1.0, 0.0] LIMIT 2",
        "partition-key restrictions only")
    } finally spark.conf.unset("spark.sql.catalog.rvcat")
  }

  test("filtered ANN (C70c): pre-filter through the column's 2i, " +
    "never a post-filtered short k-list; refusals by name") {
    val root = Files.createTempDirectory("cql-fann").toString
    spark.conf.set("spark.sql.catalog.facat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.facat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "facat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.emb (pk bigint, ck int, col text, " +
        "value vector<float, 2>, wt bigint)")
      cq("CREATE INDEX ON ks.emb (ann(v))")
      // pk 1: the globally BEST match, but tagged [1, 0]
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (1, 1, [1.0, 0.0])")
      cq("INSERT INTO ks.emb (pk, ck, tag) VALUES (1, 1, [1.0, 0.0])")
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (2, 1, [0.9, 0.1])")
      cq("INSERT INTO ks.emb (pk, ck, tag) VALUES (2, 1, [0.0, 1.0])")
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (3, 1, [0.0, 1.0])")
      cq("INSERT INTO ks.emb (pk, ck, tag) VALUES (3, 1, [0.0, 1.0])")
      // the filter resolves through ITS index — refuse without one
      refuse("SELECT pk FROM ks.emb WHERE tag = [0.0, 1.0] " +
        "ORDER BY v ANN OF [1.0, 0.0] LIMIT 2",
        "needs a secondary index on tag")
      cq("CREATE INDEX ON ks.emb (tag)")
      // PRE-filter semantics: k = 2 fills entirely from the tagged
      // slice (pks 2, 3) even though pk 1 beats both on cosine — a
      // post-filter of the global top-2 would return pk 2 alone
      val hits = cq("SELECT pk FROM ks.emb WHERE tag = [0.0, 1.0] " +
        "ORDER BY v ANN OF [1.0, 0.0] LIMIT 2")
        .collect().map(_.getLong(0)).toSeq
      assert(hits === Seq(2L, 3L), s"pre-filter top-k, got $hits")
      // the predicate re-applies on the base: rows whose tag was
      // OVERWRITTEN away drop even while the 2i still lists them
      cq("UPDATE ks.emb SET tag = [1.0, 0.0] WHERE pk = 3 AND ck = 1")
      val after = cq("SELECT pk FROM ks.emb WHERE tag = [0.0, 1.0] " +
        "ORDER BY v ANN OF [1.0, 0.0] LIMIT 2")
        .collect().map(_.getLong(0)).toSeq
      assert(after === Seq(2L), s"stale index entry not dropped: $after")
      // filtering on the ANN column itself refuses
      refuse("SELECT pk FROM ks.emb WHERE v = [1.0, 0.0] " +
        "ORDER BY v ANN OF [1.0, 0.0] LIMIT 2",
        "filtering on the same column")
      // the vector index stays mandatory with a filter present
      cq("CREATE TABLE ks.emb2 (pk bigint, ck int, col text, " +
        "value vector<float, 2>, wt bigint)")
      cq("INSERT INTO ks.emb2 (pk, ck, tag) VALUES (1, 1, [1.0, 0.0])")
      refuse("SELECT pk FROM ks.emb2 WHERE tag = [1.0, 0.0] " +
        "ORDER BY v ANN OF [1.0, 0.0] LIMIT 1", "needs a vector index")
    } finally spark.conf.unset("spark.sql.catalog.facat")
  }

  test("GROUP BY must name a primary-key prefix (Cassandra 3.10 rule)") {
    val root = Files.createTempDirectory("cql-gby").toString
    spark.conf.set("spark.sql.catalog.gbcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.gbcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "gbcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("INSERT INTO ks.t (pk, ck, n) VALUES (1, 1, 5)")
      cq("INSERT INTO ks.t (pk, ck, n) VALUES (1, 2, 7)")
      // prefixes serve: (pk) and (pk, ck)
      assert(cq("SELECT pk, count(*) AS n FROM ks.t GROUP BY pk")
        .collect().head.getLong(1) === 2L)
      assert(cq("SELECT pk, ck, count(*) AS n FROM ks.t " +
        "GROUP BY pk, ck").collect().length === 2)
      // non-prefix shapes refuse
      refuse("SELECT ck, count(*) FROM ks.t GROUP BY ck",
        "primary-key prefix")
      refuse("SELECT col, count(*) FROM ks.t GROUP BY col",
        "primary-key prefix")
      refuse("SELECT pk, count(*) FROM ks.t GROUP BY ck, pk",
        "primary-key prefix")
    } finally spark.conf.unset("spark.sql.catalog.gbcat")
  }

  test("vector<float, n> values + ANN search (C70): wire form, " +
    "ann(v) index, probe pruning, rerank order") {
    val root = Files.createTempDirectory("cql-vec").toString
    spark.conf.set("spark.sql.catalog.veccat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.veccat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "veccat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      def cell(pk: Long, c: String): Option[Seq[Byte]] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/emb")
          .filter(col("pk") === pk && col("col") === c)
          .select("value").collect().headOption
          .map(_.getAs[Array[Byte]](0).toSeq)
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.emb (pk bigint, ck int, col text, " +
        "value vector<float, 4>, wt bigint)")
      // wire form: 4 IEEE-754 floats big-endian; UPDATE overwrites
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (1, 1, " +
        "[1.0, 2.0, 3.0, 4.0])")
      cq("UPDATE ks.emb SET v = [2.0, 4.0, 6.0, 8.0] " +
        "WHERE pk = 1 AND ck = 1")
      assert(cell(1, "v") === Some(graft.functions.VectorCodec
        .encode(Array(2f, 4f, 6f, 8f)).toSeq))
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (9, 1, " +
        "[0.0, 0.0, 0.0, 1.0])")
      cq("DELETE v FROM ks.emb WHERE pk = 9 AND ck = 1")
      assert(cell(9, "v") === None)
      // grammar refusals: dimension, component type, non-vector shapes
      refuse("INSERT INTO ks.emb (pk, ck, v) VALUES (2, 1, [1.0])",
        "takes 4")
      refuse("INSERT INTO ks.emb (pk, ck, v) VALUES (2, 1, " +
        "[1.0, 'x', 2.0, 3.0])", "components are floats")
      refuse("INSERT INTO ks.emb (pk, ck, v) VALUES (2, 1, 7)",
        "vector literal")
      refuse("INSERT INTO ks.emb (pk, ck, v) VALUES (2, 1, " +
        "[1.0, 2.0, 3.0, 4.0]) IF NOT EXISTS",
        "vector<float,4>-valued tables")
      refuse("CREATE TABLE ks.bad (pk vector<float, 2>, ck int, " +
        "col text, value bigint, wt bigint, PRIMARY KEY ((pk), ck))",
        "unsupported typed key part type")
      refuse("CREATE TABLE ks.bs (pk bigint, ck int, col text, " +
        "value vector<float, 2>, wt bigint, s vector<float, 2> " +
        "STATIC)", "cannot be static")
      // DESCRIBE renders the declared type
      assert(cq("DESCRIBE TABLE ks.emb").collect().head.getString(0)
        .contains("value vector<float,4>"))
      // ANN refuses without a vector index (Cassandra's rule)
      refuse("SELECT pk FROM ks.emb ORDER BY v ANN OF " +
        "[1.0, 0.5, 0.25, 0.125] LIMIT 2", "needs a vector index")
      cq("CREATE INDEX ON ks.emb (ann(v))")
      val idxDir = s"$root/ks/emb_v_ann_idx"
      assert(Files.isDirectory(java.nio.file.Paths.get(idxDir)))
      // positives: exact positive multiples of the query — cosine
      // 1.000000 after rounding, SAME LSH bucket as the query by
      // construction (sign(h·cv) == sign(h·q) for c > 0); the
      // negative multiple lands in the complement bucket (Hamming 4)
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (2, 1, " +
        "[2.0, 1.0, 0.5, 0.25])")
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (3, 1, " +
        "[3.0, 1.5, 0.75, 0.375])")
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (4, 1, " +
        "[0.5, 0.25, 0.125, 0.0625])")
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (5, 1, " +
        "[-1.0, -0.5, -0.25, -0.125])")
      // write-through kept the index fresh across those plain INSERTs
      assert(!graft.sources.CellIndex.isStale(idxDir))
      // rank order: ties at cosine 1.0 break by pk ascending
      val top = cq("SELECT pk FROM ks.emb ORDER BY v ANN OF " +
        "[1.0, 0.5, 0.25, 0.125] LIMIT 3")
        .collect().map(_.getLong(0)).toSeq
      assert(top === Seq(2L, 3L, 4L))
      // PROBE PRUNING: the opposite vector (pk 5, Hamming distance 4
      // from the query's bucket) is OUTSIDE the 4-bucket probe set —
      // a brute-force top-10 of 5 rows would include it; ANN must not
      val wide = cq("SELECT pk FROM ks.emb ORDER BY v ANN OF " +
        "[1.0, 0.5, 0.25, 0.125] LIMIT 10")
        .collect().map(_.getLong(0)).toSeq
      assert(!wide.contains(5L), s"opposite-bucket row not pruned: $wide")
      assert(Seq(2L, 3L, 4L).forall(wide.contains))
      // projection subset + refusal
      assert(cq("SELECT pk, ck FROM ks.emb ORDER BY v ANN OF " +
        "[1.0, 0.5, 0.25, 0.125] LIMIT 1").collect().head.getInt(1) === 1)
      refuse("SELECT wt FROM ks.emb ORDER BY v ANN OF " +
        "[1.0, 0.5, 0.25, 0.125] LIMIT 1",
        "ANN SELECT projects key parts and value")
      // ANN on a non-vector table refuses
      cq("CREATE TABLE ks.plain (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      refuse("SELECT pk FROM ks.plain ORDER BY v ANN OF [1.0] LIMIT 1",
        "vector<float, n>-valued tables")
    } finally spark.conf.unset("spark.sql.catalog.veccat")
  }

  test("vector tables over typed layouts (C70d): uuid-keyed ANN " +
    "lifecycle — writes, index freshness, restriction, tombstones") {
    val root = Files.createTempDirectory("cql-c70d").toString
    spark.conf.set("spark.sql.catalog.tvcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.tvcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "tvcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      def u(n: Int) = f"00000000-0000-1000-8000-${n}%012d"
      cq("CREATE KEYSPACE ks")
      // the production embedding-store shape: uuid pk, no ck
      cq("CREATE TABLE ks.emb (id uuid, col text, " +
        "value vector<float, 2>, wt bigint, PRIMARY KEY ((id)))")
      cq("CREATE INDEX ON ks.emb (ann(v))")
      cq(s"INSERT INTO ks.emb (id, v) VALUES (${u(1)}, [1.0, 0.0])")
      cq(s"INSERT INTO ks.emb (id, v) VALUES (${u(2)}, [0.0, 1.0])")
      cq(s"INSERT INTO ks.emb (id, v) VALUES (${u(3)}, [2.0, 0.0])")
      cq(s"INSERT INTO ks.emb (id, v) VALUES (${u(4)}, [0.9, 0.1])")
      val idxDir = s"$root/ks/emb_v_ann_idx"
      // write-through refresh kept the typed-base index fresh
      assert(!graft.sources.CellIndex.isStale(idxDir))
      // exact-cosine rank: u1 and u3 tie at 1.0 (tie broken by id),
      // then u4; the orthogonal u2 is outside the probe ball
      val top = cq("SELECT id FROM ks.emb ORDER BY v ANN OF " +
        "[1.0, 0.0] LIMIT 3").collect().map(_.getString(0)).toSeq
      assert(top === Seq(u(1), u(3), u(4)), top)
      // UPDATE overwrites through the declared grammar; the rank
      // follows (u1 moves off-axis, u3 now leads)
      cq(s"UPDATE ks.emb SET v = [0.0, 2.0] WHERE id = ${u(1)}")
      val top2 = cq("SELECT id FROM ks.emb ORDER BY v ANN OF " +
        "[1.0, 0.0] LIMIT 2").collect().map(_.getString(0)).toSeq
      assert(top2 === Seq(u(3), u(4)), top2)
      // typed partition restriction (the C70b form over named parts)
      val one = cq(s"SELECT id FROM ks.emb WHERE id = ${u(2)} " +
        "ORDER BY v ANN OF [1.0, 0.0] LIMIT 5")
        .collect().map(_.getString(0)).toSeq
      assert(one === Seq(u(2)), one)
      // vector tombstone over the typed layout
      cq(s"DELETE v FROM ks.emb WHERE id = ${u(3)}")
      val afterDel = cq("SELECT id FROM ks.emb ORDER BY v ANN OF " +
        "[1.0, 0.0] LIMIT 5").collect().map(_.getString(0)).toSeq
      assert(!afterDel.contains(u(3)), afterDel)
      // projection refusals name the typed key parts
      refuse("SELECT wt FROM ks.emb ORDER BY v ANN OF [1.0, 0.0] " +
        "LIMIT 1", "ANN SELECT projects key parts and value")
      // clustering restrictions still refuse on a ck-bearing layout
      cq("CREATE TABLE ks.embs (id uuid, seq int, col text, " +
        "value vector<float, 2>, wt bigint, PRIMARY KEY ((id), seq))")
      cq("CREATE INDEX ON ks.embs (ann(v))")
      cq(s"INSERT INTO ks.embs (id, seq, v) VALUES (${u(7)}, 1, " +
        "[1.0, 0.0])")
      refuse(s"SELECT id FROM ks.embs WHERE id = ${u(7)} AND " +
        "seq = 1 ORDER BY v ANN OF [1.0, 0.0] LIMIT 1",
        "partition-key restrictions only")
      // non-vector mapped values stay default-layout only
      refuse("CREATE TABLE ks.bad (id uuid, seq int, col text, " +
        "value date, wt bigint, PRIMARY KEY ((id), seq))",
        "default ((pk), ck) layout only")
    } finally spark.conf.unset("spark.sql.catalog.tvcat")
  }

  test("LWT operator conditions (C55d): != / < / <= / > / >= / IN " +
    "with Cassandra's null semantics; ordered ops bigint-only") {
    val root = Files.createTempDirectory("cql-c55d").toString
    spark.conf.set("spark.sql.catalog.opcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.opcat.root", root)
    try {
      import spark.implicits._
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "opcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      def applied(stmt: String): Boolean =
        cq(stmt).collect().head.getBoolean(0)
      def n(pk: Long): Option[Long] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/t")
          .filter(col("pk") === pk && col("col") === "n")
          .select("value").as[Long].collect().headOption
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("INSERT INTO ks.t (pk, ck, n) VALUES (1, 1, 10)")
      // ordered comparisons gate on the CURRENT winner
      assert(applied("UPDATE ks.t SET n = 11 WHERE pk = 1 AND " +
        "ck = 1 IF n > 5"))
      assert(!applied("UPDATE ks.t SET n = 99 WHERE pk = 1 AND " +
        "ck = 1 IF n < 11"))
      assert(applied("UPDATE ks.t SET n = 12 WHERE pk = 1 AND " +
        "ck = 1 IF n <= 11"))
      assert(applied("UPDATE ks.t SET n = 13 WHERE pk = 1 AND " +
        "ck = 1 IF n >= 12"))
      assert(n(1) === Some(13L))
      // != : an ABSENT cell IS not-equal (Cassandra's null rule)
      assert(applied("UPDATE ks.t SET n = 1 WHERE pk = 2 AND " +
        "ck = 1 IF n != 7"))
      assert(!applied("UPDATE ks.t SET n = 2 WHERE pk = 2 AND " +
        "ck = 1 IF n != 1"))
      // ...but an ordered comparison against an absent cell is FALSE
      assert(!applied("UPDATE ks.t SET n = 1 WHERE pk = 3 AND " +
        "ck = 1 IF n > 0"))
      // IN: any member matches; the empty list never applies
      assert(applied("UPDATE ks.t SET n = 20 WHERE pk = 1 AND " +
        "ck = 1 IF n IN (12, 13, 14)"))
      assert(!applied("UPDATE ks.t SET n = 30 WHERE pk = 1 AND " +
        "ck = 1 IF n IN (1, 2)"))
      assert(!applied("UPDATE ks.t SET n = 30 WHERE pk = 1 AND " +
        "ck = 1 IF n IN ()"))
      assert(n(1) === Some(20L))
      // the miss row still reports the current value
      val miss = cq("UPDATE ks.t SET n = 9 WHERE pk = 1 AND ck = 1 " +
        "IF n != 20").collect().head
      assert(!miss.getBoolean(0) &&
        miss.getLong(miss.fieldIndex("current")) === 20L)
      // text cells: the whole operator family serves — ordered
      // compares in UTF-8 byte order (C55h)
      cq("CREATE TABLE ks.s (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      cq("INSERT INTO ks.s (pk, ck, st) VALUES (1, 1, 'new')")
      assert(applied("UPDATE ks.s SET st = 'run' WHERE pk = 1 AND " +
        "ck = 1 IF st != 'done'"))
      assert(applied("UPDATE ks.s SET st = 'done' WHERE pk = 1 AND " +
        "ck = 1 IF st IN ('run', 'paused')"))
      assert(applied("UPDATE ks.s SET st = 'x' WHERE pk = 1 AND " +
        "ck = 1 IF st < 'zzz'"))
      assert(!applied("UPDATE ks.s SET st = 'y' WHERE pk = 1 AND " +
        "ck = 1 IF st > 'x'"))
      // mapped grammar rides the IN members (canonical uuid compare)
      cq("CREATE TABLE ks.u (pk bigint, ck int, col text, " +
        "value uuid, wt bigint)")
      cq("INSERT INTO ks.u (pk, ck, id) VALUES (1, 1, " +
        "123e4567-e89b-12d3-a456-426614174000)")
      assert(applied("UPDATE ks.u SET id = " +
        "00000000-0000-1000-8000-000000000002 WHERE pk = 1 AND " +
        "ck = 1 IF id IN (123E4567-E89B-12D3-A456-426614174000, " +
        "00000000-0000-1000-8000-000000000009)"))
      refuse("UPDATE ks.u SET id = " +
        "00000000-0000-1000-8000-000000000003 WHERE pk = 1 AND " +
        "ck = 1 IF id != 'nope'", "uuid literal")
      // ordered uuid: both v1 with zero time — the unsigned-value
      // tiebreak decides (C55h)
      assert(applied("UPDATE ks.u SET id = " +
        "00000000-0000-1000-8000-000000000003 WHERE pk = 1 AND " +
        "ck = 1 IF id > 00000000-0000-1000-8000-000000000001"))
      // operator conditions ride the conditional BATCH round too
      val b = cq("BEGIN BATCH\n" +
        "UPDATE ks.t SET n = 21 WHERE pk = 1 AND ck = 1 IF n >= 20;\n" +
        "APPLY BATCH").collect().head
      assert(b.getBoolean(0))
      assert(n(1) === Some(21L))
      // ...and conditional DELETE (the write is the tombstone)
      assert(!cq("DELETE n FROM ks.t WHERE pk = 1 AND ck = 1 " +
        "IF n < 21").collect().head.getBoolean(0))
      assert(n(1) === Some(21L))
      assert(cq("DELETE n FROM ks.t WHERE pk = 1 AND ck = 1 " +
        "IF n != 99").collect().head.getBoolean(0))
      assert(n(1) === None)
    } finally spark.conf.unset("spark.sql.catalog.opcat")
  }

  test("ordered LWT conditions in the DECLARED type's order (C55h): " +
    "timeuuid by 60-bit time, inet by address bytes, timestamp as " +
    "instants — where text order disagrees") {
    val root = Files.createTempDirectory("cql-c55h").toString
    spark.conf.set("spark.sql.catalog.ohcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.ohcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "ohcat")
      def applied(stmt: String): Boolean =
        cq(stmt).collect().head.getBoolean(0)
      cq("CREATE KEYSPACE ks")
      // --- timeuuid: 60-bit TIME order, not canonical-text order ---
      // A's time is 1 (time_low = 1); B's is 2^32 (time_mid = 1).
      // Textually A > B, by time A < B — the condition must follow
      // the time.
      val tA = "00000001-0000-1000-8000-000000000000"
      val tB = "00000000-0001-1000-8000-000000000000"
      cq("CREATE TABLE ks.ev (pk bigint, ck int, col text, " +
        "value timeuuid, wt bigint)")
      cq(s"INSERT INTO ks.ev (pk, ck, id) VALUES (1, 1, $tA)")
      assert(applied("UPDATE ks.ev SET id = " +
        s"$tA WHERE pk = 1 AND ck = 1 IF id < $tB"))
      assert(!applied("UPDATE ks.ev SET id = " +
        s"$tB WHERE pk = 1 AND ck = 1 IF id > $tB"))
      // --- inet: numeric address order, not text order ---
      // '9.0.0.0' > '10.0.0.0' textually but < numerically.
      cq("CREATE TABLE ks.ip (pk bigint, ck int, col text, " +
        "value inet, wt bigint)")
      cq("INSERT INTO ks.ip (pk, ck, addr) VALUES (1, 1, '9.0.0.0')")
      assert(applied("UPDATE ks.ip SET addr = '9.0.0.1' WHERE " +
        "pk = 1 AND ck = 1 IF addr < '10.0.0.0'"))
      assert(applied("UPDATE ks.ip SET addr = '10.0.0.0' WHERE " +
        "pk = 1 AND ck = 1 IF addr >= '9.0.0.1'"))
      assert(!applied("UPDATE ks.ip SET addr = '1.1.1.1' WHERE " +
        "pk = 1 AND ck = 1 IF addr > '200.0.0.0'"))
      // mixed families compare by address BYTES: 10.0.0.0 starts
      // with byte 10 — above ::ff's zero prefix, below ffff::1's 0xff
      assert(applied("UPDATE ks.ip SET addr = '10.0.0.1' WHERE " +
        "pk = 1 AND ck = 1 IF addr < 'ffff::1'"))
      assert(!applied("UPDATE ks.ip SET addr = '1.1.1.1' WHERE " +
        "pk = 1 AND ck = 1 IF addr < '::ff'"))
      // --- ascii: byte order (== text order on the ASCII subset) ---
      cq("CREATE TABLE ks.an (pk bigint, ck int, col text, " +
        "value ascii, wt bigint)")
      cq("INSERT INTO ks.an (pk, ck, tag) VALUES (1, 1, 'beta')")
      assert(applied("UPDATE ks.an SET tag = 'gamma' WHERE pk = 1 " +
        "AND ck = 1 IF tag > 'alpha'"))
      assert(!applied("UPDATE ks.an SET tag = 'x' WHERE pk = 1 " +
        "AND ck = 1 IF tag <= 'delta'"))
      // --- timestamp tables ride the LWT round as instants (C55h):
      // IF NOT EXISTS, equality, ordered, and the reported current
      cq("CREATE TABLE ks.ts (pk bigint, ck int, col text, " +
        "value timestamp, wt bigint)")
      assert(applied("INSERT INTO ks.ts (pk, ck, seen) VALUES " +
        "(1, 1, '2020-06-01T12:00:00Z') IF NOT EXISTS"))
      assert(!applied("INSERT INTO ks.ts (pk, ck, seen) VALUES " +
        "(1, 1, '2099-01-01T00:00:00Z') IF NOT EXISTS"))
      // ordered: the space form and an explicit offset both parse;
      // +02:00 on 13:00 IS 11:00Z, before the stored noon
      assert(applied("UPDATE ks.ts SET seen = '2021-01-01 00:00:00' " +
        "WHERE pk = 1 AND ck = 1 IF seen < '2020-06-02T00:00:00Z'"))
      assert(applied("UPDATE ks.ts SET seen = '2022-01-01T00:00:00Z' " +
        "WHERE pk = 1 AND ck = 1 IF seen > '2020-12-31T13:00:00+02:00'"))
      assert(!applied("UPDATE ks.ts SET seen = '2000-01-01T00:00:00Z' " +
        "WHERE pk = 1 AND ck = 1 IF seen != '2022-01-01T00:00:00Z'"))
      // epoch-millis literals parse too; equality applies
      assert(applied("UPDATE ks.ts SET seen = 0 " +
        "WHERE pk = 1 AND ck = 1 IF seen = '2022-01-01T00:00:00Z'"))
      val miss = cq("UPDATE ks.ts SET seen = 1 WHERE pk = 1 AND " +
        "ck = 1 IF seen > '2020-01-01T00:00:00Z'").collect().head
      assert(!miss.getBoolean(0))
      assert(miss.getTimestamp(miss.fieldIndex("current")) ===
        java.sql.Timestamp.from(java.time.Instant.EPOCH))
      // conditional DELETE + conditional BATCH ride it too
      assert(applied("BEGIN BATCH\nUPDATE ks.ts SET seen = 5 WHERE " +
        "pk = 1 AND ck = 1 IF seen <= 0;\nAPPLY BATCH"))
      assert(applied("DELETE seen FROM ks.ts WHERE pk = 1 AND " +
        "ck = 1 IF seen = 5"))
      assert(cq("SELECT value FROM ks.ts WHERE pk = 1 AND ck = 1")
        .count() === 0)
      // an ordered condition against an ABSENT cell stays FALSE
      assert(!applied("UPDATE ks.ts SET seen = 9 WHERE pk = 1 AND " +
        "ck = 1 IF seen < '2099-01-01T00:00:00Z'"))
    } finally {
      spark.conf.unset("spark.sql.catalog.ohcat")
      spark.conf.unset("spark.sql.catalog.ohcat.root")
    }
  }

  test("LWT over every declared scalar value type (C55j): date/" +
    "smallint/varint/time/float/decimal/boolean/blob ride the CAS " +
    "round through their declared grammars") {
    val root = Files.createTempDirectory("cql-c55j").toString
    spark.conf.set("spark.sql.catalog.ojcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.ojcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "ojcat")
      def applied(stmt: String): Boolean =
        cq(stmt).collect().head.getBoolean(0)
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      // date (int storage): day-count order, fresh-table _type route
      cq("CREATE TABLE ks.dt (pk bigint, ck int, col text, " +
        "value date, wt bigint)")
      assert(applied("INSERT INTO ks.dt (pk, ck, d) VALUES (1, 1, " +
        "'2024-03-01') IF NOT EXISTS"))
      assert(applied("UPDATE ks.dt SET d = '2024-04-01' WHERE " +
        "pk = 1 AND ck = 1 IF d < '2024-03-15'"))
      assert(!applied("UPDATE ks.dt SET d = '1999-01-01' WHERE " +
        "pk = 1 AND ck = 1 IF d <= '2024-03-15'"))
      val dmiss = cq("UPDATE ks.dt SET d = '2000-01-01' WHERE " +
        "pk = 1 AND ck = 1 IF d = '2024-03-15'").collect().head
      assert(!dmiss.getBoolean(0) &&
        dmiss.getInt(dmiss.fieldIndex("current")) === 19814)
      // varint (bigint storage): numeric order
      cq("CREATE TABLE ks.vi (pk bigint, ck int, col text, " +
        "value varint, wt bigint)")
      assert(applied("INSERT INTO ks.vi (pk, ck, n) VALUES " +
        "(1, 1, 100) IF NOT EXISTS"))
      assert(applied("UPDATE ks.vi SET n = 200 WHERE pk = 1 AND " +
        "ck = 1 IF n >= 100"))
      // smallint: range-validated grammar + ordered compare
      cq("CREATE TABLE ks.si (pk bigint, ck int, col text, " +
        "value smallint, wt bigint)")
      assert(applied("INSERT INTO ks.si (pk, ck, n) VALUES " +
        "(1, 1, 7) IF NOT EXISTS"))
      assert(applied("UPDATE ks.si SET n = 8 WHERE pk = 1 AND " +
        "ck = 1 IF n IN (6, 7)"))
      refuse("UPDATE ks.si SET n = 99999 WHERE pk = 1 AND ck = 1 " +
        "IF n = 8", "smallint range")
      // decimal(18,6): exact decimal order and equality
      cq("CREATE TABLE ks.de (pk bigint, ck int, col text, " +
        "value decimal, wt bigint)")
      assert(applied("INSERT INTO ks.de (pk, ck, amt) VALUES " +
        "(1, 1, 1.50) IF NOT EXISTS"))
      assert(applied("UPDATE ks.de SET amt = 2.25 WHERE pk = 1 AND " +
        "ck = 1 IF amt = 1.5"))
      assert(applied("UPDATE ks.de SET amt = 3 WHERE pk = 1 AND " +
        "ck = 1 IF amt > 2.2"))
      assert(!applied("UPDATE ks.de SET amt = 9 WHERE pk = 1 AND " +
        "ck = 1 IF amt < 3"))
      // boolean: false < true (Cassandra's order)
      cq("CREATE TABLE ks.bo (pk bigint, ck int, col text, " +
        "value boolean, wt bigint)")
      assert(applied("INSERT INTO ks.bo (pk, ck, flag) VALUES " +
        "(1, 1, false) IF NOT EXISTS"))
      assert(applied("UPDATE ks.bo SET flag = true WHERE pk = 1 " +
        "AND ck = 1 IF flag < true"))
      assert(!applied("UPDATE ks.bo SET flag = false WHERE pk = 1 " +
        "AND ck = 1 IF flag != true"))
      // blob: whole-value equality + unsigned byte order
      cq("CREATE TABLE ks.bl (pk bigint, ck int, col text, " +
        "value blob, wt bigint)")
      assert(applied("INSERT INTO ks.bl (pk, ck, b) VALUES " +
        "(1, 1, 0x0a0b) IF NOT EXISTS"))
      assert(applied("UPDATE ks.bl SET b = 0xff01 WHERE pk = 1 AND " +
        "ck = 1 IF b = 0x0a0b"))
      assert(applied("UPDATE ks.bl SET b = 0x00 WHERE pk = 1 AND " +
        "ck = 1 IF b > 0x0aff"))
      assert(applied("DELETE b FROM ks.bl WHERE pk = 1 AND ck = 1 " +
        "IF b = 0x00"))
      // time (bigint nanos) rides the varint/time numeric order
      cq("CREATE TABLE ks.tm (pk bigint, ck int, col text, " +
        "value time, wt bigint)")
      assert(applied("INSERT INTO ks.tm (pk, ck, t) VALUES " +
        "(1, 1, '01:00:00') IF NOT EXISTS"))
      assert(applied("UPDATE ks.tm SET t = '02:00:00' WHERE " +
        "pk = 1 AND ck = 1 IF t < '01:30:00'"))
      // counters refuse (Cassandra's rule), durations refuse by name
      cq("CREATE TABLE ks.cn (pk bigint, ck int, col text, " +
        "value counter, wt bigint)")
      refuse("UPDATE ks.cn SET n = 5 WHERE pk = 1 AND ck = 1 " +
        "IF n = 3", "counter")
      cq("CREATE TABLE ks.du (pk bigint, ck int, col text, " +
        "value duration, wt bigint)")
      refuse("UPDATE ks.du SET d = 12h WHERE pk = 1 AND ck = 1 " +
        "IF EXISTS", "not comparable")
    } finally {
      spark.conf.unset("spark.sql.catalog.ojcat")
      spark.conf.unset("spark.sql.catalog.ojcat.root")
    }
  }

  test("map ENTRY conditions and writes in LWT (C11j): IF m['k'] " +
    "= v gates entry puts, entry deletes, and INSERT literals on " +
    "declared map tables") {
    val root = Files.createTempDirectory("cql-c11j").toString
    spark.conf.set("spark.sql.catalog.mecat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.mecat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "mecat")
      def applied(stmt: String): Boolean =
        cq(stmt).collect().head.getBoolean(0)
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      def entries(t: String, pk: Long): Map[String, Long] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/$t")
          .filter(col("pk") === pk && !col("col").startsWith("!"))
          .select("col", "value").as[(String, Long)].collect().toMap
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.m (pk bigint, ck int, col text, " +
        "value map<text, bigint>, wt bigint)")
      // INSERT {..} IF NOT EXISTS: row-absence + entry puts ride ONE
      // round; the replay refuses and writes nothing
      assert(applied("INSERT INTO ks.m (pk, ck, m) VALUES (1, 1, " +
        "{'a': 1, 'B': 2}) IF NOT EXISTS"))
      assert(!applied("INSERT INTO ks.m (pk, ck, m) VALUES (1, 1, " +
        "{'z': 9}) IF NOT EXISTS"))
      assert(entries("m", 1) === Map("a" -> 1L, "B" -> 2L))
      // entry condition gates an entry put; keys stay case-sensitive
      assert(applied("UPDATE ks.m SET m['a'] = 10 WHERE pk = 1 AND " +
        "ck = 1 IF m['B'] = 2"))
      assert(!applied("UPDATE ks.m SET m['a'] = 99 WHERE pk = 1 " +
        "AND ck = 1 IF m['b'] = 2")) // 'b' ≠ 'B' — absent, = misses
      assert(entries("m", 1) === Map("a" -> 10L, "B" -> 2L))
      // ordered + IN + != over entry values (the element grammar)
      assert(applied("UPDATE ks.m SET m['c'] = 3 WHERE pk = 1 AND " +
        "ck = 1 IF m['a'] > 5"))
      assert(applied("UPDATE ks.m SET m['c'] = 4 WHERE pk = 1 AND " +
        "ck = 1 IF m['c'] IN (2, 3)"))
      assert(applied("UPDATE ks.m SET m['d'] = 5 WHERE pk = 1 AND " +
        "ck = 1 IF m['nope'] != 7")) // absent entry satisfies !=
      // IF EXISTS gates an entry put at the row level
      assert(applied("UPDATE ks.m SET m['e'] = 6 WHERE pk = 1 AND " +
        "ck = 1 IF EXISTS"))
      assert(!applied("UPDATE ks.m SET m['x'] = 1 WHERE pk = 9 AND " +
        "ck = 1 IF EXISTS"))
      // conditional ENTRY delete: the applied write is the entry's
      // tombstone; the row's other entries survive
      assert(!applied("DELETE m['e'] FROM ks.m WHERE pk = 1 AND " +
        "ck = 1 IF m['e'] = 99"))
      assert(applied("DELETE m['e'] FROM ks.m WHERE pk = 1 AND " +
        "ck = 1 IF m['e'] = 6"))
      assert(entries("m", 1) ===
        Map("a" -> 10L, "B" -> 2L, "c" -> 4L, "d" -> 5L))
      // the miss row reports the entry's current value
      val miss = cq("UPDATE ks.m SET m['a'] = 0 WHERE pk = 1 AND " +
        "ck = 1 IF m['a'] = 1").collect().head
      assert(!miss.getBoolean(0) &&
        miss.getLong(miss.fieldIndex("current")) === 10L)
      // mapped ELEMENT grammars ride too (map<text, date>)
      cq("CREATE TABLE ks.md (pk bigint, ck int, col text, " +
        "value map<text, date>, wt bigint)")
      assert(applied("INSERT INTO ks.md (pk, ck, m) VALUES (1, 1, " +
        "{'start': '2024-01-01'}) IF NOT EXISTS"))
      assert(applied("UPDATE ks.md SET m['end'] = '2024-06-01' " +
        "WHERE pk = 1 AND ck = 1 IF m['start'] < '2024-02-01'"))
      refuse("UPDATE ks.md SET m['end'] = 'nope' WHERE pk = 1 AND " +
        "ck = 1 IF m['start'] = '2024-01-01'", "date literal")
      // refusals by name: entry forms on non-map tables, set/list
      // collections, undeclared map tables
      cq("CREATE TABLE ks.plain (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      refuse("UPDATE ks.plain SET n = 1 WHERE pk = 1 AND ck = 1 " +
        "IF m['k'] = 2", "DECLARED map")
      refuse("UPDATE ks.plain SET m['k'] = 1 WHERE pk = 1 AND " +
        "ck = 1 IF n = 2", "DECLARED map")
      // set-collection writes under IF serve since C11k (their own
      // test); the row-presence guard still gates
      cq("CREATE TABLE ks.st (pk bigint, ck int, col text, " +
        "value set<bigint>, wt bigint)")
      assert(!applied("UPDATE ks.st SET s = s + {1} WHERE pk = 1 " +
        "AND ck = 1 IF EXISTS")) // absent row — nothing written
    } finally {
      spark.conf.unset("spark.sql.catalog.mecat")
      spark.conf.unset("spark.sql.catalog.mecat.root")
    }
  }

  test("whole-collection equality conditions + collection writes " +
    "under IF (C11k): IF tags = {..} / IF l = [..] / IF m = {..} " +
    "gate staged collection updates") {
    val root = Files.createTempDirectory("cql-c11k").toString
    spark.conf.set("spark.sql.catalog.ckcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.ckcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "ckcat")
      def applied(stmt: String): Boolean =
        cq(stmt).collect().head.getBoolean(0)
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      // ---- declared set: {..} equality in set semantics ----
      cq("CREATE TABLE ks.s (pk bigint, ck int, col text, " +
        "value set<bigint>, wt bigint)")
      cq("UPDATE ks.s SET tags = tags + {1, 2} WHERE pk = 1")
      assert(applied("UPDATE ks.s SET tags = tags + {3} WHERE " +
        "pk = 1 IF tags = {2, 1}")) // order-free
      assert(!applied("UPDATE ks.s SET tags = tags + {9} WHERE " +
        "pk = 1 IF tags = {1, 2}")) // now {1,2,3}
      assert(applied("UPDATE ks.s SET tags = tags - {1} WHERE " +
        "pk = 1 IF tags != {1, 2}"))
      def setVals: Set[Long] = spark.read
        .format("graft.sources.CellSource")
        .option("reconcile", "true").load(s"$root/ks/s")
        .filter(col("col") === "tags" && !col("col").startsWith("!"))
        .select("value").as[Long].collect().toSet
      assert(setVals === Set(2L, 3L))
      // ---- declared list: [..] equality is ORDERED ----
      cq("CREATE TABLE ks.l (pk bigint, ck int, col text, " +
        "value list<bigint>, wt bigint)")
      cq("UPDATE ks.l SET l = l + [10, 20] WHERE pk = 1")
      assert(!applied("UPDATE ks.l SET l = l + [30] WHERE pk = 1 " +
        "IF l = [20, 10]")) // wrong order
      assert(applied("UPDATE ks.l SET l = l + [30] WHERE pk = 1 " +
        "IF l = [10, 20]"))
      // an ABSENT list equals the EMPTY literal (empty IS null)
      assert(applied("UPDATE ks.l SET l = l + [1] WHERE pk = 2 " +
        "IF l = []"))
      assert(!applied("UPDATE ks.l SET l = l + [9] WHERE pk = 3 " +
        "IF l = [1]"))
      // ---- declared map: whole-map equality at the bound row ----
      cq("CREATE TABLE ks.m (pk bigint, ck int, col text, " +
        "value map<text, bigint>, wt bigint)")
      cq("UPDATE ks.m SET m['a'] = 1, m['b'] = 2 WHERE pk = 1 AND " +
        "ck = 1")
      assert(applied("UPDATE ks.m SET m['c'] = 3 WHERE pk = 1 AND " +
        "ck = 1 IF m = {'b': 2, 'a': 1}"))
      assert(!applied("UPDATE ks.m SET m['z'] = 9 WHERE pk = 1 AND " +
        "ck = 1 IF m = {'a': 1, 'b': 2}")) // c joined since
      // conditional DELETE gated by collection equality
      assert(!applied("DELETE FROM ks.m WHERE pk = 1 AND ck = 1 " +
        "IF m = {'a': 1}"))
      assert(applied("DELETE FROM ks.m WHERE pk = 1 AND ck = 1 " +
        "IF m = {'a': 1, 'b': 2, 'c': 3}"))
      assert(cq("SELECT pk FROM ks.m WHERE pk = 1 AND ck = 1")
        .count() === 0)
      // scalar condition gating a collection write (append-if)
      cq("CREATE TABLE ks.p (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("INSERT INTO ks.p (pk, ck, ver) VALUES (1, 0, 3)")
      assert(applied("UPDATE ks.p SET hist = hist + [100] WHERE " +
        "pk = 1 AND ck = 0 IF ver = 3"))
      assert(!applied("UPDATE ks.p SET hist = hist + [200] WHERE " +
        "pk = 1 AND ck = 0 IF ver = 4"))
      assert(spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").load(s"$root/ks/p")
        .filter(col("col") === "hist")
        .select("value").as[Long].collect().toSeq === Seq(100L))
      // IF EXISTS gating a collection write
      assert(applied("UPDATE ks.p SET hist = hist + [300] WHERE " +
        "pk = 1 AND ck = 0 IF EXISTS"))
      assert(!applied("UPDATE ks.p SET hist = hist + [1] WHERE " +
        "pk = 9 AND ck = 0 IF EXISTS"))
      // refusals: ordered ops on collection literals, undeclared
      // tables, grammar mismatches
      refuse("UPDATE ks.s SET tags = tags + {5} WHERE pk = 1 " +
        "IF tags > {1}", "equality family only")
      refuse("UPDATE ks.p SET n = 1 WHERE pk = 1 AND ck = 0 " +
        "IF x = {1, 2}", "DECLARED collection")
      refuse("UPDATE ks.s SET tags = tags + {5} WHERE pk = 1 " +
        "IF tags = [1]", "takes a {..} literal")
    } finally {
      spark.conf.unset("spark.sql.catalog.ckcat")
      spark.conf.unset("spark.sql.catalog.ckcat.root")
    }
  }

  test("multi-condition LWT + non-SET-column conditions (C55e): " +
    "one ballot, all-or-nothing, first-miss reporting") {
    val root = Files.createTempDirectory("cql-c55e").toString
    spark.conf.set("spark.sql.catalog.mccat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.mccat.root", root)
    try {
      import spark.implicits._
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "mccat")
      def cell(pk: Long, c: String): Option[Long] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/t")
          .filter(col("pk") === pk && col("col") === c)
          .select("value").as[Long].collect().headOption
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("INSERT INTO ks.t (pk, ck, state, owner) VALUES (1, 1, 1, 7)")
      // the condition may target a NON-SET column (Cassandra's rule)
      val r1 = cq("UPDATE ks.t SET state = 2 WHERE pk = 1 AND " +
        "ck = 1 IF owner = 7").collect().head
      assert(r1.getBoolean(0) && cell(1, "state") === Some(2L))
      // ...and the miss row reports the CONDITION column's value
      val r2 = cq("UPDATE ks.t SET state = 9 WHERE pk = 1 AND " +
        "ck = 1 IF owner = 8").collect().head
      assert(!r2.getBoolean(0) &&
        r2.getLong(r2.fieldIndex("current")) === 7L)
      // multi-condition: both hold -> applies
      val r3 = cq("UPDATE ks.t SET state = 3 WHERE pk = 1 AND " +
        "ck = 1 IF state = 2 AND owner = 7").collect().head
      assert(r3.getBoolean(0) && cell(1, "state") === Some(3L))
      // one fails -> NOTHING applies, first failing value reported
      val r4 = cq("UPDATE ks.t SET state = 9 WHERE pk = 1 AND " +
        "ck = 1 IF state = 3 AND owner != 7").collect().head
      assert(!r4.getBoolean(0) && cell(1, "state") === Some(3L))
      // operator mix across columns, incl. an absent third column
      val r5 = cq("UPDATE ks.t SET state = 4 WHERE pk = 1 AND " +
        "ck = 1 IF owner >= 7 AND state < 9 AND retries != 0")
        .collect().head
      assert(r5.getBoolean(0) && cell(1, "state") === Some(4L))
      // inside a conditional BATCH
      val rb = cq("BEGIN BATCH\n" +
        "UPDATE ks.t SET state = 5 WHERE pk = 1 AND ck = 1 " +
        "IF state = 4 AND owner IN (6, 7);\n" +
        "UPDATE ks.t SET note = 1 WHERE pk = 1 AND ck = 2;\n" +
        "APPLY BATCH").collect().head
      assert(rb.getBoolean(0))
      assert(cell(1, "state") === Some(5L) &&
        cell(1, "note").isDefined)
      // bad term shapes refuse by name
      val e = intercept[IllegalArgumentException] {
        cq("UPDATE ks.t SET state = 9 WHERE pk = 1 AND ck = 1 " +
          "IF state LIKE 3 AND owner = 7")
      }
      assert(e.getMessage.contains("unsupported IF condition"),
        e.getMessage)
    } finally spark.conf.unset("spark.sql.catalog.mccat")
  }

  test("entries(m) index (C64d): m['k'] = v served as one typed " +
    "point probe; re-check drops stale entries; refusals") {
    val root = Files.createTempDirectory("cql-c64d").toString
    spark.conf.set("spark.sql.catalog.encat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.encat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "encat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.m (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("UPDATE ks.m SET m['color'] = 1 WHERE pk = 1 AND ck = 1")
      cq("UPDATE ks.m SET m['color'] = 2 WHERE pk = 2 AND ck = 1")
      cq("UPDATE ks.m SET m['size'] = 1 WHERE pk = 3 AND ck = 1")
      // without the index: ALLOW FILTERING or refuse by name
      refuse("SELECT pk FROM ks.m WHERE m['color'] = 1",
        "entries(m) index")
      assert(cq("SELECT pk FROM ks.m WHERE m['color'] = 1 " +
        "ALLOW FILTERING").collect().map(_.getLong(0)).toSeq ===
        Seq(1L))
      cq("CREATE INDEX ON ks.m (entries(m))")
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$root/ks/m_m_entries_idx")))
      // the entry PAIR routes: same key, different values disambiguate
      assert(cq("SELECT pk FROM ks.m WHERE m['color'] = 1")
        .collect().map(_.getLong(0)).toSeq === Seq(1L))
      assert(cq("SELECT pk FROM ks.m WHERE m['color'] = 2")
        .collect().map(_.getLong(0)).toSeq === Seq(2L))
      // same value under a DIFFERENT key stays invisible
      assert(cq("SELECT pk FROM ks.m WHERE m['size'] = 2")
        .collect().isEmpty)
      // write-through keeps it fresh; overwritten entries drop on
      // the base re-check even while the index still lists them
      cq("UPDATE ks.m SET m['color'] = 9 WHERE pk = 1 AND ck = 1")
      assert(cq("SELECT pk FROM ks.m WHERE m['color'] = 1")
        .collect().isEmpty)
      assert(cq("SELECT pk FROM ks.m WHERE m['color'] = 9")
        .collect().map(_.getLong(0)).toSeq === Seq(1L))
      // text-valued tables pack string pairs
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      cq("UPDATE ks.t SET m['lang'] = 'en' WHERE pk = 1 AND ck = 1")
      cq("UPDATE ks.t SET m['lang'] = 'fr' WHERE pk = 2 AND ck = 1")
      cq("CREATE INDEX ON ks.t (entries(m))")
      assert(cq("SELECT pk FROM ks.t WHERE m['lang'] = 'fr'")
        .collect().map(_.getLong(0)).toSeq === Seq(2L))
      // a declared NON-map collection refuses the mode by name
      cq("CREATE TABLE ks.si (pk bigint, ck int, col text, " +
        "value set<inet>, wt bigint)")
      refuse("CREATE INDEX ON ks.si (entries(ips))",
        "entries(...) indexes map columns")
      // a declared map<text, date> serves with the date grammar
      cq("CREATE TABLE ks.md (pk bigint, ck int, col text, " +
        "value map<text, date>, wt bigint)")
      cq("UPDATE ks.md SET m['start'] = '1970-01-02' " +
        "WHERE pk = 1 AND ck = 1")
      cq("CREATE INDEX ON ks.md (entries(m))")
      assert(cq("SELECT pk FROM ks.md WHERE m['start'] = " +
        "'1970-01-02'").collect().map(_.getLong(0)).toSeq === Seq(1L))
      assert(cq("SELECT pk FROM ks.md WHERE m['start'] = " +
        "'1970-01-03'").collect().isEmpty)
    } finally spark.conf.unset("spark.sql.catalog.encat")
  }

  test("declared collection column types (C65z): set<inet> / " +
    "list<uuid> / map<text,date> spellings, kind-gated write forms, " +
    "DESCRIBE round-trip") {
    val root = Files.createTempDirectory("cql-c65z").toString
    spark.conf.set("spark.sql.catalog.zcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.zcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "zcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      def cells(t: String, pk: Long, c: String): Seq[Any] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/$t")
          .filter(col("pk") === pk && col("col") === c)
          .select("value").collect().map(_.get(0)).toSeq
      cq("CREATE KEYSPACE ks")
      // ---- set<inet>: the declared spelling; elements validate
      cq("CREATE TABLE ks.si (pk bigint, ck int, col text, " +
        "value set<inet>, wt bigint)")
      cq("UPDATE ks.si SET ips = ips + {'10.0.0.1', '10.0.0.2'} " +
        "WHERE pk = 1")
      cq("UPDATE ks.si SET ips = ips - {'10.0.0.2'} WHERE pk = 1")
      assert(cells("si", 1, "ips") === Seq("10.0.0.1"))
      refuse("UPDATE ks.si SET ips = ips + {'bogus'} WHERE pk = 1",
        "IPv4/IPv6 address literal")
      // kind gating: list/map forms refuse by name on a set column
      refuse("UPDATE ks.si SET ips = ips + ['10.0.0.3'] WHERE pk = 1",
        "does not apply to a set<inet> column")
      refuse("UPDATE ks.si SET m['k'] = '10.0.0.3' " +
        "WHERE pk = 1 AND ck = 1",
        "does not apply to a set<inet> column")
      assert(cq("DESCRIBE TABLE ks.si").collect().head.getString(0)
        .contains("value set<inet>"))
      // ---- list<uuid>
      cq("CREATE TABLE ks.lu (pk bigint, ck int, col text, " +
        "value list<uuid>, wt bigint)")
      cq("UPDATE ks.lu SET xs = xs + " +
        "[00000000-0000-1000-8000-000000000001, " +
        "00000000-0000-1000-8000-000000000002] WHERE pk = 1")
      assert(cells("lu", 1, "xs") ===
        Seq("00000000-0000-1000-8000-000000000001",
          "00000000-0000-1000-8000-000000000002"))
      refuse("UPDATE ks.lu SET xs = xs + " +
        "{00000000-0000-1000-8000-000000000003} WHERE pk = 1",
        "does not apply to a list<uuid> column")
      assert(cq("DESCRIBE TABLE ks.lu").collect().head.getString(0)
        .contains("value list<uuid>"))
      // ---- map<text, date>: entry values through the date grammar
      cq("CREATE TABLE ks.md (pk bigint, ck int, col text, " +
        "value map<text, date>, wt bigint)")
      cq("UPDATE ks.md SET m['start'] = '1970-01-02' " +
        "WHERE pk = 1 AND ck = 1")
      cq("UPDATE ks.md SET m = m + {'end': '1969-12-31'} " +
        "WHERE pk = 1 AND ck = 1")
      assert(cells("md", 1, "start") === Seq(1))
      assert(cells("md", 1, "end") === Seq(-1))
      refuse("UPDATE ks.md SET m = m + {'1970-01-05'} " +
        "WHERE pk = 1", "does not apply to a map<text, date> column")
      assert(cq("DESCRIBE TABLE ks.md").collect().head.getString(0)
        .contains("value map<text, date>"))
      // LWT and LOGGED BATCH refuse on declared SET collections by
      // name (map ENTRIES serve LWT since C11j; non-bigint element
      // storage keeps batches single-statement since C11i)
      refuse("INSERT INTO ks.si (pk, ck, ips) VALUES (9, 1, " +
        "'10.9.9.9') IF NOT EXISTS", "collection columns")
      refuse("BEGIN BATCH\nINSERT INTO ks.si (pk, ck, ips) VALUES " +
        "(9, 1, '10.9.9.9');\nAPPLY BATCH",
        "take single statements")
      // declaration refusals, each by name
      refuse("CREATE TABLE ks.b1 (pk bigint, ck int, col text, " +
        "value map<int, text>, wt bigint)", "map<text, T>")
      refuse("CREATE TABLE ks.b2 (pk bigint, ck int, col text, " +
        "value set<blob>, wt bigint)",
        "unsupported collection element type")
      refuse("CREATE TABLE ks.b3 (pk set<inet>, ck int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((pk), ck))",
        "cannot be a collection")
      refuse("CREATE TABLE ks.b4 (pk bigint, ck int, col text, " +
        "value set<inet>, s set<inet> STATIC, wt bigint)",
        "cannot be static")
      refuse("CREATE TABLE ks.b5 (user text, seq int, col text, " +
        "value set<inet>, wt bigint, PRIMARY KEY ((user), seq))",
        "default ((pk), ck) layout only")
    } finally spark.conf.unset("spark.sql.catalog.zcat")
  }

  test("conditional BATCH over text-storage value types (C56e): " +
    "apply/refuse matrix, mapped-uuid variant, all-or-nothing") {
    val root = Files.createTempDirectory("cql-c56e").toString
    spark.conf.set("spark.sql.catalog.cbcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cbcat.root", root)
    try {
      import spark.implicits._
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cbcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      def cells(t: String, pk: Long): Seq[(Int, String, Any)] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/$t")
          .filter(col("pk") === pk)
          .select("ck", "col", "value").collect()
          .map(r => (r.getInt(0), r.getString(1), r.get(2))).toSeq
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      // all conditions pass -> every member lands at ONE writetime
      val r1 = cq("BEGIN BATCH\n" +
        "INSERT INTO ks.t (pk, ck, state) VALUES (1, 1, 'new') " +
        "IF NOT EXISTS;\n" +
        "UPDATE ks.t SET note = 'first' WHERE pk = 1 AND ck = 2;\n" +
        "APPLY BATCH").as[(Boolean, Option[String])].collect().head
      assert(r1 === ((true, None)))
      assert(cells("t", 1).toSet === Set((1, "state", "new"),
        (2, "note", "first")))
      val wts = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").load(s"$root/ks/t")
        .filter(col("pk") === 1L).select("wt").as[Long].collect().toSet
      assert(wts.size === 1)
      // a failing condition applies NOTHING and reports the current
      // TEXT value of the unmet cell
      val r2 = cq("BEGIN BATCH\n" +
        "UPDATE ks.t SET state = 'done' WHERE pk = 1 AND ck = 1 " +
        "IF state = 'other';\n" +
        "UPDATE ks.t SET note = 'second' WHERE pk = 1 AND ck = 2;\n" +
        "APPLY BATCH").as[(Boolean, Option[String])].collect().head
      assert(r2 === ((false, Some("new"))))
      assert(cells("t", 1).toSet === Set((1, "state", "new"),
        (2, "note", "first")))
      // matching condition + tombstone member: the delete rides the
      // CAS round as its write
      val r3 = cq("BEGIN BATCH\n" +
        "UPDATE ks.t SET state = 'done' WHERE pk = 1 AND ck = 1 " +
        "IF state = 'new';\n" +
        "DELETE note FROM ks.t WHERE pk = 1 AND ck = 2;\n" +
        "APPLY BATCH").as[(Boolean, Option[String])].collect().head
      assert(r3 === ((true, None)))
      assert(cells("t", 1).toSet === Set((1, "state", "done")))
      // spanning partitions refuses (one Paxos round, one partition)
      refuse("BEGIN BATCH\n" +
        "INSERT INTO ks.t (pk, ck, s) VALUES (1, 5, 'x') " +
        "IF NOT EXISTS;\n" +
        "INSERT INTO ks.t (pk, ck, s) VALUES (2, 5, 'y');\n" +
        "APPLY BATCH", "cannot span multiple partitions")
      // ---- mapped-uuid variant: member literals parse through the
      // DECLARED grammar (canonical lowercase), the IF value too
      cq("CREATE TABLE ks.u (pk bigint, ck int, col text, " +
        "value uuid, wt bigint)")
      val u1 = cq("BEGIN BATCH\n" +
        "INSERT INTO ks.u (pk, ck, id) VALUES (1, 1, " +
        "123E4567-E89B-12D3-A456-426614174000) IF NOT EXISTS;\n" +
        "APPLY BATCH").as[(Boolean, Option[String])].collect().head
      assert(u1 === ((true, None)))
      assert(cells("u", 1) === Seq((1, "id",
        "123e4567-e89b-12d3-a456-426614174000")))
      // IF compares the canonical rendering regardless of literal case
      val u2 = cq("BEGIN BATCH\n" +
        "UPDATE ks.u SET id = 00000000-0000-1000-8000-000000000002 " +
        "WHERE pk = 1 AND ck = 1 " +
        "IF id = 123e4567-E89B-12d3-A456-426614174000;\n" +
        "APPLY BATCH").as[(Boolean, Option[String])].collect().head
      assert(u2 === ((true, None)))
      // grammar refusals inside the batch, by name
      refuse("BEGIN BATCH\n" +
        "INSERT INTO ks.u (pk, ck, id) VALUES (2, 1, 'nope') " +
        "IF NOT EXISTS;\nAPPLY BATCH", "uuid literal")
      refuse("BEGIN BATCH\n" +
        "UPDATE ks.u SET id = 00000000-0000-1000-8000-000000000003 " +
        "WHERE pk = 1 AND ck = 1 IF id = 'nope';\n" +
        "APPLY BATCH", "uuid literal")
      // non-text-storage mapped types serve since C55j (r18) — the
      // member literal parses through the DECLARED grammar, and a
      // wrong-grammar literal still refuses by name
      cq("CREATE TABLE ks.dt (pk bigint, ck int, col text, " +
        "value date, wt bigint)")
      assert(cq("BEGIN BATCH\n" +
        "INSERT INTO ks.dt (pk, ck, d) VALUES (1, 1, '2024-01-01') " +
        "IF NOT EXISTS;\nAPPLY BATCH").collect().head.getBoolean(0))
      refuse("BEGIN BATCH\n" +
        "INSERT INTO ks.dt (pk, ck, d) VALUES (2, 1, 'nope') " +
        "IF NOT EXISTS;\nAPPLY BATCH", "date literal")
    } finally spark.conf.unset("spark.sql.catalog.cbcat")
  }

  test("mapped-type collections and statics (C65x): set<inet> " +
    "add/remove through the declared grammar, map<text,date> " +
    "entries, static mapped columns, tombstone-neutral pins") {
    val root = Files.createTempDirectory("cql-c65x").toString
    spark.conf.set("spark.sql.catalog.xcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.xcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "xcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      def cells(t: String, pk: Long, c: String): Seq[Any] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/$t")
          .filter(col("pk") === pk && col("col") === c)
          .select("value").collect().map(_.get(0)).toSeq
      cq("CREATE KEYSPACE ks")
      // ---- set<inet>: the C13 element-per-cell encoding over the
      // inet grammar — elements validate and canonicalize
      cq("CREATE TABLE ks.si (pk bigint, ck int, col text, " +
        "value inet, wt bigint)")
      cq("UPDATE ks.si SET ips = ips + {'10.0.0.1', '10.0.0.2'} " +
        "WHERE pk = 1")
      refuse("UPDATE ks.si SET ips = ips + {'999.1.1.300'} " +
        "WHERE pk = 1", "IPv4/IPv6 address literal")
      // canonicalization: uppercase v6 stores lowercase
      cq("UPDATE ks.si SET ips = ips + {'2001:DB8::1'} WHERE pk = 1")
      assert(cells("si", 1, "ips").toSet ===
        Set("10.0.0.1", "10.0.0.2", "2001:db8::1"))
      // set REMOVE tombstones the matching element cells; the
      // tombstone never carries the statement TTL (an expiring
      // tombstone would resurrect the element)
      cq("UPDATE ks.si USING TTL 3600 SET ips = ips - {'10.0.0.2'} " +
        "WHERE pk = 1")
      assert(cells("si", 1, "ips").toSet ===
        Set("10.0.0.1", "2001:db8::1"))
      // re-adding a present element is idempotent on the read
      cq("UPDATE ks.si SET ips = ips + {'10.0.0.1'} WHERE pk = 1")
      assert(cells("si", 1, "ips").count(_ == "10.0.0.1") >= 1)
      // ---- map<text, date>: the row IS the map (C12); entry VALUES
      // parse through the date grammar and store day counts
      cq("CREATE TABLE ks.md (pk bigint, ck int, col text, " +
        "value date, wt bigint)")
      cq("UPDATE ks.md SET m['start'] = '2024-01-29' " +
        "WHERE pk = 1 AND ck = 1")
      cq("UPDATE ks.md SET m = m + {'a': '1970-01-02', " +
        "'b': '1969-12-31'} WHERE pk = 1 AND ck = 1")
      refuse("UPDATE ks.md SET m['bad'] = 'not-a-date' " +
        "WHERE pk = 1 AND ck = 1", "date literal")
      assert(cells("md", 1, "a") === Seq(1))
      assert(cells("md", 1, "b") === Seq(-1))
      assert(cells("md", 1, "start") ===
        Seq(java.time.LocalDate.parse("2024-01-29").toEpochDay.toInt))
      // map-entry delete: entry keys ARE col names (the row IS the
      // map), so the unambiguous entry delete is the DELETE form —
      // the quoted-brace subtract stays SET-remove on quoted-element
      // tables, C65o's documented rule
      cq("DELETE a FROM ks.md WHERE pk = 1 AND ck = 1")
      assert(cells("md", 1, "a") === Seq.empty)
      // list append over a bigint-storage mapped type (varint)
      cq("CREATE TABLE ks.lv (pk bigint, ck int, col text, " +
        "value varint, wt bigint)")
      cq("UPDATE ks.lv SET xs = xs + [7, 8] WHERE pk = 1")
      cq("UPDATE ks.lv SET xs = xs + [9] WHERE pk = 1")
      assert(cells("lv", 1, "xs") === Seq(7L, 8L, 9L))
      // ---- static mapped columns: partition-level cells through
      // the declared grammar (INSERT and UPDATE forms)
      cq("CREATE TABLE ks.su (pk bigint, ck int, col text, " +
        "value uuid, wt bigint, owner uuid STATIC)")
      cq("INSERT INTO ks.su (pk, ck, id, owner) VALUES (1, 1, " +
        "00000000-0000-1000-8000-000000000001, " +
        "123E4567-E89B-12D3-A456-426614174000)")
      def static0(t: String, pk: Long, c: String): Seq[Any] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/$t")
          .filter(col("pk") === pk &&
            col("col") === ("!s:" + c))
          .select("value").collect().map(_.get(0)).toSeq
      assert(static0("su", 1, "owner") ===
        Seq("123e4567-e89b-12d3-a456-426614174000"))
      // static UPDATE addresses the partition (no ck needed)
      cq("UPDATE ks.su SET owner = " +
        "00000000-0000-1000-8000-00000000beef WHERE pk = 1")
      assert(static0("su", 1, "owner") ===
        Seq("00000000-0000-1000-8000-00000000beef"))
      refuse("UPDATE ks.su SET owner = 'nope' WHERE pk = 1",
        "uuid literal")
      // SELECT DISTINCT pk + static serves the declared rendering
      val d = cq("SELECT DISTINCT pk, owner FROM ks.su").collect()
      assert(d.length === 1 && d.head.getString(1) ===
        "00000000-0000-1000-8000-00000000beef")
    } finally spark.conf.unset("spark.sql.catalog.xcat")
  }

  test("ann index geometry options (C70 planes/probes lifecycle): " +
    "persisted plane count, Hamming-ball probes, write-through, " +
    "file-level probe pruning, DESCRIBE round-trip") {
    val root = Files.createTempDirectory("cql-planes").toString
    spark.conf.set("spark.sql.catalog.plcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.plcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "plcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.emb (pk bigint, ck int, col text, " +
        "value vector<float, 4>, wt bigint)")
      // option validation refuses at CREATE INDEX, before any build
      refuse("CREATE INDEX ON ks.emb (ann(v)) WITH OPTIONS = " +
        "{'planes': '0'}", "planes must be in [1, 20]")
      refuse("CREATE INDEX ON ks.emb (ann(v)) WITH OPTIONS = " +
        "{'planes': '25'}", "planes must be in [1, 20]")
      refuse("CREATE INDEX ON ks.emb (ann(v)) WITH OPTIONS = " +
        "{'planes': '4', 'probes': '20'}", "probes must be <= 2^planes")
      refuse("CREATE INDEX ON ks.emb (ann(v)) WITH OPTIONS = " +
        "{'case_sensitive': 'false'}", "an ann index takes planes/probes")
      cq("CREATE INDEX ON ks.emb (ann(v)) WITH OPTIONS = " +
        "{'planes': '6', 'probes': '2'}")
      val idxDir = s"$root/ks/emb_v_ann_idx"
      // the geometry is PERSISTED in the index metadata — the probe
      // side must derive the same buckets the build wrote
      assert(graft.sources.CellIndex.optionsOf(idxDir) ===
        Map("planes" -> "6", "probes" -> "2"))
      // positives bucket with the query (positive multiples share
      // every hyperplane sign); the negation flips ALL 6 bits
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (2, 1, " +
        "[2.0, 1.0, 0.5, 0.25])")
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (3, 1, " +
        "[3.0, 1.5, 0.75, 0.375])")
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (4, 1, " +
        "[0.5, 0.25, 0.125, 0.0625])")
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (5, 1, " +
        "[-1.0, -0.5, -0.25, -0.125])")
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (6, 1, " +
        "[-2.0, -1.0, -0.5, -0.25])")
      // write-through refresh derived 6-plane buckets (a 4-plane
      // refresh would key buckets the probe never opens)
      assert(!graft.sources.CellIndex.isStale(idxDir))
      val q = Array(1.0f, 0.5f, 0.25f, 0.125f)
      val qb = graft.functions.VectorCodec.bucket(
        graft.functions.VectorCodec.encode(q), 6)
      val idx = spark.read.format("graft.sources.CellSource")
        .load(idxDir)
      val buckets = idx.select(col("pk")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(buckets.contains(qb))
      assert(buckets.contains(qb ^ 0x3fL)) // the all-flipped bucket
      // file-level probe pruning: the 2-bucket Hamming-ball probe
      // plans STRICTLY fewer index files than the full index scan
      val probes = graft.functions.VectorCodec.probeBuckets(qb, 6, 2)
      val allParts = idx.rdd.getNumPartitions
      val probeParts = idx
        .filter(col("pk").isin(probes.map(Long.box): _*))
        .rdd.getNumPartitions
      assert(allParts >= 2, s"index landed in $allParts file(s)")
      assert(probeParts < allParts,
        s"probe planned $probeParts of $allParts index files")
      // the 2-probe ball excludes the negated vectors (Hamming 6);
      // exact-cosine rerank orders the positives, ties by pk
      val top = cq("SELECT pk FROM ks.emb ORDER BY v ANN OF " +
        "[1.0, 0.5, 0.25, 0.125] LIMIT 10")
        .collect().map(_.getLong(0)).toSeq
      assert(top === Seq(2L, 3L, 4L),
        s"expected pruned positives-only rank, got $top")
      // DESCRIBE renders the persisted geometry, round-trippable
      val desc = cq("DESCRIBE INDEX ks.emb_v_ann_idx")
        .collect().head.getString(0)
      assert(desc.contains("ann(v)") &&
        desc.contains("'planes': '6'") && desc.contains("'probes': '2'"),
        desc)
      // planes/probes refuse outside ann mode
      cq("CREATE TABLE ks.txt (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      refuse("CREATE INDEX ON ks.txt (prefix(value)) WITH OPTIONS = " +
        "{'planes': '6'}", "unsupported index OPTIONS")
    } finally spark.conf.unset("spark.sql.catalog.plcat")
  }

  test("CQL user-defined functions and aggregates (C71): " +
    "deterministic expression subset, clustering-order folds") {
    val root = Files.createTempDirectory("cql-fn").toString
    spark.conf.set("spark.sql.catalog.fncat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.fncat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "fncat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 5)")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (1, 2, 7)")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (2, 1, 10)")
      // scalar UDF: validated body, applied in the select list
      cq("CREATE FUNCTION ks.double_it (x bigint) " +
        "RETURNS NULL ON NULL INPUT RETURNS bigint " +
        "LANGUAGE sql AS 'x * 2'")
      val d = cq("SELECT pk, double_it(value) AS d FROM ks.t " +
        "WHERE pk = 1").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(d === Seq((1L, 10L), (1L, 14L)))
      // multi-argument UDF over two columns
      cq("CREATE FUNCTION ks.weighted (x bigint, w int) " +
        "RETURNS NULL ON NULL INPUT RETURNS bigint " +
        "LANGUAGE sql AS 'x * CAST(w AS BIGINT)'")
      val w = cq("SELECT weighted(value, ck) AS v FROM ks.t " +
        "WHERE pk = 1").collect().map(_.getLong(0)).toSeq.sorted
      assert(w === Seq(5L, 14L))
      // UDA: SFUNC folds (state, value) -> state from INITCOND
      cq("CREATE FUNCTION ks.acc_sumsq (acc bigint, v bigint) " +
        "RETURNS NULL ON NULL INPUT RETURNS bigint " +
        "LANGUAGE sql AS 'acc + v * v'")
      cq("CREATE AGGREGATE ks.sumsq (bigint) SFUNC acc_sumsq " +
        "STYPE bigint INITCOND 0")
      assert(cq("SELECT sumsq(value) FROM ks.t").collect()
        .head.getLong(0) === 174L) // 25 + 49 + 100
      val g = cq("SELECT pk, sumsq(value) AS s FROM ks.t GROUP BY pk")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(g === Seq((1L, 74L), (2L, 100L)))
      // FINALFUNC maps the final state
      cq("CREATE FUNCTION ks.fin_neg (s bigint) " +
        "RETURNS NULL ON NULL INPUT RETURNS bigint " +
        "LANGUAGE sql AS 's * -1'")
      cq("CREATE AGGREGATE ks.sumsq_neg (bigint) SFUNC acc_sumsq " +
        "STYPE bigint FINALFUNC fin_neg INITCOND 0")
      assert(cq("SELECT sumsq_neg(value) FROM ks.t").collect()
        .head.getLong(0) === -174L)
      // the fold runs in CLUSTERING order (Cassandra's coordinator
      // order): a non-commutative digit fold proves it
      cq("CREATE FUNCTION ks.acc_digits (acc bigint, v bigint) " +
        "RETURNS NULL ON NULL INPUT RETURNS bigint " +
        "LANGUAGE sql AS 'acc * 100 + v'")
      cq("CREATE AGGREGATE ks.digits (bigint) SFUNC acc_digits " +
        "STYPE bigint INITCOND 0")
      assert(cq("SELECT digits(value) FROM ks.t").collect()
        .head.getLong(0) === 50710L) // 5, then 7, then 10
      // metadata: system_schema relations + DESCRIBE round-trips
      val fnames = cq("SELECT function_name FROM " +
        "system_schema.functions").collect()
        .map(_.getString(0)).toSeq.sorted
      assert(fnames === Seq("acc_digits", "acc_sumsq", "double_it",
        "fin_neg", "weighted"))
      val anames = cq("SELECT aggregate_name FROM " +
        "system_schema.aggregates").collect()
        .map(_.getString(0)).toSeq.sorted
      assert(anames === Seq("digits", "sumsq", "sumsq_neg"))
      val desc = cq("DESCRIBE FUNCTION ks.double_it").collect()
        .head.getString(0)
      assert(desc.contains("LANGUAGE sql AS 'x * 2'"), desc)
      cq(desc.replace("ks.double_it", "ks.double_rt")) // round-trips
      assert(cq("DESCRIBE AGGREGATE ks.sumsq").collect()
        .head.getString(0).contains("SFUNC acc_sumsq"))
      // OR REPLACE takes effect; bare re-create refuses
      refuse("CREATE FUNCTION ks.double_it (x bigint) " +
        "RETURNS NULL ON NULL INPUT RETURNS bigint " +
        "LANGUAGE sql AS 'x * 9'", "already exists")
      cq("CREATE OR REPLACE FUNCTION ks.double_it (x bigint) " +
        "RETURNS NULL ON NULL INPUT RETURNS bigint " +
        "LANGUAGE sql AS 'x * 3'")
      assert(cq("SELECT double_it(value) AS d FROM ks.t " +
        "WHERE pk = 2").collect().head.getLong(0) === 30L)
      // dependency rules: a function used by an aggregate is pinned
      refuse("CREATE OR REPLACE FUNCTION ks.acc_sumsq (acc bigint, " +
        "v bigint) RETURNS NULL ON NULL INPUT RETURNS bigint " +
        "LANGUAGE sql AS 'acc + v'", "used by aggregate")
      refuse("DROP FUNCTION ks.acc_sumsq", "still used by")
      cq("DROP AGGREGATE ks.sumsq")
      cq("DROP AGGREGATE ks.sumsq_neg")
      refuse("SELECT sumsq(value) FROM ks.t", "unsupported")
      // validation refusals, each by name
      refuse("CREATE FUNCTION ks.bad (x bigint) " +
        "RETURNS NULL ON NULL INPUT RETURNS bigint " +
        "LANGUAGE java AS 'return x;'", "LANGUAGE java is outside")
      refuse("CREATE FUNCTION ks.bad (x bigint) " +
        "RETURNS NULL ON NULL INPUT RETURNS bigint " +
        "LANGUAGE sql AS 'x + CAST(rand() * 0 AS BIGINT)'",
        "must be DETERMINISTIC")
      refuse("CREATE FUNCTION ks.bad (x bigint) " +
        "RETURNS NULL ON NULL INPUT RETURNS bigint " +
        "LANGUAGE sql AS 'y + 1'", "does not parse/resolve")
      refuse("CREATE FUNCTION ks.bad (x bigint) " +
        "RETURNS NULL ON NULL INPUT RETURNS double " +
        "LANGUAGE sql AS 'x * 2'", "cast explicitly")
      refuse("CREATE FUNCTION ks.bad (x bigint) " +
        "RETURNS NULL ON NULL INPUT RETURNS bigint " +
        "LANGUAGE sql AS '(SELECT 1)'", "subqueries are outside")
      refuse("CREATE AGGREGATE ks.badagg (bigint) SFUNC double_it " +
        "STYPE bigint INITCOND 0", "state-transition shape")
      refuse("CREATE AGGREGATE ks.badagg (bigint) SFUNC acc_sumsq " +
        "STYPE bigint", "INITCOND is required")
      refuse("CREATE AGGREGATE ks.badagg (bigint) SFUNC nosuch " +
        "STYPE bigint INITCOND 0", "not a registered function")
    } finally spark.conf.unset("spark.sql.catalog.fncat")
  }

  test("C71 UDA fold is width-guarded: an over-wide group fails by " +
    "name (graft.maxGroupWidth), not by executor OOM") {
    val root = Files.createTempDirectory("cql-uda-w").toString
    spark.conf.set("spark.sql.catalog.fwcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.fwcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "fwcat")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("INSERT INTO ks.t (pk, ck, n) VALUES (1, 1, 5)")
      cq("INSERT INTO ks.t (pk, ck, n) VALUES (1, 2, 7)")
      cq("INSERT INTO ks.t (pk, ck, n) VALUES (1, 3, 9)")
      cq("CREATE FUNCTION ks.acc (a bigint, v bigint) " +
        "RETURNS NULL ON NULL INPUT RETURNS bigint " +
        "LANGUAGE sql AS 'a + v'")
      cq("CREATE AGGREGATE ks.total (bigint) SFUNC acc " +
        "STYPE bigint INITCOND 0")
      // default width: the 3-row group folds fine
      assert(cq("SELECT total(value) FROM ks.t").collect()
        .head.getLong(0) === 21L)
      // lowered width: the SAME fold raises the NAMED guard error —
      // the coordinator-style buffer is graft_collect_bounded, so a
      // pathological wide partition diagnoses instead of OOMing
      spark.conf.set("graft.maxGroupWidth", "2")
      try {
        val e = intercept[Exception] {
          cq("SELECT total(value) FROM ks.t").collect()
        }
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Seq.empty
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains("graft.maxGroupWidth")),
          msgs(e).mkString(" | "))
      } finally spark.conf.unset("graft.maxGroupWidth")
      assert(cq("SELECT total(value) FROM ks.t").collect()
        .head.getLong(0) === 21L)
    } finally spark.conf.unset("spark.sql.catalog.fwcat")
  }

  test("SASI CONTAINS-mode substring LIKE (C18j): suffix index, " +
    "pruned code-range probe, residual re-check") {
    val root = Files.createTempDirectory("cql-contains").toString
    spark.conf.set("spark.sql.catalog.ctcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.ctcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "ctcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.docs (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      cq("INSERT INTO ks.docs (pk, ck, name) VALUES (1, 1, 'alpha')")
      cq("INSERT INTO ks.docs (pk, ck, name) VALUES (2, 1, 'banana')")
      cq("INSERT INTO ks.docs (pk, ck, name) VALUES (3, 1, 'cabana')")
      cq("INSERT INTO ks.docs (pk, ck, name) VALUES (4, 1, 'zebra')")
      cq("INSERT INTO ks.docs (pk, ck, name) VALUES (5, 1, 'ban')")
      // Cassandra's rule: LIKE needs the properly-MODED index
      refuse("SELECT pk FROM ks.docs WHERE name LIKE '%an%'",
        "needs a contains index")
      cq("CREATE INDEX ON ks.docs (contains(name))")
      assert(Files.isDirectory(java.nio.file.Paths
        .get(s"$root/ks/docs_name_contains_idx")))
      def like(pat: String): Seq[Long] =
        cq(s"SELECT pk FROM ks.docs WHERE name LIKE '$pat'")
          .collect().map(_.getLong(0)).toSeq.sorted
      assert(like("%an%") === Seq(2L, 3L, 5L))
      assert(like("%ban%") === Seq(2L, 3L, 5L))
      assert(like("%zeb%") === Seq(4L))
      assert(like("%alpha%") === Seq(1L))
      assert(like("%qq%") === Seq.empty)
      // write-through keeps the suffix index fresh
      cq("INSERT INTO ks.docs (pk, ck, name) VALUES (6, 1, 'panther')")
      assert(like("%anth%") === Seq(6L))
      // an 8-byte code collision is a FALSE POSITIVE the base
      // re-read's contains() re-check must drop: the needle and the
      // stored suffix share their first 8 bytes but differ at the 9th
      cq("INSERT INTO ks.docs (pk, ck, name) VALUES (7, 1, " +
        "'xx12345678ay')")
      assert(like("%12345678b%") === Seq.empty)
      assert(like("%12345678a%") === Seq(7L))
      // a PREFIX pattern still needs the PREFIX-mode index
      refuse("SELECT pk FROM ks.docs WHERE name LIKE 'ban%'",
        "needs a prefix index")
      // unsupported wildcard shapes refuse by name
      refuse("SELECT pk FROM ks.docs WHERE name LIKE '%a_b%'",
        "supported LIKE shapes")
      refuse("SELECT pk FROM ks.docs WHERE name LIKE 'a%b'",
        "supported LIKE shapes")
    } finally spark.conf.unset("spark.sql.catalog.ctcat")
  }

  test("SASI suffix LIKE (C18l): '%s' is one code-point probe of the " +
    "contains index, endswith residual") {
    val root = Files.createTempDirectory("cql-suffix").toString
    spark.conf.set("spark.sql.catalog.sfcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.sfcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "sfcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.docs (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      cq("INSERT INTO ks.docs (pk, ck, name) VALUES (1, 1, 'alpha')")
      cq("INSERT INTO ks.docs (pk, ck, name) VALUES (2, 1, 'banana')")
      cq("INSERT INTO ks.docs (pk, ck, name) VALUES (3, 1, 'cabana')")
      cq("INSERT INTO ks.docs (pk, ck, name) VALUES (4, 1, 'ban')")
      // the suffix shape rides the CONTAINS-mode index — refuses
      // without one, naming it
      refuse("SELECT pk FROM ks.docs WHERE name LIKE '%ana'",
        "needs a contains index")
      cq("CREATE INDEX ON ks.docs (contains(name))")
      def like(pat: String): Seq[Long] =
        cq(s"SELECT pk FROM ks.docs WHERE name LIKE '$pat'")
          .collect().map(_.getLong(0)).toSeq.sorted
      // endswith, NOT contains: 'cabana'/'banana' end with 'ana';
      // 'ban' does not (though it contains 'an' shapes)
      assert(like("%ana") === Seq(2L, 3L))
      assert(like("%an") === Seq(4L))
      assert(like("%alpha") === Seq(1L))
      assert(like("%banana") === Seq(2L))
      assert(like("%qq") === Seq.empty)
      // a contains match that is NOT a suffix must not serve: 'zeb'
      // is inside 'zebra' but no value ENDS with 'zeb'
      cq("INSERT INTO ks.docs (pk, ck, name) VALUES (5, 1, 'zebra')")
      assert(like("%zeb") === Seq.empty)
      assert(like("%zebra") === Seq(5L))
      // >8-byte needles share a first-8-byte code — the endswith
      // residual drops the collision partner
      cq("INSERT INTO ks.docs (pk, ck, name) VALUES (6, 1, " +
        "'documentation-x')")
      cq("INSERT INTO ks.docs (pk, ck, name) VALUES (7, 1, " +
        "'documentation-y')")
      assert(like("%mentation-x") === Seq(6L))
      assert(like("%mentation-y") === Seq(7L))
      // case-insensitive analyzer composes (C18k): second column
      // cannot exist on the cell model — use a fresh table
      cq("CREATE TABLE ks.ci (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      cq("CREATE INDEX ON ks.ci (contains(name)) " +
        "WITH OPTIONS = {'case_sensitive': 'false'}")
      cq("INSERT INTO ks.ci (pk, ck, name) VALUES (1, 1, 'Apple')")
      cq("INSERT INTO ks.ci (pk, ck, name) VALUES (2, 1, 'PineAPPLE')")
      cq("INSERT INTO ks.ci (pk, ck, name) VALUES (3, 1, 'applet')")
      val ci = cq("SELECT pk FROM ks.ci WHERE name LIKE '%PLE'")
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(ci === Seq(1L, 2L))
    } finally spark.conf.unset("spark.sql.catalog.sfcat")
  }

  test("list index operations (C11e): SET l[i] = v in place, " +
    "l[i] = null and DELETE l[i] tombstone, shifts, bounds refuse") {
    val dir = Files.createTempDirectory("cql-lidx").toString
    def script(sc: String) = Cql.executeScript(spark, sc)
    def refuse(sc: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] { script(sc) }
      assert(e.getMessage.contains(frag), s"$sc -> ${e.getMessage}")
    }
    def tags(pk: Long): Seq[Long] =
      spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").load(dir)
        .filter(col("pk") === pk && col("col") === "tags")
        .orderBy(col("ck")).collect().map(_.getAs[Long]("value")).toSeq
    script(s"UPDATE $dir SET tags = tags + [10, 11, 12] WHERE pk = 1")
    // in-place overwrite: same position, new value
    script(s"UPDATE $dir SET tags[1] = 99 WHERE pk = 1")
    assert(tags(1) === Seq(10L, 99L, 12L))
    // DELETE l[i] tombstones the i-th element; later indexes shift
    script(s"DELETE tags[0] FROM $dir WHERE pk = 1")
    assert(tags(1) === Seq(99L, 12L))
    // the shifted view is what the next index addresses
    script(s"UPDATE $dir SET tags[0] = 77 WHERE pk = 1")
    assert(tags(1) === Seq(77L, 12L))
    // l[i] = null is the index-addressed remove
    script(s"UPDATE $dir SET tags[1] = null WHERE pk = 1")
    assert(tags(1) === Seq(77L))
    // out-of-bounds refuses with Cassandra's message (SET and DELETE)
    refuse(s"UPDATE $dir SET tags[5] = 1 WHERE pk = 1",
      "List index 5 out of bound, list has size 1")
    refuse(s"DELETE tags[3] FROM $dir WHERE pk = 1",
      "List index 3 out of bound, list has size 1")
    // an empty (absent) list refuses index 0 too
    refuse(s"UPDATE $dir SET tags[0] = 1 WHERE pk = 9",
      "List index 0 out of bound, list has size 0")
    // the element delete binds the partition alone
    refuse(s"DELETE tags[0] FROM $dir WHERE pk = 1 AND ck = 2",
      "binds the partition alone")
    // declared-kind gate: a set<int> column refuses the list forms
    val root = Files.createTempDirectory("cql-lidx-cat").toString
    spark.conf.set("spark.sql.catalog.licat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.licat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "licat")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.s (pk bigint, ck int, col text, " +
        "value set<inet>, wt bigint)")
      cq("UPDATE ks.s SET st = st + {'10.0.0.1'} WHERE pk = 1")
      val e1 = intercept[IllegalArgumentException] {
        cq("UPDATE ks.s SET st[0] = '10.0.0.2' WHERE pk = 1") }
      assert(e1.getMessage.contains("does not apply"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        cq("DELETE st[0] FROM ks.s WHERE pk = 1") }
      assert(e2.getMessage.contains("declared list deletes only"),
        e2.getMessage)
      // a DECLARED list<bigint> column serves the index ops
      cq("CREATE TABLE ks.l (pk bigint, ck int, col text, " +
        "value list<bigint>, wt bigint)")
      cq("UPDATE ks.l SET xs = xs + [7, 8] WHERE pk = 1")
      cq("UPDATE ks.l SET xs[0] = 70 WHERE pk = 1")
      cq("DELETE xs[1] FROM ks.l WHERE pk = 1")
      val xs = cq("SELECT pk, value FROM ks.l ORDER BY pk")
        .collect().map(_.get(1).toString).toSeq
      assert(xs === Seq("70"))
    } finally spark.conf.unset("spark.sql.catalog.licat")
  }

  test("whole-collection replace (C11f): l = [..] / st = {..}, " +
    "empty clear, whole-collection DELETE, map replace refuses") {
    val dir = Files.createTempDirectory("cql-crep").toString
    def script(sc: String) = Cql.executeScript(spark, sc)
    def cells(pk: Long, name: String): Seq[Long] =
      spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").load(dir)
        .filter(col("pk") === pk && col("col") === name)
        .orderBy(col("ck")).collect().map(_.getAs[Long]("value")).toSeq
    script(s"UPDATE $dir SET tags = tags + [1, 2, 3] WHERE pk = 1")
    // replace drops every old element, keeps the new order
    script(s"UPDATE $dir SET tags = [7, 8] WHERE pk = 1")
    assert(cells(1, "tags") === Seq(7L, 8L))
    // replace of a replace (the shadowed cks stay shadowed)
    script(s"UPDATE $dir SET tags = [9] WHERE pk = 1")
    assert(cells(1, "tags") === Seq(9L))
    // the empty literal is the CQL clear
    script(s"UPDATE $dir SET tags = [] WHERE pk = 1")
    assert(cells(1, "tags") === Seq.empty)
    // replace on an ABSENT collection is a plain write
    script(s"UPDATE $dir SET st = {4, 5} WHERE pk = 2")
    assert(cells(2, "st").sorted === Seq(4L, 5L))
    script(s"UPDATE $dir SET st = {6} WHERE pk = 2")
    assert(cells(2, "st").sorted === Seq(6L))
    // map replace refuses by name (entry cells are column-keyed)
    val e = intercept[IllegalArgumentException] {
      script(s"UPDATE $dir SET m = {'k': 1} WHERE pk = 3 AND ck = 1") }
    assert(e.getMessage.contains("map replace"), e.getMessage)
    // INSERT with collection literals desugars to the replace form;
    // scalar columns ride along as plain cells
    script(s"INSERT INTO $dir (pk, ck, qty, tags) " +
      "VALUES (5, 1, 9, [31, 32])")
    assert(cells(5, "tags") === Seq(31L, 32L))
    assert(cells(5, "qty") === Seq(9L))
    // the INSERT's collection half is replace, not append
    script(s"INSERT INTO $dir (pk, tags) VALUES (5, [33])")
    assert(cells(5, "tags") === Seq(33L))
    // whole-collection DELETE serves DECLARED list/set tables
    val root = Files.createTempDirectory("cql-crep-cat").toString
    spark.conf.set("spark.sql.catalog.crcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.crcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "crcat")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.l (pk bigint, ck int, col text, " +
        "value list<bigint>, wt bigint)")
      cq("UPDATE ks.l SET xs = xs + [7, 8] WHERE pk = 1")
      cq("UPDATE ks.l SET xs = xs + [9] WHERE pk = 2")
      cq("DELETE xs FROM ks.l WHERE pk = 1")
      val left = cq("SELECT pk, value FROM ks.l ORDER BY pk")
        .collect().map(r => (r.getLong(0), r.get(1).toString)).toSeq
      assert(left === Seq((2L, "9")))
      // and the REPLACE forms ride the declared grammar too
      cq("UPDATE ks.l SET xs = [70] WHERE pk = 2")
      val rep = cq("SELECT pk, value FROM ks.l ORDER BY pk")
        .collect().map(r => (r.getLong(0), r.get(1).toString)).toSeq
      assert(rep === Seq((2L, "70")))
      // on an UNDECLARED table the ck-less column delete still
      // refuses (a scalar column needs its row)
      val e2 = intercept[IllegalArgumentException] {
        script(s"DELETE tags FROM $dir WHERE pk = 1") }
      assert(e2.getMessage.contains("needs WHERE"), e2.getMessage)
      // the TYPED-layout twin: replace and clear over named key parts
      cq("CREATE TABLE ks.tt (page text, ck int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((page), ck))")
      cq("UPDATE ks.tt SET xs = xs + [1, 2, 3] WHERE page = 'a'")
      cq("UPDATE ks.tt SET xs = [8, 9] WHERE page = 'a'")
      val t1 = cq("SELECT ck, value FROM ks.tt WHERE page = 'a' " +
        "ORDER BY ck").collect().map(_.getLong(1)).toSeq
      assert(t1 === Seq(8L, 9L))
      cq("UPDATE ks.tt SET xs = [] WHERE page = 'a'")
      assert(cq("SELECT value FROM ks.tt WHERE page = 'a'")
        .collect().isEmpty)
      val e3 = intercept[IllegalArgumentException] {
        cq("UPDATE ks.tt SET m = {'k': 1} WHERE page = 'a' AND ck = 1") }
      assert(e3.getMessage.contains("map replace"), e3.getMessage)
    } finally spark.conf.unset("spark.sql.catalog.crcat")
  }

  test("static columns in LWT (C55f): static conditions, static " +
    "writes, mixed multi-condition, partition-alone static-only IF") {
    val root = Files.createTempDirectory("cql-slwt").toString
    spark.conf.set("spark.sql.catalog.slcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.slcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "slcat")
      def applied(stmt: String): Boolean =
        cq(stmt).collect().head.getBoolean(0)
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint, flag bigint STATIC)")
      cq("UPDATE ks.t SET flag = 1 WHERE pk = 1")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 10)")
      // static condition gates a row write
      assert(applied("UPDATE ks.t SET qty = 20 " +
        "WHERE pk = 1 AND ck = 1 IF flag = 1"))
      assert(!applied("UPDATE ks.t SET qty = 99 " +
        "WHERE pk = 1 AND ck = 1 IF flag = 2"))
      // regular condition gates a STATIC write
      assert(applied("UPDATE ks.t SET flag = 5 " +
        "WHERE pk = 1 AND ck = 1 IF qty = 20"))
      val f = cq("SELECT pk, flag FROM ks.t ORDER BY pk")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(f === Seq((1L, 5L)))
      // an absent static cell: = misses, != holds (Cassandra nulls)
      assert(!applied("UPDATE ks.t SET qty = 1 " +
        "WHERE pk = 2 AND ck = 1 IF flag = 5"))
      assert(applied("UPDATE ks.t SET qty = 1 " +
        "WHERE pk = 2 AND ck = 1 IF flag != 5"))
      // mixed multi-condition: static AND regular under one ballot
      assert(applied("UPDATE ks.t SET qty = 21 " +
        "WHERE pk = 1 AND ck = 1 IF flag = 5 AND qty = 20"))
      assert(!applied("UPDATE ks.t SET qty = 98 " +
        "WHERE pk = 1 AND ck = 1 IF flag = 5 AND qty = 7"))
      // static-only condition + static SET binds the partition alone
      assert(applied("UPDATE ks.t SET flag = 6 " +
        "WHERE pk = 1 IF flag = 5"))
      assert(!applied("UPDATE ks.t SET flag = 7 " +
        "WHERE pk = 1 IF flag IN (1, 2)"))
      val f2 = cq("SELECT pk, flag FROM ks.t ORDER BY pk")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(f2.contains((1L, 6L)))
      // a regular condition still demands the CAS row's ck
      val e = intercept[IllegalArgumentException] {
        cq("UPDATE ks.t SET flag = 9 WHERE pk = 1 IF qty = 21") }
      assert(e.getMessage.contains("needs WHERE"), e.getMessage)
    } finally spark.conf.unset("spark.sql.catalog.slcat")
  }

  test("reassembled collection SELECT (C11g): lists in position " +
    "order, sets sorted-distinct, maps as entries") {
    val root = Files.createTempDirectory("cql-csel").toString
    spark.conf.set("spark.sql.catalog.cscat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cscat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cscat")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.l (pk bigint, ck int, col text, " +
        "value list<bigint>, wt bigint)")
      cq("UPDATE ks.l SET xs = xs + [5, 6, 7] WHERE pk = 1")
      cq("UPDATE ks.l SET xs = xs + [9] WHERE pk = 2")
      val l = cq("SELECT pk, xs FROM ks.l ORDER BY pk")
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
      assert(l === Seq((1L, Seq(5L, 6L, 7L)), (2L, Seq(9L))))
      // removes shift the reassembled view
      cq("DELETE xs[0] FROM ks.l WHERE pk = 1")
      val l2 = cq("SELECT pk, xs FROM ks.l WHERE pk = 1")
        .collect().map(_.getSeq[Long](1)).toSeq
      assert(l2 === Seq(Seq(6L, 7L)))
      cq("CREATE TABLE ks.s (pk bigint, ck int, col text, " +
        "value set<bigint>, wt bigint)")
      cq("UPDATE ks.s SET st = st + {4, 4, 2} WHERE pk = 1")
      val st = cq("SELECT pk, st FROM ks.s")
        .collect().map(_.getSeq[Long](1)).toSeq
      assert(st === Seq(Seq(2L, 4L)))
      cq("CREATE TABLE ks.m (pk bigint, ck int, col text, " +
        "value map<text, bigint>, wt bigint)")
      cq("UPDATE ks.m SET m['b'] = 2 WHERE pk = 1 AND ck = 1")
      cq("UPDATE ks.m SET m['a'] = 1 WHERE pk = 1 AND ck = 1")
      val m = cq("SELECT pk, ck, m FROM ks.m WHERE pk = 1 AND ck = 1")
        .collect().map(_.getMap[String, Long](2)).head
      assert(m === Map("a" -> 1L, "b" -> 2L))
      // a non-key extra item refuses by name
      val e = intercept[IllegalArgumentException] {
        cq("SELECT ck, xs FROM ks.l") }
      assert(e.getMessage.contains("reassembled list"), e.getMessage)
      // the pk restriction pushes into the reconcile scan UNDER the
      // reassembly agg — a pruned point read, not a table scan
      val plan = cq("SELECT pk, xs FROM ks.l WHERE pk = 1")
        .queryExecution.executedPlan.toString
      assert(plan.contains("pkRange=[1,1]"), plan)
    } finally spark.conf.unset("spark.sql.catalog.cscat")
  }

  test("LWT USING TTL (C55g): expiring conditional writes, " +
    "timestamp refusal, expiry-driven death") {
    val root = Files.createTempDirectory("cql-lwttl").toString
    spark.conf.set("spark.sql.catalog.ltcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.ltcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "ltcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      // the expiring-lock idiom
      cq("INSERT INTO ks.t (pk, ck, lock) VALUES (1, 1, 7) " +
        "IF NOT EXISTS USING TTL 10")
      val t1 = cq("SELECT pk, TTL(lock) AS t FROM ks.t " +
        "WHERE pk = 1 AND ck = 1").collect().head.getLong(1)
      assert(t1 === 10L)
      // TTL on the operator/IN/EXISTS/multi forms
      cq("UPDATE ks.t USING TTL 20 SET lock = 8 " +
        "WHERE pk = 1 AND ck = 1 IF lock = 7")
      cq("UPDATE ks.t USING TTL 21 SET lock = 9 " +
        "WHERE pk = 1 AND ck = 1 IF lock IN (8)")
      cq("UPDATE ks.t USING TTL 22 SET lock = 10 " +
        "WHERE pk = 1 AND ck = 1 IF EXISTS")
      cq("UPDATE ks.t USING TTL 23 SET lock = 11 " +
        "WHERE pk = 1 AND ck = 1 IF lock = 10 AND lock != 3")
      val t2 = cq("SELECT pk, TTL(lock) AS t FROM ks.t " +
        "WHERE pk = 1 AND ck = 1").collect().head.getLong(1)
      assert(t2 === 23L)
      // custom timestamps refuse with Cassandra's message
      refuse("UPDATE ks.t USING TIMESTAMP 99 SET lock = 1 " +
        "WHERE pk = 1 AND ck = 1 IF lock = 11",
        "Cannot provide custom timestamp for conditional updates")
      // the expiring cell DIES at wt + ttl under a queryTime read —
      // the C6 rule on the CAS-written expiry
      val dir = s"$root/ks/t"
      val aliveNow = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").load(dir)
        .filter(col("pk") === 1).count()
      assert(aliveNow === 1L)
      val afterExpiry = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true")
        .option("queryTime", "1000000").load(dir)
        .filter(col("pk") === 1).count()
      assert(afterExpiry === 0L)
    } finally spark.conf.unset("spark.sql.catalog.ltcat")
  }

  test("function-call literals (C72): now()/uuid() mint from the " +
    "statement writetime; same statement, same value") {
    val root = Files.createTempDirectory("cql-fcall").toString
    spark.conf.set("spark.sql.catalog.fccat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.fccat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "fccat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.e (pk bigint, ck int, col text, " +
        "value timeuuid, wt bigint)")
      cq("INSERT INTO ks.e (pk, ck, ev) VALUES (1, 1, now())")
      val v1 = cq("SELECT value FROM ks.e WHERE pk = 1 AND ck = 1")
        .collect().head.getString(0)
      assert(v1 === Cql.mintTimeuuid(1))
      assert(java.util.UUID.fromString(v1).version === 1)
      // every call in ONE statement mints the SAME value
      cq("INSERT INTO ks.e (pk, ck, a, b) VALUES (5, 1, now(), now())")
      val ab = cq("SELECT value FROM ks.e WHERE pk = 5 AND ck = 1")
        .collect().map(_.getString(0)).toSeq
      assert(ab.length === 2 && ab.distinct.length === 1)
      // uuid() is not a timeuuid (version rule)
      refuse("INSERT INTO ks.e (pk, ck, ev) VALUES (9, 1, uuid())",
        "a timeuuid column takes now()")
      // uuid columns take BOTH (a timeuuid IS a uuid)
      cq("CREATE TABLE ks.u (pk bigint, ck int, col text, " +
        "value uuid, wt bigint)")
      cq("INSERT INTO ks.u (pk, ck, id) VALUES (1, 1, uuid())")
      cq("INSERT INTO ks.u (pk, ck, id) VALUES (2, 1, now())")
      val us = cq("SELECT pk, value FROM ks.u ORDER BY pk")
        .collect().map(_.getString(1)).toSeq
      assert(us === Seq(Cql.mintUuid(1), Cql.mintTimeuuid(2)))
      assert(java.util.UUID.fromString(us.head).version === 4)
      // UPDATE mints through the same wrapper
      cq("UPDATE ks.u SET id = now() WHERE pk = 2 AND ck = 1")
      val uv = cq("SELECT value FROM ks.u WHERE pk = 2 AND ck = 1")
        .collect().head.getString(0)
      assert(uv === Cql.mintTimeuuid(3))
    } finally spark.conf.unset("spark.sql.catalog.fccat")
  }

  test("CREATE TABLE ... LIKE (C51d): schema+options copied via the " +
    "round-trippable DESCRIBE, data not copied, view/missing refuse") {
    val root = Files.createTempDirectory("cql-clike").toString
    spark.conf.set("spark.sql.catalog.clcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.clcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "clcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.src (pk bigint, ck int, col text, " +
        "value bigint, wt bigint) WITH comment = 'c' AND " +
        "gc_grace_seconds = 7")
      cq("INSERT INTO ks.src (pk, ck, qty) VALUES (1, 1, 5)")
      cq("CREATE TABLE ks.dst LIKE ks.src")
      val d1 = cq("DESCRIBE TABLE ks.src").collect().head.getString(0)
      val d2 = cq("DESCRIBE TABLE ks.dst").collect().head.getString(0)
      assert(d2 === d1.replace("ks.src", "ks.dst"))
      // data is NOT copied; the clone takes its own writes
      assert(cq("SELECT pk FROM ks.dst").collect().isEmpty)
      cq("INSERT INTO ks.dst (pk, ck, qty) VALUES (2, 1, 9)")
      assert(cq("SELECT value FROM ks.dst WHERE pk = 2 AND ck = 1")
        .collect().head.getLong(0) === 9L)
      // IF NOT EXISTS tolerates the existing clone
      cq("CREATE TABLE IF NOT EXISTS ks.dst LIKE ks.src")
      refuse("CREATE TABLE ks.d2 LIKE ks.ghost", "does not exist")
      // a materialized view is not a LIKE source
      cq("CREATE MATERIALIZED VIEW ks.v AS SELECT * FROM ks.src " +
        "WHERE value IS NOT NULL PRIMARY KEY (value, pk, ck)")
      refuse("CREATE TABLE ks.d3 LIKE ks.v", "materialized view")
      // the copy carries a DECLARED type: a uuid source clones to a
      // uuid-validating table
      cq("CREATE TABLE ks.us (pk bigint, ck int, col text, " +
        "value uuid, wt bigint)")
      cq("CREATE TABLE ks.ud LIKE ks.us")
      refuse("INSERT INTO ks.ud (pk, ck, id) VALUES (1, 1, 'junk')",
        "uuid literal")
      // a COUNTER source clones to a counter table (shard-delta
      // semantics, INSERT refusal and all)
      cq("CREATE TABLE ks.cs (pk bigint, ck int, col text, " +
        "value counter, wt bigint, PRIMARY KEY ((pk), ck))")
      cq("CREATE TABLE ks.cd LIKE ks.cs")
      cq("UPDATE ks.cd SET hits = hits + 4 WHERE pk = 1 AND ck = 1")
      cq("UPDATE ks.cd SET hits = hits + 3 WHERE pk = 1 AND ck = 1")
      assert(cq("SELECT value FROM ks.cd WHERE pk = 1 AND ck = 1")
        .collect().head.getLong(0) === 7L)
      refuse("INSERT INTO ks.cd (pk, ck, hits) VALUES (1, 1, 5)",
        "counter tables take UPDATE increments")
    } finally spark.conf.unset("spark.sql.catalog.clcat")
  }

  test("COUNTER BATCH (C10d): grouping-only counter form, " +
    "non-counter statements and custom timestamps refuse, " +
    "unlogged mixing refuses") {
    val root = Files.createTempDirectory("cql-cntbatch").toString
    spark.conf.set("spark.sql.catalog.cntbcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cntbcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cntbcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.c (pk bigint, ck int, col text, " +
        "value counter, wt bigint, PRIMARY KEY ((pk), ck))")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("""BEGIN COUNTER BATCH
           |  UPDATE ks.c SET hits = hits + 5 WHERE pk = 1 AND ck = 1;
           |  UPDATE ks.c SET hits = hits + 3 WHERE pk = 1 AND ck = 1;
           |  UPDATE ks.c SET hits = hits - 1 WHERE pk = 2 AND ck = 1;
           |APPLY BATCH""".stripMargin)
      val rows = cq("SELECT pk, value FROM ks.c ORDER BY pk")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows === Seq((1L, 8L), (2L, -1L)))
      // Cassandra's batch-type rules, by name
      refuse("""BEGIN COUNTER BATCH
               |  INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 5);
               |APPLY BATCH""".stripMargin,
        "Cannot include non-counter statement in a counter batch")
      refuse("""BEGIN COUNTER BATCH
               |  UPDATE ks.t SET qty = 5 WHERE pk = 1 AND ck = 1;
               |APPLY BATCH""".stripMargin,
        "Cannot include non-counter statement in a counter batch")
      refuse("""BEGIN COUNTER BATCH USING TIMESTAMP 99
               |  UPDATE ks.c SET hits = hits + 1 WHERE pk = 1 AND ck = 1;
               |APPLY BATCH""".stripMargin,
        "Cannot provide custom timestamp for counter batches")
      // UNLOGGED: pure-counter stays legal, MIXING refuses
      cq("""BEGIN UNLOGGED BATCH
           |  UPDATE ks.c SET hits = hits + 2 WHERE pk = 1 AND ck = 1;
           |APPLY BATCH""".stripMargin)
      refuse("""BEGIN UNLOGGED BATCH
               |  UPDATE ks.c SET hits = hits + 1 WHERE pk = 1 AND ck = 1;
               |  INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 5);
               |APPLY BATCH""".stripMargin,
        "Cannot mix counter operations and non-counter operations")
      val after = cq("SELECT value FROM ks.c WHERE pk = 1 AND ck = 1")
        .collect().map(_.getLong(0)).toSeq
      assert(after === Seq(10L))
      // the failed mixed batch wrote NOTHING to the plain table
      assert(cq("SELECT pk FROM ks.t").collect().isEmpty)
      // a counter batch inside a SCRIPT splits on its own APPLY
      cq("CREATE TABLE ks.c2 (pk bigint, ck int, col text, " +
        "value counter, wt bigint, PRIMARY KEY ((pk), ck))")
      Cql.catalogScript(spark,
        """BEGIN COUNTER BATCH
          |  UPDATE ks.c2 SET n = n + 4 WHERE pk = 7 AND ck = 1;
          |  UPDATE ks.c2 SET n = n + 6 WHERE pk = 7 AND ck = 1;
          |APPLY BATCH;
          |UPDATE ks.c2 SET n = n + 30 WHERE pk = 8 AND ck = 1
          |""".stripMargin, "cntbcat")
      val s = cq("SELECT pk, value FROM ks.c2 ORDER BY pk")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(s === Seq((7L, 10L), (8L, 30L)))
    } finally spark.conf.unset("spark.sql.catalog.cntbcat")
  }

  test("writetime minting is header-served (r15): no Spark job per " +
    "statement timestamp") {
    val root = Files.createTempDirectory("cql-wtmint").toString
    spark.conf.set("spark.sql.catalog.wmcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.wmcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "wmcat")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 5)")
      cq("INSERT INTO ks.t (pk, ck, price) VALUES (1, 1, 9)")
      // the header fold equals the table's true max writetime
      val scanMax = spark.read.format("graft.sources.CellSource")
        .load(s"$root/ks/t")
        .agg(org.apache.spark.sql.functions.max(col("wt")))
        .collect().head.getLong(0)
      assert(graft.sources.CellSource.maxWt(s"$root/ks/t") ===
        Some(scanMax))
      // ALTER ... DROP mints a drop timestamp via the allocator but
      // runs NO data work — with the header-served resolver it must
      // schedule ZERO Spark jobs. The bus is FIFO: once the marker
      // action's job event is visible, any job the ALTER had started
      // would be visible too.
      @volatile var jobs = 0
      val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart)
            : Unit = {
          jobs += 1
          descs.add(Option(j.properties)
            .map(_.getProperty("spark.job.description", "?"))
            .getOrElse("?") + " / " + Option(j.properties)
            .map(_.getProperty("callSite.short", "?")).getOrElse("?"))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        // a tagged marker action whose EVENTS we wait for — the bus
        // is FIFO, so once its events land, every earlier job event
        // landed too (pre-registration events drain in phase one)
        def marker(tag: String): Int = {
          spark.sparkContext.setJobDescription(tag)
          try spark.range(1).count()
          finally spark.sparkContext.setJobDescription(null)
          val dl = System.currentTimeMillis() + 30000
          def tagged = descs.toArray.count(_.toString.startsWith(tag))
          while (tagged == 0 && System.currentTimeMillis() < dl)
            Thread.sleep(50)
          Thread.sleep(200) // let the marker's sibling jobs land too
          assert(tagged > 0, "listener bus drain timeout")
          tagged
        }
        marker("wtmint-drain") // flush pre-registration events
        val before = descs.size
        cq("ALTER TABLE ks.t DROP price")
        marker("wtmint-after")
        // EVERY job event after the drain point is the marker's own:
        // the ALTER (and its timestamp mint) scheduled none
        val newJobs = descs.toArray.drop(before).map(_.toString)
        assert(newJobs.nonEmpty &&
          newJobs.forall(_.startsWith("wtmint-after")),
          s"ALTER DROP's timestamp mint scheduled job(s): " +
            newJobs.mkString(" | "))
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally spark.conf.unset("spark.sql.catalog.wmcat")
  }

  test("LWT value-type guards (r15): fresh-table _type routing, " +
    "non-bigint refusals, offset timestamps") {
    val root = Files.createTempDirectory("cql-lwtguard").toString
    spark.conf.set("spark.sql.catalog.lgcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.lgcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "lgcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      def cell(t: String, pk: Long, c: String): Option[Any] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/$t")
          .filter(col("pk") === pk && col("col") === c)
          .select("value").collect().headOption.map(_.get(0))
      cq("CREATE KEYSPACE ks")
      // (1) the canonical LWT idiom on a FRESH text table: no flush
      // file exists yet, so the CAS value layout must come from the
      // catalog `_type` marker (not the long default) — the write
      // lands as a TEXT cell and the miss row reports the string
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      val r1 = cq("INSERT INTO ks.t (pk, ck, status) VALUES " +
        "(1, 1, 'pending') IF NOT EXISTS")
        .as[(Boolean, Option[String])].collect().head
      assert(r1 === ((true, None)))
      val r2 = cq("INSERT INTO ks.t (pk, ck, status) VALUES " +
        "(1, 1, 'done') IF NOT EXISTS")
        .as[(Boolean, Option[String])].collect().head
      assert(r2 === ((false, Some("pending"))))
      assert(cell("t", 1, "status") === Some("pending"))
      // (2) a FRESH double table serves LWT since C55j — through the
      // C65q double grammar (the integer literal WIDENS, CQL's own
      // rule), with the CAS value layout from the catalog _type
      // marker, so the first file is double-tagged, never a stamped
      // bigint over the declared type
      cq("CREATE TABLE ks.d (pk bigint, ck int, col text, " +
        "value double, wt bigint)")
      val rd = cq("INSERT INTO ks.d (pk, ck, score) VALUES (1, 1, 5) " +
        "IF NOT EXISTS").as[(Boolean, Option[Double])].collect().head
      assert(rd === ((true, None)))
      assert(cell("d", 1, "score") === Some(5.0))
      cq("INSERT INTO ks.d (pk, ck, score) VALUES (1, 1, 0.5)")
      assert(cell("d", 1, "score") === Some(0.5))
      // (3) POPULATED double table: the operator family compares in
      // double order, the miss row reports the double, non-numeric
      // literals refuse by grammar, and conditional BATCH + DELETE
      // ride the same round
      val rm = cq("UPDATE ks.d SET score = 2 WHERE pk = 1 AND " +
        "ck = 1 IF score = 1")
        .as[(Boolean, Option[Double])].collect().head
      assert(rm === ((false, Some(0.5))))
      assert(cq("UPDATE ks.d SET score = 2.5 WHERE pk = 1 AND " +
        "ck = 1 IF score < 1").collect().head.getBoolean(0))
      refuse("UPDATE ks.d SET score = 3 WHERE pk = 1 AND ck = 1 " +
        "IF score = 'x'", "double literal")
      assert(cq("BEGIN BATCH\nINSERT INTO ks.d (pk, ck, score) " +
        "VALUES (2, 1, 3) IF NOT EXISTS;\nAPPLY BATCH")
        .collect().head.getBoolean(0))
      assert(cell("d", 2, "score") === Some(3.0))
      assert(cq("DELETE FROM ks.d WHERE pk = 2 AND ck = 1 IF EXISTS")
        .collect().head.getBoolean(0))
      assert(cell("d", 2, "score") === None)
      // conditional BATCH on a TEXT table serves since C56e (r16) —
      // the member literal parses through the text grammar, so a
      // bare integer still refuses by grammar
      refuse("BEGIN BATCH\nINSERT INTO ks.t (pk, ck, s) VALUES " +
        "(2, 1, 5) IF NOT EXISTS;\nAPPLY BATCH",
        "text literal")
      val tb = cq("BEGIN BATCH\nINSERT INTO ks.t (pk, ck, s) VALUES " +
        "(2, 1, 'queued') IF NOT EXISTS;\nAPPLY BATCH")
        .as[(Boolean, Option[String])].collect().head
      assert(tb === ((true, None)))
      assert(cell("t", 2, "s") === Some("queued"))
      // (4) ISO-8601 instants with EXPLICIT offsets — including the
      // negative form a bare '+' test misses — normalize to UTC
      cq("CREATE TABLE ks.ts (pk bigint, ck int, col text, " +
        "value timestamp, wt bigint)")
      cq("INSERT INTO ks.ts (pk, ck, seen) VALUES (1, 1, " +
        "'2020-01-02T03:04:05-05:00')")
      cq("INSERT INTO ks.ts (pk, ck, seen) VALUES (2, 1, " +
        "'2020-01-02T03:04:05+02:00')")
      assert(cell("ts", 1, "seen") === Some(java.sql.Timestamp.from(
        java.time.Instant.parse("2020-01-02T08:04:05Z"))))
      assert(cell("ts", 2, "seen") === Some(java.sql.Timestamp.from(
        java.time.Instant.parse("2020-01-02T01:04:05Z"))))
    } finally spark.conf.unset("spark.sql.catalog.lgcat")
  }

  test("double/boolean/timestamp tables through the CQL front door (C65q)") {
    val root = Files.createTempDirectory("cql-scalar").toString
    spark.conf.set("spark.sql.catalog.sccat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.sccat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "sccat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      def cell(t: String, pk: Long, c: String): Option[Any] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/$t")
          .filter(col("pk") === pk && col("col") === c)
          .select("value").collect().headOption.map(_.get(0))
      cq("CREATE KEYSPACE ks")
      // DOUBLE: decimal literals write, bigint literals widen
      cq("CREATE TABLE ks.d (pk bigint, ck int, col text, " +
        "value double, wt bigint)")
      cq("INSERT INTO ks.d (pk, ck, score) VALUES (1, 1, 0.5)")
      cq("UPDATE ks.d SET score = 2 WHERE pk = 1 AND ck = 1")
      assert(cell("d", 1, "score") === Some(2.0))
      cq("DELETE score FROM ks.d WHERE pk = 1 AND ck = 1")
      assert(cell("d", 1, "score") === None)
      refuse("INSERT INTO ks.d (pk, ck, score) VALUES (2, 1, 'x')",
        "takes a double literal")
      // BOOLEAN: true/false literals
      cq("CREATE TABLE ks.b (pk bigint, ck int, col text, " +
        "value boolean, wt bigint)")
      cq("INSERT INTO ks.b (pk, ck, active) VALUES (1, 1, true)")
      cq("UPDATE ks.b SET active = false WHERE pk = 1 AND ck = 1")
      assert(cell("b", 1, "active") === Some(false))
      refuse("UPDATE ks.b SET active = 7 WHERE pk = 1 AND ck = 1",
        "takes true/false")
      // TIMESTAMP: epoch millis and ISO instants, both UTC
      cq("CREATE TABLE ks.ts (pk bigint, ck int, col text, " +
        "value timestamp, wt bigint)")
      cq("INSERT INTO ks.ts (pk, ck, seen) VALUES (1, 1, " +
        "'2020-01-02T03:04:05Z')")
      cq("INSERT INTO ks.ts (pk, ck, seen) VALUES (2, 1, " +
        "'2020-01-02 03:04:05')")
      cq("INSERT INTO ks.ts (pk, ck, seen) VALUES (3, 1, " +
        "1577934245000)")
      val expect = java.sql.Timestamp.from(
        java.time.Instant.parse("2020-01-02T03:04:05Z"))
      Seq(1L, 2L, 3L).foreach { pk =>
        assert(cell("ts", pk, "seen") === Some(expect), s"pk $pk")
      }
      cq("DELETE FROM ks.ts WHERE pk = 3 AND ck = 1")
      assert(cell("ts", 3, "seen") === None)
      refuse("INSERT INTO ks.ts (pk, ck, seen) VALUES (4, 1, " +
        "'yesterday')", "ISO-8601")
      // buffered script: one flush per table
      def nFiles: Int = new java.io.File(s"$root/ks/d")
        .list().count(_.endsWith(".cells"))
      val before = nFiles
      Cql.catalogScript(spark,
        """INSERT INTO ks.d (pk, ck, score) VALUES (10, 1, 1.5);
          |INSERT INTO ks.d (pk, ck, score) VALUES (11, 1, 2.5);
          |UPDATE ks.d SET score = 3.5 WHERE pk = 10 AND ck = 1
          |""".stripMargin, "sccat")
      assert(nFiles === before + 1)
      assert(cell("d", 10, "score") === Some(3.5))
    } finally spark.conf.unset("spark.sql.catalog.sccat")
  }

  test("blob-valued tables through the CQL front door (C65p)") {
    val root = Files.createTempDirectory("cql-blob").toString
    spark.conf.set("spark.sql.catalog.blobcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.blobcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "blobcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.blobs (pk bigint, ck int, col text, " +
        "value blob, wt bigint)")
      def row(pk: Long, c: String): Option[Seq[Byte]] =
        spark.read.format("graft.sources.CellSource")
          .option("reconcile", "true").load(s"$root/ks/blobs")
          .filter(col("pk") === pk && col("col") === c)
          .select("value").collect().headOption
          .map(_.getAs[Array[Byte]](0).toSeq)
      // INSERT/UPDATE with 0x literals; later writes LWW-shadow
      cq("INSERT INTO ks.blobs (pk, ck, payload) VALUES " +
        "(1, 1, 0xCAFE)")
      cq("UPDATE ks.blobs SET payload = 0xCAFEBABE " +
        "WHERE pk = 1 AND ck = 1")
      assert(row(1, "payload") ===
        Some(Seq(0xCA.toByte, 0xFE.toByte, 0xBA.toByte, 0xBE.toByte)))
      // 0x alone is the EMPTY blob (Cassandra's own)
      cq("INSERT INTO ks.blobs (pk, ck, payload) VALUES (2, 1, 0x)")
      assert(row(2, "payload") === Some(Seq.empty))
      // cell/row deletes tombstone with empty-blob markers
      cq("DELETE payload FROM ks.blobs WHERE pk = 1 AND ck = 1")
      assert(row(1, "payload") === None)
      cq("DELETE FROM ks.blobs WHERE pk = 2 AND ck = 1")
      assert(row(2, "payload") === None)
      // buffered script: one flush per table
      def nFiles: Int = new java.io.File(s"$root/ks/blobs")
        .list().count(_.endsWith(".cells"))
      val before = nFiles
      Cql.catalogScript(spark,
        """INSERT INTO ks.blobs (pk, ck, payload) VALUES (3, 1, 0x01);
          |INSERT INTO ks.blobs (pk, ck, payload) VALUES (4, 1, 0x02);
          |UPDATE ks.blobs SET payload = 0x03 WHERE pk = 3 AND ck = 1
          |""".stripMargin, "blobcat")
      assert(nFiles === before + 1)
      assert(row(3, "payload") === Some(Seq(3.toByte)))
      // refusals: literal shape, odd digits, statics, non-blob value
      refuse("INSERT INTO ks.blobs (pk, ck, payload) VALUES (5, 1, 7)",
        "blob literal")
      refuse("INSERT INTO ks.blobs (pk, ck, payload) VALUES " +
        "(5, 1, 0xABC)", "even number of hex digits")
      refuse("CREATE TABLE ks.bs (pk bigint, ck int, col text, " +
        "value blob, wt bigint, meta blob static)",
        "blob tables cannot declare static")
    } finally spark.conf.unset("spark.sql.catalog.blobcat")
  }

  test("SASI prefix LIKE: order-preserving text index (C18i)") {
    val root = Files.createTempDirectory("cql-pfx").toString
    spark.conf.set("spark.sql.catalog.pfxcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.pfxcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "pfxcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.words (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      def put(rows: (Long, String)*): Unit =
        rows.toSeq.map { case (pk, w) => (pk, 1, "word", w, 100L) }
          .toDF("pk", "ck", "col", "value", "wt").coalesce(1)
          .write.format("graft.sources.CellSource")
          .option("valueType", "string").mode("append")
          .save(s"$root/ks/words")
      put((1L, "cat"), (2L, "car"), (3L, "cart"), (4L, "dog"),
        (5L, "ca"), (6L, "carbonated"))
      // no index: LIKE refuses — Cassandra's rule, ALLOW FILTERING
      // does not unlock it
      refuse("SELECT pk FROM ks.words WHERE word LIKE 'ca%'",
        "needs a prefix index")
      refuse("SELECT pk FROM ks.words WHERE word LIKE 'ca%' " +
        "ALLOW FILTERING", "needs a prefix index")
      cq("CREATE INDEX ON ks.words (prefix(word))")
      def hits(pat: String): Set[Long] =
        cq(s"SELECT pk FROM ks.words WHERE word LIKE '$pat'")
          .as[Long].collect().toSet
      assert(hits("car%") === Set(2L, 3L, 6L))
      assert(hits("ca%") === Set(1L, 2L, 3L, 5L, 6L))
      assert(hits("cat%") === Set(1L))
      // prefix longer than the 8-byte key: superset range + re-filter
      assert(hits("carbonate%") === Set(6L))
      assert(hits("zz%") === Set.empty)
      // key predicates compose with the LIKE route (the residual
      // filter applies after the index-then-fetch)
      assert(cq("SELECT pk FROM ks.words WHERE pk = 2 AND " +
        "word LIKE 'ca%'").as[Long].collect().toSet === Set(2L))
      // freshness: a post-build flush heals on the next probe
      put((7L, "cab"))
      assert(hits("ca%") === Set(1L, 2L, 3L, 5L, 6L, 7L))
      // the probe is a Summary-PRUNED pk range over the index files,
      // never an index scan (the C18e plan shape)
      val idxDir = s"$root/ks/words_word_prefix_idx"
      val b = "car".getBytes("UTF-8")
      val probe = graft.sources.CellIndex.lookupPksRange(spark, idxDir,
        graft.functions.PrefixCodec.lowBound(b),
        graft.functions.PrefixCodec.highBound(b))
      assert(probe.queryExecution.executedPlan.toString
        .contains("pkRange="))
      // a SUFFIX pattern (C18l) is a supported shape since r16, but
      // serves from the CONTAINS-mode index — this table has only
      // the prefix one, so it refuses by the missing index's name
      refuse("SELECT pk FROM ks.words WHERE word LIKE '%car'",
        "needs a contains index")
      refuse("SELECT pk FROM ks.words WHERE word LIKE 'c_r%'",
        "supported LIKE shapes")
      refuse("SELECT pk FROM ks.words WHERE word LIKE '%'",
        "matches every row")
      // the codec really is order-preserving, and the registered SQL
      // expression computes the same code the index build wrote
      val ws = Seq("", "a", "ab", "abc", "abcdefgh", "abcdefghz",
        "b", "zz")
      val codes = ws.map(w =>
        graft.functions.PrefixCodec.lowBound(w.getBytes("UTF-8")))
      assert(codes === codes.sorted)
      graft.GraftExtensions.register(spark)
      assert(spark.range(1).selectExpr("graft_prefix64('abc')")
        .as[Long].collect().head ===
        graft.functions.PrefixCodec.lowBound("abc".getBytes("UTF-8")))
    } finally spark.conf.unset("spark.sql.catalog.pfxcat")
  }

  test("collection 2i: values(m)/keys(m) serve CONTAINS without ALLOW FILTERING (C64c)") {
    val root = Files.createTempDirectory("cql-c2i").toString
    spark.conf.set("spark.sql.catalog.c2icat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.c2icat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "c2icat")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("UPDATE ks.t SET tags = tags + [5, 7] WHERE pk = 1")
      cq("UPDATE ks.t SET tags = tags + [7] WHERE pk = 2")
      cq("CREATE TABLE ks.m (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("UPDATE ks.m SET m['color'] = 4 WHERE pk = 4 AND ck = 1")
      cq("UPDATE ks.m SET m['size'] = 9 WHERE pk = 5 AND ck = 1")
      // unindexed: both forms demand ALLOW FILTERING (Cassandra)
      val e0 = intercept[IllegalArgumentException] {
        cq("SELECT pk FROM ks.m WHERE m CONTAINS KEY 'color'")
      }
      assert(e0.getMessage.contains("ALLOW FILTERING"), e0.getMessage)
      // values(tags): Cassandra's spelling of the element-value index
      cq("CREATE INDEX ON ks.t (values(tags))")
      val viaValues =
        cq("SELECT pk, value FROM ks.t WHERE tags CONTAINS 7")
      // the probe routed through the index: the hit set composed
      // into the base read as a pk multiget (index-then-fetch), not
      // an unrestricted base scan
      assert(viaValues.queryExecution.executedPlan.toString
        .contains("pk#"), viaValues.queryExecution.executedPlan)
      assert(viaValues.queryExecution.executedPlan.toString
        .matches("(?s).*pk#\\d+L IN \\(1,2\\).*"),
        viaValues.queryExecution.executedPlan)
      assert(viaValues.as[(Long, Long)].collect().toSet ===
        Set((1L, 7L), (2L, 7L)))
      // keys(m): the map-key index serves CONTAINS KEY key-routed
      cq("CREATE INDEX ON ks.m (keys(m))")
      val viaKeys =
        cq("SELECT pk, value FROM ks.m WHERE m CONTAINS KEY 'color'")
      // single hit composes as a point read: pkRange pushed to [4,4]
      assert(viaKeys.queryExecution.executedPlan.toString
        .contains("pkRange=[4,4]"),
        viaKeys.queryExecution.executedPlan)
      assert(viaKeys.as[(Long, Long)].collect().toSet ===
        Set((4L, 4L)))
      // write-through: a later entry is visible through the index
      cq("UPDATE ks.m SET m['color'] = 6 WHERE pk = 6 AND ck = 1")
      assert(cq("SELECT pk FROM ks.m WHERE m CONTAINS KEY 'color'")
        .as[Long].collect().toSet === Set(4L, 6L))
      // CONTAINS (values) on the map still demands ALLOW FILTERING —
      // the keys index stores KEYS, not values
      val e1 = intercept[IllegalArgumentException] {
        cq("SELECT pk FROM ks.m WHERE m CONTAINS 4")
      }
      assert(e1.getMessage.contains("ALLOW FILTERING"), e1.getMessage)
      // default names are Cassandra-shaped; IF NOT EXISTS accepts the
      // SAME index and refuses a different target on the name
      cq("CREATE INDEX IF NOT EXISTS ON ks.m (keys(m))")
      val e2 = intercept[IllegalArgumentException] {
        cq("CREATE INDEX m_m_keys_idx ON ks.m (values(m))")
      }
      assert(e2.getMessage.contains("already exists"), e2.getMessage)
      // an empty-hit-set index build still lands its metadata
      cq("CREATE INDEX ON ks.m (values(nothere))")
      assert(cq("SELECT pk FROM ks.m WHERE nothere CONTAINS 1")
        .count() === 0)
    } finally {
      spark.conf.unset("spark.sql.catalog.c2icat")
      spark.conf.unset("spark.sql.catalog.c2icat.root")
    }
  }

  test("USE <keyspace>: ambient keyspace for unqualified DML (C65n)") {
    val root = Files.createTempDirectory("cql-use").toString
    spark.conf.set("spark.sql.catalog.usecat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.usecat.root", root)
    try {
      def cqs(script: String) =
        Cql.catalogScript(spark, script, "usecat")
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "usecat")
      cq("CREATE KEYSPACE ks1")
      cq("CREATE KEYSPACE ks2")
      cq("CREATE TABLE ks1.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("CREATE TABLE ks2.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      // unqualified DML under USE hits the ambient keyspace's table
      cqs("""USE ks1;
             INSERT INTO t (pk, ck, qty) VALUES (1, 1, 10);
             USE ks2;
             INSERT INTO t (pk, ck, qty) VALUES (2, 1, 20)""")
      // equals the qualified form
      assert(cqs("USE ks1; SELECT pk, value FROM t")
        .as[(Long, Long)].collect().toSeq === Seq((1L, 10L)))
      assert(cq("SELECT pk, value FROM ks1.t")
        .as[(Long, Long)].collect().toSeq === Seq((1L, 10L)))
      assert(cq("SELECT pk, value FROM ks2.t")
        .as[(Long, Long)].collect().toSeq === Seq((2L, 20L)))
      // qualified names still work under USE (and may cross it)
      assert(cqs("USE ks2; SELECT pk, value FROM ks1.t")
        .as[(Long, Long)].collect().toSeq === Seq((1L, 10L)))
      // unqualified without USE fails fast, in and out of scripts
      val e1 = intercept[IllegalArgumentException] {
        cqs("SELECT pk FROM t")
      }
      assert(e1.getMessage.contains("USE"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        cq("SELECT pk FROM t")
      }
      assert(e2.getMessage.contains("keyspace.table"), e2.getMessage)
      // USE of a missing keyspace fails AT the USE
      val e3 = intercept[IllegalArgumentException] {
        cqs("USE nope; SELECT pk FROM t")
      }
      assert(e3.getMessage.contains("does not exist"), e3.getMessage)
      // a lone USE outside a script has no session to mutate
      val e4 = intercept[IllegalArgumentException] { cq("USE ks1") }
      assert(e4.getMessage.contains("catalogScript"), e4.getMessage)
      // the per-script allocator spans USE boundaries (one counter
      // per TABLE, sequential writetimes within the script)
      cqs("""USE ks1;
             INSERT INTO t (pk, ck, qty) VALUES (3, 1, 30);
             INSERT INTO ks1.t (pk, ck, qty) VALUES (3, 2, 31)""")
      val wts = cq("SELECT pk, ck, wt FROM ks1.t WHERE pk = 3")
        .as[(Long, Int, Long)].collect()
        .map { case (p, c, w) => (p, c) -> w }.toMap
      assert(wts((3L, 1)) + 1 === wts((3L, 2)))
    } finally {
      spark.conf.unset("spark.sql.catalog.usecat")
      spark.conf.unset("spark.sql.catalog.usecat.root")
    }
  }

  test("property: BUFFERED script programs match the sequential model (r12)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    // The per-script buffer must be INVISIBLE semantically: a random
    // program run as ONE script (writes buffered, one flush) must
    // equal the same statements applied to a mutable map — with
    // interleaved SELECTs forcing mid-script read-your-writes
    // flushes, explicit USING TIMESTAMP exercising the forget+reseed
    // path (a reseed must never re-issue a buffered writetime), and
    // tombstones shadowing buffered cells within one flush file.
    sealed trait Op
    case class Ins(pk: Long, ck: Int, c: String, v: Long) extends Op
    case class InsTs(pk: Long, ck: Int, c: String, v: Long, ts: Long)
      extends Op
    case class DelRow(pk: Long, ck: Int) extends Op
    case class DelPart(pk: Long) extends Op
    case object Peek extends Op // interleaved SELECT: flushes

    val genOp: Gen[Op] = Gen.frequency(
      6 -> (for {
        pk <- Gen.chooseNum(0L, 3L); ck <- Gen.chooseNum(0, 2)
        c <- Gen.oneOf("qty", "price"); v <- Gen.chooseNum(0L, 100L)
      } yield Ins(pk, ck, c, v)),
      1 -> (for {
        pk <- Gen.chooseNum(0L, 3L); ck <- Gen.chooseNum(0, 2)
        c <- Gen.oneOf("qty", "price"); v <- Gen.chooseNum(0L, 100L)
        ts <- Gen.chooseNum(200L, 300L)
      } yield InsTs(pk, ck, c, v, ts)),
      2 -> (for {
        pk <- Gen.chooseNum(0L, 3L); ck <- Gen.chooseNum(0, 2)
      } yield DelRow(pk, ck)),
      1 -> Gen.chooseNum(0L, 3L).map(DelPart.apply),
      2 -> Gen.const(Peek))

    val prop = Prop.forAll(Gen.listOfN(14, genOp)) { ops =>
      val d = Files.createTempDirectory("cql-bufprop").toString
      Cql.execute(spark, s"INSERT INTO $d (pk, ck, qty) VALUES (0, 0, 1)")
      val model = scala.collection.mutable
        .Map[(Long, Int, String), (Long, Long)]((0L, 0, "qty") -> (1L, 100L))
      var wt = 100L // table max after the seed write
      // STANDING tombstones: an explicit-timestamp insert arriving
      // AFTER a delete is still shadowed when its ts <= the deletion
      // ts (Cassandra's rule — and the engine's, as this property
      // itself proved when a naive model omitted it)
      val partDel = scala.collection.mutable.Map.empty[Long, Long]
      val rowDel = scala.collection.mutable.Map.empty[(Long, Int), Long]
      def covered(pk: Long, ck: Int, ts: Long): Boolean =
        partDel.get(pk).exists(ts <= _) ||
          rowDel.get((pk, ck)).exists(ts <= _)
      def ins(pk: Long, ck: Int, c: String, v: Long, ts: Long): Unit =
        if (!covered(pk, ck, ts) &&
            !model.get((pk, ck, c)).exists(_._2 > ts))
          model((pk, ck, c)) = (v, ts)
      val stmts = scala.collection.mutable.ArrayBuffer.empty[String]
      ops.foreach {
        case Ins(pk, ck, c, v) =>
          wt += 1
          stmts += s"INSERT INTO $d (pk, ck, $c) VALUES ($pk, $ck, $v)"
          ins(pk, ck, c, v, wt)
        case InsTs(pk, ck, c, v, ts) =>
          stmts += s"INSERT INTO $d (pk, ck, $c) VALUES ($pk, $ck, $v)" +
            s" USING TIMESTAMP $ts"
          ins(pk, ck, c, v, ts)
          wt = math.max(wt, ts) // allocator reseeds from max
        case DelRow(pk, ck) =>
          wt += 1
          stmts += s"DELETE FROM $d WHERE pk = $pk AND ck = $ck"
          val dts = wt
          rowDel((pk, ck)) =
            math.max(dts, rowDel.getOrElse((pk, ck), Long.MinValue))
          model.filterInPlace { case ((p, k, _), (_, w)) =>
            p != pk || k != ck || w > dts }
        case DelPart(pk) =>
          wt += 1
          stmts += s"DELETE FROM $d WHERE pk = $pk"
          val dts = wt
          partDel(pk) =
            math.max(dts, partDel.getOrElse(pk, Long.MinValue))
          model.filterInPlace { case ((p, _, _), (_, w)) =>
            p != pk || w > dts }
        case Peek =>
          stmts += s"SELECT pk, ck, col, value FROM $d"
      }
      stmts += s"SELECT pk, ck, col, value FROM $d"
      val got = Cql.executeScript(spark, stmts.mkString(";\n"))
        .as[(Long, Int, String, Long)].collect()
        .map { case (p, k, c, v) => (p, k, c) -> v }.toMap
      val want = model.toMap.map { case (k, (v, _)) => k -> v }
      if (got != want)
        println(s"ops=$ops\ngot=$got\nwant=$want")
      got == want
    }
    val res = check(Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("buffered typed script: prefix/row markers and data in ONE flush file (r12)") {
    // a buffered script puts typed tombstone markers and the data
    // rows they shadow (or must NOT shadow) into one flush file —
    // the prefixDel state must COPY the marker's bound prefix out of
    // the cursor's reused row buffer, or every same-file row at
    // wt <= ts compares equal to "its own" prefix and vanishes
    val d = Files.createTempDirectory("cql-bufpfx").toString
    Seq(("t0", 0L, 0, "qty", 1L, 100L))
      .toDF("tenant", "day", "seq", "col", "value", "wt")
      .coalesce(1).write.format("graft.sources.CellSource")
      .option("primaryKey", "((tenant),day,seq)")
      .option("keyType.tenant", "string")
      .option("keyType.day", "bigint").option("keyType.seq", "int")
      .mode("append").save(d)
    Cql.executeScript(spark,
      s"""INSERT INTO $d (tenant, day, seq, qty) VALUES ('a', 1, 1, 10);
         |INSERT INTO $d (tenant, day, seq, qty) VALUES ('a', 1, 2, 11);
         |INSERT INTO $d (tenant, day, seq, qty) VALUES ('a', 2, 1, 20);
         |INSERT INTO $d (tenant, day, seq, qty) VALUES ('a', 3, 1, 30);
         |DELETE FROM $d WHERE tenant = 'a' AND day = 1;
         |INSERT INTO $d (tenant, day, seq, qty) VALUES ('a', 1, 3, 99);
         |DELETE FROM $d WHERE tenant = 'a' AND day = 2 AND seq = 1""".stripMargin)
    // ONE flush file beyond the seed: markers + data cohabit
    val files = new java.io.File(d).list().filter(_.endsWith(".cells"))
    assert(files.length === 2, files.toSeq)
    val got = spark.read.format("graft.sources.CellSource")
      .option("reconcile", "true").load(d)
      .select("tenant", "day", "seq", "value")
      .as[(String, Long, Int, Long)].collect().toSet
    // day=1 rows at wt <= prefix ts vanish; the later 99 survives;
    // (a,2,1) row-tombstoned; (a,3,1) pre-delete but OUTSIDE the
    // prefix — the row a stale stored-by-reference prefix would have
    // swallowed; the seed partition untouched
    assert(got === Set(("t0", 0L, 0, 1L), ("a", 1L, 3, 99L),
      ("a", 3L, 1, 30L)))
  }

  test("UDT metadata: system_schema.types + DESCRIBE TYPE (C67d)") {
    val root = Files.createTempDirectory("cql-udtm").toString
    spark.conf.set("spark.sql.catalog.udtm", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.udtm.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "udtm")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TYPE ks.item (q bigint, t text)")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value frozen<item>, wt bigint)")
      // the driver's decode round: field names/types in declared order
      val row = cq("SELECT keyspace_name, type_name, field_names, " +
        "field_types FROM system_schema.types")
        .as[(String, String, Seq[String], Seq[String])].collect().toSeq
      assert(row === Seq(("ks", "item", Seq("q", "t"),
        Seq("bigint", "text"))))
      // DESCRIBE TYPE reconstructs executable DDL — prove it by
      // dropping the table+type and replaying the statement
      val ddl = cq("DESCRIBE TYPE ks.item").as[String].collect().head
      assert(ddl === "CREATE TYPE ks.item (q bigint, t text)")
      cq("DROP TABLE ks.t")
      cq("DROP TYPE ks.item")
      cq(ddl) // round-trips
      assert(cq("SELECT type_name FROM system_schema.types")
        .as[String].collect().toSeq === Seq("item"))
      // DESC TABLE and system_schema.columns render the frozen value
      cq("CREATE TABLE ks.t2 (pk bigint, ck int, col text, " +
        "value frozen<item>, wt bigint)")
      assert(cq("DESCRIBE TABLE ks.t2").as[String].collect().head
        .contains("value frozen<item>"))
      assert(cq("SELECT type FROM system_schema.columns WHERE " +
        "table_name = 't2' AND column_name = 'value'")
        .as[String].collect().toSeq === Seq("frozen<item>"))
      val e = intercept[IllegalArgumentException] {
        cq("DESCRIBE TYPE ks.nope")
      }
      assert(e.getMessage.contains("does not exist"), e.getMessage)
    } finally spark.conf.unset("spark.sql.catalog.udtm")
  }

  test("ALTER TYPE ADD/RENAME FIELD: layout evolution front door (C67e)") {
    val root = Files.createTempDirectory("cql-udtev").toString
    spark.conf.set("spark.sql.catalog.udtev", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.udtev.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "udtev")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TYPE ks.item (q bigint)")
      cq("CREATE TABLE ks.fz (pk bigint, ck int, col text, " +
        "value frozen<item>, wt bigint)")
      cq("CREATE TABLE ks.nf (pk bigint, ck int, col text, " +
        "value item, wt bigint)")
      // write-old: rows packed under the one-field layout
      cq("INSERT INTO ks.fz (pk, ck, v) VALUES (1, 1, {q: 5})")
      cq("INSERT INTO ks.nf (pk, ck, v) VALUES (1, 1, {q: 7})")
      cq("ALTER TYPE ks.item ADD t text")
      // read-both: pre-evolution data unpacks the new field as null
      // — frozen whole-value blobs AND unfrozen single-field cells
      def qt(table: String): Seq[(Option[Long], Option[String])] =
        cq(s"SELECT v.q AS q, v.t AS t FROM ks.$table").collect()
          .toSeq.map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
            Option(r.get(1)).map(_.toString)))
      assert(qt("fz") === Seq((Some(5L), None)))
      assert(qt("nf") === Seq((Some(7L), None)))
      // write-new: the evolved layout serves new whole values and
      // per-field patches of the ADDED field on pre-evolution rows
      cq("INSERT INTO ks.fz (pk, ck, v) VALUES (2, 1, {q: 6, t: 'x'})")
      cq("UPDATE ks.nf SET v.t = 'y' WHERE pk = 1 AND ck = 1")
      assert(qt("fz").toSet === Set((Some(5L), None),
        (Some(6L), Some("x"))))
      assert(qt("nf") === Seq((Some(7L), Some("y"))))
      // the registry surfaces the evolution (C67d reads it)
      assert(cq("DESCRIBE TYPE ks.item").as[String].collect().head ===
        "CREATE TYPE ks.item (q bigint, t text)")
      // RENAME with a NON-frozen reference (r15): the stored field
      // cells KEEP their original name; the new declared name serves
      // them through the per-table alias, and new writes LWW-fold
      // with the old cells because both address the same cell name
      cq("ALTER TYPE ks.item RENAME q TO amount")
      assert(cq("DESCRIBE TYPE ks.item").as[String].collect().head ===
        "CREATE TYPE ks.item (amount bigint, t text)")
      def qa(table: String): Seq[(Option[Long], Option[String])] =
        cq(s"SELECT v.amount AS a, v.t AS t FROM ks.$table").collect()
          .toSeq.map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
            Option(r.get(1)).map(_.toString)))
      // old cells read under the NEW name
      assert(qa("nf") === Seq((Some(7L), Some("y"))))
      // a new per-field write under the new name SHADOWS the old cell
      cq("UPDATE ks.nf SET v.amount = 8 WHERE pk = 1 AND ck = 1")
      assert(qa("nf") === Seq((Some(8L), Some("y"))))
      // raw-cell pin: the STORAGE cell name stays v.q (the alias is a
      // facade; SELECT * style cell listings surface storage names)
      val rawCols = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").load(s"$root/ks/nf")
        .filter(col("pk") === 1).select("col").collect()
        .map(_.getString(0)).toSet
      assert(rawCols.contains("v.q") && !rawCols.contains("v.amount"),
        rawCols.toString)
      // whole-value writes, per-field WRITETIME, and field deletes
      // all address the new name
      cq("INSERT INTO ks.nf (pk, ck, v) VALUES (2, 1, " +
        "{amount: 9, t: 'z'})")
      assert(qa("nf").toSet === Set((Some(8L), Some("y")),
        (Some(9L), Some("z"))))
      assert(cq("SELECT WRITETIME(v.amount) AS w FROM ks.nf " +
        "WHERE pk = 2 AND ck = 1").collect().head.get(0) != null)
      cq("DELETE v.amount FROM ks.nf WHERE pk = 2 AND ck = 1")
      assert(qa("nf").toSet === Set((Some(8L), Some("y")),
        (None, Some("z"))))
      // a CHAINED rename resolves to the ORIGINAL storage name
      cq("ALTER TYPE ks.item RENAME amount TO qty")
      assert(cq("SELECT v.qty AS a FROM ks.nf WHERE pk = 1")
        .as[Long].collect().toSeq === Seq(8L))
      cq("DROP TABLE ks.nf")
      // frozen blobs are positional: old data serves under the new
      // field name with no rewrite
      assert(cq("SELECT v.qty AS a FROM ks.fz WHERE pk = 1")
        .as[Long].collect().toSeq === Seq(5L))
      // refusal arms
      refuse("ALTER TYPE ks.nope ADD x int", "does not exist")
      refuse("ALTER TYPE ks.item ADD qty int", "already exists")
      refuse("ALTER TYPE ks.item ADD b blob", "unsupported UDT field")
      refuse("ALTER TYPE ks.item RENAME zz TO aa", "unknown UDT field")
      refuse("ALTER TYPE ks.item RENAME t TO qty", "already exists")
    } finally spark.conf.unset("spark.sql.catalog.udtev")
  }

  test("typed-layout frozen<udt>: lifecycle over named key parts (C59c)") {
    val root = Files.createTempDirectory("cql-udt-typed").toString
    spark.conf.set("spark.sql.catalog.udtt", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.udtt.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "udtt")
      def cqs(script: String) = Cql.catalogScript(spark, script, "udtt")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TYPE ks.item (q bigint, t text)")
      cq("CREATE TABLE ks.ev (tenant text, seq int, col text, " +
        "value frozen<item>, wt bigint, PRIMARY KEY ((tenant), seq))")
      // buffered script: typed binary rows + markers flush together
      val got = cqs(
        """INSERT INTO ks.ev (tenant, seq, v) VALUES ('a', 1, {q: 10, t: 'x'});
          |INSERT INTO ks.ev (tenant, seq, v) VALUES ('a', 1, {q: 11, t: 'y'});
          |INSERT INTO ks.ev (tenant, seq, v) VALUES ('a', 2, {q: 20});
          |UPDATE ks.ev SET v = {q: 30, t: 'z'} WHERE tenant = 'b' AND seq = 1;
          |INSERT INTO ks.ev (tenant, seq, v) VALUES ('c', 1, {q: 40, t: 'w'});
          |DELETE FROM ks.ev WHERE tenant = 'c' AND seq = 1;
          |SELECT tenant, seq, v.q AS q, v.t AS tag FROM ks.ev
          |  ORDER BY tenant, seq""".stripMargin)
        .as[(String, Int, Option[Long], Option[String])]
        .collect().toSeq
      assert(got === Seq(("a", 1, Some(11L), Some("y")),
        ("a", 2, Some(20L), None),
        ("b", 1, Some(30L), Some("z"))))
      // prefix delete (typed marker, empty blob) composes too
      cq("DELETE FROM ks.ev WHERE tenant = 'a'")
      assert(cq("SELECT tenant, v.q AS q FROM ks.ev")
        .as[(String, Long)].collect().toSeq === Seq(("b", 30L)))
      // key parts cannot be SET; LWT still refuses
      val e1 = intercept[IllegalArgumentException] {
        cq("UPDATE ks.ev SET seq = 2 WHERE tenant = 'b' AND seq = 1")
      }
      assert(e1.getMessage.contains("key part"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        cq("INSERT INTO ks.ev (tenant, seq, v) VALUES ('d', 1, " +
          "{q: 5}) IF NOT EXISTS")
      }
      assert(e2.getMessage.contains("frozen<udt>"), e2.getMessage)
    } finally spark.conf.unset("spark.sql.catalog.udtt")
  }

  test("frozen-UDT whole-value equality: ALLOW FILTERING and the value index (C59b)") {
    val root = Files.createTempDirectory("cql-udt-eq").toString
    spark.conf.set("spark.sql.catalog.udteq", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.udteq.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "udteq")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TYPE ks.item (q bigint, t text)")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value frozen<item>, wt bigint)")
      cq("INSERT INTO ks.t (pk, ck, v) VALUES (1, 1, {q: 5, t: 'x'})")
      cq("INSERT INTO ks.t (pk, ck, v) VALUES (2, 1, {q: 5, t: 'x'})")
      cq("INSERT INTO ks.t (pk, ck, v) VALUES (3, 1, {q: 9, t: 'x'})")
      // frozen values compare as blobs: field-order-normalized pack
      assert(cq("SELECT pk FROM ks.t WHERE v = {t: 'x', q: 5} " +
        "ALLOW FILTERING").as[Long].collect().toSet === Set(1L, 2L))
      // unindexed without ALLOW FILTERING refuses
      val e = intercept[IllegalArgumentException] {
        cq("SELECT pk FROM ks.t WHERE v = {q: 5, t: 'x'}")
      }
      assert(e.getMessage.contains("ALLOW FILTERING"), e.getMessage)
      // a value index serves the probe key-routed
      cq("CREATE INDEX ON ks.t (v)")
      assert(cq("SELECT pk FROM ks.t WHERE v = {q: 5, t: 'x'}")
        .as[Long].collect().toSet === Set(1L, 2L))
      // unset fields pack as null and distinguish
      cq("INSERT INTO ks.t (pk, ck, v) VALUES (4, 1, {q: 5})")
      assert(cq("SELECT pk FROM ks.t WHERE v = {q: 5}")
        .as[Long].collect().toSet === Set(4L))
    } finally spark.conf.unset("spark.sql.catalog.udteq")
  }

  test("UNLOGGED BATCH groups its writes into one flush per table (r12)") {
    // Cassandra's grouping-only form exists FOR the I/O grouping:
    // the body runs under its own write buffer, so N inserts land as
    // one flush file (per-statement writetimes preserved)
    val d = freshTable()
    val before = new java.io.File(d).list()
      .count(_.endsWith(".cells"))
    Cql.execute(spark,
      s"""BEGIN UNLOGGED BATCH
         |INSERT INTO $d (pk, ck, qty) VALUES (50, 1, 1);
         |INSERT INTO $d (pk, ck, qty) VALUES (50, 2, 2);
         |INSERT INTO $d (pk, ck, qty) VALUES (50, 3, 3);
         |APPLY BATCH""".stripMargin)
    val after = new java.io.File(d).list()
      .count(_.endsWith(".cells"))
    assert(after === before + 1, s"before=$before after=$after")
    // per-statement writetimes, not a shared one (the unlogged form)
    assert(wtsOf(d, 50L) ===
      Map((1, "qty") -> 101L, (2, "qty") -> 102L, (3, "qty") -> 103L))
  }

  test("static LWT writes take TTL (C55f + C55g): static cells are " +
    "data, not markers — expiry lands and drives death") {
    val root = Files.createTempDirectory("cql-sttl").toString
    spark.conf.set("spark.sql.catalog.stcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.stcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "stcat")
      def applied(stmt: String): Boolean =
        cq(stmt).collect().head.getBoolean(0)
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint, flag bigint STATIC)")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 10)")
      // regular condition gates a STATIC write under TTL — the exact
      // shape that used to crash the casBatch marker require
      assert(applied("UPDATE ks.t USING TTL 10 SET flag = 5 " +
        "WHERE pk = 1 AND ck = 1 IF qty = 10"))
      val t1 = cq("SELECT pk, TTL(flag) AS t FROM ks.t WHERE pk = 1")
        .collect().head.getLong(1)
      assert(t1 === 10L)
      // static-only IF + static SET + TTL (partition-alone binding)
      assert(applied("UPDATE ks.t USING TTL 20 SET flag = 6 " +
        "WHERE pk = 1 IF flag = 5"))
      assert(cq("SELECT pk, TTL(flag) AS t FROM ks.t WHERE pk = 1")
        .collect().head.getLong(1) === 20L)
      // the expiring STATIC cell dies at wt + ttl; the regular cell
      // (written without TTL) survives
      val dir = s"$root/ks/t"
      val late = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true")
        .option("queryTime", "1000000").load(dir)
        .filter(col("pk") === 1)
        .select("col").as[String].collect().toSet
      assert(late === Set("qty"), late.toString)
    } finally spark.conf.unset("spark.sql.catalog.stcat")
  }

  test("static conditions inside conditional BATCH (C55f advice " +
    "fix): resolve to the partition-front cell, matching the front " +
    "door") {
    val root = Files.createTempDirectory("cql-sbatch").toString
    spark.conf.set("spark.sql.catalog.sbcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.sbcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "sbcat")
      def applied(stmt: String): Boolean =
        cq(stmt).collect().head.getBoolean(0)
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.t (pk bigint, ck int, col text, " +
        "value bigint, wt bigint, flag bigint STATIC)")
      cq("UPDATE ks.t SET flag = 1 WHERE pk = 1")
      cq("INSERT INTO ks.t (pk, ck, qty) VALUES (1, 1, 10)")
      // operator form: IF <static> = v inside BEGIN BATCH used to
      // read a nonexistent regular cell and silently not apply
      assert(applied(
        """BEGIN BATCH
          |UPDATE ks.t SET qty = 20 WHERE pk = 1 AND ck = 1 IF flag = 1;
          |APPLY BATCH""".stripMargin))
      assert(cq("SELECT value FROM ks.t WHERE pk = 1 AND ck = 1")
        .collect().head.getLong(0) === 20L)
      // a missing static condition reports not-applied (not a crash)
      assert(!applied(
        """BEGIN BATCH
          |UPDATE ks.t SET qty = 99 WHERE pk = 1 AND ck = 1 IF flag = 2;
          |APPLY BATCH""".stripMargin))
      // IN form and the multi-condition form resolve statics too
      assert(applied(
        """BEGIN BATCH
          |UPDATE ks.t SET qty = 21 WHERE pk = 1 AND ck = 1
          |  IF flag IN (1, 2);
          |APPLY BATCH""".stripMargin))
      assert(applied(
        """BEGIN BATCH
          |UPDATE ks.t SET qty = 22 WHERE pk = 1 AND ck = 1
          |  IF flag = 1 AND qty = 21;
          |APPLY BATCH""".stripMargin))
      assert(!applied(
        """BEGIN BATCH
          |UPDATE ks.t SET qty = 98 WHERE pk = 1 AND ck = 1
          |  IF flag = 1 AND qty = 7;
          |APPLY BATCH""".stripMargin))
      assert(cq("SELECT value FROM ks.t WHERE pk = 1 AND ck = 1")
        .collect().head.getLong(0) === 22L)
      // conditional DELETE on a static condition
      assert(applied(
        """BEGIN BATCH
          |DELETE qty FROM ks.t WHERE pk = 1 AND ck = 1 IF flag = 1;
          |APPLY BATCH""".stripMargin))
      assert(cq("SELECT value FROM ks.t WHERE pk = 1 AND ck = 1")
        .collect().isEmpty)
    } finally spark.conf.unset("spark.sql.catalog.sbcat")
  }

  test("reassembled map SELECT excludes static cells (C11g advice " +
    "fix): no phantom partition-front row") {
    val root = Files.createTempDirectory("cql-mstat").toString
    spark.conf.set("spark.sql.catalog.mscat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.mscat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "mscat")
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.m (pk bigint, ck int, col text, " +
        "value map<text, bigint>, wt bigint, tag bigint STATIC)")
      cq("UPDATE ks.m SET tag = 7 WHERE pk = 1")
      cq("UPDATE ks.m SET m['a'] = 1 WHERE pk = 1 AND ck = 1")
      val got = cq("SELECT pk, ck, m FROM ks.m")
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getMap[String, Long](2).toString)).toSeq
      // exactly the real map row — no (1, Int.MinValue) phantom
      // carrying a '!s:tag' key
      assert(got === Seq((1L, 1, Map("a" -> 1L).toString)), got)
      // the static still reads through its own select path
      assert(cq("SELECT pk, tag FROM ks.m WHERE pk = 1")
        .collect().head.getLong(1) === 7L)
    } finally spark.conf.unset("spark.sql.catalog.mscat")
  }

  test("whole-map replace/clear/delete (C11h): declared map tables " +
    "compute the clear set; undeclared tables keep the refusal") {
    val root = Files.createTempDirectory("cql-mrep").toString
    spark.conf.set("spark.sql.catalog.mrcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.mrcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "mrcat")
      def mapOf(pk: Long, ck: Int): Map[String, Long] = {
        val r = cq(s"SELECT pk, ck, m FROM ks.m WHERE pk = $pk " +
          s"AND ck = $ck").collect()
        if (r.isEmpty) Map.empty
        else r.head.getMap[String, Long](2).toMap
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.m (pk bigint, ck int, col text, " +
        "value map<text, bigint>, wt bigint, tag bigint STATIC)")
      cq("UPDATE ks.m SET tag = 9 WHERE pk = 1")
      cq("UPDATE ks.m SET m['a'] = 1, m['b'] = 2 " +
        "WHERE pk = 1 AND ck = 1")
      // replace: drops 'a', RE-PUTS 'b' (no same-wt self-shadow),
      // adds 'c'
      cq("UPDATE ks.m SET m = {'b': 20, 'c': 30} " +
        "WHERE pk = 1 AND ck = 1")
      assert(mapOf(1, 1) === Map("b" -> 20L, "c" -> 30L))
      // replace of a replace
      cq("UPDATE ks.m SET m = {'z': 9} WHERE pk = 1 AND ck = 1")
      assert(mapOf(1, 1) === Map("z" -> 9L))
      // duplicate keys in one literal: last occurrence wins
      cq("UPDATE ks.m SET m = {'d': 1, 'd': 2} WHERE pk = 1 AND ck = 1")
      assert(mapOf(1, 1) === Map("d" -> 2L))
      // the empty literal is the CQL map CLEAR; the static survives
      cq("UPDATE ks.m SET m = {} WHERE pk = 1 AND ck = 1")
      assert(mapOf(1, 1) === Map.empty)
      assert(cq("SELECT pk, tag FROM ks.m WHERE pk = 1")
        .collect().head.getLong(1) === 9L)
      // INSERT with a map literal desugars to the replace
      cq("UPDATE ks.m SET m['q'] = 5 WHERE pk = 2 AND ck = 1")
      cq("INSERT INTO ks.m (pk, ck, m) VALUES (2, 1, {'r': 6})")
      assert(mapOf(2, 1) === Map("r" -> 6L))
      // the ck-BOUND bare-name DELETE stays the ENTRY delete
      // (C65z's contract); the row-scoped clear is SET m = {}
      cq("UPDATE ks.m SET m['k1'] = 4 WHERE pk = 4 AND ck = 1")
      cq("UPDATE ks.m SET m['k2'] = 5 WHERE pk = 4 AND ck = 2")
      cq("DELETE k1 FROM ks.m WHERE pk = 4 AND ck = 1")
      assert(mapOf(4, 1) === Map.empty)
      assert(mapOf(4, 2) === Map("k2" -> 5L))
      // ck-less DELETE m clears every row's map of the partition
      cq("UPDATE ks.m SET m['z1'] = 1 WHERE pk = 3 AND ck = 1")
      cq("UPDATE ks.m SET m['z2'] = 2 WHERE pk = 3 AND ck = 2")
      cq("DELETE m FROM ks.m WHERE pk = 3")
      assert(mapOf(3, 1) === Map.empty && mapOf(3, 2) === Map.empty)
      // tombstones never take the statement's TTL: a TTL'd replace
      // expires the fresh entries, but the cleared old entries stay
      // dead after the expiry window
      cq("UPDATE ks.m SET m['old'] = 1 WHERE pk = 5 AND ck = 1")
      cq("UPDATE ks.m USING TTL 10 SET m = {'new': 2} " +
        "WHERE pk = 5 AND ck = 1")
      val dir = s"$root/ks/m"
      val late = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true")
        .option("queryTime", "100000000").load(dir)
        .filter(col("pk") === 5).count()
      assert(late === 0L)
      // undeclared tables keep the refusal (entry cells are
      // indistinguishable from scalar columns there)
      val d = freshTable()
      val e = intercept[IllegalArgumentException] {
        Cql.execute(spark,
          s"UPDATE $d SET m = {'k': 1} WHERE pk = 3 AND ck = 1") }
      assert(e.getMessage.contains("DECLARED"), e.getMessage)
      // a map replace without the ck bound refuses (the row IS the
      // map)
      val e2 = intercept[IllegalArgumentException] {
        cq("UPDATE ks.m SET m = {'k': 1} WHERE pk = 1") }
      assert(e2.getMessage.contains("needs WHERE"), e2.getMessage)
      // map replace on a declared SET column refuses by kind
      cq("CREATE TABLE ks.s (pk bigint, ck int, col text, " +
        "value set<bigint>, wt bigint)")
      val e3 = intercept[IllegalArgumentException] {
        cq("UPDATE ks.s SET st = {'k': 1} WHERE pk = 1 AND ck = 1") }
      assert(e3.getMessage.contains("does not apply"), e3.getMessage)
    } finally spark.conf.unset("spark.sql.catalog.mrcat")
  }

  test("similarity functions in the select list (C70e): ANN score " +
    "parity, bare key-restricted form, refusals") {
    val root = Files.createTempDirectory("cql-simsel").toString
    spark.conf.set("spark.sql.catalog.sscat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.sscat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "sscat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.emb (pk bigint, ck int, col text, " +
        "value vector<float, 2>, wt bigint)")
      // full-coverage probe geometry: recall 1 keeps the rank
      // assertions exact
      cq("CREATE INDEX ON ks.emb (ann(v)) " +
        "WITH OPTIONS = {'planes': '2', 'probes': '4'}")
      // distinct cosines against q = [1, 0]: pk 1 parallel (cos 1),
      // pk 2 diagonal (cos ~0.7071), pk 3 orthogonal-ish via bucket
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (1, 1, [2.0, 0.0])")
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (2, 1, [1.0, 1.0])")
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (3, 1, [4.0, 0.0])")
      // score column parity with the rerank order: scores descend
      // exactly as the hits rank, and the value matches (1+cos)/2
      val hits = cq("SELECT pk, similarity_cosine(v, [1.0, 0.0]) " +
        "AS s FROM ks.emb ORDER BY v ANN OF [1.0, 0.0] LIMIT 3")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(hits.map(_._2) === hits.map(_._2).sorted.reverse, hits)
      assert(hits.take(2).map(_._1).toSet === Set(1L, 3L), hits)
      assert(hits.take(2).forall(_._2 === 1.0), hits)
      assert(hits.find(_._1 == 2L).map(_._2)
        .contains(0.853553), hits) // (1 + 0.70710678) / 2 @ 6dp
      // the bare key-restricted form: all three functions, aliased,
      // with the pushed point read
      val bare = cq("SELECT pk, " +
        "similarity_cosine(v, [1.0, 0.0]) AS c, " +
        "similarity_dot_product(v, [1.0, 0.0]) AS d, " +
        "similarity_euclidean(v, [1.0, 0.0]) AS e " +
        "FROM ks.emb WHERE pk = 1 AND ck = 1")
      assert(bare.queryExecution.executedPlan.toString
        .contains("pkRange=[1,1]"))
      val r = bare.collect().head
      assert(r.getDouble(1) === 1.0) // cos([2,0],[1,0]) = 1
      assert(r.getDouble(2) === 1.5) // (1 + 2·1)/2
      assert(r.getDouble(3) === 0.5) // 1/(1 + (2−1)²)
      // a non-vector table refuses by name
      cq("CREATE TABLE ks.plain (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      refuse("SELECT pk, similarity_cosine(v, [1.0, 0.0]) " +
        "FROM ks.plain WHERE pk = 1",
        "vector<float, n>-valued tables")
      // scoring a column other than the ANN column refuses
      refuse("SELECT pk, similarity_cosine(other, [1.0, 0.0]) " +
        "FROM ks.emb ORDER BY v ANN OF [1.0, 0.0] LIMIT 2",
        "score the ANN column")
      // the bare form demands a key restriction (no scan scoring)
      refuse("SELECT pk, similarity_cosine(v, [1.0, 0.0]) " +
        "FROM ks.emb", "binds its rows")
      // the literal dim-checks through the declared grammar
      refuse("SELECT pk, similarity_cosine(v, [1.0]) " +
        "FROM ks.emb WHERE pk = 1", "components")
    } finally spark.conf.unset("spark.sql.catalog.sscat")
  }

  test("fcall family (C72b): toTimestamp/toDate/toUnixTimestamp " +
    "mint from the statement clock; min/maxTimeuuid range probes") {
    val root = Files.createTempDirectory("cql-fcfam").toString
    spark.conf.set("spark.sql.catalog.fc72cat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.fc72cat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "fc72cat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.ts (pk bigint, ck int, col text, " +
        "value timestamp, wt bigint)")
      // same-statement call identity: both cells carry ONE instant
      cq("INSERT INTO ks.ts (pk, ck, a, b) VALUES (1, 1, " +
        "toTimestamp(now()), toTimestamp(now()))")
      val ab = cq("SELECT value FROM ks.ts WHERE pk = 1 AND ck = 1")
        .collect().map(_.getTimestamp(0).getTime).toSeq
      assert(ab.length === 2 && ab.distinct.length === 1, ab)
      // the minted instant IS the writetime coordinate read as
      // epoch millis
      val wt1 = cq("SELECT WRITETIME(a) AS w FROM ks.ts " +
        "WHERE pk = 1 AND ck = 1").collect().head.getLong(0)
      assert(ab.head === wt1)
      // toUnixTimestamp(now()) on a bigint column = the coordinate
      cq("CREATE TABLE ks.ux (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("INSERT INTO ks.ux (pk, ck, at) VALUES (1, 1, " +
        "toUnixTimestamp(now()))")
      val ux = cq("SELECT value FROM ks.ux WHERE pk = 1 AND ck = 1")
        .collect().head.getLong(0)
      val uxWt = cq("SELECT WRITETIME(at) AS w FROM ks.ux " +
        "WHERE pk = 1 AND ck = 1").collect().head.getLong(0)
      assert(ux === uxWt)
      // toDate(now()) on a date column = the clock's UTC day
      cq("CREATE TABLE ks.dt (pk bigint, ck int, col text, " +
        "value date, wt bigint)")
      cq("INSERT INTO ks.dt (pk, ck, day) VALUES (1, 1, " +
        "toDate(now()))")
      assert(cq("SELECT value FROM ks.dt WHERE pk = 1 AND ck = 1")
        .collect().head.getInt(0) === 0) // epoch day of a small wt
      // wrong-type fcalls refuse through the declared grammar
      refuse("INSERT INTO ks.ts (pk, ck, a) VALUES (9, 1, " +
        "toDate(now()))", "literal")
      refuse("INSERT INTO ks.dt (pk, ck, day) VALUES (9, 1, " +
        "toUnixTimestamp(now()))", "literal")
      // ---- min/maxTimeuuid range probes on a timeuuid clustering
      cq("CREATE TABLE ks.ev (sensor bigint, ev timeuuid, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((sensor), ev))")
      cq("INSERT INTO ks.ev (sensor, ev, reading) VALUES (1, " +
        "00000064-0000-1000-8000-000000000001, 10)") // t = 100 ms
      cq("INSERT INTO ks.ev (sensor, ev, reading) VALUES (1, " +
        "000000c8-0000-1000-8000-000000000001, 20)") // t = 200 ms
      cq("INSERT INTO ks.ev (sensor, ev, reading) VALUES (1, " +
        "0000012c-0000-1000-8000-000000000001, 30)") // t = 300 ms
      val mid = cq("SELECT value FROM ks.ev WHERE sensor = 1 " +
        "AND ev > minTimeuuid(150) AND ev < maxTimeuuid(250)")
      assert(mid.collect().map(_.getLong(0)).toSeq === Seq(20L))
      // the partition probe still pushes to the typed scan — a
      // POINT probe (equal token bounds), never a table scan
      val plan = mid.queryExecution.executedPlan.toString
      assert(plan.matches("(?s).*pkRange=\\[(-?\\d+),\\1\\].*"), plan)
      // inclusive semantics: > minTimeuuid(t) includes time == t
      // (real uuids outrank the minted minimum), < maxTimeuuid(t)
      // includes time == t
      val incl = cq("SELECT value FROM ks.ev WHERE sensor = 1 " +
        "AND ev >= minTimeuuid(100) AND ev <= " +
        "maxTimeuuid('1970-01-01T00:00:00.200Z')")
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(incl === Seq(10L, 20L))
      // an empty window selects nothing
      assert(cq("SELECT value FROM ks.ev WHERE sensor = 1 " +
        "AND ev > maxTimeuuid(300)").collect().isEmpty)
      // bounds on a non-timeuuid clustering refuse by name
      refuse("SELECT value FROM ks.ux WHERE pk = 1 " +
        "AND ck > minTimeuuid(100)", "timeuuid")
      // every pk part must bind
      refuse("SELECT value FROM ks.ev WHERE ev > minTimeuuid(100)",
        "partition-key part")
      // a QUOTED literal containing the token never hijacks the
      // route — detection matches parsed terms, not raw text
      cq("CREATE TABLE ks.txt (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      cq("INSERT INTO ks.txt (pk, ck, note) VALUES (1, 1, " +
        "'minTimeuuid(5)')")
      assert(cq("SELECT pk FROM ks.txt WHERE pk = 1 AND value = " +
        "'minTimeuuid(5)' ALLOW FILTERING")
        .collect().map(_.getLong(0)).toSeq === Seq(1L))
    } finally spark.conf.unset("spark.sql.catalog.fc72cat")
  }

  test("ALTER TABLE RENAME (C51e): primary-key column renames via " +
    "the storage-name alias — lifecycle, chained, refusals, DESCRIBE") {
    val root = Files.createTempDirectory("cql-rename").toString
    spark.conf.set("spark.sql.catalog.rncat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.rncat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "rncat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.ev (sensor bigint, seq int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((sensor), seq))")
      cq("INSERT INTO ks.ev (sensor, seq, reading) VALUES (1, 1, 10)")
      cq("INSERT INTO ks.ev (sensor, seq, reading) VALUES (1, 2, 20)")
      cq("ALTER TABLE ks.ev RENAME sensor TO device")
      // the renamed part serves every key-addressed path: pushed
      // point read, write binding, LWT, DESCRIBE
      val got = cq("SELECT device, seq, value FROM ks.ev " +
        "WHERE device = 1 ORDER BY seq")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      assert(got.toSeq === Seq((1L, 1, 10L), (1L, 2, 20L)))
      // writes bind the NEW name (the old one is no longer a key)
      cq("INSERT INTO ks.ev (device, seq, reading) VALUES (2, 1, 30)")
      assert(cq("SELECT value FROM ks.ev WHERE device = 2 AND seq = 1")
        .collect().head.getLong(0) === 30L)
      refuse("INSERT INTO ks.ev (sensor, seq, reading) VALUES " +
        "(3, 1, 9)", "must bind key part device")
      // the old name reads as an (unindexed) DATA column now — the
      // key route is gone
      refuse("SELECT value FROM ks.ev WHERE sensor = 1 AND seq = 1",
        "ALLOW FILTERING")
      // chained rename composes to ONE storage hop
      cq("ALTER TABLE ks.ev RENAME device TO node")
      assert(cq("SELECT value FROM ks.ev WHERE node = 2 AND seq = 1")
        .collect().head.getLong(0) === 30L)
      assert(graft.sources.CellSource.keyRenames(s"$root/ks/ev")
        === Map("sensor" -> "node"))
      // clustering part + multi-pair form in one statement
      cq("ALTER TABLE ks.ev RENAME node TO dev AND seq TO pos")
      assert(cq("SELECT value FROM ks.ev WHERE dev = 1 AND pos = 2")
        .collect().head.getLong(0) === 20L)
      // DESCRIBE renders the declared names only
      val desc = cq("DESCRIBE TABLE ks.ev").collect().head.getString(0)
      assert(desc.contains("dev") && desc.contains("pos"), desc)
      assert(!desc.contains("sensor") && !desc.contains("node"), desc)
      // system_schema.columns serves the renamed parts
      val sysCols = cq("SELECT column_name FROM " +
        "system_schema.columns WHERE keyspace_name = 'ks' AND " +
        "table_name = 'ev'")
        .collect().map(_.getString(0)).toSet
      assert(sysCols.contains("dev") && sysCols.contains("pos"),
        sysCols.toString)
      // LWT binds the renamed parts
      assert(cq("UPDATE ks.ev SET reading = 11 WHERE dev = 1 AND " +
        "pos = 1 IF EXISTS").collect().head.getBoolean(0))
      assert(cq("SELECT value FROM ks.ev WHERE dev = 1 AND pos = 1")
        .collect().head.getLong(0) === 11L)
      // a mapped key type rides the rename (cqlKeyType prop moves)
      cq("CREATE TABLE ks.tu (id uuid, ck int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((id), ck))")
      cq("ALTER TABLE ks.tu RENAME id TO ident")
      val descTu = cq("DESCRIBE TABLE ks.tu")
        .collect().head.getString(0)
      assert(descTu.contains("ident uuid"), descTu)
      // refusals: non-pk column, default layout, dependent index
      refuse("ALTER TABLE ks.ev RENAME reading TO r",
        "non PRIMARY KEY column")
      refuse("ALTER TABLE ks.ev RENAME dev TO pos",
        "already exists")
      cq("CREATE TABLE ks.d (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      refuse("ALTER TABLE ks.d RENAME pk TO id", "default")
      cq("CREATE TABLE ks.w (page text, ck int, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((page), ck))")
      cq("INSERT INTO ks.w (page, ck, hits) VALUES ('a', 1, 5)")
      cq("CREATE INDEX ON ks.w (hits)")
      refuse("ALTER TABLE ks.w RENAME page TO url",
        "indexes depend")
      // renaming onto ANOTHER part's recorded STORAGE name refuses
      // (file headers keep it forever — reuse would make the rename
      // map ambiguous and the writers' inverse would stamp duplicate
      // header names): 'seq' is pos's storage name, freed as a
      // DECLARED name but never as a header name
      refuse("ALTER TABLE ks.ev RENAME dev TO seq",
        "STORAGE name")
      // renaming a part back to its OWN storage name is the UNDO —
      // the recorded entries drop and the original name serves again
      cq("ALTER TABLE ks.ev RENAME dev TO sensor")
      assert(graft.sources.CellSource.keyRenames(s"$root/ks/ev")
        === Map("seq" -> "pos"))
      assert(cq("SELECT value FROM ks.ev WHERE sensor = 1 AND " +
        "pos = 1").collect().head.getLong(0) === 11L)
    } finally spark.conf.unset("spark.sql.catalog.rncat")
  }

  test("ANN auto-geometry (C70f): an index created without planes " +
    "derives them from the corpus; small corpora keep the floor") {
    val root = Files.createTempDirectory("cql-annauto").toString
    spark.conf.set("spark.sql.catalog.aacat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.aacat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "aacat")
      cq("CREATE KEYSPACE ks")
      // small corpus: the floor (4 planes) holds
      cq("CREATE TABLE ks.s (pk bigint, ck int, col text, " +
        "value vector<float, 2>, wt bigint)")
      cq("INSERT INTO ks.s (pk, ck, v) VALUES (1, 1, [1.0, 0.0])")
      cq("INSERT INTO ks.s (pk, ck, v) VALUES (2, 1, [2.0, 0.0])")
      cq("CREATE INDEX ON ks.s (ann(v))")
      val sOpts = graft.sources.CellIndex.optionsOf(
        s"$root/ks/s_v_ann_idx")
      assert(sOpts.get("planes").contains("4"), sOpts.toString)
      // DESCRIBE renders the derived geometry like an explicit one
      val desc = cq("DESCRIBE INDEX ks.s_v_ann_idx")
        .collect().head.getString(0)
      assert(desc.contains("'planes': '4'"), desc)
      // and the probe works against the auto-sized index
      val hits = cq("SELECT pk FROM ks.s ORDER BY v ANN OF " +
        "[1.0, 0.0] LIMIT 2").collect().map(_.getLong(0)).toSet
      assert(hits === Set(1L, 2L))
      // large corpus: planes = ceil(log2(rows / 1024)) — 40000 rows
      // -> 39 target buckets -> 6 planes (64 buckets)
      cq("CREATE TABLE ks.big (pk bigint, ck int, col text, " +
        "value vector<float, 2>, wt bigint)")
      val vec = Array.fill[Byte](8)(0x3f.toByte) // any 2-float wire
      val rows = (1L to 40000L).map(i => (i, 1, "v", vec, 100L))
      rows.toDF("pk", "ck", "col", "value", "wt")
        .coalesce(1).write.format("graft.sources.CellSource")
        .mode("append").save(s"$root/ks/big")
      cq("CREATE INDEX ON ks.big (ann(v))")
      val bOpts = graft.sources.CellIndex.optionsOf(
        s"$root/ks/big_v_ann_idx")
      assert(bOpts.get("planes").contains("6"), bOpts.toString)
      // an EXPLICIT plane count still wins over the auto-size
      cq("CREATE TABLE ks.e (pk bigint, ck int, col text, " +
        "value vector<float, 2>, wt bigint)")
      cq("INSERT INTO ks.e (pk, ck, v) VALUES (1, 1, [1.0, 0.0])")
      cq("CREATE INDEX ON ks.e (ann(v)) " +
        "WITH OPTIONS = {'planes': '9'}")
      assert(graft.sources.CellIndex.optionsOf(
        s"$root/ks/e_v_ann_idx").get("planes").contains("9"))
    } finally spark.conf.unset("spark.sql.catalog.aacat")
  }

  test("time-extraction functions (C72c): toTimestamp/toDate/" +
    "toUnixTimestamp over timeuuid keys and values; mint inversion") {
    val root = Files.createTempDirectory("cql-timefn").toString
    spark.conf.set("spark.sql.catalog.tfcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.tfcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "tfcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      // a DECLARED timeuuid KEY part — the expression reads the key
      cq("CREATE TABLE ks.ev (sensor bigint, ev timeuuid, col text, " +
        "value bigint, wt bigint, PRIMARY KEY ((sensor), ev))")
      cq("INSERT INTO ks.ev (sensor, ev, reading) VALUES (1, " +
        "00000064-0000-1000-8000-000000000001, 10)") // t = 100 ms
      cq("INSERT INTO ks.ev (sensor, ev, reading) VALUES (1, " +
        "000000c8-0000-1000-8000-000000000001, 20)") // t = 200 ms
      val k = cq("SELECT sensor, toUnixTimestamp(ev) AS u, " +
        "toTimestamp(ev) AS t, toDate(ev) AS d FROM ks.ev " +
        "WHERE sensor = 1")
        .collect().map(r => (r.getLong(1),
          r.getTimestamp(2).getTime, r.getDate(3).toString)).toSeq
      assert(k.sortBy(_._1) === Seq((100L, 100L, "1970-01-01"),
        (200L, 200L, "1970-01-01")), k)
      // the VALUE-column case + mint inversion: extraction of a
      // now()-minted timeuuid returns the statement's writetime
      // coordinate exactly (the C72 clock round-trips)
      cq("CREATE TABLE ks.tu (pk bigint, ck int, col text, " +
        "value timeuuid, wt bigint)")
      cq("INSERT INTO ks.tu (pk, ck, at) VALUES (1, 1, now())")
      val u = cq("SELECT pk, toUnixTimestamp(at) AS u FROM ks.tu " +
        "WHERE pk = 1 AND ck = 1").collect().head.getLong(1)
      val w = cq("SELECT WRITETIME(at) AS w FROM ks.tu " +
        "WHERE pk = 1 AND ck = 1").collect().head.getLong(0)
      assert(u === w)
      // legacy spellings ride the same arms
      val leg = cq("SELECT unixTimestampOf(at) AS u, dateOf(at) AS t " +
        "FROM ks.tu WHERE pk = 1 AND ck = 1").collect().head
      assert(leg.getLong(0) === w &&
        leg.getTimestamp(1).getTime === w)
      // refusals: non-timeuuid targets, mixed targets
      refuse("SELECT toUnixTimestamp(reading) FROM ks.ev " +
        "WHERE sensor = 1", "timeuuid")
      refuse("SELECT toUnixTimestamp(sensor) FROM ks.ev " +
        "WHERE sensor = 1", "timeuuid")
      cq("INSERT INTO ks.tu (pk, ck, at2) VALUES (2, 1, now())")
      refuse("SELECT toUnixTimestamp(at), toUnixTimestamp(at2) " +
        "FROM ks.tu WHERE pk = 1 AND ck = 1", "ONE timeuuid")
    } finally spark.conf.unset("spark.sql.catalog.tfcat")
  }

  test("timeuuid aggregates order by TIME (C65u tightening): " +
    "min/max via the 60-bit component; sum/avg refuse non-numerics") {
    val root = Files.createTempDirectory("cql-tuagg").toString
    spark.conf.set("spark.sql.catalog.tacat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.tacat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "tacat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.tu (pk bigint, ck int, col text, " +
        "value timeuuid, wt bigint)")
      // TEXT order inverts TIME order here: the canonical rendering
      // puts time-LOW first, so time 2^32 (mid field = 1) renders
      // "00000000-0001-…" — lexically BELOW time 2's
      // "00000002-0000-…" while being the larger instant
      val big = "00000000-0001-1000-8000-000000000001" // time = 2^32
      val small = "00000002-0000-1000-8000-000000000001" // time = 2
      cq(s"INSERT INTO ks.tu (pk, ck, at) VALUES (1, 1, $big)")
      cq(s"INSERT INTO ks.tu (pk, ck, at) VALUES (2, 1, $small)")
      val r = cq("SELECT min(value) AS lo, max(value) AS hi " +
        "FROM ks.tu").collect().head
      assert(r.getString(0) === small && r.getString(1) === big,
        r.toString) // text order would have swapped them
      // arithmetic aggregates refuse on timeuuid — and on every
      // non-numeric value storage (no silent cast-to-double nulls)
      refuse("SELECT sum(value) FROM ks.tu", "numeric types")
      cq("CREATE TABLE ks.tx (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      cq("INSERT INTO ks.tx (pk, ck, w) VALUES (1, 1, 'abc')")
      refuse("SELECT avg(value) FROM ks.tx", "numeric types")
      // lexical min/max on plain text stays (Cassandra's bytewise
      // text comparator IS lexical)
      assert(cq("SELECT min(value) AS lo FROM ks.tx")
        .collect().head.getString(0) === "abc")
    } finally spark.conf.unset("spark.sql.catalog.tacat")
  }

  test("CREATE CUSTOM INDEX (C18m): the SASI/SAI spellings desugar " +
    "to the canonical index modes") {
    val root = Files.createTempDirectory("cql-cidx").toString
    spark.conf.set("spark.sql.catalog.cidx17cat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.cidx17cat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "cidx17cat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.w (pk bigint, ck int, col text, " +
        "value text, wt bigint)")
      cq("INSERT INTO ks.w (pk, ck, word) VALUES (1, 1, 'carpet')")
      cq("INSERT INTO ks.w (pk, ck, word) VALUES (2, 1, 'Carbon')")
      cq("INSERT INTO ks.w (pk, ck, word) VALUES (3, 1, 'magic')")
      // SASI default mode IS PREFIX; the FQCN spelling
      cq("CREATE CUSTOM INDEX ON ks.w (word) USING " +
        "'org.apache.cassandra.index.sasi.SASIIndex'")
      assert(cq("SELECT pk FROM ks.w WHERE word LIKE 'car%'")
        .collect().map(_.getLong(0)).toSet === Set(1L))
      // CONTAINS mode + the case-insensitive analyzer, custom name
      cq("CREATE CUSTOM INDEX wci ON ks.w (word) USING 'SASIIndex' " +
        "WITH OPTIONS = {'mode': 'CONTAINS', " +
        "'case_sensitive': 'false'}")
      assert(cq("SELECT pk FROM ks.w WHERE word LIKE '%arb%'")
        .collect().map(_.getLong(0)).toSet === Set(2L))
      // DESCRIBE renders the canonical round-trippable form (the
      // desugar is total — no CUSTOM spelling survives)
      val d = cq("DESCRIBE INDEX ks.wci").collect().head.getString(0)
      assert(d.contains("contains(word)") &&
        d.contains("'case_sensitive': 'false'"), d)
      // SPARSE = the plain identity-token (range-serving) index
      cq("CREATE TABLE ks.n (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("INSERT INTO ks.n (pk, ck, qty) VALUES (1, 1, 5)")
      cq("INSERT INTO ks.n (pk, ck, qty) VALUES (2, 1, 50)")
      cq("CREATE CUSTOM INDEX ON ks.n (qty) USING 'SASIIndex' " +
        "WITH OPTIONS = {'mode': 'SPARSE'}")
      assert(cq("SELECT pk FROM ks.n WHERE qty > 10")
        .collect().map(_.getLong(0)).toSet === Set(2L))
      // SAI on a scalar column = the plain equality index
      cq("CREATE TABLE ks.s (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("INSERT INTO ks.s (pk, ck, tag) VALUES (1, 1, 7)")
      cq("CREATE CUSTOM INDEX ON ks.s (tag) USING " +
        "'StorageAttachedIndex'")
      assert(cq("SELECT pk FROM ks.s WHERE tag = 7")
        .collect().map(_.getLong(0)).toSet === Set(1L))
      // SAI on a VECTOR column = the ann index (Cassandra 5's form)
      cq("CREATE TABLE ks.emb (pk bigint, ck int, col text, " +
        "value vector<float, 2>, wt bigint)")
      cq("INSERT INTO ks.emb (pk, ck, v) VALUES (1, 1, [1.0, 0.0])")
      cq("CREATE CUSTOM INDEX ON ks.emb (v) USING " +
        "'org.apache.cassandra.index.sai.StorageAttachedIndex' " +
        "WITH OPTIONS = {'similarity_function': 'cosine'}")
      assert(cq("SELECT pk FROM ks.emb ORDER BY v ANN OF [1.0, 0.0] " +
        "LIMIT 1").collect().map(_.getLong(0)).toSeq === Seq(1L))
      // IF NOT EXISTS tolerates the SAME desugared index
      cq("CREATE CUSTOM INDEX IF NOT EXISTS ON ks.emb (v) USING " +
        "'StorageAttachedIndex'")
      // refusals: unknown class, unknown SASI mode, stray options
      refuse("CREATE CUSTOM INDEX ON ks.s (tag) USING 'MyIndex'",
        "custom index class")
      refuse("CREATE CUSTOM INDEX ON ks.w (word) USING 'SASIIndex' " +
        "WITH OPTIONS = {'mode': 'SUFFIX'}", "SASI mode")
      refuse("CREATE CUSTOM INDEX ON ks.w (word) USING 'SASIIndex' " +
        "WITH OPTIONS = {'analyzer_class': 'x'}", "SASI OPTIONS")
      refuse("CREATE CUSTOM INDEX ON ks.emb (v) USING " +
        "'StorageAttachedIndex' WITH OPTIONS = " +
        "{'similarity_function': 'euclidean'}", "cosine")
    } finally spark.conf.unset("spark.sql.catalog.cidx17cat")
  }

  test("entry writetime + MAXWRITETIME (C15c): WRITETIME/TTL of a " +
    "map entry; per-owner max over collections; scalar identity") {
    val root = Files.createTempDirectory("cql-mwt").toString
    spark.conf.set("spark.sql.catalog.mwcat", "graft.sources.CellCatalog")
    spark.conf.set("spark.sql.catalog.mwcat.root", root)
    try {
      def cq(stmt: String) = Cql.catalogExecute(spark, stmt, "mwcat")
      def refuse(stmt: String, frag: String): Unit = {
        val e = intercept[IllegalArgumentException] { cq(stmt) }
        assert(e.getMessage.contains(frag), s"$stmt -> ${e.getMessage}")
      }
      cq("CREATE KEYSPACE ks")
      cq("CREATE TABLE ks.m (pk bigint, ck int, col text, " +
        "value map<text, bigint>, wt bigint)")
      cq("UPDATE ks.m SET m['a'] = 1 WHERE pk = 1 AND ck = 1")
      cq("UPDATE ks.m USING TTL 50 SET m['b'] = 2 " +
        "WHERE pk = 1 AND ck = 1")
      // entry writetime: each entry cell carries its own coordinate
      val wts = cq("SELECT WRITETIME(m['a']) AS wa FROM ks.m " +
        "WHERE pk = 1 AND ck = 1").collect().head.getLong(0)
      val wtb = cq("SELECT WRITETIME(m['b']) AS wb FROM ks.m " +
        "WHERE pk = 1 AND ck = 1").collect().head.getLong(0)
      assert(wtb === wts + 1)
      // entry TTL round-trips the grant; the un-granted entry is null
      assert(cq("SELECT TTL(m['b']) AS t FROM ks.m " +
        "WHERE pk = 1 AND ck = 1").collect().head.getLong(0) === 50L)
      assert(cq("SELECT TTL(m['a']) AS t FROM ks.m " +
        "WHERE pk = 1 AND ck = 1").collect().head.isNullAt(0))
      // MAXWRITETIME over the map = the newest entry's coordinate,
      // per (pk, ck) row
      assert(cq("SELECT pk, ck, MAXWRITETIME(m) AS mw FROM ks.m " +
        "WHERE pk = 1 AND ck = 1").collect().head.getLong(2) === wtb)
      // ... and over a LIST, per partition
      cq("CREATE TABLE ks.l (pk bigint, ck int, col text, " +
        "value list<bigint>, wt bigint)")
      cq("UPDATE ks.l SET xs = xs + [7] WHERE pk = 1")
      cq("UPDATE ks.l SET xs = xs + [8] WHERE pk = 1")
      val lw = cq("SELECT pk, MAXWRITETIME(xs) AS mw FROM ks.l " +
        "WHERE pk = 1").collect().head
      val lWts = spark.read.format("graft.sources.CellSource")
        .option("reconcile", "true").load(s"$root/ks/l")
        .filter(col("pk") === 1).agg(max(col("wt")))
        .collect().head.getLong(0)
      assert(lw.getLong(1) === lWts)
      // on a SCALAR column MAXWRITETIME(c) == WRITETIME(c)
      cq("CREATE TABLE ks.s (pk bigint, ck int, col text, " +
        "value bigint, wt bigint)")
      cq("INSERT INTO ks.s (pk, ck, qty) VALUES (1, 1, 5)")
      val sr = cq("SELECT MAXWRITETIME(qty) AS m, WRITETIME(qty) " +
        "AS w FROM ks.s WHERE pk = 1 AND ck = 1").collect().head
      assert(sr.getLong(0) === sr.getLong(1))
      // entry fns refuse on a declared NON-map collection
      cq("CREATE TABLE ks.st (pk bigint, ck int, col text, " +
        "value set<bigint>, wt bigint)")
      cq("UPDATE ks.st SET s = s + {1} WHERE pk = 1")
      refuse("SELECT WRITETIME(s['k']) FROM ks.st WHERE pk = 1",
        "map entries")
      // MAXWRITETIME of a STATIC column on a collection table reads
      // the '!s:' partition-front cell, NOT the collection's max
      cq("CREATE TABLE ks.ms (pk bigint, ck int, col text, " +
        "value map<text, bigint>, wt bigint, tag bigint STATIC)")
      cq("UPDATE ks.ms SET tag = 9 WHERE pk = 1")
      cq("UPDATE ks.ms SET m['a'] = 1 WHERE pk = 1 AND ck = 1")
      cq("UPDATE ks.ms SET m['b'] = 2 WHERE pk = 1 AND ck = 1")
      val tagWt = cq("SELECT WRITETIME(tag) AS w FROM ks.ms " +
        "WHERE pk = 1").collect().head.getLong(0)
      assert(cq("SELECT MAXWRITETIME(tag) AS mw FROM ks.ms " +
        "WHERE pk = 1").collect().head.getLong(0) === tagWt)
    } finally spark.conf.unset("spark.sql.catalog.mwcat")
  }
}
