package graft

/** Contract checks on the driver-facing surface. */
class RegistrySpec extends GraftSpec {

  test("registry names are unique") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size,
      s"dup names: ${names.diff(names.distinct)}")
  }

  test("scratch-output defaults lie under the working directory") {
    val target = java.nio.file.Paths.get(sys.props("user.dir"), "target")
    Seq[(String, () => String)](
      "graft.cell.snapshots" -> (() => graft.sources.CellSnapshots.root),
      "graft.multiins.dir" -> (() => graft.queries.HiveEtl.multiInsDir),
      "graft.serde.dir" -> (() => graft.queries.Misc.serdeDir)
    ).foreach { case (knob, dir) =>
      val set = sys.props.get(knob)
      sys.props -= knob
      try assert(java.nio.file.Paths.get(dir()).startsWith(target),
        s"$knob default ${dir()} is not under $target")
      finally set.foreach(sys.props(knob) = _)
    }
  }

  test("every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs non-empty on sf0.001 or sf0.01") {
    // Cheap guard against a query that silently returns nothing at
    // small scale (weak exercise) — allow a known-empty set only.
    val allowEmpty = Set("Q_JOIN6_left_anti", "N_DEDUP5_embedding_neardup",
      "N_SIM2_blocked_pairs", "N_DEDUP4_ngram_jaccard",
      "N_DEDUP2_minhash_lsh", "Q_JOIN8_theta", "Q_JOIN10_range")
    val failures = Registry.all.flatMap { q =>
      try {
        val n = q.fn(spark, sf()).count()
        if (n == 0 && !allowEmpty(q.name)) Some(s"${q.name}: 0 rows")
        else None
      } catch {
        case e: Throwable => Some(s"${q.name}: ${e.getMessage.take(120)}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
