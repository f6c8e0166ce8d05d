package graft

/** Guards on the driver contract itself: every oracle key must name a
  * real query (an orphan key would make the verify gate compare
  * against nothing), and the flagship entry must return rows (the
  * driver smoke-checks exactly that).
  */
class ContractSpec extends SparkSpec {

  test("every oracleSql key corresponds to a queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle keys without a query: $orphans")
  }

  test("every query has an oracle (no rows-only queries since r8)") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty,
      s"queries without an oracle: $rowsOnly — the r8 gate-row scheme " +
        "(exact rows + deterministic claim literals) covers even the " +
        "approximate operators; new queries must follow it")
  }

  test("flagship entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // The r10 regression: the driver regenerated testdata with a new
  // physical timestamp type and 5 queries silently stopped ANALYZING
  // (they threw inside Verify, which only logged to stderr, so they
  // vanished from the correctness artifact). Every declared query must
  // at least BUILD — schema resolution + analysis — against the
  // CURRENT testdata, so a physical-schema drift fails `sbt test`
  // loudly at build time instead of surfacing as a missing gate row.
  // Analysis only (`.schema`), not execution: the full-result gate is
  // Verify + the DuckDB oracle; this guard is about drift, and it has
  // to stay cheap enough to run on every build. Queries that collect
  // bounded seeds (ANN query vectors) during CONSTRUCTION still run
  // those collects — bounded by construction, small at sf0.001. So do
  // queries that pin an intermediate: a `CacheScope.persist` pin is a
  // lazy local checkpoint, and declaring one runs its upstream AQE
  // stages (this suite took 1 min 55 s with cached-plan pins and
  // 2 min 8 s with checkpoint pins, one run each at 4 cores).
  test("every declared query analyzes against the current testdata schema") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    val broken = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, dir).schema; CacheScope.clear(); None }
      catch { case e: Throwable =>
        CacheScope.clear()
        Some(s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      }
    }
    assert(broken.isEmpty,
      s"${broken.size} queries no longer build against $dir:\n${broken.mkString("\n")}")
  }
}
