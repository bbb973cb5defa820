package graft

/** Cache hygiene across the WHOLE query surface (VERDICT r12 #7).
  *
  * Contract: queries may park SCRATCH state while they run — a cached
  * intermediate reused across a self-join (q41/q43), or the final
  * localCheckpoint of an iterative loop whose RDD necessarily backs the
  * returned DataFrame (q62/q100/q119) — but (a) only a KNOWN allowlist of
  * queries does so (a new query silently starting to cache is a regression
  * this test catches), and (b) [[SparkEntry.releaseScratch]], which Bench
  * and Verify call between queries, must leave ZERO cached plans and ZERO
  * persisted RDDs, so a session executing the whole suite never accretes
  * executor storage. */
class BenchHygieneSpec extends SparkSpec {

  /** Queries allowed to leave scratch behind for the runner to sweep,
    * with the reason. Everything else must be self-cleaning. */
  private val scratchAllowlist: Set[String] = Set(
    "q41_dedup_minhash_lsh",   // cached signature table, reused by 3 band projections
    "q43_dedup_ngram_jaccard", // cached inverted index, reused by candidate join + verify
    "q62_dedup_clusters",      // final min-label frontier localCheckpoint backs the result
    "q86_cross_source_dups",   // reuses q41's cached signatures across two sources
    "q100_pagerank",           // final rank frontier localCheckpoint backs the result
    "q119_triangles",          // oriented adjacency localCheckpoint backs the result
    "q67_dedup_simhash_pairs", // cached simhash table, reused by 4 pigeonhole bands
    "q72_recursive_cte",       // checkpointed narrow base relation backs the UnionLoop
    "q90_block_dedup",         // cached block table, reused by candidate join + verify
    "q98_dsir_weights")        // cached per-doc bucket counts, reused by model + weight join

  test("only allowlisted queries park scratch; releaseScratch leaves nothing") {
    SparkEntry.releaseScratch(spark) // settle leftovers from earlier suites
    val unexpected = scala.collection.mutable.ListBuffer.empty[String]
    val leaksAfterRelease = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      fn(spark, sf).write.format("noop").mode("overwrite").save()
      val parked = !spark.sharedState.cacheManager.isEmpty ||
        spark.sparkContext.getPersistentRDDs.nonEmpty
      if (parked && !scratchAllowlist.contains(name))
        unexpected += s"$name parked scratch but is not allowlisted"
      SparkEntry.releaseScratch(spark)
      if (!spark.sharedState.cacheManager.isEmpty)
        leaksAfterRelease += s"$name: cached plan survived releaseScratch"
      if (spark.sparkContext.getPersistentRDDs.nonEmpty)
        leaksAfterRelease += s"$name: persisted RDDs survived releaseScratch"
    }
    assert(unexpected.isEmpty, unexpected.mkString("\n"))
    assert(leaksAfterRelease.isEmpty, leaksAfterRelease.mkString("\n"))
  }

  test("SPARK_GRAFT_BENCH_ONLY selects exact names and underscore-delimited prefixes") {
    val names = Seq("q98_dsir_weights", "q111_heaps_law", "q11_join_cross",
      "q103_char_entropy", "q100_pagerank", "q10_join_anti")
    assert(Bench.select(names, Some("q10, q11")) == Seq("q10_join_anti", "q11_join_cross"))
    assert(Bench.select(names, Some("q100_pagerank,q98")) ==
      Seq("q100_pagerank", "q98_dsir_weights"))
    assert(Bench.select(names, None) == names.sorted)
    assert(Bench.select(SparkEntry.queries.keys, Some("q10")) == Seq("q10_join_anti"))
    // PlanDump's third argument selects the same way: no q100-q129
    assert(PlanDump.queryNames(Array("out", "tag", "q10,q11,q12")) ==
      Seq("q10_join_anti", "q11_join_cross", "q12_join_range"))
    assert(PlanDump.queryNames(Array("out", "tag")).size == SparkEntry.queries.size)
  }
}
