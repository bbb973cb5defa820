package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times the headline query set at
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line.
  *
  * Methodology (fixes VERDICT r2 #6):
  *  - materialize through the `noop` DSv2 sink ([[Harness.timeNoop]]);
  *  - 1 warmup pass (JIT + codegen + parquet footer cache), then median of 3
  *    timed runs per query;
  *  - `value` = total over the FIXED headline set (q01–q12) so totals stay
  *    comparable across rounds regardless of how many new operator queries
  *    land; all registered queries are still timed and reported in `queries`.
  */
object Bench {

  /** Fixed cross-round-comparable set (the round-1 BENCH baseline queries). */
  // prefix must be underscore-delimited: bare startsWith("q10") matched
  // q103_char_entropy (and "q11" q111_heaps_law) once 3-digit queries
  // existed, silently swapping two headline members by Map iteration order
  private val headline: Seq[String] = (1 to 12).map(i => f"q$i%02d").map { p =>
    SparkEntry.queries.keys.find(_.startsWith(p + "_")).getOrElse(p)
  }

  /** SCALING gate (VERDICT r15 #6): 15 regardless of the measured span —
    * even on a 100x run (sf0.001 -> sf0.1) a well-partitioned plan's time
    * grows ~linearly in data ONCE past fixed per-query overhead, and every
    * observed ratio sits <= ~8; a gate sized to the span (150) could never
    * flag a real super-linear regression. */
  private val ScaleGate = 15.0

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  /** Local-iteration aid: `SPARK_GRAFT_BENCH_ONLY=q103,q98` times a subset,
    * each entry an exact name or an underscore-delimited prefix (`q10` is
    * q10_join_anti alone, never q100–q109 too). Unset, every query runs. */
  private[graft] def select(names: Iterable[String], only: Option[String]): Seq[String] = {
    val all = names.toSeq.sorted
    only.fold(all) { qs =>
      val want = qs.split(",").map(_.trim).toSet
      all.filter(n => want.exists(p => n == p || n.startsWith(p + "_")))
    }
  }

  private def outPath(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", default)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val names = select(SparkEntry.queries.keys, sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    try sys.env.get("SPARK_GRAFT_SCALE_CHECK") match {
      case Some(spec) => scaling(spark, names, spec)
      case None => total(spark, names, sfDir)
    } finally spark.stop()
  }

  /** Scaling-slope self-check (`SPARK_GRAFT_SCALE_CHECK=smallDir,bigDir`):
    * time every query at both scale factors and report the per-query
    * ratio. A plan that is linear-ish in the input should scale ≲ the 10×
    * data growth; anything past [[ScaleGate]] on a non-trivial baseline
    * (big-side time ≥ 0.5 s, so sub-100 ms jitter can't flag) is a
    * superlinearity alarm — the all-pairs joins and global sorts this
    * engine's plans are audited against. One JSON line, consumed as the
    * committed SCALING.json artifact. */
  private def scaling(spark: SparkSession, names: Seq[String], spec: String): Unit = {
    val Array(smallDir, bigDir) = spec.split(",").map(_.trim)
    // name -> audited reason; empty today (worst measured ratio 8.15,
    // q71's row-linear VARIANT parse — under the gate). Queries with an
    // AUDITED inherently-higher slope are allowlisted BY NAME with the
    // reason recorded in the artifact, never hidden by a looser gate.
    val allowlist: Map[String, String] = Map.empty
    def timeAll(dir: String): Map[String, Double] = {
      names.foreach(Harness.timeNoop(spark, _, dir)) // warmup at this SF
      names.map(n => n -> median((1 to 3).map(_ => Harness.timeNoop(spark, n, dir).sample))).toMap
    }
    val small = timeAll(smallDir)
    val big = timeAll(bigDir)
    val rows = names.map { n =>
      val (s, b) = (small(n), big(n))
      val ratio = if (s > 0 && b > 0) b / s else -1.0
      n -> (s, b, ratio)
    }
    val flagged = rows.collect {
      case (n, (_, b, r)) if r > ScaleGate && b >= 0.5 && !allowlist.contains(n) => n
    }
    val qs = rows.map { case (n, (s, b, r)) =>
      s"""${Harness.str(n)}:{"small":${Harness.num(s, "%.4f")},""" +
      s""""big":${Harness.num(b, "%.4f")},"ratio":${Harness.num(r, "%.2f")}}"""
    }.mkString("{", ",", "}")
    val allowJson = allowlist.map { case (n, why) => s"${Harness.str(n)}:${Harness.str(why)}" }
      .mkString("{", ",", "}")
    Harness.emit(
      s"""{"metric":"scaling_slope","small_sf":"$smallDir","big_sf":"$bigDir",""" +
      s""""gate":$ScaleGate,"min_big_sec":0.5,"allowlisted":$allowJson,"queries":$qs,""" +
      s""""flagged":${flagged.map(Harness.str).mkString("[", ",", "]")}}""",
      outPath("SCALING.json"))
  }

  private def total(spark: SparkSession, names: Seq[String], sfDir: String): Unit = {
    names.foreach(Harness.timeNoop(spark, _, sfDir)) // warmup
    // Headline queries decide the cross-round 2x bar, and this box shows
    // bursty co-tenant noise (the same q10 measured 0.34 s and 4.5 s minutes
    // apart with an identical plan) — give them 5 samples; 3 suffices for
    // the informational long tail. PROTOCOL NOTE: headline moved from
    // median-of-3 (rounds <= 11) to median-of-5 in round 12; the artifact
    // records both sample counts below so cross-round comparisons know
    // which protocol produced each number.
    // SWING queries (r14 driver-vs-builder delta > 1.5x on identical code:
    // q100 5.9->33.5 s, q113 1.98->3.82 s, q102 0.35->1.20 s,
    // q103 0.61->1.68 s) also get 5 samples, so a real plan regression is
    // separable from co-tenant noise in the driver's own artifact.
    // r15 additions: q74/q84 showed the widest driver-side spreads outside
    // the original swing list (1.57-3.44 s and 0.65-2.63 s on identical code)
    // r16 additions (VERDICT r16 #2): the lazy-cache multi-consumer family
    // — two driver rounds running it measured 1.6-3.5x over builder numbers
    // on identical code (q99 5.50 vs 1.55 s) while the checkpointed family
    // stayed flat; 5 samples make a real regression separable from the
    // contention the family is sensitive to
    // r18 additions: the optimization round's biggest movers (q43/q82
    // restructure, q71/q125/q126 narrow-scan spreads) — their within-session
    // A/Bs were stable but between-JVM samples on the contended box swung
    // up to 2x, so 5 samples keep a real regression separable in the
    // driver's own artifact (same rationale as the r16 lazy-cache family)
    val swing = Set("q100_pagerank", "q113_split_leakage",
      "q102_rag_chunks", "q103_char_entropy",
      "q74_decontaminate", "q84_token_vocab",
      "q95_bigram_lm", "q97_nb_langid", "q98_dsir_weights",
      "q99_tfidf_keywords", "q63_text_bm25", "q45_embed_neardup_lsh",
      "q43_dedup_ngram_jaccard", "q82_dedup_editdist",
      "q71_variant_extract", "q125_market_basket", "q126_grid_neighbors")
    val samples: Seq[(String, Seq[Double])] =
      names.map { n =>
        val reps = if (headline.contains(n) || swing.contains(n)) 5 else 3
        n -> (1 to reps).map(_ => Harness.timeNoop(spark, n, sfDir).sample)
      }
    val results: Seq[(String, Double)] = samples.map { case (n, xs) => n -> median(xs) }
    val byName = results.toMap
    val total = headline.flatMap(byName.get).filter(_ >= 0).sum
    val totalAll = results.map(_._2).filter(_ >= 0).sum
    val qs = results.map { case (k, v) => s"${Harness.str(k)}:$v" }
      .mkString("{", ",", "}")
    // Per-query sample spread: min = best-case (everything warm), max =
    // worst observed sample (cold JIT/page-cache/co-tenant pressure). The
    // r14 ledger quoted a builder-run total the driver could not reproduce
    // (124 s vs 148 s); publishing the spread makes the variance visible in
    // the artifact itself instead of needing two runs to diff.
    val spread = samples.map { case (n, xs) =>
      val ok = xs.filter(_ >= 0)
      val (mn, mx) = if (ok.nonEmpty) (ok.min, ok.max) else (-1.0, -1.0)
      s"""${Harness.str(n)}:{"min":${Harness.num(mn, "%.4f")},""" +
      s""""max":${Harness.num(mx, "%.4f")},"n":${xs.length}}"""
    }.mkString("{", ",", "}")
    Harness.emit(
      s"""{"metric":"total","value":$total,"unit":"sec","median_of":3,""" +
      s""""median_of_headline":5,"median_of_swing":5,"queries":$qs,""" +
      s""""headline":${headline.map(Harness.str).mkString("[", ",", "]")},""" +
      s""""queries_spread":$spread,""" +
      s""""total_all_queries":$totalAll,"sf":"$sfDir"}""",
      outPath("BENCH_LAST.json"))
  }
}
