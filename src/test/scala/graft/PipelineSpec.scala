package graft

import org.apache.spark.sql.functions._
import graft.queries.{Dedup, Pipeline, Relational, Similarity}

/** Invariants for the pipeline-assembly operators (q62–q66) beyond the
  * DuckDB hash oracle: structural properties the hash can't state. */
class PipelineSpec extends SparkSpec {

  test("q62: cluster labels are a valid connected-components assignment") {
    import spark.implicits._
    val pairs = Dedup.q41(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = Pipeline.q62(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every endpoint of a pair is labeled, and both ends share a label
    pairs.foreach { case (a, b) =>
      assert(labels.contains(a) && labels.contains(b))
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // each label is the MIN member of its cluster (canonical representative)
    labels.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.keys.min == cl, s"cluster $cl label is not its min member")
    }
    // transitivity through shared endpoints: a-b, b-c => same label (spot
    // property — already implied by the above, kept as an explicit witness)
    val adj = pairs.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
    for ((a, bs) <- adj; (_, b) <- bs; (_, c) <- adj.getOrElse(b, Array.empty[(Long, Long)]))
      assert(labels(a) == labels(c))
  }

  private def fixtureDir(prefix: String): String = java.nio.file.Files
    .createTempDirectory(java.nio.file.Paths.get("target"), prefix).toString

  test("q62: a corpus with no near-duplicate pairs yields no clusters, not a crash") {
    // five fixture documents whose texts share no word, so q41 finds no
    // pair: the label frame is empty and SUM(chg) over it is NULL
    val dir = fixtureDir("q62-nodup-")
    Tables.documents(spark, sf).orderBy("doc_id").limit(5)
      .withColumn("text", expr(
        "array_join(transform(sequence(1, 8), i -> concat('w', doc_id, '_', i)), ' ')"))
      .write.parquet(s"$dir/documents.parquet")
    assert(Dedup.q41(spark, dir).isEmpty, "fixture must have no near-dup pairs")
    assert(Pipeline.q62(spark, dir).collect().isEmpty)
  }

  test("q100: a one-document corpus has no rank graph and yields no rows, not a crash") {
    // one document shares no shingle with another, so no edge and N = 0
    val dir = fixtureDir("q100-onedoc-")
    Tables.documents(spark, sf).orderBy("doc_id").limit(1)
      .write.parquet(s"$dir/documents.parquet")
    val out = Pipeline.q100(spark, dir)
    assert(out.columns.toSeq == Seq("doc_id", "pr_scaled"))
    assert(out.collect().isEmpty)
  }

  test("q70: an empty embeddings table yields q70's columns and no rows, not a crash") {
    val dir = fixtureDir("q70-empty-")
    Tables.embeddings(spark, sf).limit(0).write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.q70(spark, dir)
    assert(out.columns.toSeq ==
      Seq("vec_id", "cos_sim", "ivf_pruned_exact", "ivf_self_found"))
    assert(out.collect().isEmpty)
  }

  test("q130: empty tables give zero counts and a NULL bad_rate, not a crash") {
    val dir = fixtureDir("q130-empty-")
    for (t <- Seq("lineitem", "orders", "customer", "part"))
      Tables.table(spark, sf, t).limit(0).write.parquet(s"$dir/$t.parquet")
    val rows = Relational.q130(spark, dir).collect()
    assert(rows.length == 7)
    assert(rows.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L && r.isNullAt(3)),
      rows.mkString("; "))
  }

  test("q63: bm25 scores are positive and capped by top-k contract") {
    val rows = Pipeline.q63(spark, sf).collect()
    assert(rows.length <= 20)
    assert(rows.forall(_.getDouble(1) > 0.0))
    // descending by score (post-round), doc_id tie-break
    val scores = rows.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("q64: no source exceeds its cap; kept docs dominate dropped ones") {
    import spark.implicits._
    val kept = Pipeline.q64(spark, sf)
    val bySrc = kept.groupBy($"source").count().collect()
    assert(bySrc.forall(_.getLong(1) <= 3))
    // minimum kept n_chars per source >= max dropped n_chars (quality order)
    val minKept = kept.groupBy($"source").agg(min($"n_chars").as("mk"))
    val dropped = graft.Tables.documents(spark, sf)
      .join(kept.select($"doc_id"), Seq("doc_id"), "left_anti")
    val maxDropped = dropped.groupBy($"source").agg(max($"n_chars").as("md"))
    val bad = minKept.join(maxDropped, "source").filter($"md" > $"mk").count()
    assert(bad == 0)
  }

  test("q65: quantized values are int8-range and reconstruct within half a step") {
    import spark.implicits._
    val check = Pipeline.q65(spark, sf)
      .select($"vec_id", $"scale", split($"qvec_csv", ",").cast("array<int>").as("q"))
      .join(graft.Tables.embeddings(spark, sf), "vec_id")
      .select($"vec_id", $"scale",
        expr("aggregate(zip_with(q, embedding, (qi, xi) -> abs(qi * scale / 127.0 - cast(xi as double))), cast(0.0 as double), (m, e) -> greatest(m, e))").as("max_err"),
        expr("aggregate(q, 0, (bad, qi) -> bad + IF(qi > 127 or qi < -127, 1, 0))").as("oob"))
      .collect()
    assert(check.nonEmpty)
    check.foreach { r =>
      assert(r.getInt(3) == 0, s"vec ${r.getLong(0)} has out-of-range int8 values")
      // |dequant - x| <= scale/254 + ulp slack (half a quantization step)
      assert(r.getDouble(2) <= r.getDouble(1) / 254.0 + 1e-9,
        s"vec ${r.getLong(0)} reconstruction error ${r.getDouble(2)} > half-step")
    }
  }

  test("q68: curation chain output is capped, split-labeled, and two-shuffle-shaped") {
    import spark.implicits._
    val out = Pipeline.q68(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => Set("train", "val", "test")(r.getString(2))))
    val perSource = out.groupBy($"source").count().collect()
    assert(perSource.forall(_.getLong(1) <= 5))
    // four logical stages, but only the dedup groupBy and the domain window
    // shuffle (+ the output's range sort) — the quality gate rides the scan.
    // Count on the pre-execution plan: AQE's final plan prints each shuffle
    // again at every stage boundary.
    val plan = Pipeline.q68(spark, sf).queryExecution.executedPlan.toString
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(plan).size
    assert(exchanges <= 3, s"curation chain shuffles too much ($exchanges):\n$plan")
  }

  test("q66: packing is gapless, ordered, and window spans match token math") {
    import spark.implicits._
    val rows = Pipeline.q66(spark, sf).collect()
    // offsets are a gapless prefix-sum in doc_id order
    var expected = 0L
    rows.foreach { r =>
      assert(r.getLong(2) == expected, s"doc ${r.getLong(0)} offset gap")
      expected += r.getLong(1)
    }
    // spans agree with the 512-token window geometry
    rows.foreach { r =>
      val (ntok, start, first, span) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(first == start / 512)
      assert(span == (start + ntok - 1) / 512 - start / 512 + 1)
    }
  }

  test("q125 market-basket stats agree with a driver-side basket replay") {
    import spark.implicits._
    val got = Pipeline.q125(spark, sf).collect()
    assert(got.nonEmpty)
    val baskets = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"p_brand").distinct().collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    val nOrders = baskets.size
    val cnt = baskets.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    got.foreach { r =>
      val (a, b, co) = (r.getString(0), r.getString(1), r.getLong(2))
      assert(a < b)
      val expect = baskets.values.count(s => s.contains(a) && s.contains(b))
      assert(co == expect, s"co($a,$b)")
      assert(co <= math.min(cnt(a), cnt(b)))
      assert(math.abs(r.getAs[Double]("support") - co.toDouble / nOrders) < 1e-6)
      assert(math.abs(r.getAs[Double]("lift") -
        co.toDouble * nOrders / (cnt(a).toDouble * cnt(b))) < 1e-6)
    }
  }

  test("q125 plans with the pair self-join on the order key and broadcast dims") {
    val plan = Pipeline.q125(spark, sf).queryExecution.executedPlan.toString
    // the only nested-loop join allowed is the broadcast of the one-row
    // n_orders aggregate; the pair generator itself must be a key join
    assert(!plan.contains("CartesianProduct"),
      "pair generation must join on l_orderkey, not all-pairs")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      "part dim and per-brand counts should broadcast")
  }
}
