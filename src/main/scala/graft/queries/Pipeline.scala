package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Mat
import graft.Tables._

/** Training-data pipeline ASSEMBLY operators (north-star surface; the steps a
  * 100 TB pretraining corpus goes through after per-doc scoring/dedup): near-
  * dup cluster resolution, relevance scoring for data selection, per-domain
  * caps, embedding quantization, and token-budget sequence packing.
  *
  * The reference stack runs these as Spark SQL over Iceberg tables on EMR
  * (reference `main.tf:791-807`); each op here is declarative DataFrame code
  * whose physical plan is the one that survives scale — notes inline.
  */
object Pipeline {

  // ---------------------------------------------------------------- q62
  /** Near-dup CLUSTER RESOLUTION: the LSH pair list (q41) only says "a≈b";
    * acting on it (keep one doc per group) needs connected components —
    * a≈b, b≈c must collapse into ONE cluster even though (a,c) never
    * collided. Iterative min-label propagation: every node repeatedly takes
    * the minimum label among itself and its neighbors; converges in
    * O(component diameter) rounds.
    *
    * 100 TB shape: each round is one key-equality shuffle join + partial→
    * final min-aggregate (the large-star/small-star MapReduce CC algorithm
    * is this loop with path-halving; diameters of near-dup graphs are tiny —
    * dup clusters are cliques-ish, so 2-4 rounds). `localCheckpoint` after
    * each round truncates the lineage so round N's plan doesn't replay
    * rounds 1..N-1, and the driver only ever sees a per-round CHANGED
    * counter, never row data. */
  def q62(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // localCheckpoint, not cache (the q100 rule): pairs feeds edges twice
    // (union with its flip) and edges feeds EVERY propagation round —
    // durable materialization makes the per-round cost independent of
    // storage-memory pressure; a lazily cached edges would re-run the whole
    // MinHash pipeline per consumer on eviction
    val pairs = Dedup.q41(spark, dir).select($"d1", $"d2").transform(Mat.checkpoint)
    val edges = pairs.union(pairs.select($"d2".as("d1"), $"d1".as("d2"))).transform(Mat.checkpoint)
    // seed with the ONE-HOP minimum (min of self and direct neighbors) in a
    // single aggregate — for clique-shaped dup groups, the common case, this
    // is already the fixpoint and the loop exits after one verification round
    var labels = edges.groupBy($"d1".as("id"))
      .agg(least(min($"d2"), first($"d1")).as("label")).transform(Mat.checkpoint)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      val nbrMin = edges.join(labels.withColumnRenamed("id", "d2"), "d2")
        .groupBy($"d1".as("id")).agg(min($"label").as("nl"))
      // r19: the changed-counter FOLDS into the label update (a flag column
      // on the frame the round checkpoints anyway) — the old separate
      // next⋈labels diff was one extra key-equality join + shuffle PER
      // ROUND whose only output was a scalar; summing the flag over the
      // checkpointed blocks is a scan (A/B: 2.24 → 1.58 s at sf0.1 under
      // load, same fixpoint, oracle-proven)
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select($"id", least($"label", coalesce($"nl", $"label")).as("label"),
          ($"label" > coalesce($"nl", $"label")).cast("long").as("chg"))
        .transform(Mat.checkpoint)
      // coalesce: SUM over zero rows is NULL — a corpus with no near-dup
      // pairs has no labels at all, and converges at once
      changed = next.agg(coalesce(sum($"chg"), lit(0L))).as[Long].head()
      Mat.release(labels) // superseded generation: freed NOW, not at GC time
      labels = next // chg rides along; release() must see the checkpoint ROOT
      rounds += 1
    }
    // pairs/edges are dead once the fixpoint converges — explicit release
    // (ADVICE r15): a long-lived session must not depend on ContextCleaner
    // timing (the bench/verify harness's between-query sweep still backstops)
    Seq(pairs, edges).foreach(Mat.release)
    labels.select($"id".as("doc_id"), $"label".as("cluster_id")).orderBy($"doc_id")
  }

  /** Oracle: reachability closure by recursive CTE (UNION dedups, so it
    * converges); cluster id = min reachable node — same fixpoint the label
    * propagation computes. */
  val q62Sql: String =
    s"""WITH RECURSIVE pairs AS (${Dedup.q41Sql}),
       |edges AS (SELECT d1, d2 FROM pairs UNION ALL SELECT d2 AS d1, d1 AS d2 FROM pairs),
       |reach(id, r) AS (
       |  SELECT d1, d1 FROM edges GROUP BY d1
       |  UNION
       |  SELECT e.d1, reach.r FROM edges e JOIN reach ON e.d2 = reach.id)
       |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q63
  /** BM25 relevance scoring for DATA SELECTION (rank a corpus against a
    * probe query, keep the head): Okapi BM25 with k1=1.2, b=0.75 over
    * whitespace tokens. Everything is two scan-shaped aggregations (doc
    * lengths; per-doc-per-term tf) + a broadcast of three scalars (N, avgdl,
    * per-term df) — no shuffle wider than the final per-doc sum. Scores are
    * rounded to 4 decimals BEFORE the top-k ordering so the ranking is
    * deterministic across engines (ties broken by doc_id); top-k plans as
    * TakeOrderedAndProject, never a global sort. */
  def q63(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Seq("data", "query", "fast")
    // repartition before the explode: the tokenization is re-derived by
    // THREE consumers (dl, tf, and the scored join), and a few-row-group
    // corpus would otherwise run each pass on a handful of scan tasks
    // (the q41 shingles() normalizer rationale)
    val tok = documentsSpread(spark, dir)
      .select($"doc_id", explode(split($"text", " ")).as("wd"))
    val dl = tok.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg($"dl").as("avgdl"))
    val tf = tok.filter($"wd".isin(terms: _*))
      .groupBy($"doc_id", $"wd").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy($"wd").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df_), "wd")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) + ($"n_docs" - $"df" + 0.5) / ($"df" + 0.5)))
      .withColumn("contrib",
        $"idf" * ($"tf" * 2.2) / ($"tf" + (lit(0.75) * $"dl" / $"avgdl" + 0.25) * 1.2))
      .groupBy($"doc_id").agg(round(sum($"contrib"), 4).as("bm25"))
    scored.orderBy($"bm25".desc, $"doc_id").limit(20)
  }

  val q63Sql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
      |stats AS (SELECT COUNT(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, wd, COUNT(*) AS tf FROM tok
      |       WHERE wd IN ('data', 'query', 'fast') GROUP BY doc_id, wd),
      |dfreq AS (SELECT wd, COUNT(*) AS df FROM tf GROUP BY wd)
      |SELECT doc_id,
      |       round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
      |             * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
      |FROM tf JOIN dfreq USING (wd) JOIN dl USING (doc_id) CROSS JOIN stats
      |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q64
  /** PER-DOMAIN CAP: web-scale corpora cap documents per source domain so a
    * few mega-sites don't dominate the training mix — keep the top 3 docs
    * per source by quality (proxy: n_chars), deterministic tie-break on
    * doc_id. One rank window partitioned by source: the shuffle is on the
    * domain key; a genuinely hot domain skews its partition, but the rank
    * frame never materializes more than the running top-k per partition.
    * (For pathological domains, pre-aggregate a per-partition local top-3
    * before the window — same two-phase shape as q61's salted join.) */
  def q64(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    documents(spark, dir)
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"n_chars".desc, $"doc_id")).cast("long"))
      .filter($"rk" <= 3)
      .select($"source", $"rk", $"doc_id", $"n_chars")
      .orderBy($"source", $"rk")
  }

  val q64Sql: String =
    """SELECT source, rk, doc_id, n_chars FROM (
      |  SELECT source, doc_id, n_chars,
      |         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 3 ORDER BY source, rk""".stripMargin

  // ---------------------------------------------------------------- q65
  /** INT8 EMBEDDING QUANTIZATION (symmetric, per-vector scale): q_i =
    * floor(x_i / max|x| * 127 + 0.5). Cuts ANN index memory 4× — the
    * standard prep before shipping vectors to a serving index. Pure
    * higher-order array expressions (scan-shaped, zero shuffle, whole-stage
    * codegen); every arithmetic step is IEEE-exact double math in a fixed
    * order, so the oracle hash-matches the quantized vectors bit-for-bit.
    * All-zero vectors quantize to zeros (scale guard), not NaNs. */
  def q65(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    embeddings(spark, dir)
      .withColumn("scale",
        expr("aggregate(embedding, cast(0.0 as double), (m, x) -> greatest(m, abs(cast(x as double))))"))
      .withColumn("qvec",
        expr("""CASE WHEN scale = 0.0 THEN transform(embedding, x -> 0)
               |ELSE transform(embedding, x -> cast(floor(cast(x as double) / scale * 127.0 + 0.5) as int)) END""".stripMargin))
      // arrays dump as a joined string so the row canonicalization (which
      // sorts by every column) has a scalar to compare — q18's convention
      .select($"vec_id", $"scale", array_join($"qvec", ",").as("qvec_csv"))
      .orderBy($"vec_id")
  }

  val q65Sql: String =
    """SELECT vec_id, scale,
      |       array_to_string(CASE WHEN scale = 0.0 THEN list_transform(embedding, x -> 0)
      |            ELSE list_transform(embedding,
      |                   x -> cast(floor(x::DOUBLE / scale * 127.0 + 0.5) AS INT)) END, ',') AS qvec_csv
      |FROM (SELECT vec_id, embedding,
      |        list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS scale
      |      FROM embeddings)
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q66
  /** TOKEN-BUDGET SEQUENCE PACKING: lay the corpus out as one token stream
    * in doc_id order and cut a context window every 512 tokens — each doc
    * gets its stream offset, first window, and how many windows it spans
    * (docs straddling a boundary are split across windows, the standard
    * pretraining packing).
    *
    * The global running sum is computed in TWO PHASES so no window function
    * ever sees the whole table in one partition: (1) per-bucket cumulative
    * sums, partitioned by `doc_id div 100` — parallel; (2) bucket base
    * offsets from a cumulative sum over the per-bucket TOTALS — a
    * single-partition window over B rows where B ≈ table/100, metadata-
    * grained (at 100 TB with 10⁹ docs pick a bucket width that keeps B in
    * the millions; the tiny table broadcasts back). Integer arithmetic end
    * to end — the oracle hash-matches exactly. */
  def q66(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tok = documents(spark, dir)
      .select($"doc_id", ($"doc_id" / 100).cast("long").as("bucket"),
        size(split($"text", " ")).cast("long").as("ntok"))
    val within = tok.withColumn("cum",
      sum($"ntok").over(Window.partitionBy($"bucket").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bases = within.groupBy($"bucket").agg(max($"cum").as("btot"))
      .withColumn("base",
        coalesce(sum($"btot").over(Window.orderBy($"bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"bucket", $"base")
    within.join(broadcast(bases), "bucket")
      .withColumn("start_offset", $"base" + $"cum" - $"ntok")
      .withColumn("first_window", expr("start_offset div 512"))
      .withColumn("windows_spanned",
        expr("(start_offset + ntok - 1) div 512") - $"first_window" + 1)
      .select($"doc_id", $"ntok", $"start_offset", $"first_window", $"windows_spanned")
      .orderBy($"doc_id")
  }

  val q66Sql: String =
    """WITH tok AS (SELECT doc_id, doc_id // 100 AS bucket,
      |                    len(string_split(text, ' '))::BIGINT AS ntok FROM documents),
      |win AS (SELECT doc_id, bucket, ntok,
      |               (sum(ntok) OVER (PARTITION BY bucket ORDER BY doc_id
      |                               ROWS UNBOUNDED PRECEDING))::BIGINT AS cum FROM tok),
      |bases AS (SELECT bucket, (coalesce(sum(btot) OVER (ORDER BY bucket
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS base
      |          FROM (SELECT bucket, max(cum) AS btot FROM win GROUP BY bucket))
      |SELECT doc_id, ntok, (base + cum - ntok)::BIGINT AS start_offset,
      |       ((base + cum - ntok) // 512)::BIGINT AS first_window,
      |       ((base + cum - 1) // 512 - (base + cum - ntok) // 512 + 1)::BIGINT AS windows_spanned
      |FROM win JOIN bases USING (bucket)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q68
  /** END-TO-END CORPUS CURATION — the flagship composition: quality gate →
    * exact dedup (keep min doc_id per content hash) → per-domain cap (top 5
    * by length) → deterministic hash split. One declarative chain, so
    * Catalyst fuses the quality filter into the scan, the dedup is one
    * partial→final aggregate, the cap is one domain-keyed window, and the
    * split is a scan-shaped projection — four pipeline stages, two
    * shuffles total. The output is exactly what a pretraining data loader
    * consumes: (doc_id, source, split). */
  def q68(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val quality = documents(spark, dir)
      .filter($"lang" === "en" && $"n_chars" >= 100 &&
        size(split($"text", " ")) >= 20)
    val deduped = quality
      .groupBy(md5($"text".cast("binary")).as("text_hash"))
      .agg(min($"doc_id").as("doc_id"), min($"source").as("source"),
        min($"n_chars").as("n_chars"))
    val capped = deduped
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"n_chars".desc, $"doc_id")))
      .filter($"rk" <= 5)
    val h2 = substring(md5(concat(lit("split|"), $"doc_id".cast("string")).cast("binary")), 1, 2)
    capped
      .select($"doc_id", $"source",
        when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  // min(source)/min(n_chars) on BOTH sides: duplicates from different
  // sources must resolve to the same representative on every engine.
  val q68Sql: String =
    """WITH quality AS (
      |  SELECT * FROM documents
      |  WHERE lang = 'en' AND n_chars >= 100 AND len(string_split(text, ' ')) >= 20),
      |deduped AS (
      |  SELECT min(doc_id) AS doc_id, min(source) AS source, min(n_chars) AS n_chars
      |  FROM quality GROUP BY md5(text)),
      |capped AS (
      |  SELECT doc_id, source,
      |         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM deduped)
      |SELECT doc_id, source,
      |  CASE WHEN substr(md5('split|' || doc_id), 1, 2) < 'cc' THEN 'train'
      |       WHEN substr(md5('split|' || doc_id), 1, 2) < 'e6' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM capped WHERE rk <= 5 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q100
  /** PageRank probability scale: ranks live in [0, Scale] as BIGINTs. */
  private[graft] val PrScale = 1000000000000L
  private[graft] val PrIters = 3

  /** PAGERANK over the document similarity graph (fixed [[PrIters]]
    * iterations, damping 0.85): rank documents by centrality in the graph
    * whose edges connect docs sharing a rare 3-shingle (df ≤ 10 — the q43
    * inverted-index candidate graph, which is non-regular: hub documents
    * sharing boilerplate with many others get high degree). This is the
    * shape of every link-graph quality score a web-corpus pipeline carries
    * (Common Crawl harmonic centrality, site-level PageRank features), and
    * a centrality-based canonical-representative signal for dup clusters
    * when "min doc_id" (q62) is too arbitrary. (The q41 LSH dup graph is a
    * union of cliques — uniform PageRank by symmetry — so the shingle
    * graph is also the stronger correctness probe.)
    *
    * All arithmetic is INTEGER: ranks are BIGINT micro-probabilities
    * (×[[PrScale]]) and every divide is an integer `div`, so the result is
    * bit-exact across engines and aggregation orders — no DECIMAL rounding
    * contract needed, the oracle compares raw BIGINTs. (Float PageRank
    * would differ in the last ulp per Σ-order; the pipelines that ship
    * PageRank features quantize them anyway.)
    *
    * Scale shape: per-iteration work is ONE key-equality join
    * (edges ⋈ ranks on src) + partial→final SUM by dst — the classic
    * Pregel/GraphX superstep as a DataFrame loop. `localCheckpoint` per
    * round truncates lineage (q62 discipline); the driver sees one scalar
    * count (node total for the teleport constant), never row data. Dangling
    * mass: absent by construction — the graph is symmetrized, every node
    * has out-degree ≥ 1. */
  def q100(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // rare-shingle inverted index (q43/q90 shape: stop-shingle cap bounds
    // the self-join fanout; never all-pairs). r18: WINDOW form, not the
    // materialized groupBy+join form — the self-join's sides are identical
    // subplans over one hash(shingle) exchange, so ReuseExchange tokenizes
    // once (the q43/q82 rule) and the `pairs` checkpoint right below is
    // already the durable multi-consumer barrier the superstep loop needs;
    // a second materialization of `rare` bought nothing (A/B-measured
    // through the pair build: 1.83 s materialized vs 1.19 s window).
    val rare = Dedup.rareShingles(spark, dir, materialized = false)
    // edge = >= 2 SHARED rare shingles (the q113/q82 evidence rule): a
    // single shingle collision is noise, not similarity, and it DENSIFIES
    // the graph ~25x (436k -> 17k edges at sf0.1) — the threshold is what
    // keeps the superstep join linear-ish in documents rather than in
    // collision pairs. localCheckpoint, not cache: pairs feeds edges AND
    // (via union) its own flip — durable materialization makes every
    // downstream recompute bottom out here, never in the shingle scan.
    val pairs = rare.as("a").join(rare.as("b"), "shingle")
      .filter($"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("w")).filter($"w" >= 2)
      .select($"d1", $"d2").transform(Mat.checkpoint)
    val edges = pairs.union(pairs.select($"d2".as("d1"), $"d1".as("d2")))
      .toDF("src", "dst")
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg")).cache()
    // the iterated join input: degree ATTACHED once (one join per
    // superstep instead of two). r19: the former .repartition($"src")
    // before the cache is REMOVED — the per-superstep join broadcasts the
    // tiny rank table (AQE), so hash-partitioning the cached edge side
    // bought nothing, and an InMemoryRelation over an AQE plan loses its
    // outputPartitioning anyway (the Finding-1 mechanism), so the exchange
    // could never be reused even under a shuffle join. A/B: 3.82 → 3.40 s
    // (loaded box), mins 3.53 → 3.32.
    val ewd = edges.join(deg, "src").cache()
    val n = deg.count() // one scalar: the teleport term 0.15/N
    if (n == 0L) { // no pair shares two rare shingles: no graph, no ranks
      Seq(deg, ewd).foreach(_.unpersist())
      return deg.select($"src".as("doc_id"), lit(0L).as("pr_scaled"))
    }
    val base = PrScale * 15L / 100L / n
    var pr = deg.select($"src".as("node"), lit(PrScale / n).as("pr"))
    for (it <- 1 to PrIters) {
      pr = ewd.join(pr, ewd("src") === pr("node"))
        .select($"dst", expr("pr div deg").as("contrib"))
        .groupBy($"dst")
        .agg((lit(base) + expr("sum(contrib) * 85 div 100")).as("pr"))
        .select($"dst".as("node"), $"pr")
      // lineage truncation every 3rd superstep: plans stay bounded (the
      // q62 discipline) without paying one eager job PER round — the
      // per-round job overhead, not the joins, dominated the measured
      // runtime (6.2 s -> see BENCH) at fixture scale
      if (it % 3 == 0 || it == PrIters) pr = pr.transform(Mat.checkpoint)
    }
    // the final localCheckpoint materialized pr, so the cached
    // intermediates can release executor storage memory now — without
    // this each invocation leaks cached DataFrames across the run.
    // (rare/pairs are localCheckpoint'd, not cached: their blocks are
    // released by the ContextCleaner once the plans are GC'd.)
    Seq(deg, ewd).foreach(_.unpersist())
    pr.select($"node".as("doc_id"), $"pr".as("pr_scaled")).orderBy($"doc_id")
  }

  /** Oracle: the same [[PrIters]] supersteps as chained CTEs — fixed
    * iteration count makes recursion unnecessary and keeps every divide an
    * integer `//`, matching Spark's `div` exactly. */
  val q100Sql: String = {
    def step(k: Int): String =
      s"""pr$k AS (
         |  SELECT e.dst AS node,
         |    ((${PrScale} * 15 // 100) // n.n + (SUM(p.pr // d.deg) * 85) // 100)::BIGINT AS pr
         |  FROM edges e JOIN pr${k - 1} p ON p.node = e.src
         |  JOIN deg d ON d.src = e.src CROSS JOIN n
         |  GROUP BY e.dst, n.n)""".stripMargin
    s"""WITH sh AS (${Dedup.shinglesSql}),
       |rare AS (${Dedup.rareShinglesSql}),
       |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |          FROM rare a JOIN rare b USING (shingle) WHERE a.doc_id < b.doc_id
       |          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM deg),
       |pr0 AS (SELECT src AS node, ($PrScale // n.n)::BIGINT AS pr FROM deg CROSS JOIN n),
       |${(1 to PrIters).map(step).mkString(",\n")}
       |SELECT node AS doc_id, pr AS pr_scaled FROM pr$PrIters ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q102
  /** RAG chunk geometry: 200-char windows every 150 chars (50 overlap). */
  private[graft] val ChunkLen = 200
  private[graft] val ChunkStride = 150

  /** OVERLAPPING-CHUNK SPLITTING for retrieval/embedding pipelines: cut
    * every document into [[ChunkLen]]-char windows at [[ChunkStride]]
    * offsets (trailing chunk ragged), emitting stable chunk ids and exact
    * char offsets — the unit-of-embedding transform every RAG corpus and
    * long-context training mix runs before vectorization. Content rides as
    * md5 so the oracle proves byte-identical chunk EXTRACTION (offset
    * arithmetic included) without hauling text through the compare.
    *
    * Scale shape: scan-shaped generate — sequence + transform + posexplode
    * inline with the parquet scan, zero shuffle before the presentation
    * sort (q56 discipline). Chunk count per doc is ⌈(len−overlap)/stride⌉,
    * linear in corpus bytes. */
  def q102(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // empty docs chunk to nothing on both engines: Spark's
    // sequence(0, -1) would DESCEND to [0, -1] (two bogus rows) while
    // DuckDB's range(0) is empty — the guard pins the semantics
    documents(spark, dir)
      .filter(length($"text") > 0)
      .select($"doc_id", $"n_chars",
        posexplode(expr(
          s"transform(sequence(0, CAST(floor((length(text) - 1) / $ChunkStride) AS INT))," +
            s" i -> substring(text, i * $ChunkStride + 1, $ChunkLen))")).as(Seq("idx", "chunk")))
      .select($"doc_id", $"idx".cast("long").as("chunk_idx"),
        ($"idx".cast("long") * ChunkStride + 1).as("start_char"),
        length($"chunk").cast("long").as("chunk_len"),
        md5($"chunk".cast("binary")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  val q102Sql: String =
    s"""SELECT doc_id, i AS chunk_idx, i * $ChunkStride + 1 AS start_char,
       |  length(substr(text, CAST(i * $ChunkStride + 1 AS INT), $ChunkLen))::BIGINT AS chunk_len,
       |  md5(substr(text, CAST(i * $ChunkStride + 1 AS INT), $ChunkLen)) AS chunk_md5
       |FROM documents
       |CROSS JOIN UNNEST(range(CAST(floor((length(text) - 1) / $ChunkStride) AS BIGINT) + 1)) AS t(i)
       |WHERE length(text) > 0
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- q119
  /** TRIANGLE COUNTING over the q100 document-similarity graph — the
    * standard graph-quality/community signal (clustering coefficient's
    * numerator). Edges reuse the q100/q113 evidence rule: ≥2 shared rare
    * shingles, never all-pairs.
    *
    * Scale shape: DEGREE-ORDERED ORIENTATION (each undirected edge directed
    * from its lower-(degree,id) endpoint), the compact-forward algorithm —
    * every triangle is counted exactly once at its lowest-order vertex, and
    * the wedge join's fan-out is bounded by out-degree ≤ O(√m) on any graph
    * (arboricity bound), so the wedge stream stays near-linear instead of
    * Σdeg² on hubs. Two equality-shuffle joins on vertex keys; the small
    * oriented edge list is localCheckpoint'd once and reused three times
    * (eager, lineage-truncated — the q62 discipline, no cache leak). */
  def q119(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = Dedup.shingles(spark, dir)
    // window, not groupBy+join: rare is uncached (the q113 rationale)
    val rare = sh.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"shingle")))
      .filter($"df" <= 10).drop("df")
    // the expensive stage — checkpointed FIRST: und feeds deg (twice, via
    // the union) and the ori build, so without this the shingle self-join
    // recomputes 3x (measured 7.5 s -> 2.9 s at sf0.1)
    val und = rare.as("a").join(rare.as("b"), "shingle")
      .filter($"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("w")).filter($"w" >= 2)
      .select($"d1", $"d2")
      .transform(Mat.checkpoint)
    val deg = und.select($"d1".as("node"))
      .union(und.select($"d2".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    val lower = struct($"dega", $"d1") < struct($"degb", $"d2")
    val ori = und
      .join(deg.select($"node".as("d1"), $"deg".as("dega")), "d1")
      .join(deg.select($"node".as("d2"), $"deg".as("degb")), "d2")
      .select(
        when(lower, $"d1").otherwise($"d2").as("src"),
        when(lower, $"d2").otherwise($"d1").as("dst"),
        when(lower, $"degb").otherwise($"dega").as("dstdeg"))
      .transform(Mat.checkpoint)
    val tri = ori.as("e1")
      .join(ori.as("e2"), col("e1.src") === col("e2.src") &&
        struct(col("e1.dstdeg"), col("e1.dst")) <
          struct(col("e2.dstdeg"), col("e2.dst")))
      .join(ori.as("e3"), col("e3.src") === col("e1.dst") &&
        col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("va"), col("e1.dst").as("vb"),
        col("e2.dst").as("vc"))
    tri.select($"va".as("doc_id"))
      .union(tri.select($"vb".as("doc_id")))
      .union(tri.select($"vc".as("doc_id")))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy($"doc_id")
  }

  val q119Sql: String =
    s"""WITH sh AS (${Dedup.shinglesSql}),
       |rare AS (SELECT doc_id, shingle FROM
       |         (SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
       |         WHERE df <= 10),
       |und AS (SELECT a.doc_id AS d1, b.doc_id AS d2
       |        FROM rare a JOIN rare b USING (shingle) WHERE a.doc_id < b.doc_id
       |        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |deg AS (SELECT node, COUNT(*) AS deg FROM
       |        (SELECT d1 AS node FROM und UNION ALL SELECT d2 FROM und) GROUP BY 1),
       |ori AS (SELECT
       |  CASE WHEN (da.deg, u.d1) < (db.deg, u.d2) THEN u.d1 ELSE u.d2 END AS src,
       |  CASE WHEN (da.deg, u.d1) < (db.deg, u.d2) THEN u.d2 ELSE u.d1 END AS dst,
       |  CASE WHEN (da.deg, u.d1) < (db.deg, u.d2) THEN db.deg ELSE da.deg END AS dstdeg
       |  FROM und u JOIN deg da ON da.node = u.d1 JOIN deg db ON db.node = u.d2),
       |tri AS (SELECT e1.src AS va, e1.dst AS vb, e2.dst AS vc
       |  FROM ori e1 JOIN ori e2 ON e1.src = e2.src
       |    AND (e1.dstdeg, e1.dst) < (e2.dstdeg, e2.dst)
       |  JOIN ori e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
       |SELECT node AS doc_id, COUNT(*)::BIGINT AS n_triangles
       |FROM (SELECT va AS node FROM tri UNION ALL SELECT vb FROM tri
       |      UNION ALL SELECT vc FROM tri)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q125
  /** MARKET-BASKET association mining: brand pairs that co-occur in the same
    * order, with support / confidence / lift (the co-occurrence statistics
    * behind "frequent itemsets" and recommendation priors — and, in a
    * training-data pipeline, behind source-affinity analysis: which corpus
    * slices habitually appear together in a crawl batch).
    *
    * Scale shape: the pair generator self-joins per-order DISTINCT brand
    * sets ON THE ORDER KEY, so fan-out is bounded by (lines-per-order choose
    * 2) — never all-pairs across orders. The dimension (`part`) is broadcast
    * into the basket build; the per-brand counts and the one-row order count
    * are broadcast back onto the 300-row pair table. Counts are exact longs;
    * support/confidence/lift are single double divisions, bit-identical on
    * both engines. The support threshold (≥1.5% of orders) is scale-free, so
    * the result survives any SF without a magic absolute count. */
  def q125(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the basket table fans out into four subplans (order count, brand
    // counts, both pair-join sides); recomputing the codegen'd broadcast-
    // join + distinct is CHEAPER than materializing it (a localCheckpoint
    // here measured 2.5x slower at sf0.1 — the q119 tradeoff inverts when
    // the checkpointed stage is scan-shaped rather than a shuffle fan-out)
    // spreadIfNarrow (guide §2.5), keyed on the ORDER key: the broadcast
    // probe + partial distinct otherwise run in the single scan task, and
    // hash(okey) is reused by the distinct AND by the pair self-join below
    // (subset clustering) — one spread parallelizes all four consumers
    val ob = spreadIfNarrow(lineitem(spark, dir)
        .select($"l_orderkey", $"l_partkey"), $"l_orderkey")
      .join(broadcast(part(spark, dir)), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("okey"), $"p_brand".as("brand"))
      .distinct()
    val n = ob.agg(countDistinct($"okey").as("n_orders"))
    val bc = ob.groupBy($"brand").agg(count(lit(1)).as("cnt"))
    val pairs = ob.as("a")
      .join(ob.as("b"), $"a.okey" === $"b.okey" && $"a.brand" < $"b.brand")
      .groupBy($"a.brand".as("brand_a"), $"b.brand".as("brand_b"))
      .agg(count(lit(1)).as("co"))
    pairs
      .join(broadcast(bc.select($"brand".as("brand_a"), $"cnt".as("cnt_a"))), "brand_a")
      .join(broadcast(bc.select($"brand".as("brand_b"), $"cnt".as("cnt_b"))), "brand_b")
      .crossJoin(broadcast(n))
      .filter($"co".cast("double") / $"n_orders" >= 0.015)
      .select($"brand_a", $"brand_b", $"co",
        round($"co".cast("double") / $"n_orders", 6).as("support"),
        round($"co".cast("double") / $"cnt_a", 6).as("confidence"),
        round($"co".cast("double") * $"n_orders" / ($"cnt_a".cast("double") * $"cnt_b"), 6)
          .as("lift"))
      .orderBy($"brand_a", $"brand_b")
  }

  val q125Sql: String =
    """WITH ob AS (SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      |            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |n AS (SELECT count(DISTINCT okey) AS n_orders FROM ob),
      |bc AS (SELECT brand, count(*) AS cnt FROM ob GROUP BY 1),
      |pairs AS (SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS co
      |          FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      |          GROUP BY 1, 2)
      |SELECT p.brand_a, p.brand_b, p.co,
      |  round(CAST(p.co AS DOUBLE) / n.n_orders, 6) AS support,
      |  round(CAST(p.co AS DOUBLE) / ca.cnt, 6) AS confidence,
      |  round(CAST(p.co AS DOUBLE) * n.n_orders / (CAST(ca.cnt AS DOUBLE) * cb.cnt), 6) AS lift
      |FROM pairs p, n
      |JOIN bc ca ON ca.brand = p.brand_a
      |JOIN bc cb ON cb.brand = p.brand_b
      |WHERE CAST(p.co AS DOUBLE) / n.n_orders >= 0.015
      |ORDER BY p.brand_a, p.brand_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q125_market_basket"  -> q125,
    "q119_triangles"      -> q119,
    "q62_dedup_clusters"  -> q62,
    "q63_text_bm25"       -> q63,
    "q64_domain_cap"      -> q64,
    "q65_embed_quantize"  -> q65,
    "q66_pack_sequences"  -> q66,
    "q68_curation_chain"  -> q68,
    "q100_pagerank"       -> q100,
    "q102_rag_chunks"     -> q102)

  val oracleSql: Map[String, String] = Map(
    "q125_market_basket"  -> q125Sql,
    "q119_triangles"      -> q119Sql,
    "q62_dedup_clusters"  -> q62Sql,
    "q63_text_bm25"       -> q63Sql,
    "q64_domain_cap"      -> q64Sql,
    "q65_embed_quantize"  -> q65Sql,
    "q66_pack_sequences"  -> q66Sql,
    "q68_curation_chain"  -> q68Sql,
    "q100_pagerank"       -> q100Sql,
    "q102_rag_chunks"     -> q102Sql)
}
