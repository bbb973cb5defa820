package graft.queries

import java.security.MessageDigest
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Similarity search over `embeddings.embedding` (Array[Float], dim 64) —
  * north-star ANN surface (SURVEY.md §2.10): brute-force cosine top-k as the
  * exact baseline, and random-hyperplane LSH (SimHash for vectors) as the
  * scale path for near-duplicate pairs.
  *
  * Determinism across engines: cosine is computed with the identical fold
  * (float→double casts, array-order summation) in Spark and DuckDB, then
  * rounded; top-k ordering tie-breaks on vec_id. The LSH hyperplanes are a
  * ±1 matrix derived from md5 — generated once in Scala and embedded as
  * array literals in BOTH dialects, so bucket assignment matches bit-for-bit.
  *
  * 100 TB discipline: top-k plans as TakeOrderedAndProject (per-partition
  * heap, k×partitions rows to the driver); the near-dup join is LSH-bucket
  * equality (banded r=2 × b=4), never all-pairs.
  */
object Similarity {

  private val Dim = 64
  private val Planes = 32 // b=4 bands × r=8 rows
  private val BandRows = 8
  private val Bands = Planes / BandRows
  // r=8 gives 256 buckets per band: with n vectors the candidate set is
  // ~b × n²/256 instead of the n²/4 a short signature would produce — the
  // knob that keeps verification cost sane at scale.

  /** ±1 hyperplane matrix seeded from md5("j-i") — reproducible anywhere. */
  private[queries] lazy val planes: Seq[Seq[Int]] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until Planes).map { j =>
      (1 to Dim).map { i =>
        val hex = md.digest(s"$j-$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (hex.charAt(0) >= '8') 1 else -1
      }
    }
  }

  /** Native codegen'd cosine (graft.functions.CosineSimilarity): index-order
    * double accumulation — bit-identical to the explicit fold formula the
    * DuckDB oracle runs, but compiled into the whole-stage loop instead of
    * an interpreted higher-order function. */
  private def cos(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, $Dim + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  private def duckNorm(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  // ---------------------------------------------------------------- q44
  /** Brute-force cosine top-k against a query vector (vec_id = 0): exact
    * baseline. orderBy+limit plans as TakeOrderedAndProject — each partition
    * keeps a k-heap, the driver merges k×partitions rows. */
  def q44(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, dir)
    val qv = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    e.crossJoin(broadcast(qv))
      .select($"vec_id", round(cos($"embedding", $"qv"), 3).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id")
      .limit(10)
  }

  val q44Sql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id,
       |  round(${duckDot("embedding", "qv")} / (${duckNorm("embedding")} * ${duckNorm("qv")}), 3) AS cos_sim
       |FROM embeddings, q
       |ORDER BY cos_sim DESC, vec_id
       |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q45
  /** Embedding near-dup pairs: banded random-hyperplane LSH (r=8, b=4)
    * generates candidates by bucket equality, then the exact cosine filter
    * (>= 0.4) verifies. Identical plane literals on both engines. */
  def q45(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, dir)
    // bit_j = sign(w_j · v) for each plane j; cosine shares the dot's sign
    // (norms are positive), so the native expression computes it codegen'd
    val bitCols = (0 until Planes).map { j =>
      val w = array(planes(j).map(v => lit(v.toFloat)): _*)
      when(cos($"embedding", w) > 0, lit("1")).otherwise(lit("0")).as(s"bit$j")
    }
    // the signature table feeds all 8 sides of the 4-band self-join, yet
    // recomputing it holds up against a cache: cold A/B, sf0.1, 4 cores,
    // 10 fresh-JVM pairs — median 1.56 s recomputed (IQR 0.12) vs 1.51 s
    // cached, cache won 4/10 (below the 9/10 bar for keeping a cache)
    val sigs = e.select(($"vec_id" +: bitCols): _*)
    val bands = (0 until Bands).map { b =>
      sigs.select($"vec_id", lit(b).as("band"),
        concat((0 until BandRows).map(r => col(s"bit${BandRows * b + r}")): _*).as("sig"))
    }.reduce(_ unionAll _)
    val cand = bands.as("a").join(bands.as("c"),
        $"a.band" === $"c.band" && $"a.sig" === $"c.sig" && $"a.vec_id" < $"c.vec_id")
      .select($"a.vec_id".as("d1"), $"c.vec_id".as("d2")).distinct()
    val withVecs = cand
      .join(e.select($"vec_id".as("d1"), $"embedding".as("v1")), "d1")
      .join(e.select($"vec_id".as("d2"), $"embedding".as("v2")), "d2")
    withVecs
      .withColumn("cos_sim", round(cos($"v1", $"v2"), 3))
      .filter($"cos_sim" >= 0.4)
      .select($"d1", $"d2", $"cos_sim")
      .orderBy($"d1", $"d2")
  }

  val q45Sql: String = {
    val bitExprs = (0 until Planes).map { j =>
      val w = s"[${planes(j).map(v => s"$v.0").mkString(",")}]"
      s"""CASE WHEN list_sum(list_transform(range(1, $Dim + 1),
         | i -> CAST(embedding[i] AS DOUBLE) * ($w)[i])) > 0 THEN '1' ELSE '0' END AS bit$j"""
        .stripMargin.replaceAll("\n", "")
    }.mkString(",\n  ")
    val bandSelects = (0 until Bands).map { b =>
      val sig = (0 until BandRows).map(r => s"bit${BandRows * b + r}").mkString(" || ")
      s"SELECT vec_id, $b AS band, $sig AS sig FROM sigs"
    }.mkString("\nUNION ALL\n")
    s"""WITH sigs AS (SELECT vec_id,
       |  $bitExprs
       |FROM embeddings),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.vec_id AS d1, c.vec_id AS d2
       |         FROM bands a JOIN bands c ON a.band = c.band AND a.sig = c.sig AND a.vec_id < c.vec_id)
       |SELECT d1, d2,
       |  round(${duckDot("e1.embedding", "e2.embedding")} /
       |        (${duckNorm("e1.embedding")} * ${duckNorm("e2.embedding")}), 3) AS cos_sim
       |FROM cand JOIN embeddings e1 ON d1 = e1.vec_id JOIN embeddings e2 ON d2 = e2.vec_id
       |WHERE round(${duckDot("e1.embedding", "e2.embedding")} /
       |        (${duckNorm("e1.embedding")} * ${duckNorm("e2.embedding")}), 3) >= 0.4
       |ORDER BY d1, d2""".stripMargin
  }

  // ---------------------------------------------------------------- q70
  /** IVF ANN end-to-end (index + probe): build a 4-list inverted-file index
    * over the embeddings and answer the same probe query as q44 with
    * nprobe=2.
    *
    * ORACLE-VERIFIED (VERDICT r12 #4): an ANN result can't hash-match a
    * different engine (and recall under nprobe<nlist is data-dependent, not
    * an algorithmic guarantee), so the query emits the exact brute-force
    * top-10 (the q44 rows DuckDB reproduces bit-for-bit) plus two verdicts
    * that ARE deterministic properties of a correct IVF implementation:
    *  - `ivf_pruned_exact`: the stats-pruned probe returns EXACTLY the
    *    brute-force top-k restricted to the probed lists (file pruning
    *    lost nothing, the probe computes true within-list top-k);
    *  - `ivf_self_found`: the probe vector finds itself (its own list is
    *    always the max-cosine probe).
    * All collects are k-row, metadata-grained. SimilaritySpec separately
    * pins recall ≥ 0.5 at fixture scale. */
  def q70(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val vecs = graft.Tables.embeddings(spark, dir)
    // the probe = vec 0's embedding (same probe as q44's exact baseline);
    // single-row collect, metadata-grained
    val probe = vecs.filter(col("vec_id") === 0).select(col("embedding"))
      .collect().headOption.map(_.getAs[scala.collection.Seq[Float]](0).toSeq)
    val (prunedExact, selfFound) = probe match {
      // no probe vector: q44's top-10 is empty, so there is nothing to check
      case None => (true, true)
      case Some(vec) =>
        val (index, cents) = ivfIndexFor(spark, dir)
        val ivf = graft.operators.Ann.ivfSearchTable(index, cents, "vec_id", "embedding",
          vec, k = 10, nprobe = 2)
        val ivfIds = ivf.select(col("vec_id")).collect().map(_.getLong(0)).toSeq
        // reference: UNPRUNED scan of the same probed lists, same top-k
        val probes = graft.operators.Ann.probeLists(cents, vec, nprobe = 2)
        val refIds = graft.operators.Ann.bruteForceTopK(
            index.read.filter(col("centroid_id").isin(probes: _*)),
            "vec_id", "embedding", vec, k = 10)
          .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
        (ivfIds == refIds, ivfIds.contains(0L))
    }
    q44(spark, dir)
      .withColumn("ivf_pruned_exact", lit(prunedExact))
      .withColumn("ivf_self_found", lit(selfFound))
  }

  /** Index-once, probe-many: the IVF index is a PERSISTED graft table
    * hidden-partitioned by centroid id (VERDICT r7 #3) — first call per
    * dataset builds it, every later probe loads it and prunes to the
    * nprobe buckets' files through the table format's stats.
    * Cache key = source CONTENT signature (file names/sizes/mtimes of the
    * embeddings parquet), not just the dir name — regenerating the dataset
    * at the same path invalidates the index instead of silently probing a
    * stale one (SimilaritySpec pins this re-key). Absolute path: cwd
    * changes must not re-key the cache. */
  private[graft] def ivfIndexFor(spark: SparkSession, dir: String)
      : (graft.table.GraftTable, graft.table.GraftTable) = {
    val vecs = graft.Tables.embeddings(spark, dir)
    val sig = {
      val parts = Option(new java.io.File(s"$dir/embeddings.parquet").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
      Integer.toHexString((dir + "#" + parts).hashCode)
    }
    val indexPath = new java.io.File(s"target/ivf-index-v1-$sig").getAbsolutePath
    if (new java.io.File(s"$indexPath/_graft/HEAD").exists())
      graft.operators.Ann.loadIndexTable(spark, indexPath)
    else scala.util.Try(graft.operators.Ann.buildIndexTable(
        spark, vecs, "vec_id", "embedding", nlist = 4, indexPath))
      // lost a concurrent build race ("table already exists"): load the
      // winner's index instead
      .getOrElse(graft.operators.Ann.loadIndexTable(spark, indexPath))
  }

  val q70Sql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id,
       |  round(${duckDot("embedding", "qv")} / (${duckNorm("embedding")} * ${duckNorm("qv")}), 3) AS cos_sim,
       |  TRUE AS ivf_pruned_exact, TRUE AS ivf_self_found
       |FROM embeddings, q
       |ORDER BY cos_sim DESC, vec_id
       |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Cluster count for SemDedup, derived from corpus size: K = max(16, ⌈√n⌉).
    * With K ∝ √n the expected cluster size m = n/K = √n, so per-cluster pair
    * work m² grows LINEARLY with n (10× data → ~10× per-cluster pairs), and
    * total pair work is n^1.5 instead of the n² a fixed K degrades to. The
    * floor of 16 keeps tiny fixtures from collapsing to a handful of giant
    * clusters. Computed identically in the DuckDB oracle (count(*) OVER ()
    * inside the seed ranking), so both engines pick the same seed set.
    * SimilaritySpec asserts the linear-per-cluster property at 10× data. */
  private[graft] def semK(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** SemDedup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space, then prune near-duplicate pairs WITHIN
    * clusters only — the trick that makes semantic dedup tractable at
    * corpus scale, because pair generation is Σ cluster² (K grows with n,
    * clusters stay bounded) instead of global n². Here the clustering is
    * one deterministic assignment step: K = max(16, ⌈√n⌉) seed vectors
    * chosen by md5 order (reproducible in any engine, unlike a kmeans fit),
    * every vector assigned to its max-cosine seed via `max_by` over a
    * BROADCAST K-row seed table — one scan, no shuffle for the assignment
    * itself, and K ∝ √n keeps the broadcast tiny (√10⁹ ≈ 32k rows). The
    * within-cluster pair join is cluster-id equality (shuffle join on cid),
    * never a cartesian. Cosine is the codegen'd native expression; the
    * DuckDB oracle runs the identical fold, so assignments and scores
    * hash-match, not just counts. */
  /** The SemDedup cluster-assignment step, shared by q88 and SimilaritySpec's
    * 10×-growth property test: K = semK(n) md5-ordered seeds, argmax-cosine
    * assignment over the broadcast seed table. Returns (vec_id, cid,
    * embedding). */
  private[graft] def semAssign(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    // one scalar to the driver (parquet metadata count — no data scan) to
    // size K; seed selection itself stays a distributed TakeOrderedAndProject
    val k = semK(e.count())
    val seeds = e
      .orderBy(md5($"vec_id".cast("string").cast("binary")), $"vec_id")
      .limit(k)
      .select($"vec_id".as("sid"), $"embedding".as("sv"))
    // argmax over the broadcast seeds: round(cos, 6) then smallest sid wins
    // ties — the same total order the oracle's window enforces
    e.crossJoin(broadcast(seeds))
      .withColumn("c", round(cos($"embedding", $"sv"), 6))
      .groupBy($"vec_id")
      .agg(max_by($"sid", struct($"c", -$"sid")).as("cid"),
        first($"embedding").as("embedding"))
  }

  def q88(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val assign = semAssign(embeddings(spark, dir))
    assign.as("a").join(assign.as("b"),
        $"a.cid" === $"b.cid" && $"a.vec_id" < $"b.vec_id")
      .withColumn("cos_sim", round(cos($"a.embedding", $"b.embedding"), 3))
      .filter($"cos_sim" >= 0.4)
      .select($"a.cid".as("cid"), $"a.vec_id".as("d1"), $"b.vec_id".as("d2"), $"cos_sim")
      .orderBy($"cid", $"d1", $"d2")
  }

  val q88Sql: String = {
    def dcos(a: String, b: String): String =
      s"${duckDot(a, b)} / (${duckNorm(a)} * ${duckNorm(b)})"
    s"""WITH seeds AS (
       |  SELECT sid, sv FROM (
       |    SELECT vec_id AS sid, embedding AS sv,
       |      row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn,
       |      count(*) OVER () AS n
       |    FROM embeddings)
       |  WHERE rn <= greatest(16, CAST(ceil(sqrt(n)) AS BIGINT))),
       |assign AS (
       |  SELECT vec_id, sid AS cid, embedding FROM (
       |    SELECT e.vec_id, s.sid, e.embedding,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${dcos("e.embedding", "s.sv")}, 6) DESC, s.sid) AS rn
       |    FROM embeddings e CROSS JOIN seeds s) WHERE rn = 1)
       |SELECT a.cid AS cid, a.vec_id AS d1, b.vec_id AS d2,
       |  round(${dcos("a.embedding", "b.embedding")}, 3) AS cos_sim
       |FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |WHERE round(${dcos("a.embedding", "b.embedding")}, 3) >= 0.4
       |ORDER BY cid, d1, d2""".stripMargin
  }

  // ---------------------------------------------------------------- q126
  /** GRID-BLOCKED spatial neighbor counting (the ε-neighborhood primitive
    * under DBSCAN / geo-dedup / collision detection): each point is bucketed
    * into an ε-sized cell, probes are exploded to the 3×3 neighbor cells, and
    * an equality join on the cell id yields every candidate within ε — pairs
    * beyond one cell apart are never generated. This is the spatial analogue
    * of LSH banding: candidate cost is Σ_cell |cell|², never n².
    *
    * Points are derived from event_id via a two-stage mixed-modulus hash
    * (different primes per stage, so the composition is non-linear — a plain
    * LCG leaves lattice gaps with no close pairs at all). All arithmetic is
    * BIGINT mod + one exact double division, and the cell id is
    * floor(x/0.5) where /0.5 is an exact power-of-two scale — every
    * intermediate is bit-identical on both engines; no transcendentals.
    *
    * Output is the per-point neighbor COUNT (≥1), so result size is bounded
    * by n even where the pair count grows ~n²·ε²/A. */
  def q126(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val eps = 0.5
    // spreadIfNarrow (guide §2.5): the broadcast join below BUILDS the
    // exploded probe side and STREAMS cells — on a single-row-group input
    // the whole join + distance filter + partial count pipelines into the
    // one scan task (plan-verified: BroadcastHashJoin directly over
    // Scan parquet). Spreading the base scan parallelizes both branches;
    // no-op once the scan has real splits.
    val cells = spreadIfNarrow(
      events(spark, dir).select($"event_id"), $"event_id").select(
      $"event_id",
      ((($"event_id" * 48271L) % 100003L * 69621L) % 99991L).cast("double")
        ./(lit(1000.0)).as("x"),
      ((($"event_id" * 69621L) % 99991L * 48271L) % 100003L).cast("double")
        ./(lit(1000.0)).as("y"))
      .withColumn("cx", floor($"x" / eps).cast("long"))
      .withColumn("cy", floor($"y" / eps).cast("long"))
    val probes = cells
      .select($"event_id".as("id_a"), $"x".as("xa"), $"y".as("ya"), $"cx", $"cy",
        explode(array(lit(-1L), lit(0L), lit(1L))).as("dx"))
      .select($"id_a", $"xa", $"ya", ($"cx" + $"dx").as("pcx"), $"cy",
        explode(array(lit(-1L), lit(0L), lit(1L))).as("dy"))
      .select($"id_a", $"xa", $"ya", $"pcx", ($"cy" + $"dy").as("pcy"))
    probes
      .join(cells, probes("pcx") === cells("cx") && probes("pcy") === cells("cy") &&
        probes("id_a") =!= cells("event_id") &&
        (probes("xa") - cells("x")) * (probes("xa") - cells("x")) +
          (probes("ya") - cells("y")) * (probes("ya") - cells("y")) <= eps * eps)
      .groupBy($"id_a", $"xa", $"ya")
      .agg(count(lit(1)).as("nbrs"))
      .select($"id_a".as("event_id"), $"xa".as("x"), $"ya".as("y"), $"nbrs")
      .orderBy($"event_id")
  }

  val q126Sql: String =
    """WITH cells AS (
      |  SELECT event_id,
      |    CAST((event_id * 48271 % 100003) * 69621 % 99991 AS DOUBLE) / 1000.0 AS x,
      |    CAST((event_id * 69621 % 99991) * 48271 % 100003 AS DOUBLE) / 1000.0 AS y,
      |    CAST(floor(CAST((event_id * 48271 % 100003) * 69621 % 99991 AS DOUBLE) / 1000.0 / 0.5) AS BIGINT) AS cx,
      |    CAST(floor(CAST((event_id * 69621 % 99991) * 48271 % 100003 AS DOUBLE) / 1000.0 / 0.5) AS BIGINT) AS cy
      |  FROM events),
      |probes AS (
      |  SELECT p.event_id AS id_a, p.x AS xa, p.y AS ya,
      |         p.cx + dx.d AS pcx, p.cy + dy.d AS pcy
      |  FROM cells p, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d))
      |SELECT pr.id_a AS event_id, pr.xa AS x, pr.ya AS y, count(*) AS nbrs
      |FROM probes pr JOIN cells c
      |  ON c.cx = pr.pcx AND c.cy = pr.pcy AND c.event_id <> pr.id_a
      | AND (pr.xa - c.x)*(pr.xa - c.x) + (pr.ya - c.y)*(pr.ya - c.y) <= 0.25
      |GROUP BY 1, 2, 3
      |ORDER BY event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q126_grid_neighbors"   -> q126,
    "q44_embed_cosine_topk" -> q44,
    "q45_embed_neardup_lsh" -> q45,
    "q70_ann_ivf"           -> q70,
    "q88_semantic_dedup"    -> q88)

  val oracleSql: Map[String, String] = Map(
    "q126_grid_neighbors"   -> q126Sql,
    "q44_embed_cosine_topk" -> q44Sql,
    "q45_embed_neardup_lsh" -> q45Sql,
    "q70_ann_ivf"           -> q70Sql,
    "q88_semantic_dedup"    -> q88Sql)
}
