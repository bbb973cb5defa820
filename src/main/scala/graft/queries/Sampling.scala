package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Deterministic dataset sampling/splitting over `documents` — the
  * train/val/test plumbing every large-scale training-data pipeline needs
  * (north-star surface, same family as `Dedup`/`TextAnalysis`).
  *
  * Everything is HASH-derived, never random: the same row lands in the same
  * split on every engine, every run, at any parallelism — which is what
  * makes holdout splits reproducible and joins across pipeline stages safe.
  * md5 on both engines keeps the oracle comparing identical assignments,
  * not just sizes.
  *
  * 100 TB shape: q57 is a pure scan-shaped projection (no shuffle at all);
  * q58 is one tiny groupBy (per-class counts, broadcast back) + a
  * scan-shaped filter — NO per-class window/rank, so a skewed class never
  * funnels through one task (the exact-size rank variant would; the
  * hash-threshold form trades ±binomial size noise for linear scale). */
object Sampling {

  // ---------------------------------------------------------------- q57
  /** Deterministic 80/10/10 train/val/test split: the first two hex chars
    * of a salted doc-id hash partition [0x00,0xff] at 0xcc (=204/256 ≈ 80%)
    * and 0xe6 (=230/256 ≈ 90%). Hex compares lexically in both engines. */
  def q57(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h2 = substring(md5(concat(lit("split|"), $"doc_id".cast("string")).cast("binary")), 1, 2)
    documents(spark, dir)
      .select($"doc_id",
        when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  val q57Sql: String =
    """SELECT doc_id,
      |  CASE WHEN substr(md5('split|' || doc_id), 1, 2) < 'cc' THEN 'train'
      |       WHEN substr(md5('split|' || doc_id), 1, 2) < 'e6' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q58
  /** Class-balanced stratified sample: downsample every language to
    * (approximately) the rarest language's size by keeping docs whose
    * 16-bit text-hash falls under the per-class keep-ratio threshold.
    * Deterministic, one broadcast of the tiny per-class table, no rank
    * window — the scalable alternative to exact-size per-class top-k. */
  def q58(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = documents(spark, dir)
      .withColumn("hv", conv(substring(md5($"text".cast("binary")), 1, 4), 16, 10).cast("long"))
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("cnt"))
    val floorCnt = counts.agg(min($"cnt").as("m"))
    docs.join(broadcast(counts), "lang").crossJoin(broadcast(floorCnt))
      .filter($"hv" < $"m".cast("double") / $"cnt" * 65536.0)
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  val q58Sql: String =
    """WITH counts AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
      |m AS (SELECT min(cnt) AS m FROM counts)
      |SELECT doc_id, lang
      |FROM documents d JOIN counts USING (lang), m
      |WHERE ('0x' || substr(md5(text), 1, 4))::BIGINT < m.m::DOUBLE / cnt * 65536.0
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Temperature-based data-mixing rebalance (α = 0.5): resample so the
    * per-language share follows n^α instead of n — the multilingual-corpus
    * standard (mBERT/XLM-R exponential smoothing) that keeps head languages
    * dominant but lifts the tail. keep_rate(l) = sqrt(min_cnt / cnt_l): the
    * rarest language keeps everything, a language k× larger keeps 1/√k of
    * itself. Deterministic hash-uniform vs per-class threshold — same
    * 100 TB shape as q58: one tiny per-class aggregate broadcast back, then
    * a scan-shaped filter; no per-class window, so class skew never
    * funnels through one task. sqrt/division are IEEE-exact in both
    * engines, so the oracle verifies identical row selection. */
  def q83(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = documents(spark, dir)
      .withColumn("hv", conv(substring(
        md5(concat(lit("mix|"), $"doc_id".cast("string")).cast("binary")), 1, 4), 16, 10)
        .cast("long"))
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("cnt"))
    val floorCnt = counts.agg(min($"cnt").as("m"))
    docs.join(broadcast(counts), "lang").crossJoin(broadcast(floorCnt))
      .filter($"hv".cast("double") / 65536.0 < sqrt($"m".cast("double") / $"cnt"))
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  val q83Sql: String =
    """WITH counts AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
      |m AS (SELECT min(cnt) AS m FROM counts)
      |SELECT doc_id, lang
      |FROM documents d JOIN counts USING (lang), m
      |WHERE ('0x' || substr(md5('mix|' || doc_id), 1, 4))::BIGINT / 65536.0
      |        < sqrt(m.m::DOUBLE / cnt)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q98
  /** Feature-hash bucket count for DSIR importance weights. */
  private[graft] val DsirBuckets = 1024L

  /** DSIR-STYLE IMPORTANCE WEIGHTS (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): hash every bigram into
    * [[DsirBuckets]] buckets, estimate a Laplace-smoothed bucket
    * distribution for the TARGET domain (here: the `lang = 'en'` slice)
    * and for the RAW corpus, and weight each document by its mean
    * log-likelihood ratio ln p_target(b) − ln p_raw(b). High-weight docs
    * look like the target domain; resampling by this weight is the paper's
    * domain-upweighting step. The bucket hash is md5-derived so the oracle
    * verifies identical feature hashing, not just similar scores.
    *
    * Scale shape: this is the BEST-scaling model in the repo — both
    * distributions are aggregates over at most [[DsirBuckets]] keys, so the
    * model table is ≤1024 rows and BROADCASTS to the scoring join. Per-doc
    * bucket counts aggregate before any join (token stream collapses to at
    * most |doc|×min(len,1024) rows), and the weight terms sum as DECIMAL
    * (q95 rule) for order-independent totals. One data-sized shuffle
    * total. */
  def q98(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = documentsSpread(spark, dir)
      .select($"doc_id", $"lang",
        expr("filter(split(text, ' '), x -> length(x) > 0)").as("w"))
      .filter(size($"w") >= 2)
    val bg = toks.select($"doc_id", $"lang", explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), (a, b) -> concat(a, ' ', b))"))
        .as("bgm"))
      .select($"doc_id", $"lang",
        (conv(substring(md5($"bgm".cast("binary")), 1, 4), 16, 10).cast("long") % DsirBuckets).as("b"))
    // feeds the fused model aggregate AND the weight join; cached: cold
    // A/B, sf0.1, 4 cores, 10 fresh-JVM pairs — median 1.78 s cached vs
    // 2.69 s recomputed (IQR 0.23), cache won 10/10
    val db = bg.groupBy($"doc_id", $"lang", $"b").agg(count(lit(1)).as("c"))
      .cache()
    // r19: ONE fused bucket aggregate feeds target, raw AND the totals —
    // the former three separate db aggregations were three tokenize passes
    // whenever db was recomputed. Identical algebra: per-bucket
    // ct = Σc over lang='en' (0 where absent — exactly the old left-join
    // coalesce), cr = Σc; totals are sums of g's columns. A/B at sf0.1:
    // mins 1.67 → 1.40 s; oracle-proven at all three SFs.
    val g = db.groupBy($"b").agg(
      sum(when($"lang" === "en", $"c").otherwise(0L)).as("ct"),
      sum($"c").as("cr"))
    val tot = g.agg(sum($"ct").as("nt"), sum($"cr").as("nr"))
    val model = g.crossJoin(tot)
      .select($"b",
        (log(($"ct" + 1).cast("double") / ($"nt" + DsirBuckets)) -
          log(($"cr" + 1).cast("double") / ($"nr" + DsirBuckets))).as("lr"))
    db.join(broadcast(model), "b")
      .groupBy($"doc_id", $"lang")
      .agg(
        round(sum(($"c" * $"lr").cast("decimal(28,12)")).cast("double") / sum($"c"), 4)
          .as("dsir_logw"),
        sum($"c").as("n_bigrams"))
      .orderBy($"doc_id")
  }

  val q98Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 4))::BIGINT % $DsirBuckets AS b
       |  FROM (SELECT * FROM toks WHERE len(w) >= 2)
       |  CROSS JOIN UNNEST(range(1, len(w))) AS t(i)),
       |db AS (SELECT doc_id, lang, b, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3),
       |tgt AS (SELECT b, SUM(c)::BIGINT AS ct FROM db WHERE lang = 'en' GROUP BY 1),
       |raw AS (SELECT b, SUM(c)::BIGINT AS cr FROM db GROUP BY 1),
       |tot AS (SELECT SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END)::BIGINT AS nt,
       |               SUM(c)::BIGINT AS nr FROM db),
       |model AS (
       |  SELECT raw.b,
       |    ln((COALESCE(ct, 0) + 1)::DOUBLE / (nt + $DsirBuckets))
       |      - ln((cr + 1)::DOUBLE / (nr + $DsirBuckets)) AS lr
       |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot)
       |SELECT d.doc_id, d.lang,
       |  round(CAST(SUM(CAST(d.c * m.lr AS DECIMAL(28,12))) AS DOUBLE) / SUM(d.c), 4) AS dsir_logw,
       |  SUM(d.c)::BIGINT AS n_bigrams
       |FROM db d JOIN model m USING (b)
       |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q101
  /** Sample size for weighted sampling. */
  private[graft] val AesK = 50

  /** WEIGHTED SAMPLING WITHOUT REPLACEMENT (Efraimidis–Spirakis A-ES,
    * 2006): each row draws a deterministic hash-uniform u ∈ (0,1] and
    * competes with key ln(u)/w (order-equivalent to the paper's u^(1/w));
    * the global top-[[AesK]] keys are the sample. Weight = `n_chars`, so
    * longer documents are proportionally likelier — the standard way to
    * sample a fixed-size corpus slice with probability ∝ size in ONE
    * distributed pass, no per-partition reservoir state, no second scan.
    *
    * Scale shape: scan-shaped projection + TakeOrderedAndProject — the
    * same no-global-sort top-k discipline as q30/q84. Key is ROUNDED
    * before ranking with doc_id tie-break (q63 rule) so selection is
    * engine-exact. u comes from 32 md5 bits: u = (hv+1)/2^32 ∈ (0,1],
    * ln defined everywhere. */
  def q101(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hv = conv(substring(
      md5(concat(lit("aes|"), $"doc_id".cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("long")
    documents(spark, dir)
      .select($"doc_id", $"n_chars".as("weight"),
        round(log((hv + 1).cast("double") / 4294967296.0) / $"n_chars", 8).as("aes_key"))
      .orderBy($"aes_key".desc, $"doc_id")
      .limit(AesK)
  }

  val q101Sql: String =
    s"""SELECT doc_id, n_chars AS weight,
       |  round(ln((('0x' || substr(md5('aes|' || doc_id), 1, 8))::BIGINT + 1) / 4294967296.0)
       |        / n_chars, 8) AS aes_key
       |FROM documents
       |ORDER BY aes_key DESC, doc_id LIMIT $AesK""".stripMargin

  // ---------------------------------------------------------------- q109
  /** Exact per-stratum sample size. */
  private[graft] val StratumK = 20

  /** EXACT-SIZE STRATIFIED WEIGHTED SAMPLE: per language, exactly
    * min([[StratumK]], stratum size) documents drawn without replacement
    * with probability ∝ n_chars — q101's A-ES keys ranked per stratum
    * instead of globally. This is the complement of q58: q58's
    * hash-threshold form trades exact sizes for a scan-shaped plan; here
    * the per-stratum row_number window delivers EXACT sizes, and the
    * rank filter pushes down as WindowGroupLimit so each partition keeps
    * its running top-k before the shuffle — per-group top-k, never a
    * global sort. Ranking uses the ROUNDED key with doc_id tie-break
    * (q63 rule) for engine-exact selection. */
  def q109(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hv = conv(substring(
      md5(concat(lit("aes2|"), $"doc_id".cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("long")
    val keyed = documents(spark, dir)
      .select($"doc_id", $"lang", $"n_chars",
        round(log((hv + 1).cast("double") / 4294967296.0) / $"n_chars", 8).as("aes_key"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"aes_key".desc, $"doc_id")
    keyed.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= StratumK)
      .select($"lang", $"rk", $"doc_id", $"n_chars", $"aes_key")
      .orderBy($"lang", $"rk")
  }

  val q109Sql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, lang, n_chars,
       |    round(ln((('0x' || substr(md5('aes2|' || doc_id), 1, 8))::BIGINT + 1) / 4294967296.0)
       |          / n_chars, 8) AS aes_key
       |  FROM documents),
       |ranked AS (
       |  SELECT lang, doc_id, n_chars, aes_key,
       |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY aes_key DESC, doc_id) AS rk
       |  FROM keyed)
       |SELECT lang, rk, doc_id, n_chars, aes_key
       |FROM ranked WHERE rk <= $StratumK ORDER BY lang, rk""".stripMargin

  // ---------------------------------------------------------------- q127
  /** Weight-of-evidence (WOE) FEATURE BINNING: decile-bin `o_totalprice`,
    * label orders bad when finalized ('F'), and score each bin with
    * WOE = ln((good_i/good_total)/(bad_i/bad_total)) plus its information-
    * value contribution — the classic credit-scoring / feature-selection
    * transform a model-prep pipeline runs per candidate feature.
    *
    * Scale shape: deliberately NOT `ntile` over a global window (that is a
    * single-partition total sort). Bin edges come from one exact-percentile
    * aggregation (partial→final, a 9-double result), broadcast back so bin
    * assignment is a scan-shaped fold over the edge array; the WOE math runs
    * on a 10-row aggregate. Ties on an edge value compare identically on
    * both engines (same interpolated double, same `>`), so the binning is
    * deterministic without the window. */
  def q127(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // spreadIfNarrow: the exact-percentile partial (which buffers values)
    // and the per-row edge-array fold otherwise run in the one scan task
    val o = spreadIfNarrow(orders(spark, dir), $"o_orderkey")
    val edges = o.agg(
      expr("percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("edges"))
    val binned = o.crossJoin(broadcast(edges))
      .withColumn("bin",
        expr("1 + aggregate(edges, 0, (acc, e) -> acc + IF(o_totalprice > e, 1, 0))")
          .cast("long"))
      .withColumn("bad", when($"o_orderstatus" === "F", 1L).otherwise(0L))
    val agg = binned.groupBy($"bin").agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - sum($"bad")).as("n_good"),
      sum($"bad").as("n_bad"),
      round(min($"o_totalprice"), 2).as("lo"),
      round(max($"o_totalprice"), 2).as("hi"))
    val tot = agg.agg(sum($"n_bad").as("tb"), sum($"n_good").as("tg"))
    val woe = log(($"n_good" / $"tg") / ($"n_bad" / $"tb"))
    agg.crossJoin(broadcast(tot))
      .select($"bin", $"n", $"n_good", $"n_bad", $"lo", $"hi",
        round(woe, 6).as("woe"),
        round((($"n_good" / $"tg") - ($"n_bad" / $"tb")) * woe, 6).as("iv_part"))
      .orderBy($"bin")
  }

  val q127Sql: String =
    """WITH e AS (SELECT quantile_cont(o_totalprice,
      |             [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS edges FROM orders),
      |b AS (SELECT o.o_orderkey, o.o_totalprice,
      |        CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad,
      |        1 + len(list_filter(e.edges, x -> o.o_totalprice > x)) AS bin
      |      FROM orders o, e),
      |agg AS (SELECT bin, count(*) AS n,
      |          CAST(count(*) - sum(bad) AS BIGINT) AS n_good,
      |          CAST(sum(bad) AS BIGINT) AS n_bad,
      |          round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
      |        FROM b GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_bad) AS BIGINT) AS tb, CAST(sum(n_good) AS BIGINT) AS tg
      |        FROM agg)
      |SELECT a.bin, a.n, a.n_good, a.n_bad, a.lo, a.hi,
      |  round(ln((CAST(a.n_good AS DOUBLE)/t.tg) / (CAST(a.n_bad AS DOUBLE)/t.tb)), 6) AS woe,
      |  round(((CAST(a.n_good AS DOUBLE)/t.tg) - (CAST(a.n_bad AS DOUBLE)/t.tb))
      |        * ln((CAST(a.n_good AS DOUBLE)/t.tg) / (CAST(a.n_bad AS DOUBLE)/t.tb)), 6) AS iv_part
      |FROM agg a, tot t
      |ORDER BY a.bin""".stripMargin

  // ---------------------------------------------------------------- q156
  /** DETERMINISTIC corpus shuffle + sharding (training-order assignment):
    * every doc gets a shard (seeded hash mod n_shards) and a position
    * within its shard (rank of the seeded hash) — the reproducible
    * "shuffle the corpus, cut it into training shards" step every run of
    * a data pipeline must replay bit-identically.
    *
    * 100 TB shape: shard assignment is scan-shaped (one md5 per row, no
    * shuffle); the within-shard ordering is a window PARTITIONED by shard
    * — n_shards independent sorts that scale out with the shard count,
    * never a single global sort/row_number (at production shard counts —
    * thousands — each partition is corpus/n_shards, the size a training
    * loader wants anyway). Seed change ⇒ a completely different but
    * equally deterministic order. */
  def q156(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val key = md5(concat(lit("shuffle42|"), $"doc_id".cast("string")).cast("binary"))
    documents(spark, dir)
      .select($"doc_id", key.as("k"))
      .withColumn("shard",
        conv(substring($"k", 1, 4), 16, 10).cast("long") % 8)
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"shard")
          .orderBy($"k", $"doc_id")).cast("long"))
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  val q156Sql: String =
    """SELECT doc_id, shard, pos FROM (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('shuffle42|' || doc_id), 1, 4))::BIGINT % 8 AS shard,
      |    CAST(row_number() OVER (
      |      PARTITION BY ('0x' || substr(md5('shuffle42|' || doc_id), 1, 4))::BIGINT % 8
      |      ORDER BY md5('shuffle42|' || doc_id), doc_id) AS BIGINT) AS pos
      |  FROM documents)
      |ORDER BY shard, pos""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q156_corpus_shuffle"   -> q156,
    "q127_woe_binning"      -> q127,
    "q57_hash_split"        -> q57,
    "q58_stratified_sample" -> q58,
    "q83_mix_rebalance"     -> q83,
    "q98_dsir_weights"      -> q98,
    "q101_weighted_sample"  -> q101,
    "q109_stratified_exact" -> q109)

  val oracleSql: Map[String, String] = Map(
    "q156_corpus_shuffle"   -> q156Sql,
    "q127_woe_binning"      -> q127Sql,
    "q57_hash_split"        -> q57Sql,
    "q58_stratified_sample" -> q58Sql,
    "q83_mix_rebalance"     -> q83Sql,
    "q98_dsir_weights"      -> q98Sql,
    "q101_weighted_sample"  -> q101Sql,
    "q109_stratified_exact" -> q109Sql)
}
