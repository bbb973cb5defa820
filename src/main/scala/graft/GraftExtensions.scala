package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{CosineSimilarity, IcebergBucket, MinHashSignature, NormalizeText}

/** Session-extensions hook — the engine's analogue of the reference's
  * `spark.sql.extensions = IcebergSparkSessionExtensions` line
  * (`main.tf:803`): registers the custom Catalyst functions with SQL, the
  * row-level SQL DML rewrite (UPDATE / MERGE INTO / full-expression
  * DELETE) over graft catalog tables, views, row filters and column masks,
  * and the metadata-only and materialized-aggregate rewrites. The read
  * path is the catalog's ([[graft.plans.GraftNativeScan]]), as in Iceberg.
  *
  * {{{
  *   spark.sql.extensions = graft.GraftExtensions
  *   SELECT cosine_sim(a.embedding, b.embedding) FROM ...
  *   SELECT doc_id, minhash_sig(shingle, 12) FROM ... GROUP BY doc_id
  *   UPDATE graft.db.t SET qty = qty + 1 WHERE id = 7
  *   MERGE INTO graft.db.t t USING src s ON t.id = s.id
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(session => graft.catalog.GraftSqlDml(session))
    // MERGE ... WITH SCHEMA EVOLUTION: evolve the graft target (add columns,
    // loss-free widenings) in the first analyzer batch, while the merge is
    // still unresolved — star expansion then sees the evolved schema
    ext.injectHintResolutionRule(session => graft.catalog.GraftMergeEvolution(session))
    // SQL views over the graft ViewCatalog (stock Spark 4 has no V2 view
    // path — see graft.catalog.GraftViewSupport): DDL intercepted in the
    // early batch, reads late-bound in the resolution batch
    ext.injectHintResolutionRule(session => graft.catalog.GraftViewDdl(session))
    ext.injectResolutionRule(session => graft.catalog.GraftViewRead(session))
    // row filters + column masks (graft.filter / graft.mask.<col> table
    // properties): hint batch catches top-level relations while still
    // unresolved; the resolution-batch copy catches relations spliced in
    // late by view expansion — a view over a governed table is governed
    ext.injectHintResolutionRule(session => graft.catalog.GraftGovernance(session))
    ext.injectResolutionRule(session => graft.catalog.GraftGovernance(session))
    // metadata-only COUNT(*) from snapshot-log row counts
    ext.injectOptimizerRule(session => graft.plans.GraftMetadataAggregate(session))
    // transparent materialized-aggregate rewrite (exact + fresh only)
    ext.injectOptimizerRule(session => graft.plans.GraftMvRewrite(session))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_sim(arrayFloat, arrayFloat)")
        CosineSimilarity(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NormalizeText].getName, "nfc_normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "nfc_normalize(string)")
        NormalizeText(args(0))
      }))
    // Iceberg's system.bucket, SQL-callable (the spec murmur3 — lets users
    // precompute/debug the partition value of `iceberg_bucket(n, col)`)
    ext.injectFunction((
      FunctionIdentifier("iceberg_bucket"),
      new ExpressionInfo(classOf[IcebergBucket].getName, "iceberg_bucket"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "iceberg_bucket(n, col)")
        val n = args(0) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"iceberg_bucket n must be an int literal, got $other")
        }
        IcebergBucket(args(1), n)
      }))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[graft.functions.JaroWinkler].getName, "jaro_winkler"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "jaro_winkler(string, string)")
        graft.functions.JaroWinkler(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "minhash_sig(value, numHashes)")
        val k = args(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"minhash_sig numHashes must be an int literal, got $other")
        }
        MinHashSignature(args(0), k)
      }))

    // ---- the sketch family, SQL-callable (aggregates + extractors +
    // theta set algebra): the full summary toolkit from plain SQL, the
    // way the reference stack's users would reach it
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an int literal, got $other")
    }
    ext.injectFunction((
      FunctionIdentifier("theta_sketch"),
      new ExpressionInfo(classOf[graft.functions.ThetaSketchAgg].getName, "theta_sketch"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.ThetaSketchAgg(c, graft.functions.ThetaSketch.DefaultK)
        case Seq(c, k) => graft.functions.ThetaSketchAgg(c, intLit(k, "theta_sketch k"))
        case _ => throw new IllegalArgumentException("theta_sketch(col[, k])")
      }))
    ext.injectFunction((
      FunctionIdentifier("theta_estimate"),
      new ExpressionInfo(classOf[graft.functions.ThetaEstimate].getName, "theta_estimate"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "theta_estimate(sketch)")
        graft.functions.ThetaEstimate(args.head)
      }))
    Seq("union", "intersect", "a_not_b").foreach { op =>
      ext.injectFunction((
        FunctionIdentifier(s"theta_$op"),
        new ExpressionInfo(classOf[graft.functions.ThetaSetOp].getName, s"theta_$op"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"theta_$op(sketchA, sketchB)")
          graft.functions.ThetaSetOp(args(0), args(1), op)
        }))
    }
    ext.injectFunction((
      FunctionIdentifier("bounded_set"),
      new ExpressionInfo(classOf[graft.functions.BoundedSetAgg].getName, "bounded_set"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.BoundedSetAgg(c, 64, 256)
        case Seq(c, cap) => graft.functions.BoundedSetAgg(c,
          intLit(cap, "bounded_set cap"), 256)
        case Seq(c, cap, len) => graft.functions.BoundedSetAgg(c,
          intLit(cap, "bounded_set cap"), intLit(len, "bounded_set max_len"))
        case _ => throw new IllegalArgumentException("bounded_set(col[, cap[, max_len]])")
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_sketch"),
      new ExpressionInfo(classOf[graft.functions.KllSketchAgg].getName, "kll_sketch"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.KllSketchAgg(c, graft.functions.KllSketch.DefaultK)
        case Seq(c, k) => graft.functions.KllSketchAgg(c, intLit(k, "kll_sketch k"))
        case _ => throw new IllegalArgumentException("kll_sketch(col[, k])")
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_merge"),
      new ExpressionInfo(classOf[graft.functions.KllMergeAgg].getName, "kll_merge"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "kll_merge(sketchCol)")
        graft.functions.KllMergeAgg(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("theta_union_agg"),
      new ExpressionInfo(classOf[graft.functions.ThetaUnionAgg].getName, "theta_union_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "theta_union_agg(sketchCol)")
        graft.functions.ThetaUnionAgg(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("kll_quantile"),
      new ExpressionInfo(classOf[graft.functions.KllQuantile].getName, "kll_quantile"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "kll_quantile(sketch, p)")
        val p = args(1) match {
          case Literal(v: Double, _) => v
          case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
          case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
          case other => throw new IllegalArgumentException(
            s"kll_quantile p must be a numeric literal, got $other")
        }
        graft.functions.KllQuantile(args(0), p)
      }))
    // exact bitmap distinct family (the theta family's zero-error twin for
    // integral keys — see graft.functions.BitmapDistinct)
    ext.injectFunction((
      FunctionIdentifier("bitmap_agg"),
      new ExpressionInfo(classOf[graft.functions.BitmapAgg].getName, "bitmap_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "bitmap_agg(integralCol)")
        graft.functions.BitmapAgg(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("bitmap_union_agg"),
      new ExpressionInfo(classOf[graft.functions.BitmapUnionAgg].getName, "bitmap_union_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "bitmap_union_agg(blobCol)")
        graft.functions.BitmapUnionAgg(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("bitmap_count"),
      new ExpressionInfo(classOf[graft.functions.BitmapCount].getName, "bitmap_count"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "bitmap_count(blob)")
        graft.functions.BitmapCount(args.head)
      }))
    Seq("or", "and", "andnot").foreach { op =>
      ext.injectFunction((
        FunctionIdentifier(s"bitmap_$op"),
        new ExpressionInfo(classOf[graft.functions.BitmapSetOp].getName, s"bitmap_$op"),
        (args: Seq[Expression]) => {
          require(args.length == 2, s"bitmap_$op(blobA, blobB)")
          graft.functions.BitmapSetOp(args(0), args(1), op)
        }))
    }
    ext.injectFunction((
      FunctionIdentifier("freq_sketch"),
      new ExpressionInfo(classOf[graft.functions.FreqSketchAgg].getName, "freq_sketch"),
      (args: Seq[Expression]) => args match {
        case Seq(c) => graft.functions.FreqSketchAgg(c, graft.functions.FreqSketch.DefaultK)
        case Seq(c, k) => graft.functions.FreqSketchAgg(c, intLit(k, "freq_sketch k"))
        case _ => throw new IllegalArgumentException("freq_sketch(col[, k])")
      }))
    ext.injectFunction((
      FunctionIdentifier("freq_top"),
      new ExpressionInfo(classOf[graft.functions.FreqTop].getName, "freq_top"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "freq_top(sketch, limit)")
        graft.functions.FreqTop(args(0), intLit(args(1), "freq_top limit"))
      }))
    ext.injectFunction((
      FunctionIdentifier("freq_top_array"),
      new ExpressionInfo(classOf[graft.functions.FreqTopArray].getName, "freq_top_array"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "freq_top_array(sketch, limit)")
        graft.functions.FreqTopArray(args(0), intLit(args(1), "freq_top_array limit"))
      }))
  }
}
