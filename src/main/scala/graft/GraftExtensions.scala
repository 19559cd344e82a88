package graft

import graft.plans.{AsOfJoinStrategy, BandJoinRule, FloatVecDot, HashEmbed, LongVecDot, LongVecNearest, LongVecNearestCell, LongVecSqDist, MinHashSig, SelfIntersectRule, ShingleHash60P, SimHash32, SortedLongIntersectCount}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook registering graft's native expressions, so
  * any session — including plain `spark-submit --conf
  * spark.sql.extensions=graft.GraftExtensions` — can call them from SQL:
  *
  *   SELECT graft_dot(a.embedding, b.embedding) FROM ...
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Extract a foldable numeric argument (int, long, double or decimal
    * literal all accepted), failing with a clear message instead of a
    * ClassCastException/NPE when the argument is non-foldable or
    * non-numeric.
    */
  private def foldableNum(e: Expression, fn: String, what: String): Double = {
    require(e.foldable, s"$fn: $what must be a foldable literal, got ${e.sql}")
    e.eval(null) match {
      case n: java.lang.Number => n.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case null => throw new IllegalArgumentException(
        s"$fn: $what must not be NULL")
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be numeric, got ${other.getClass.getSimpleName}")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, null, "graft_dot"),
      (children: Seq[Expression]) => FloatVecDot(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_intersect_count"),
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName, null,
        "graft_intersect_count"),
      (children: Seq[Expression]) =>
        SortedLongIntersectCount(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_sqdist_l"),
      new ExpressionInfo(classOf[LongVecSqDist].getName, null, "graft_sqdist_l"),
      (children: Seq[Expression]) => LongVecSqDist(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot_l"),
      new ExpressionInfo(classOf[LongVecDot].getName, null, "graft_dot_l"),
      (children: Seq[Expression]) => LongVecDot(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_nearest_l"),
      new ExpressionInfo(classOf[LongVecNearest].getName, null, "graft_nearest_l"),
      (children: Seq[Expression]) => LongVecNearest(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_nearest_cell_l"),
      new ExpressionInfo(classOf[LongVecNearestCell].getName, null,
        "graft_nearest_cell_l"),
      (children: Seq[Expression]) =>
        LongVecNearestCell(children.head, children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, null, "graft_minhash_sig"),
      (children: Seq[Expression]) => MinHashSig(children.head,
        children(1).eval(null).asInstanceOf[Int])))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHash60P].getName, null, "graft_shingle_hashes"),
      (children: Seq[Expression]) => ShingleHash60P(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_hash_embed"),
      new ExpressionInfo(classOf[HashEmbed].getName, null, "graft_hash_embed"),
      (children: Seq[Expression]) => HashEmbed(children.head,
        children(1).eval(null).asInstanceOf[Int])))
    ext.injectFunction((
      new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[graft.plans.LongTopK].getName, null, "graft_topk"),
      (children: Seq[Expression]) => graft.plans.LongTopK(children.head,
        children(1).eval(null).asInstanceOf[Int])
        .toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("graft_kmv"),
      new ExpressionInfo(classOf[graft.plans.KmvSketch].getName, null,
        "graft_kmv"),
      (children: Seq[Expression]) => {
        val kd = foldableNum(children(1), "graft_kmv", "k")
        require(kd == math.rint(kd) && kd >= 1 && kd <= Int.MaxValue,
          s"graft_kmv: k must be a positive whole number, got $kd")
        graft.plans.KmvSketch(children.head, kd.toInt)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom"),
      new ExpressionInfo(classOf[graft.plans.BloomSketch].getName, null,
        "graft_bloom"),
      (children: Seq[Expression]) => {
        val m = foldableNum(children(1), "graft_bloom", "m")
        val k = foldableNum(children(2), "graft_bloom", "k")
        require(m == math.rint(m) && m >= 8 && m % 8 == 0,
          s"graft_bloom: m must be a positive whole multiple of 8 bits, got $m")
        require(k == math.rint(k) && k >= 1 && k <= graft.plans.BloomOps.MaxK,
          s"graft_bloom: k must be a whole number in [1, " +
            s"${graft.plans.BloomOps.MaxK}], got $k")
        graft.plans.BloomSketch(children.head, m.toInt, k.toInt)
          .toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[graft.plans.BloomContains].getName, null,
        "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        val k = foldableNum(children(2), "graft_bloom_contains", "k")
        require(k == math.rint(k) && k >= 1 && k <= graft.plans.BloomOps.MaxK,
          s"graft_bloom_contains: k must be a whole number in [1, " +
            s"${graft.plans.BloomOps.MaxK}], got $k")
        graft.plans.BloomContains(children.head, children(1), k.toInt)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_count"),
      new ExpressionInfo(classOf[graft.plans.BloomCountContained].getName, null,
        "graft_bloom_count"),
      (children: Seq[Expression]) => {
        val k = foldableNum(children(2), "graft_bloom_count", "k")
        require(k == math.rint(k) && k >= 1 && k <= graft.plans.BloomOps.MaxK,
          s"graft_bloom_count: k must be a whole number in [1, " +
            s"${graft.plans.BloomOps.MaxK}], got $k")
        graft.plans.BloomCountContained(children.head, children(1), k.toInt)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hll_est"),
      new ExpressionInfo(classOf[graft.plans.HllEstimate].getName, null,
        "graft_hll_est"),
      (children: Seq[Expression]) => graft.plans.HllEstimate(children.head)
        .toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("graft_qhist"),
      new ExpressionInfo(classOf[graft.plans.QhistQuantiles].getName, null,
        "graft_qhist"),
      (children: Seq[Expression]) => graft.plans.QhistQuantiles(children.head,
        foldableNum(children(1), "graft_qhist", "width"),
        children.drop(2).zipWithIndex.map { case (c, i) =>
          foldableNum(c, "graft_qhist", s"percentile #${i + 1}") })
        .toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("graft_isotonic"),
      new ExpressionInfo(classOf[graft.plans.IsotonicFit].getName, null,
        "graft_isotonic"),
      (children: Seq[Expression]) => graft.plans.IsotonicFit(children(0),
        children(1), children(2)).toAggregateExpression()))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, null, "graft_simhash32"),
      (children: Seq[Expression]) => SimHash32(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_char_trigrams"),
      new ExpressionInfo(classOf[graft.plans.CharTrigrams].getName, null,
        "graft_char_trigrams"),
      (children: Seq[Expression]) => graft.plans.CharTrigrams(children.head,
        children(1).eval(null).asInstanceOf[Boolean])))
    ext.injectFunction((
      new FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[graft.plans.Winnow].getName, null,
        "graft_winnow"),
      (children: Seq[Expression]) => graft.plans.Winnow(children.head,
        children(1).eval(null).asInstanceOf[Int],
        children(2).eval(null).asInstanceOf[Int])))
    ext.injectFunction((
      new FunctionIdentifier("graft_pos_grams"),
      new ExpressionInfo(classOf[graft.plans.PosGrams].getName, null,
        "graft_pos_grams"),
      (children: Seq[Expression]) => graft.plans.PosGrams(children.head,
        children(1).eval(null).asInstanceOf[Int])))
    ext.injectFunction((
      new FunctionIdentifier("graft_gopher_stats"),
      new ExpressionInfo(classOf[graft.plans.GopherStats].getName, null,
        "graft_gopher_stats"),
      (children: Seq[Expression]) => graft.plans.GopherStats(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_contain_count"),
      new ExpressionInfo(classOf[graft.plans.SortedLongContainCount].getName, null,
        "graft_contain_count"),
      (children: Seq[Expression]) => graft.plans.SortedLongContainCount(
        children.head, children(1),
        children(2).eval(null).asInstanceOf[Int],
        children(3).eval(null).asInstanceOf[Int])))
    ext.injectFunction((
      new FunctionIdentifier("graft_word_bigrams"),
      new ExpressionInfo(classOf[graft.plans.WordBigrams].getName, null,
        "graft_word_bigrams"),
      (children: Seq[Expression]) => graft.plans.WordBigrams(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[graft.plans.RollingFp].getName, null,
        "graft_fingerprint"),
      (children: Seq[Expression]) => graft.plans.RollingFp(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_token_set_hits"),
      new ExpressionInfo(classOf[graft.plans.TokenSetHits].getName, null,
        "graft_token_set_hits"),
      (children: Seq[Expression]) => graft.plans.TokenSetHits(children.head,
        children(1).eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
          .toString)))
    ext.injectFunction((
      new FunctionIdentifier("graft_word_tri_stats"),
      new ExpressionInfo(classOf[graft.plans.WordTriStats].getName, null,
        "graft_word_tri_stats"),
      (children: Seq[Expression]) => graft.plans.WordTriStats(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_chunks"),
      new ExpressionInfo(classOf[graft.plans.Chunks].getName, null,
        "graft_chunks"),
      (children: Seq[Expression]) => graft.plans.Chunks(children.head,
        children(1).eval(null).asInstanceOf[Int],
        children(2).eval(null).asInstanceOf[Int])))
    ext.injectFunction((
      new FunctionIdentifier("graft_token_bigrams"),
      new ExpressionInfo(classOf[graft.plans.TokenCharBigrams].getName, null,
        "graft_token_bigrams"),
      (children: Seq[Expression]) =>
        graft.plans.TokenCharBigrams(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_bpe_encode"),
      new ExpressionInfo(classOf[graft.plans.BpeEncodeStats].getName, null,
        "graft_bpe_encode"),
      (children: Seq[Expression]) => graft.plans.BpeEncodeStats(children.head,
        children(1).eval(null).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
          .toString)))
    ext.injectFunction((
      new FunctionIdentifier("graft_ordered_pairs"),
      new ExpressionInfo(classOf[graft.plans.LongOrderedPairs].getName, null,
        "graft_ordered_pairs"),
      (children: Seq[Expression]) => graft.plans.LongOrderedPairs(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_lsh_buckets"),
      new ExpressionInfo(classOf[graft.plans.LshBuckets].getName, null,
        "graft_lsh_buckets"),
      (children: Seq[Expression]) => graft.plans.LshBuckets(children.head,
        children(1).eval(null).asInstanceOf[Int],
        children(2).eval(null).asInstanceOf[Int])))
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => SelfIntersectRule)
    ext.injectOptimizerRule(_ => BandJoinRule)
  }
}
