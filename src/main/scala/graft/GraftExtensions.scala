package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import graft.plans.{CosineSimilarity, DotProduct, HyperplaneBandKeys, L2DistanceSq, NearestCentroid, SortedIntersectSize, TopKScoreId, VecSumCount}

/** SQL surface for the native expressions: install with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) and the vector/set primitives
  * become plain SQL functions —
  * {{{
  *   SELECT vec_cosine(a.embedding, b.embedding) FROM ...
  * }}}
  * This mirrors how the reference exposes its query surface as a declared
  * API (the SDK call signatures, ref `TencentVDB.py:45-49`): the DataFrame
  * builders in [[SparkEntry.entries]] and the SQL names here are the same
  * expressions, so `spark.sql` users get identical plans and codegen.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity of two array<double> vectors (0.0 on zero norm, null on dim mismatch)"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two array<double> vectors (null on dim mismatch)"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("vec_l2sq"),
      info("vec_l2sq", "vec_l2sq(a, b) - squared L2 distance of two array<double> vectors (null on dim mismatch)"),
      (children: Seq[Expression]) => L2DistanceSq(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("sorted_intersect_size"),
      info("sorted_intersect_size", "sorted_intersect_size(a, b) - |A ∩ B| of two sorted distinct array<string> sets"),
      (children: Seq[Expression]) => SortedIntersectSize(children(0), children(1))))
    ext.injectFunction((FunctionIdentifier("topk_score_id"),
      info("topk_score_id", "topk_score_id(score, id, k) - aggregate: k best (score DESC, id ASC) pairs as array<struct<vec_id, score>>"),
      (children: Seq[Expression]) => {
        if (children.size != 3) throw new IllegalArgumentException(
          s"topk_score_id expects 3 arguments (score, id, k), got ${children.size}")
        val k = children(2) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"topk_score_id: k must be an integer literal, got $other")
        }
        TopKScoreId(children(0), children(1), k)
      }))
    ext.injectFunction((FunctionIdentifier("space_saving_topk"),
      info("space_saving_topk", "space_saving_topk(term, m) - aggregate: SpaceSaving heavy-hitter sketch, at most m (term, count, err) entries as array<struct<term, count, err>> sorted count DESC"),
      (children: Seq[Expression]) => {
        if (children.size != 2) throw new IllegalArgumentException(
          s"space_saving_topk expects 2 arguments (term, m), got ${children.size}")
        val m = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"space_saving_topk: m must be an integer literal, got $other")
        }
        graft.plans.SpaceSavingTopK(children(0), m)
      }))
    ext.injectFunction((FunctionIdentifier("qdigest_quantiles"),
      info("qdigest_quantiles", "qdigest_quantiles(value, levels, capacity, probs) - aggregate: q-digest quantile sketch over [0, 2^levels); returns struct<qs: array<bigint>, internal: boolean, n: bigint> with one lower-quantile estimate per prob; exact (internal=false) while distinct values fit the capacity"),
      (children: Seq[Expression]) => {
        if (children.size != 4) throw new IllegalArgumentException(
          s"qdigest_quantiles expects 4 arguments (value, levels, capacity, probs), got ${children.size}")
        val probs = children(3) match {
          case org.apache.spark.sql.catalyst.expressions.CreateArray(elems, _) =>
            elems.map {
              case Literal(d: Double, _) => d
              case Literal(d: org.apache.spark.sql.types.Decimal, _) => d.toDouble
              case other => throw new IllegalArgumentException(
                s"qdigest_quantiles: probs must be double literals, got $other")
            }
          case other => throw new IllegalArgumentException(
            s"qdigest_quantiles: probs must be an array literal, got $other")
        }
        graft.plans.QDigestQuantiles(children(0),
          constInt(children(1), "levels"), constInt(children(2), "capacity"), probs)
      }))
    ext.injectFunction((FunctionIdentifier("vec_sum_count"),
      info("vec_sum_count", "vec_sum_count(v) - aggregate: element-wise sums + row count of array<double> vectors as struct<sums, n> (centroid = sums[i]/n)"),
      (children: Seq[Expression]) => VecSumCount(children(0))))
    ext.injectFunction((FunctionIdentifier("vec_band_keys"),
      info("vec_band_keys", "vec_band_keys(v, planes, bands, rows_per_band) - all LSH band keys of an array<double> vector; planes is a constant row-major (bands*rows)xdim array<double>"),
      (children: Seq[Expression]) => {
        if (children.size != 4) throw new IllegalArgumentException(
          s"vec_band_keys expects 4 arguments, got ${children.size}")
        HyperplaneBandKeys(children(0), constDoubles(children(1), "planes"),
          constInt(children(2), "bands"), constInt(children(3), "rows_per_band"))
      }))
    ext.injectFunction((FunctionIdentifier("vec_nearest_centroid"),
      info("vec_nearest_centroid", "vec_nearest_centroid(v, centroids, k) - index of the max-cosine centroid; centroids is a constant row-major kxdim array<double>"),
      (children: Seq[Expression]) => {
        if (children.size != 3) throw new IllegalArgumentException(
          s"vec_nearest_centroid expects 3 arguments, got ${children.size}")
        NearestCentroid(children(0), constDoubles(children(1), "centroids"),
          constInt(children(2), "k"))
      }))
    ext.injectFunction((FunctionIdentifier("text_nfc"),
      info("text_nfc", "text_nfc(s) - Unicode NFC canonical normalization (ASCII rows returned untouched)"),
      (children: Seq[Expression]) => graft.plans.NfcNormalize(children.head)))
    ext.injectFunction((FunctionIdentifier("text_fold_accents"),
      info("text_fold_accents", "text_fold_accents(s) - NFD + drop marks: accent-insensitive match key (é→e, ñ→n; ligatures pass through)"),
      (children: Seq[Expression]) => graft.plans.AccentFold(children.head)))
    ext.injectFunction((FunctionIdentifier("nav_tree_explode"),
      info("nav_tree_explode", "nav_tree_explode(json) - table function: flatten a nested {title, link, children} nav tree into (title, url, depth) rows at any depth"),
      (children: Seq[Expression]) => graft.plans.NavTreeExplode(children(0))))
    ext.injectFunction((FunctionIdentifier("bloom_might_contain"),
      info("bloom_might_contain", "bloom_might_contain(key, words, m) - membership of key against an m-bit bloom filter's bigint word array (as built by BloomFunctions / the bloom store): no false negatives, ~1e-3 false positives at 16 bits/key"),
      (children: Seq[Expression]) => {
        if (children.size != 3) throw new IllegalArgumentException(
          s"bloom_might_contain expects 3 arguments (key, words, m), got ${children.size}")
        val m = children(2) match {
          case Literal(v: Long, _) => v
          case Literal(v: Int, _) => v.toLong
          case other => throw new IllegalArgumentException(
            s"bloom_might_contain: m must be an integer literal, got $other")
        }
        require((m & (m - 1)) == 0 && m >= 64, s"m must be a power of two >= 64, got $m")
        // the same probe arithmetic as BloomFunctions.mightContain,
        // assembled at the Expression layer (a Column tree cannot be
        // returned through a FunctionBuilder)
        import org.apache.spark.sql.catalyst.expressions._
        import org.apache.spark.sql.types.IntegerType
        val key = children(0)
        val words = children(1)
        (0 until graft.functions.BloomFunctions.NumHashes).map { i =>
          val pos = BitwiseAnd(new XxHash64(Seq(key, Literal(i.toLong))), Literal(m - 1L))
          val wordIdx = Add(Cast(IntegralDivide(pos, Literal(64L)), IntegerType), Literal(1))
          val word = ElementAt(words, wordIdx)
          val bit = Cast(Remainder(pos, Literal(64L)), IntegerType)
          EqualTo(BitwiseAnd(ShiftRight(word, bit), Literal(1L)), Literal(1L))
        }.reduce[Expression](And(_, _))
      }))
    // `ORDER BY vec_cosine(…) DESC LIMIT k` → bounded-heap TopKScoreId:
    // the ad-hoc SQL knn form gets the executor-side-merge plan instead of
    // TakeOrderedAndProject's k×partitions driver merge (see the rule).
    ext.injectOptimizerRule(_ => graft.plans.CosineTopKRule)
  }

  // The matrix arguments are model constants (like a broadcast ML model),
  // so they must be foldable at registration: array literals fold to one
  // reference object instead of an expression forest per row.
  private def constDoubles(e: Expression, name: String): Seq[Double] = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$name must be a constant array<double> literal")
    e.eval() match {
      case a: ArrayData => a.toObjectArray(org.apache.spark.sql.types.DoubleType)
        .map(v => v.asInstanceOf[Number].doubleValue()).toSeq
      case other => throw new IllegalArgumentException(
        s"$name must evaluate to an array, got $other")
    }
  }

  private def constInt(e: Expression, name: String): Int = {
    if (!e.foldable) throw new IllegalArgumentException(s"$name must be a constant integer")
    e.eval().asInstanceOf[Number].intValue()
  }
}
