package graft.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression: cosine similarity over two
  * `ArrayType(Float|Double)` columns — the SURVEY §7.3 "custom Catalyst"
  * path (preference (b) in the builder brief: a codegen'd `Expression`
  * beats both the higher-order-function compose and any UDF).
  *
  * Why native: the `zip_with`+`aggregate` composition in
  * [[graft.functions.VectorFunctions]] allocates an intermediate array
  * per row and evaluates three separate folds (dot, ‖a‖², ‖b‖²); this
  * expression runs ONE fused loop with no allocation, inside whole-stage
  * codegen — at 100 TB of 768-d embeddings the difference is the scan's
  * CPU bound. Semantics match the HOF path bit-for-bit (sequential
  * accumulation in f64).
  *
  * Null contract: null if either array is null, if lengths differ, if
  * ANY element is null (matching the zip_with/aggregate composition,
  * where a null product nulls the fold), or if either norm is zero.
  */
final case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  private def isNumericArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isNumericArray(left.dataType) && isNumericArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine requires array<float|double> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val xf = elemIsFloat(left)
    val yf = elemIsFloat(right)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val yGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val denom = ctx.freshName("denom")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |    } else {
         |      final double xv = (double) $x.$xGet($i);
         |      final double yv = (double) $y.$yGet($i);
         |      $dot += xv * yv;
         |      $na += xv * xv;
         |      $nb += yv * yv;
         |    }
         |  }
         |  if (!${ev.isNull}) {
         |    final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    if ($denom == 0.0) {
         |      ${ev.isNull} = true;
         |    } else {
         |      ${ev.value} = $dot / $denom;
         |    }
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Session extension registering the graft function surface
  * (`spark.sql.extensions=graft.expressions.GraftExtensions`, wired in
  * GraftSession so SQL, Column and Python callers all see it), the
  * bounded-heap top-k planner strategy
  * ([[graft.plans.TopKPerKey.TopKPerKeyStrategy]]), the SQL MERGE / DDL
  * surface ([[graft.plans.SqlMerge]]) and the filter-constant rule
  * ([[graft.plans.ParameterizeFilters]]). */
final class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_cosine(a, b) takes exactly 2 arguments")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_lsh_bands"),
      new ExpressionInfo(classOf[LshBands].getName, "graft_lsh_bands"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_lsh_bands(embedding, nBands, bandBits) takes exactly 3 arguments")
        def lit(e: Expression, what: String): Int = e match {
          case l if l.foldable && l.dataType == IntegerType =>
            // a NULL int literal is foldable; unboxing it would silently
            // become 0 and surface as a confusing bounds error
            Option(l.eval()).map(_.asInstanceOf[Int]).getOrElse(
              throw new IllegalArgumentException(
                s"graft_lsh_bands: $what must not be NULL"))
          case _ => throw new IllegalArgumentException(
            s"graft_lsh_bands: $what must be an INT literal, got $e")
        }
        LshBands(children.head, lit(children(1), "nBands"), lit(children(2), "bandBits"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_ivf_assign"),
      new ExpressionInfo(classOf[IvfAssign].getName, "graft_ivf_assign"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_ivf_assign(embedding, nlist) takes exactly 2 arguments")
        val nlist = children(1) match {
          case l if l.foldable && l.dataType == IntegerType =>
            Option(l.eval()).map(_.asInstanceOf[Int]).getOrElse(
              throw new IllegalArgumentException("graft_ivf_assign: nlist must not be NULL"))
          case other => throw new IllegalArgumentException(
            s"graft_ivf_assign: nlist must be an INT literal, got $other")
        }
        IvfAssign(children.head, nlist)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_argmin_sq"),
      new ExpressionInfo(classOf[ArgminSq].getName, "graft_argmin_sq"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_argmin_sq(vec, cents) takes exactly 2 arguments")
        ArgminSq(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_fuzzy_tf"),
      new ExpressionInfo(classOf[FuzzyTokenCount].getName, "graft_fuzzy_tf"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_fuzzy_tf(tokens, term, maxEdits) takes exactly 3 arguments")
        def strLit(e: Expression): String = e match {
          case l if l.foldable && l.dataType == StringType =>
            Option(l.eval()).map(_.toString).getOrElse(
              throw new IllegalArgumentException("graft_fuzzy_tf: term must not be NULL"))
          case other => throw new IllegalArgumentException(
            s"graft_fuzzy_tf: term must be a STRING literal, got $other")
        }
        def intLit(e: Expression): Int = e match {
          case l if l.foldable && l.dataType == IntegerType =>
            Option(l.eval()).map(_.asInstanceOf[Int]).getOrElse(
              throw new IllegalArgumentException("graft_fuzzy_tf: maxEdits must not be NULL"))
          case other => throw new IllegalArgumentException(
            s"graft_fuzzy_tf: maxEdits must be an INT literal, got $other")
        }
        FuzzyTokenCount(children.head, strLit(children(1)), intLit(children(2)))
      }))
    def unary(name: String, clazz: Class[_], mk: Expression => Expression): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        (children: Seq[Expression]) => {
          require(children.size == 1, s"$name takes exactly 1 argument")
          mk(children.head)
        }))
    unary("graft_str_fp", classOf[StringFp], StringFp.apply)
    unary("graft_word_fps", classOf[WordFps], WordFps.apply)
    unary("graft_shingle_set", classOf[ShingleSet], ShingleSet.apply)
    unary("graft_shingle_hash64", classOf[ShingleHash64], ShingleHash64.apply)
    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashesK].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_shingle_hashes(tokens, k) takes exactly 2 arguments")
        val k = children(1) match {
          case l if l.foldable && l.dataType == IntegerType =>
            Option(l.eval()).map(_.asInstanceOf[Int]).getOrElse(
              throw new IllegalArgumentException(
                "graft_shingle_hashes: k must not be NULL"))
          case other => throw new IllegalArgumentException(
            s"graft_shingle_hashes: k must be an INT literal, got $other")
        }
        ShingleHashesK(children.head, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_fps"),
      new ExpressionInfo(classOf[ShingleFpsK].getName, "graft_shingle_fps"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_shingle_fps(tokens, k) takes exactly 2 arguments")
        val k = children(1) match {
          case l if l.foldable && l.dataType == IntegerType =>
            Option(l.eval()).map(_.asInstanceOf[Int]).getOrElse(
              throw new IllegalArgumentException(
                "graft_shingle_fps: k must not be NULL"))
          case other => throw new IllegalArgumentException(
            s"graft_shingle_fps: k must be an INT literal, got $other")
        }
        ShingleFpsK(children.head, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashSig].getName, "graft_minhash"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_minhash(fps, 'a1,b1;a2,b2;…') takes exactly 2 arguments")
        val spec = children(1) match {
          case l if l.foldable && l.dataType == StringType =>
            Option(l.eval()).map(_.toString).getOrElse(
              throw new IllegalArgumentException("graft_minhash: params must not be NULL"))
          case other => throw new IllegalArgumentException(
            s"graft_minhash: params must be a STRING literal 'a1,b1;a2,b2;…', got $other")
        }
        val pairs = spec.split(';').map { p =>
          val ab = p.split(',')
          require(ab.length == 2, s"graft_minhash: bad (a,b) pair '$p'")
          (ab(0).trim.toLong, ab(1).trim.toLong)
        }
        MinhashSig(children.head, pairs.map(_._1), pairs.map(_._2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_stopword_stats"),
      new ExpressionInfo(classOf[StopwordStats].getName, "graft_stopword_stats"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_stopword_stats(tokens, 'w1,w2,…') takes exactly 2 arguments")
        val spec = children(1) match {
          case l if l.foldable && l.dataType == StringType =>
            Option(l.eval()).map(_.toString).getOrElse(
              throw new IllegalArgumentException(
                "graft_stopword_stats: stopwords must not be NULL"))
          case other => throw new IllegalArgumentException(
            s"graft_stopword_stats: stopwords must be a STRING literal 'w1,w2,…', got $other")
        }
        StopwordStats(children.head, spec.split(',').map(_.trim).filter(_.nonEmpty))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimhashBits].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_simhash(fps, nBits) takes exactly 2 arguments")
        val nBits = children(1) match {
          case l if l.foldable && l.dataType == IntegerType =>
            Option(l.eval()).map(_.asInstanceOf[Int]).getOrElse(
              throw new IllegalArgumentException("graft_simhash: nBits must not be NULL"))
          case other => throw new IllegalArgumentException(
            s"graft_simhash: nBits must be an INT literal, got $other")
        }
        SimhashBits(children.head, nBits)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_topk_freq"),
      new ExpressionInfo(classOf[TopKFreq].getName, "graft_topk_freq"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_topk_freq(item, k, capacity) takes exactly 3 arguments")
        def intLit(e: Expression, what: String): Int = e match {
          case l if l.foldable && l.dataType == IntegerType =>
            Option(l.eval()).map(_.asInstanceOf[Int]).getOrElse(
              throw new IllegalArgumentException(s"graft_topk_freq: $what must not be NULL"))
          case other => throw new IllegalArgumentException(
            s"graft_topk_freq: $what must be an INT literal, got $other")
        }
        // the analyzer wraps a bare AggregateFunction into its
        // AggregateExpression during resolution
        TopKFreq(children.head, intLit(children(1), "k"), intLit(children(2), "capacity"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bpe_merge"),
      new ExpressionInfo(classOf[BpeMergeRound].getName, "graft_bpe_merge"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_bpe_merge(tokens, lhs, rhs) takes exactly 3 arguments")
        def strLit(e: Expression, what: String): String = e match {
          case l if l.foldable && l.dataType == StringType =>
            Option(l.eval()).map(_.toString).getOrElse(
              throw new IllegalArgumentException(
                s"graft_bpe_merge: $what must not be NULL"))
          case other => throw new IllegalArgumentException(
            s"graft_bpe_merge: $what must be a STRING literal, got $other")
        }
        BpeMergeRound(children.head,
          strLit(children(1), "lhs"), strLit(children(2), "rhs"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_vsum"),
      new ExpressionInfo(classOf[VecSumCount].getName, "graft_vsum"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_vsum(vec) takes exactly 1 argument")
        VecSumCount(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAgg].getName, "graft_bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_bloom_agg(key, numBits, numHashes) takes exactly 3 arguments")
        def intLit(e: Expression, what: String): Int = e match {
          case l if l.foldable && l.dataType == IntegerType =>
            Option(l.eval()).map(_.asInstanceOf[Int]).getOrElse(
              throw new IllegalArgumentException(s"graft_bloom_agg: $what must not be NULL"))
          case other => throw new IllegalArgumentException(
            s"graft_bloom_agg: $what must be an INT literal, got $other")
        }
        BloomFilterAgg(children.head,
          intLit(children(1), "numBits"), intLit(children(2), "numHashes"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cms_agg"),
      new ExpressionInfo(classOf[CmsAgg].getName, "graft_cms_agg"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_cms_agg(tok, depth, width) takes exactly 3 arguments")
        def intLit(e: Expression, what: String): Int = e match {
          case l if l.foldable && l.dataType == IntegerType =>
            Option(l.eval()).map(_.asInstanceOf[Int]).getOrElse(
              throw new IllegalArgumentException(s"graft_cms_agg: $what must not be NULL"))
          case other => throw new IllegalArgumentException(
            s"graft_cms_agg: $what must be an INT literal, got $other")
        }
        CmsAgg(children.head, intLit(children(1), "depth"), intLit(children(2), "width"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hll_agg"),
      new ExpressionInfo(classOf[HllAgg].getName, "graft_hll_agg"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_hll_agg(key, p) takes exactly 2 arguments")
        val p = children(1) match {
          case l if l.foldable && l.dataType == IntegerType =>
            Option(l.eval()).map(_.asInstanceOf[Int]).getOrElse(
              throw new IllegalArgumentException("graft_hll_agg: p must not be NULL"))
          case other => throw new IllegalArgumentException(
            s"graft_hll_agg: p must be an INT literal, got $other")
        }
        HllAgg(children.head, p)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hll_merge"),
      new ExpressionInfo(classOf[HllMergeAgg].getName, "graft_hll_merge"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_hll_merge(sketch) takes exactly 1 argument")
        HllMergeAgg(children.head)
      }))
    unary("graft_hll_est", classOf[HllEstimate], HllEstimate.apply)
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_bloom_contains(bloom, key) takes exactly 2 arguments")
        BloomMightContain(children.head, children(1))
      }))
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKey.TopKPerKeyStrategy)
    // SQL MERGE INTO over TableMerge tables (graft.plans.SqlMerge):
    // resolution rule rewrites the addressed target + converts the
    // resolved MergeIntoTable; the optimizer rule strips the marker so
    // SELECT over graft.`/path` plans natively; the strategy executes
    ext.injectResolutionRule(s => new graft.plans.SqlMerge.ResolveGraftMerge(s))
    ext.injectOptimizerRule(_ => graft.plans.SqlMerge.StripGraftTable)
    ext.injectPlannerStrategy(_ => graft.plans.SqlMerge.GraftMergeStrategy)
    // DDL (CREATE / CTAS / ALTER ADD COLUMNS / DROP) converts at the
    // parser: the analyzer's own ResolveSessionCatalog would otherwise
    // claim the statement for the session catalog before any injected
    // resolution rule runs (see SqlMerge.convertDdl)
    ext.injectParser((s, parser) => new graft.plans.SqlMerge.GraftSqlParser(s, parser))
    // filter constants by reference, so a re-run with new keys reuses
    // its compiled classes (graft.plans.ParameterizeFilters)
    ext.injectColumnar(_ => graft.plans.ParameterizeFilters.Hook)
  }
}
