package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}

/** Catalyst optimizer rule: rewrite a non-equi point-in-interval join
  * (`lo ≤ p AND p ≤ hi`, no usable equi key) into the bucketed equi-join
  * of [[graft.operators.RangeJoin]] — automatically, so users can write
  * the naive `BETWEEN` join and still get a shuffle-partitionable plan.
  *
  * Without this rule Spark plans such joins as BroadcastNestedLoopJoin
  * (when one side fits in memory) or CartesianProduct (when neither
  * does — quadratic, fatal at scale). The rewrite:
  *
  *   point side    → Project (+ `floor(p / w)` bucket column)
  *   interval side → Generate (explode of the covering bucket range)
  *   join          → bucket equality + the ORIGINAL condition as residual
  *
  * Every matched pair survives exactly once (a pair co-occurs only in the
  * point's bucket); the residual keeps exactness.
  *
  * Fires only when ALL hold, so it can never regress a plan:
  *   - inner/cross join with a condition containing a lower AND an upper
  *     bound on the same numeric point expression, bounds from the other
  *     side;
  *   - no equi conjunct (those already hash-join; this also makes the
  *     rule idempotent — its own output contains one);
  *   - neither side is broadcastable under the current threshold (a
  *     BNLJ that broadcasts a dim table is already the right plan).
  *
  * Bucket width comes from `spark.graft.rangeJoin.bucketWidth` (default
  * 16, in point-column units) — pick ≈ the median interval span.
  * Registered through [[GraftExtensions]]
  * (`SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`).
  */
object RangeJoinRewrite extends Rule[LogicalPlan] {

  private val WidthConf = "spark.graft.rangeJoin.bucketWidth"

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** (point, bound) pairs normalized so the pair means point ≥/≤ bound. */
  private def lowerPairs(c: Expression): Seq[(Expression, Expression)] = c match {
    case GreaterThanOrEqual(p, b) => Seq((p, b))
    case GreaterThan(p, b) => Seq((p, b))
    case LessThanOrEqual(b, p) => Seq((p, b))
    case LessThan(b, p) => Seq((p, b))
    case _ => Seq.empty
  }
  private def upperPairs(c: Expression): Seq[(Expression, Expression)] = c match {
    case LessThanOrEqual(p, b) => Seq((p, b))
    case LessThan(p, b) => Seq((p, b))
    case GreaterThanOrEqual(b, p) => Seq((p, b))
    case GreaterThan(b, p) => Seq((p, b))
    case _ => Seq.empty
  }

  private def numeric(e: Expression): Boolean =
    e.dataType.isInstanceOf[NumericType]

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner | Cross, Some(cond), hint) =>
      val cs = conjuncts(cond)

      val hasEquiKey = cs.exists {
        case EqualTo(a, b) => splitsAcross(a, b, j)
        case EqualNullSafe(a, b) => splitsAcross(a, b, j)
        case _ => false
      }
      val thr = conf.autoBroadcastJoinThreshold
      val broadcastable = thr >= 0 &&
        (left.stats.sizeInBytes <= thr || right.stats.sizeInBytes <= thr)

      if (hasEquiKey || broadcastable) j
      else {
        // a (point, lo, hi) triple: point's references on one side, both
        // bounds' references on the other
        val candidate = (for {
          (p1, lo) <- cs.flatMap(lowerPairs)
          (p2, hi) <- cs.flatMap(upperPairs)
          if p1.semanticEquals(p2) && numeric(p1) && numeric(lo) && numeric(hi)
          sides <- sidesOf(p1, lo, hi, left, right)
        } yield (p1, lo, hi, sides)).headOption

        candidate match {
          case None => j
          case Some((p, lo, hi, pointSideIsLeft)) =>
            val w = conf.getConfString(WidthConf, "16").toDouble
            require(w > 0, s"$WidthConf must be positive")
            def bucket(e: Expression): Expression =
              Cast(Floor(Divide(Cast(e, DoubleType), Literal(w))), LongType)

            val pAlias = Alias(bucket(p), "__graft_bucket_p")()
            // Sequence is timezone-aware (date/time sequences share the
            // expression), so a resolved tz id is required even for longs;
            // the generator output attr must match the element type AND
            // nullability (sequence arrays have containsNull = false) or
            // the Generate node stays unresolved
            val iAttr =
              AttributeReference("__graft_bucket_i", LongType, nullable = false)()
            def withPointBucket(side: LogicalPlan) =
              Project(side.output :+ pAlias, side)
            def withIntervalBuckets(side: LogicalPlan) =
              Generate(
                Explode(Sequence(bucket(lo), bucket(hi), Some(Literal(1L)),
                  Some(conf.sessionLocalTimeZone))),
                unrequiredChildIndex = Nil, outer = false, qualifier = None,
                generatorOutput = Seq(iAttr), child = side)

            val (newLeft, newRight) =
              if (pointSideIsLeft) (withPointBucket(left), withIntervalBuckets(right))
              else (withIntervalBuckets(left), withPointBucket(right))
            val newCond = And(EqualTo(pAlias.toAttribute, iAttr), cond)
            Project(j.output,
              Join(newLeft, newRight, Inner, Some(newCond), hint))
        }
      }
  }

  /** a and b reference opposite join sides (either orientation). */
  private def splitsAcross(a: Expression, b: Expression, j: Join): Boolean = {
    val l = j.left.outputSet
    val r = j.right.outputSet
    (a.references.nonEmpty && b.references.nonEmpty) &&
      ((a.references.subsetOf(l) && b.references.subsetOf(r)) ||
        (a.references.subsetOf(r) && b.references.subsetOf(l)))
  }

  /** Some(true) if point refs ⊆ left and bounds ⊆ right; Some(false) for
    * the mirror; None if the triple straddles sides any other way.
    */
  private def sidesOf(p: Expression, lo: Expression, hi: Expression,
                      left: LogicalPlan, right: LogicalPlan): Option[Boolean] = {
    val l = left.outputSet
    val r = right.outputSet
    val boundsRefs = lo.references ++ hi.references
    if (p.references.nonEmpty && boundsRefs.nonEmpty &&
      p.references.subsetOf(l) && boundsRefs.subsetOf(r)) Some(true)
    else if (p.references.nonEmpty && boundsRefs.nonEmpty &&
      p.references.subsetOf(r) && boundsRefs.subsetOf(l)) Some(false)
    else None
  }
}

/** Engine extension entry point: `spark.sql.extensions=graft.plans.GraftExtensions`
  * or `SparkSession.builder.withExtensions(new GraftExtensions)`.
  *
  * Injects the optimizer rule (range-join rewrite) and registers the
  * engine's custom codegen expressions as SQL functions, so `spark.sql`
  * users get the same surface the Column API exposes:
  * `simhash64(tokens)`, `float_cosine(a, b)`, `sorted_jaccard(a, b)`,
  * `shingle_hashes(tokens, w)`, `tdigest_quantiles(sketch, q, ...)`,
  * `jaro_winkler(a, b)`, `normalize_text(s)`,
  * `minhash_signature(tokens, w, k)`, `char_ngram_hashes(s, n)`,
  * `span_md5s(tokens, w)`, `zvalue(dims, boundaries, bits)`,
  * `plane_sign_buckets(vec, planes, tables, bits)`,
  * `jl_project(vec, k, d)`, `int_cell_assign(code, cents)` — matrix
  * parameters are literal `array(array(...))`, carried as one plan
  * reference object exactly like the Column API's (jl_project derives
  * its sign matrix from (k, d) — it is a pure function of the shape).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private def info(name: String, clazz: Class[_]) =
    new ExpressionInfo(clazz.getName, name)

  private def litInt(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn: argument must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }
  private def litDouble(e: Expression, fn: String): Double = {
    require(e.foldable, s"$fn: argument must be a literal")
    e.eval() match { // SQL fractional literals arrive as Decimal under ANSI
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$fn: expected a numeric literal, got $other")
    }
  }
  /** A foldable `array(array(...))` SQL literal → the driver-side matrix
    * the matrix-parameterized expressions (zvalue boundaries, LSH planes)
    * carry as one plan reference object.
    */
  private def litMatrix(e: Expression, fn: String): Array[Array[Double]] = {
    require(e.foldable, s"$fn: matrix argument must be a literal " +
      "array(array(double, ...), ...)")
    import org.apache.spark.sql.catalyst.util.ArrayData
    val elemType = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(
             org.apache.spark.sql.types.ArrayType(t, _), _) => t
      case other => throw new IllegalArgumentException(
        s"$fn: expected array(array(numeric)), got ${other.simpleString}")
    }
    val outer = e.eval().asInstanceOf[ArrayData]
    (0 until outer.numElements()).map { i =>
      val inner = outer.getArray(i)
      (0 until inner.numElements()).map { j =>
        inner.get(j, elemType) match {
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case n: Number => n.doubleValue()
        }
      }.toArray
    }.toArray
  }

  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectOptimizerRule(_ => RangeJoinRewrite)

    extensions.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", classOf[graft.functions.SimHash64Expr]),
      (args: Seq[Expression]) => graft.functions.SimHash64Expr(args.head)))

    extensions.injectFunction((FunctionIdentifier("float_cosine"),
      info("float_cosine", classOf[graft.functions.FloatCosineExpr]),
      (args: Seq[Expression]) =>
        graft.functions.FloatCosineExpr(args(0), args(1))))

    extensions.injectFunction((FunctionIdentifier("sorted_jaccard"),
      info("sorted_jaccard", classOf[graft.functions.SortedJaccardExpr]),
      (args: Seq[Expression]) =>
        graft.functions.SortedJaccardExpr(args(0), args(1))))

    extensions.injectFunction((FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", classOf[graft.functions.ShingleHashesExpr]),
      (args: Seq[Expression]) => graft.functions.ShingleHashesExpr(
        args(0), litInt(args(1), "shingle_hashes"))))

    extensions.injectFunction((FunctionIdentifier("tdigest_quantiles"),
      info("tdigest_quantiles", classOf[graft.operators.TDigestQuantilesExpr]),
      (args: Seq[Expression]) => graft.operators.TDigestQuantilesExpr(
        args.head, args.tail.map(litDouble(_, "tdigest_quantiles")))))

    extensions.injectFunction((FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler", classOf[graft.functions.JaroWinklerExpr]),
      (args: Seq[Expression]) =>
        graft.functions.JaroWinklerExpr(args(0), args(1))))

    extensions.injectFunction((FunctionIdentifier("normalize_text"),
      info("normalize_text", classOf[graft.functions.NormalizeTextExpr]),
      (args: Seq[Expression]) =>
        graft.functions.NormalizeTextExpr(args.head)))

    // minhash_signature(tokens, shingle_width, k)
    extensions.injectFunction((FunctionIdentifier("minhash_signature"),
      info("minhash_signature", classOf[graft.functions.MinHashSigExpr]),
      (args: Seq[Expression]) => graft.functions.MinHashSigExpr(args(0),
        litInt(args(1), "minhash_signature"),
        litInt(args(2), "minhash_signature"))))

    extensions.injectFunction((FunctionIdentifier("char_ngram_hashes"),
      info("char_ngram_hashes", classOf[graft.functions.CharNgramHashesExpr]),
      (args: Seq[Expression]) => graft.functions.CharNgramHashesExpr(
        args(0), litInt(args(1), "char_ngram_hashes"))))

    extensions.injectFunction((FunctionIdentifier("span_md5s"),
      info("span_md5s", classOf[graft.functions.SpanMd5sExpr]),
      (args: Seq[Expression]) => graft.functions.SpanMd5sExpr(
        args(0), litInt(args(1), "span_md5s"))))

    // zvalue(array(dims...), array(array(boundaries...)...), bits) —
    // the boundary matrix is a literal, same KB-scale plan-reference
    // contract as the Column API's ZValueExpr
    extensions.injectFunction((FunctionIdentifier("zvalue"),
      info("zvalue", classOf[graft.functions.ZValueExpr]),
      (args: Seq[Expression]) => graft.functions.ZValueExpr(args(0),
        litMatrix(args(1), "zvalue"), litInt(args(2), "zvalue"))))

    // plane_sign_buckets(vec, array(array(plane...)...), tables, bits)
    extensions.injectFunction((FunctionIdentifier("plane_sign_buckets"),
      info("plane_sign_buckets",
        classOf[graft.functions.PlaneSignBucketsExpr]),
      (args: Seq[Expression]) => graft.functions.PlaneSignBucketsExpr(
        args(0), litMatrix(args(1), "plane_sign_buckets"),
        litInt(args(2), "plane_sign_buckets"),
        litInt(args(3), "plane_sign_buckets"))))

    // jl_project(vec, k, d) — the sign matrix is a PURE FUNCTION of
    // (k, d) (the seeded-LCG Achlioptas construction), so SQL callers
    // pass the dimensions and the builder derives the same matrix the
    // Column API uses; no array-of-array literal needed
    extensions.injectFunction((FunctionIdentifier("jl_project"),
      info("jl_project", classOf[graft.functions.JlProjectExpr]),
      (args: Seq[Expression]) => graft.functions.JlProjectExpr(args(0),
        graft.functions.GraftExpressions.jlSigns(
          litInt(args(1), "jl_project"), litInt(args(2), "jl_project")))))

    // int_cell_assign(code, array(array(centroid...)...)) — integer
    // centroid matrix as a literal, same plan-reference contract
    extensions.injectFunction((FunctionIdentifier("int_cell_assign"),
      info("int_cell_assign", classOf[graft.functions.IntCellAssignExpr]),
      (args: Seq[Expression]) => graft.functions.IntCellAssignExpr(args(0),
        litMatrix(args(1), "int_cell_assign").map(_.map(_.toLong)))))
  }
}
