package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types._

/** Custom Catalyst expressions (with `doGenCode`) for the hot inner loops
  * the built-in higher-order functions handle badly: 64-bit SimHash over a
  * token array, cosine over `array<float>`, and sign-LSH plane projections.
  *
  * Rationale: the declarative forms (`transform`/`zip_with`/`aggregate`)
  * materialize a fresh 64-element array per token / per element pair, which
  * at 100 TB is pure GC pressure. These expressions keep the arithmetic in
  * tight scalar loops inside whole-stage codegen — same semantics, ~constant
  * memory per row.
  */
object GraftExpressions {

  private def c(e: Expression): Column = GraftColumnBridge.column(e)
  private def x(col: Column): Expression = GraftColumnBridge.expression(col)

  /** 64-bit SimHash of a token array (see [[SimHash64Expr]]). */
  def simhash64(tokens: Column): Column = c(SimHash64Expr(x(tokens)))

  /** Cosine similarity of two float vectors (see [[FloatCosineExpr]]). */
  def floatCosine(a: Column, b: Column): Column =
    c(FloatCosineExpr(x(a), x(b)))

  /** Sign-LSH bucket ids, one per table (see [[PlaneSignBucketsExpr]]). */
  def planeSignBuckets(v: Column, planes: Array[Array[Double]],
                       tables: Int, bitsPerTable: Int): Column =
    c(PlaneSignBucketsExpr(x(v), planes, tables, bitsPerTable))

  /** k-MinHash signature over w-token shingles (see [[MinHashSigExpr]]). */
  def minhashSignature(tokens: Column, shingleWidth: Int, k: Int): Column =
    c(MinHashSigExpr(x(tokens), shingleWidth, k))

  /** Distinct w-token shingle hashes (see [[ShingleHashesExpr]]). */
  def shingleHashes(tokens: Column, shingleWidth: Int): Column =
    c(ShingleHashesExpr(x(tokens), shingleWidth))

  /** Candidate pairs of one collected LSH bucket (see
    * [[LshBucketPairsExpr]]).
    */
  def lshBucketPairs(members: Column, cap: Int): Column =
    c(LshBucketPairsExpr(x(members), cap))

  /** Distinct char n-gram hashes (see [[CharNgramHashesExpr]]). */
  def charNgramHashes(text: Column, n: Int): Column =
    c(CharNgramHashesExpr(x(text), n))

  /** md5 hex of every w-token window (see [[SpanMd5sExpr]]). */
  def spanMd5s(tokens: Column, w: Int): Column = c(SpanMd5sExpr(x(tokens), w))

  /** SQL `div` (IntegralDivide) as a Column: long-typed truncating
    * integer division, exact over the FULL long range — the Column API
    * only exposes `/` (double Divide), whose result is wrong past 2^53.
    */
  def longDiv(a: Column, b: Column): Column =
    c(org.apache.spark.sql.catalyst.expressions.IntegralDivide(x(a), x(b)))

  /** Exact Jaccard of two SORTED DISTINCT long arrays (see
    * [[SortedJaccardExpr]]).
    */
  def sortedJaccard(a: Column, b: Column): Column =
    c(SortedJaccardExpr(x(a), x(b)))

  /** Unicode-normalized text (see [[NormalizeTextExpr]]). */
  def normalizeText(text: Column): Column = c(NormalizeTextExpr(x(text)))

  /** Jaro-Winkler similarity of two strings (see [[JaroWinklerExpr]]). */
  def jaroWinkler(a: Column, b: Column): Column =
    c(JaroWinklerExpr(x(a), x(b)))

  /** Morton z-value of N numeric dimensions (see [[ZValueExpr]]). */
  def zValue(dims: Column, boundaries: Array[Array[Double]],
             bits: Int): Column = c(ZValueExpr(x(dims), boundaries, bits))

  /** Seeded ±1 Johnson–Lindenstrauss sign matrix, k rows × d cols —
    * the Achlioptas (2003, public) database-friendly JL construction
    * restricted to ±1 entries. Entry (j,i) is a pure function of its
    * index (Knuth multiplicative LCG on j·d+i), so an oracle recomputes
    * the matrix from the formula alone — no shipped randomness.
    */
  def jlSigns(k: Int, d: Int): Array[Array[Int]] =
    Array.tabulate(k, d) { (j, i) =>
      val h = ((j.toLong * d + i) * 2654435761L) % 4294967296L
      if (h < 2147483648L) 1 else -1
    }

  /** Integer-grid JL projection of a float vector (see
    * [[JlProjectExpr]]).
    */
  def jlProject(v: Column, signs: Array[Array[Int]]): Column =
    c(JlProjectExpr(x(v), signs))

  /** Nearest-centroid cell for an integer code vector (see
    * [[IntCellAssignExpr]]).
    */
  def intCellAssign(code: Column, cents: Array[Array[Long]]): Column =
    c(IntCellAssignExpr(x(code), cents))
}

/** SimHash64(tokens): per-token xxhash64 (seed 42, identical to the
  * `xxhash64` SQL function on strings), ±1 vote per bit across tokens,
  * sign(vote) → bit. One tight loop, no per-token array churn — replaces a
  * `transform`+`aggregate`+`zip_with` pipeline that allocated a 64-long
  * array per token (the round-1 bench's single slowest operator).
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      val xxh = classOf[XXH64].getName
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $arr.numElements(); $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    long $h = $xxh.hashUTF8String($arr.getUTF8String($i), 42L);
         |    for (int $b = 0; $b < 64; $b++) {
         |      if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $out |= (1L << $b);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** FloatCosine(a, b): cosine similarity of two `array<float>` vectors,
  * accumulated in double, 0.0 when either norm is 0. Single loop over the
  * shorter length; replaces cast-to-double + three `zip_with`/`aggregate`
  * passes (each of which allocated an intermediate double array per row).
  */
case class FloatCosineExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"floatCosine expects two array<float>, got ${l.simpleString}, ${r.simpleString}")
    }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = xs.getFloat(i).toDouble
      val yv = ys.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |double $denom = Math.sqrt($na) * Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatCosineExpr =
    copy(left = newLeft, right = newRight)
}

/** PlaneSignBuckets(v): projects a float vector onto `tables ×
  * bitsPerTable` fixed hyperplanes and packs the sign bits into one bucket
  * id per table — the whole banded sign-LSH signature in a single pass.
  * Returns array<int> of length `tables` (each in [0, 2^bitsPerTable)).
  * The plane matrix rides along as a referenced object (driver-broadcast
  * with the serialized plan), so the generated loop reads it directly.
  */
case class PlaneSignBucketsExpr(child: Expression,
                                planes: Array[Array[Double]],
                                tables: Int, bitsPerTable: Int)
    extends UnaryExpression {
  require(planes.length == tables * bitsPerTable,
    s"need ${tables * bitsPerTable} planes, got ${planes.length}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"planeSignBuckets expects array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  private def bucketsOf(v: ArrayData): Array[Int] = {
    val out = new Array[Int](tables)
    val n = v.numElements()
    var t = 0
    while (t < tables) {
      var bucket = 0
      var b = 0
      while (b < bitsPerTable) {
        val plane = planes(t * bitsPerTable + b)
        var dot = 0.0
        var i = 0
        val m = math.min(n, plane.length)
        while (i < m) { dot += v.getFloat(i) * plane(i); i += 1 }
        if (dot >= 0.0) bucket |= (1 << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      bucketsOf(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val dot = ctx.freshName("dot")
      val bucket = ctx.freshName("bucket")
      val plane = ctx.freshName("plane")
      val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
      s"""
         |int[] $out = new int[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  int $bucket = 0;
         |  for (int $b = 0; $b < $bitsPerTable; $b++) {
         |    double[] $plane = $planesRef[$t * $bitsPerTable + $b];
         |    double $dot = 0.0;
         |    int $m = Math.min($v.numElements(), $plane.length);
         |    for (int $i = 0; $i < $m; $i++) {
         |      $dot += (double) $v.getFloat($i) * $plane[$i];
         |    }
         |    if ($dot >= 0.0) $bucket |= (1 << $b);
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new $gad($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PlaneSignBucketsExpr =
    copy(child = newChild)
}

/** MinHashSig(tokens): k-MinHash signature over w-token shingles in one
  * pass — token xxhash64 (seed 42), shingle hash chained via
  * XXH64.hashLong over the window, then h_i(shingle) = hashLong(shingle,
  * hashInt(i, 42)) with a running minimum per i. Replaces k separate
  * `transform`+`array_min` passes (k=64 array materializations per row —
  * exactly the constant-factor disease the round-1 SimHash had). The hash
  * family is ANSI-safe: no wrapping arithmetic, so no ARITHMETIC_OVERFLOW
  * under Spark 4's default ANSI mode.
  */
case class MinHashSigExpr(child: Expression, shingleWidth: Int, k: Int)
    extends UnaryExpression {
  require(shingleWidth > 0 && k > 0)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhashSignature expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // per-hash-function seeds: hashInt(i, 42), matching xxhash64(lit(i), x)
  private lazy val seeds: Array[Long] =
    Array.tabulate(k)(i => XXH64.hashInt(i, 42L))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (arr.isNullAt(i)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      i += 1
    }
    val minima = Array.fill(k)(Long.MaxValue)
    val nShingles = math.max(n - shingleWidth + 1, 1)
    var s = 0
    while (s < nShingles) {
      var sh = 42L
      var j = s
      val end = math.min(s + shingleWidth, n)
      while (j < end) { sh = XXH64.hashLong(th(j), sh); j += 1 }
      var f = 0
      while (f < k) {
        val v = XXH64.hashLong(sh, seeds(f))
        if (v < minima(f)) minima(f) = v
        f += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(minima)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val seedsRef = ctx.addReferenceObj("seeds", seeds, "long[]")
      val xxh = classOf[XXH64].getName
      val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
      val n = ctx.freshName("n")
      val th = ctx.freshName("th")
      val i = ctx.freshName("i")
      val minima = ctx.freshName("minima")
      val nSh = ctx.freshName("nSh")
      val s = ctx.freshName("s")
      val sh = ctx.freshName("sh")
      val j = ctx.freshName("j")
      val end = ctx.freshName("end")
      val f = ctx.freshName("f")
      val v = ctx.freshName("v")
      s"""
         |int $n = $arr.numElements();
         |long[] $th = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $th[$i] = $arr.isNullAt($i) ? 42L
         |    : $xxh.hashUTF8String($arr.getUTF8String($i), 42L);
         |}
         |long[] $minima = new long[$k];
         |java.util.Arrays.fill($minima, Long.MAX_VALUE);
         |int $nSh = Math.max($n - $shingleWidth + 1, 1);
         |for (int $s = 0; $s < $nSh; $s++) {
         |  long $sh = 42L;
         |  int $end = Math.min($s + $shingleWidth, $n);
         |  for (int $j = $s; $j < $end; $j++) {
         |    $sh = $xxh.hashLong($th[$j], $sh);
         |  }
         |  for (int $f = 0; $f < $k; $f++) {
         |    long $v = $xxh.hashLong($sh, $seedsRef[$f]);
         |    if ($v < $minima[$f]) $minima[$f] = $v;
         |  }
         |}
         |${ev.value} = new $gad($minima);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** ShingleHashes(tokens): SORTED DISTINCT w-token shingle hashes, using the
  * exact chain-hash [[MinHashSigExpr]] uses — signature generation and
  * exact-Jaccard verification share one shingle universe. Replaces a
  * `transform(sequence…, concat_ws + slice + xxhash64)` pipeline that
  * re-materialized every w-token window as a string (the dominant cost of
  * the round-2 c2 bench: 5.4 s of 6.2 at sf0.1).
  */
case class ShingleHashesExpr(child: Expression, shingleWidth: Int)
    extends UnaryExpression {
  require(shingleWidth > 0)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingleHashes expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private[functions] def compute(arr: ArrayData): Array[Long] = {
    val n = arr.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (arr.isNullAt(i)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      i += 1
    }
    val nShingles = math.max(n - shingleWidth + 1, 1)
    val out = new Array[Long](nShingles)
    var s = 0
    while (s < nShingles) {
      var sh = 42L
      var j = s
      val end = math.min(s + shingleWidth, n)
      while (j < end) { sh = XXH64.hashLong(th(j), sh); j += 1 }
      out(s) = sh
      s += 1
    }
    java.util.Arrays.sort(out)
    // in-place dedup of the sorted shingle hashes
    var w = 0
    var r = 0
    while (r < out.length) {
      if (r == 0 || out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    if (w == out.length) out else java.util.Arrays.copyOf(out, w)
  }

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      // the loop is data-dependent either way; delegate to the compiled
      // compute() — one virtual call per row, zero interpretation overhead
      val ref = ctx.addReferenceObj("shingler", this, classOf[ShingleHashesExpr].getName)
      val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
      s"${ev.value} = new $gad($ref.compute($arr));"
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

/** LshBucketPairs(members): the candidate pairs of ONE banded-LSH bucket
  * — the grouped bucket → pair generator. `members` is the bucket's
  * collected rows, `struct<id: bigint, sigh: bigint>` (self mode) or
  * `struct<id: bigint, sigh: bigint, ref: boolean>` (cross mode), where
  * `sigh` is the document's full-signature hash.
  *
  * A bucket of at most `cap` rows pairs every two members. A larger (hot)
  * bucket pairs only members with equal `sigh`: the rows are sorted on
  * `sigh` and paired within each equal run, so a hot bucket costs
  * O(n log n + output), never n² comparisons. Equivalently: two members
  * pair when they share (band, bucket, refine), refine = `sigh` in hot
  * buckets and a constant in cold ones.
  *
  * Self mode emits `(id_a, id_b)` with id_a < id_b; cross mode emits
  * `(ref id, non-ref id)` only, and equal ids may pair. Rows with a null
  * id count toward the bucket size but never pair. A pair shared by
  * several bands is emitted once per band; callers DISTINCT.
  */
case class LshBucketPairsExpr(child: Expression, cap: Int)
    extends UnaryExpression {

  private def memberFields: Seq[DataType] = child.dataType match {
    case ArrayType(StructType(fs), _) => fs.toSeq.map(_.dataType)
    case _ => Nil
  }
  private lazy val cross = memberFields.length == 3

  override def checkInputDataTypes(): TypeCheckResult = memberFields match {
    case Seq(LongType, LongType) | Seq(LongType, LongType, BooleanType) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "lshBucketPairs expects array<struct<id: bigint, sigh: bigint" +
        s"[, ref: boolean]>>, got ${child.dataType.simpleString}")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false))), containsNull = false)

  private[functions] def compute(members: ArrayData): ArrayData = {
    import org.apache.spark.sql.catalyst.InternalRow
    val n = members.numElements()
    val nFields = if (cross) 3 else 2
    val ids = new Array[Long](n)
    val sighs = new Array[Long](n)
    val refs = new Array[Boolean](n)
    var m = 0
    var i = 0
    while (i < n) {
      val r = members.getStruct(i, nFields)
      if (!r.isNullAt(0)) {
        ids(m) = r.getLong(0)
        sighs(m) = r.getLong(1)
        refs(m) = cross && r.getBoolean(2)
        m += 1
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    def pair(a: Int, b: Int): Unit =
      if (cross) {
        if (refs(a) && !refs(b)) out += InternalRow(ids(a), ids(b))
        else if (refs(b) && !refs(a)) out += InternalRow(ids(b), ids(a))
      } else if (ids(a) < ids(b)) out += InternalRow(ids(a), ids(b))
      else if (ids(b) < ids(a)) out += InternalRow(ids(b), ids(a))
    // pair every two members of order[from, until)
    def pairAll(order: Array[Int], from: Int, until: Int): Unit = {
      var a = from
      while (a < until) {
        var b = a + 1
        while (b < until) { pair(order(a), order(b)); b += 1 }
        a += 1
      }
    }
    // the bucket size counts every row, null ids included (the census)
    if (n <= cap) pairAll(Array.range(0, m), 0, m)
    else {
      val order = Array.range(0, m).sortBy(sighs(_))
      var start = 0
      while (start < m) {
        var end = start + 1
        while (end < m && sighs(order(end)) == sighs(order(start))) end += 1
        pairAll(order, start, end)
        start = end
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray[Any])
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, m => {
      val ref = ctx.addReferenceObj("lshPairs", this, classOf[LshBucketPairsExpr].getName)
      s"${ev.value} = $ref.compute($m);"
    })

  override protected def withNewChildInternal(newChild: Expression): LshBucketPairsExpr =
    copy(child = newChild)
}

/** SpanMd5s(tokens, w): md5 hex digest of every w-token window of the
  * array, bit-identical to
  * `transform(sequence(0, n-w), i -> md5(concat_ws(" ", slice(toks, i+1, w))))`
  * (null tokens skipped concat_ws-style) but computed by feeding the
  * digest token-by-token — no per-window slice ArrayData, no joined
  * UTF8String, no sequence array. The declarative form was the most
  * expensive bench entry at 5.1 s (sf0.1); the window hashing is
  * inherently O(n·w) with a cryptographic hash, but the allocation
  * overhead is not. Arrays shorter than w yield an empty result (callers
  * filter those; short-doc dedup is whole-text fingerprinting's job).
  */
case class SpanMd5sExpr(child: Expression, w: Int) extends UnaryExpression {
  require(w > 0)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"spanMd5s expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private[functions] def compute(arr: ArrayData): Array[org.apache.spark.unsafe.types.UTF8String] = {
    import org.apache.spark.unsafe.types.UTF8String
    val n = arr.numElements()
    if (n < w) return Array.empty
    val toks = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
      i += 1
    }
    val md = SpanMd5sExpr.digest.get()
    val out = new Array[UTF8String](n - w + 1)
    var s = 0
    while (s <= n - w) {
      md.reset()
      var first = true
      var j = s
      while (j < s + w) {
        if (toks(j) != null) {
          if (!first) md.update(' '.toByte)
          md.update(toks(j))
          first = false
        }
        j += 1
      }
      out(s) = UTF8String.fromBytes(SpanMd5sExpr.hex(md.digest()))
      s += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val ref = ctx.addReferenceObj("spanner", this, classOf[SpanMd5sExpr].getName)
      val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
      s"${ev.value} = new $gad($ref.compute($arr));"
    })

  override protected def withNewChildInternal(newChild: Expression): SpanMd5sExpr =
    copy(child = newChild)
}

object SpanMd5sExpr {
  // MessageDigest is stateful and not thread-safe; expression instances
  // are shared across a local-mode executor's task threads
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexChars = "0123456789abcdef".getBytes
  private def hex(d: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = hexChars((d(i) >> 4) & 0xF)
      out(i * 2 + 1) = hexChars(d(i) & 0xF)
      i += 1
    }
    out
  }
}

/** CharNgramHashes(text): SORTED DISTINCT xxhash64 values of every n-char
  * window of the string, bit-identical to
  * `xxhash64(substr(text, i, n))` per position but computed in one loop
  * over the UTF8String (character-indexed slices). The declarative
  * `transform(sequence…, substr + xxhash64)` form materialized ~|text|
  * short strings per row through Catalyst array plumbing — 35 s at sf0.1
  * for the n-gram Jaccard verifier; this expression makes it a bench
  * no-op. Texts shorter than n hash as a single whole-string gram.
  */
case class CharNgramHashesExpr(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"charNgramHashes expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private[functions] def compute(u: org.apache.spark.unsafe.types.UTF8String): Array[Long] = {
    val len = u.numChars()
    val nGrams = math.max(len - n + 1, 1)
    val out = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      out(i) = XXH64.hashUTF8String(u.substring(i, math.min(i + n, len)), 42L)
      i += 1
    }
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < out.length) {
      if (r == 0 || out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    if (w == out.length) out else java.util.Arrays.copyOf(out, w)
  }

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, u => {
      val ref = ctx.addReferenceObj("ngrammer", this, classOf[CharNgramHashesExpr].getName)
      val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
      s"${ev.value} = new $gad($ref.compute($u));"
    })

  override protected def withNewChildInternal(newChild: Expression): CharNgramHashesExpr =
    copy(child = newChild)
}

/** SortedJaccard(a, b): exact Jaccard similarity of two SORTED DISTINCT
  * long arrays (the invariant [[ShingleHashesExpr]] / [[CharNgramHashesExpr]]
  * guarantee) via one merge pass — no intersection/union array is ever
  * materialized, unlike `array_intersect`/`array_union` which each build
  * a hash set and an output array per pair. Inputs that violate the
  * sorted-distinct contract produce meaningless values; both producers in
  * this codebase sort+dedup at construction.
  */
case class SortedJaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sortedJaccard expects two array<bigint>, got ${l.simpleString}, ${r.simpleString}")
    }
  override def dataType: DataType = DoubleType

  private[functions] def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("jacc", this, classOf[SortedJaccardExpr].getName)
      s"${ev.value} = $ref.compute($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedJaccardExpr =
    copy(left = newLeft, right = newRight)
}

/** NormalizeText(text): Unicode NFC composition, then every C0/C1-range
  * control character (U+0000–U+001F, U+007F) becomes a space, runs of
  * spaces collapse to one, and the result is trimmed — the canonical
  * text-cleanup pass before fingerprinting/dedup, as one codegen'd
  * expression instead of a normalizer UDF (Spark has no built-in Unicode
  * normalizer). Exactly replicable in DuckDB as
  * `trim(regexp_replace(regexp_replace(nfc_normalize(t),
  * '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g'))` — note ASCII
  * tab/newline/CR are themselves C0 controls, so after step 2 the only
  * whitespace left to collapse is the plain space; non-ASCII spaces
  * (NBSP…) pass through untouched by both engines, a stated contract.
  */
case class NormalizeTextExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"normalizeText expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = StringType

  private[functions] def compute(
      input: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val nfc = java.text.Normalizer.normalize(
      input.toString, java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(nfc.length)
    var prevSpace = false
    var i = 0
    while (i < nfc.length) {
      val ch0 = nfc.charAt(i)
      val ch = if (ch0 < 0x20 || ch0 == 0x7f) ' ' else ch0
      if (ch == ' ') {
        if (!prevSpace && sb.length > 0) sb.append(' ')
        prevSpace = true
      } else {
        sb.append(ch)
        prevSpace = false
      }
      i += 1
    }
    var end = sb.length
    while (end > 0 && sb.charAt(end - 1) == ' ') end -= 1
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.substring(0, end))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val ref = ctx.addReferenceObj("norm", this, classOf[NormalizeTextExpr].getName)
      s"${ev.value} = $ref.compute($s);"
    })

  override protected def withNewChildInternal(newChild: Expression): NormalizeTextExpr =
    copy(child = newChild)
}

/** ZValue(dims): Morton (bit-interleaved) z-value of N numeric dimensions
  * for multi-column clustering (delta/iceberg OPTIMIZE ZORDER semantics).
  * Each dimension is first bucketized EQUI-DEPTH against its sorted
  * boundary array (`boundaries(c)` = up to 2^bits-1 interior quantiles —
  * KB-scale driver state riding the plan as one reference object, the
  * same contract as k-means centroid literals), then the bucket indices
  * interleave round-robin, low bit first: z bit `i*N + c` = bit `i` of
  * dimension c's bucket. Sorting by the result gives every dimension
  * locality proportional to its bit share, which is what makes file-level
  * min/max zone maps selective on ALL the z-ordered columns instead of
  * just the leading sort key.
  *
  * Contracts: a null dimension buckets to 0 (nulls-first, like
  * delta); equi-depth (not equi-width) bucketization keeps skewed
  * columns balanced — a hot value occupies few buckets instead of
  * squeezing the rest of the data into one; boundaries must be sorted
  * and deduplicated (fewer than 2^bits-1 after dedup is fine — buckets
  * just end early). Bucketization is a binary search, so the whole
  * z-value costs O(N·bits) per row inside whole-stage codegen.
  */
case class ZValueExpr(child: Expression, boundaries: Array[Array[Double]],
                      bits: Int) extends UnaryExpression {
  require(bits >= 1 && boundaries.nonEmpty &&
    bits * boundaries.length <= 63,
    s"zValue needs 1..63 total bits, got $bits x ${boundaries.length} dims")
  require(boundaries.forall(_.length <= (1 << bits) - 1),
    s"at most ${(1 << bits) - 1} boundaries per dimension at bits=$bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"zValue expects array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType

  private[functions] def compute(dims: ArrayData): Long = {
    val n = boundaries.length
    require(dims.numElements() == n,
      s"zValue got ${dims.numElements()} dims, boundaries cover $n")
    var z = 0L
    var c = 0
    while (c < n) {
      val bucket =
        if (dims.isNullAt(c)) 0
        else {
          val v = dims.getDouble(c)
          val idx = java.util.Arrays.binarySearch(boundaries(c), v)
          // value == boundary goes UP (bucket idx+1); miss → insertion pt
          if (idx >= 0) idx + 1 else -(idx + 1)
        }
      var i = 0
      while (i < bits) {
        z |= ((bucket >> i) & 1L) << (i * n + c)
        i += 1
      }
      c += 1
    }
    z
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val ref = ctx.addReferenceObj("zval", this, classOf[ZValueExpr].getName)
      s"${ev.value} = $ref.compute($v);"
    })

  override protected def withNewChildInternal(newChild: Expression): ZValueExpr =
    copy(child = newChild)
}

/** JaroWinkler(a, b): the standard entity-resolution string similarity
  * (Winkler 1990, public formula) — Jaro match/transposition similarity
  * with the common-prefix boost (scaling p = 0.1, prefix capped at 4,
  * boost applied above the conventional 0.7 threshold). Spark has no
  * built-in; DuckDB's native `jaro_winkler_similarity` is the oracle
  * (parity verified value-for-value in `FuzzyJoinSpec` and the b45
  * gate). One tight two-pointer pass over char arrays, zero per-row
  * allocations beyond the two match masks; UTF-16 char semantics
  * (ASCII-exact — the b25 name-matching domain).
  */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"jaroWinkler expects (string, string), got $other")
    }
  override def dataType: DataType = DoubleType

  private[functions] def compute(aAny: Any, bAny: Any): Double = {
    val a = aAny.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val b = bAny.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val l1 = a.length; val l2 = b.length
    if (l1 == 0 && l2 == 0) return 1.0
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && a.charAt(i) == b.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars compared in order
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val mD = m.toDouble
    val jaro = (mD / l1 + mD / l2 + (mD - t / 2) / mD) / 3.0
    if (jaro <= 0.7) return jaro
    var p = 0
    val maxP = math.min(4, math.min(l1, l2))
    while (p < maxP && a.charAt(p) == b.charAt(p)) p += 1
    jaro + 0.1 * p * (1.0 - jaro)
  }

  override def nullSafeEval(a: Any, b: Any): Any = compute(a, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("jw", this, classOf[JaroWinklerExpr].getName)
      s"${ev.value} = $ref.compute($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerExpr =
    copy(left = newLeft, right = newRight)
}

/** JlProject(v): Johnson–Lindenstrauss ±1 projection of a float vector
  * onto `k = signs.length` axes, over the 1/1024 INTEGER GRID — the
  * embedding-compression front end of the ANN stack (64→16 dims is a 4×
  * scan-cost cut at a JL-bounded distance distortion). Each component is
  * y_j = Σ_i s_{j,i}·q_i with q_i = floor(x_i·1024 + 0.5): quantize-
  * then-project makes every output an EXACT integer (|y_j| ≤ d·2^25 ≪
  * 2^63), so results are order-free, associative, and cross-engine
  * replicable — the §4 grid-integer rule applied to random projection.
  * (x_i·1024.0 is itself exact — a float's 24-bit mantissa shifted by a
  * power of two — so the only rounding is the explicit grid snap.)
  *
  * The sign matrix rides as ONE referenced object in the generated
  * class ([[GraftExpressions.jlSigns]] derives it from a seeded LCG the
  * oracle replays); the loop is a tight scalar nest inside whole-stage
  * codegen — no per-row matrix allocation, no HOF array churn. Returns
  * array<long> of length k.
  */
case class JlProjectExpr(child: Expression, signs: Array[Array[Int]])
    extends UnaryExpression {
  require(signs.nonEmpty && signs.forall(_.length == signs.head.length),
    "signs must be a non-empty rectangular k x d matrix")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"jlProject expects array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def projectOf(v: ArrayData): Array[Long] = {
    val k = signs.length
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      val row = signs(j)
      val m = math.min(v.numElements(), row.length)
      var acc = 0L
      var i = 0
      while (i < m) {
        val q = math.floor(v.getFloat(i).toDouble * 1024.0 + 0.5).toLong
        acc += row(i) * q
        i += 1
      }
      out(j) = acc
      j += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      projectOf(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val signsRef = ctx.addReferenceObj("jlSigns", signs, "int[][]")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      val row = ctx.freshName("row")
      val q = ctx.freshName("q")
      val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
      s"""
         |long[] $out = new long[${signs.length}];
         |for (int $j = 0; $j < ${signs.length}; $j++) {
         |  int[] $row = $signsRef[$j];
         |  int $m = Math.min($v.numElements(), $row.length);
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $m; $i++) {
         |    long $q = (long) Math.floor((double) $v.getFloat($i) * 1024.0 + 0.5);
         |    $acc += $row[$i] * $q;
         |  }
         |  $out[$j] = $acc;
         |}
         |${ev.value} = new $gad($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): JlProjectExpr =
    copy(child = newChild)
}

/** IntCellAssign(code): nearest-centroid assignment for INTEGER vectors —
  * the IVF coarse quantizer over [[JlProjectExpr]] codes. Centroids ride
  * as one referenced long[][]; distance is exact integer squared-L2
  * (codes are ≤ d·2^25, so squared diffs sum well inside a long), ties
  * resolve to the LOWEST centroid index — a total, replicable order, so
  * unlike float k-means assignment the cell id itself is
  * oracle-checkable with no tolerance. Returns int cell ∈ [0, C).
  */
case class IntCellAssignExpr(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression {
  require(cents.nonEmpty && cents.forall(_.length == cents.head.length),
    "centroids must be a non-empty rectangular C x k matrix")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"intCellAssign expects array<long>, got ${other.simpleString}")
  }
  override def dataType: DataType = IntegerType

  private def assignOf(v: ArrayData): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      val m = math.min(v.numElements(), cent.length)
      var d = 0L
      var i = 0
      while (i < m) {
        val diff = v.getLong(i) - cent(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  override def nullSafeEval(input: Any): Any =
    assignOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val centsRef = ctx.addReferenceObj("ivfCents", cents, "long[][]")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      val cent = ctx.freshName("cent")
      s"""
         |int $best = 0;
         |long $bestD = Long.MAX_VALUE;
         |for (int $c = 0; $c < ${cents.length}; $c++) {
         |  long[] $cent = $centsRef[$c];
         |  int $m = Math.min($v.numElements(), $cent.length);
         |  long $d = 0L;
         |  for (int $i = 0; $i < $m; $i++) {
         |    long $diff = $v.getLong($i) - $cent[$i];
         |    $d += $diff * $diff;
         |  }
         |  if ($d < $bestD) { $bestD = $d; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): IntCellAssignExpr =
    copy(child = newChild)
}
