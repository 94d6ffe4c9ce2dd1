package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hot loops.
  *
  * Spark's higher-order functions (`transform`/`aggregate`/`zip_with`)
  * are evaluated INTERPRETED — they never enter whole-stage codegen, so
  * a 64-dim dot product written as `aggregate(zip_with(...))` costs two
  * materialized arrays plus ~128 boxed interpreter steps per pair. At
  * 50M candidate pairs that is the difference between seconds and
  * hours. These expressions follow the brief's preference order:
  * a native `Expression` with `doGenCode` (VectorDot) for the per-pair
  * loop, and tight single-eval expressions (SimHash64 / MinHashSig)
  * where the per-row work is large enough to amortize one interpreted
  * call (CodegenFallback) but must not be re-interpreted per element.
  *
  * Registered per-session via [[GraftFunctions.register]] (idempotent)
  * or cluster-wide with `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", null, name, usage, "")

  // checkInputDataTypes validates TYPES after construction, but the
  // builder itself indexes es(1)/es(2) — a wrong ARGUMENT COUNT must be
  // a comprehensible analysis error, not IndexOutOfBoundsException
  private def arity(es: Seq[Expression], n: Int, sig: String): Seq[Expression] = {
    if (es.length != n) throw new IllegalArgumentException(
      s"expected $n argument(s): $sig, got ${es.length}")
    es
  }

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("vector_dot", info("vector_dot",
      "vector_dot(a, b) - double dot product of two float/double arrays"),
      es0 => { val es = arity(es0, 2, "vector_dot(a, b)")
        VectorDot(es.head, es(1)) }),
    ("simhash64", info("simhash64",
      "simhash64(tokens) - 64-bit SimHash of a string array"),
      es0 => SimHash64(arity(es0, 1, "simhash64(tokens)").head)),
    ("minhash_sig", info("minhash_sig",
      "minhash_sig(tokens) - 64 minhash values over 3-token shingles"),
      es0 => MinHashSig(arity(es0, 1, "minhash_sig(tokens)").head)),
    ("shingle_hashes", info("shingle_hashes",
      "shingle_hashes(tokens[, width]) - distinct xxhash64 of the " +
        "width-token shingles (default 3)"),
      es0 => es0.length match {
        case 1 => ShingleHashes(es0.head)
        case 2 =>
          val w = intLit(es0(1), "shingle_hashes: width")
          if (w < 1) throw new IllegalArgumentException(
            s"shingle_hashes: width must be >= 1, got $w")
          ShingleHashes(es0.head, w)
        case _ => throw new IllegalArgumentException(
          "expected 1-2 argument(s): shingle_hashes(tokens[, width]), " +
            s"got ${es0.length}")
      }),
    ("bigram_hashes", info("bigram_hashes",
      "bigram_hashes(tokens) - (h1, h2) xxhash64 pairs of adjacent tokens"),
      es0 => BigramHashes(arity(es0, 1, "bigram_hashes(tokens)").head)),
    ("sorted_intersect_count", info("sorted_intersect_count",
      "sorted_intersect_count(a, b) - |A ∩ B| of two sorted long arrays"),
      es0 => { val es = arity(es0, 2, "sorted_intersect_count(a, b)")
        SortedIntersectCount(es.head, es(1)) }),
    ("lsh_bucket_ids", info("lsh_bucket_ids",
      "lsh_bucket_ids(vec, tables, bits) - per-table hyperplane LSH buckets"),
      es0 => { val es = arity(es0, 3, "lsh_bucket_ids(vec, tables, bits)")
        LshBucketIds(es.head, intLit(es(1), "lsh_bucket_ids: tables"),
          intLit(es(2), "lsh_bucket_ids: bits")) }),
    ("lsh_probe_ids", info("lsh_probe_ids",
      "lsh_probe_ids(vec, tables, bits, max_probes) - query-directed " +
        "multi-probe LSH bucket sequence, max_probes per table"),
      es0 => { val es = arity(es0, 4,
        "lsh_probe_ids(vec, tables, bits, max_probes)")
        LshProbeIds(es.head, intLit(es(1), "lsh_probe_ids: tables"),
          intLit(es(2), "lsh_probe_ids: bits"),
          intLit(es(3), "lsh_probe_ids: max_probes")) }),
    ("nearest_centroid", info("nearest_centroid",
      "nearest_centroid(vec, cids, cents_flat, norms) - id of the " +
        "centroid maximizing dot(vec, c)/|c|, ties to the smallest id"),
      es0 => { val es = arity(es0, 4,
        "nearest_centroid(vec, cids, cents_flat, norms)")
        NearestCentroid(es.head, validCentroids(LiteralCentroids(
          longArrayLit(es(1), "cids"),
          doubleArrayLit(es(2), "cents_flat"),
          doubleArrayLit(es(3), "norms")))) }),
    ("nfc_normalize", info("nfc_normalize",
      "nfc_normalize(str) - Unicode NFC canonical composition"),
      es0 => NfcNormalize(arity(es0, 1, "nfc_normalize(str)").head))
  )

  private def intLit(e: Expression, name: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(
      s"$name must be an integer literal")
  }

  // literal arrays extracted to PRIMITIVE arrays at BUILD time (the
  // VectorDot constDoubles rule: GenericArrayData element reads unbox
  // java.lang.Double per element — per-row per-centroid that's the
  // difference between register loops and megamorphic calls)
  private def longArrayLit(e: Expression, name: String): Array[Long] =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
          a: ArrayData, ArrayType(LongType, _)) if a != null =>
        a.toLongArray()
      case _ => throw new IllegalArgumentException(
        s"nearest_centroid: $name must be an array<bigint> literal")
    }

  private def doubleArrayLit(e: Expression, name: String): Array[Double] =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
          a: ArrayData, ArrayType(DoubleType, _)) if a != null =>
        a.toDoubleArray()
      case org.apache.spark.sql.catalyst.expressions.Literal(
          a: ArrayData, ArrayType(FloatType, _)) if a != null =>
        a.toFloatArray().map(_.toDouble)
      case _ => throw new IllegalArgumentException(
        s"nearest_centroid: $name must be an array<double> literal")
    }

  // NaN scores are unselectable in the argmax (s>best and s==best are
  // both false), so a zero/NaN-norm or non-finite centroid would
  // silently skip that centroid here while DuckDB's ORDER BY sorts NaN
  // GREATEST — the two engines would diverge. Reject the degenerate
  // domain at build time so both engines face the same one.
  private def validCentroids(c: CentroidSet): CentroidSet = {
    if (c.centsFlat.exists(d => java.lang.Double.isNaN(d) ||
        java.lang.Double.isInfinite(d)))
      throw new IllegalArgumentException(
        "nearest_centroid: cents_flat must be finite")
    if (c.norms.exists(n => !(n > 0) || java.lang.Double.isInfinite(n)))
      throw new IllegalArgumentException(
        "nearest_centroid: norms must be finite and > 0 " +
          "(zero-norm centroid => NaN score for every row)")
    c
  }

  /** Column form of [[NearestCentroid]] over a `Broadcast` handle — the
    * cluster deployment path. The registered SQL function covers the
    * literal form (a registry builder only ever sees literal
    * arguments); this covers clusters where sqrt(n)-sized plan literals
    * are unwelcome: the handle is validated on the driver (broadcast
    * values are driver-readable), and executors fetch the matrix once
    * each instead of deserializing it with every task's plan. */
  def nearestCentroid(vec: org.apache.spark.sql.Column,
      handle: org.apache.spark.broadcast.Broadcast[
        (Array[Long], Array[Double], Array[Double])])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(NearestCentroid(
      GraftColumnBridge.expression(vec),
      validCentroids(BroadcastCentroids(handle))))
  }

  /** Column form of [[NearestCells]] — the multi-probe generalization
    * of [[nearestCentroid]] (top-P cell ids per row). Broadcast-handle
    * only: the graph/probe operators that need top-P are data-derived
    * paths with no SQL-registry form required. */
  def nearestCells(vec: org.apache.spark.sql.Column, p: Int,
      handle: org.apache.spark.broadcast.Broadcast[
        (Array[Long], Array[Double], Array[Double])])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(NearestCells(
      GraftColumnBridge.expression(vec), p,
      validCentroids(BroadcastCentroids(handle))))
  }

  /** Column form of [[TopKInCell]] — the kNN-graph build's fused
    * per-(query x cell) kernel: exact top-k cosine neighbors within
    * one member block, ranked by the same round-6 score as the window
    * foil (column API only, like [[topKEdges]]). */
  def topKInCell(qe: org.apache.spark.sql.Column,
                 qn: org.apache.spark.sql.Column,
                 qid: org.apache.spark.sql.Column,
                 bcid: org.apache.spark.sql.Column,
                 bids: org.apache.spark.sql.Column,
                 bvecs: org.apache.spark.sql.Column,
                 bnorms: org.apache.spark.sql.Column, k: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(TopKInCell(
      GraftColumnBridge.expression(qe),
      GraftColumnBridge.expression(qn),
      GraftColumnBridge.expression(qid),
      GraftColumnBridge.expression(bcid),
      GraftColumnBridge.expression(bids),
      GraftColumnBridge.expression(bvecs),
      GraftColumnBridge.expression(bnorms), k))
  }

  /** Column form of [[TopKEdges]] — the exact sort-free top-k
    * aggregate for edge selection (column API only: the k is a build
    * parameter, never a SQL literal). */
  def topKEdges(dst: org.apache.spark.sql.Column,
                score: org.apache.spark.sql.Column, k: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(TopKEdges(
      GraftColumnBridge.expression(dst),
      GraftColumnBridge.expression(score), k).toAggregateExpression())
  }

  /** Column form of [[BpeTokens]]: byte-pair encode a text column
    * against an ordered merge table (the column API is the only form —
    * merge tables are data-derived or config, never SQL literals). The
    * rank map is built eagerly here so an invalid table (a rule
    * referencing a symbol no earlier rule creates, a duplicate rule)
    * fails at plan construction on the driver, not per-task. */
  def bpeTokens(text: org.apache.spark.sql.Column,
                merges: Seq[(String, String)])
      : org.apache.spark.sql.Column = {
    BpeTokens.rankMap(merges) // driver-side validation
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      BpeTokens(GraftColumnBridge.expression(text), merges))
  }

  /** Column form of [[PqEncode]] — broadcast-handle only (codebooks
    * are data-derived, so there is no literal SQL-registry form; the
    * ANN family is oracle-exempt anyway). Shape-validated on the
    * driver, where the broadcast value is readable. */
  def pqEncode(vec: org.apache.spark.sql.Column, cb: PqCodebooks)
      : org.apache.spark.sql.Column = {
    require(cb.m >= 1 && cb.m <= 8 && cb.ks >= 1 && cb.ks <= 256 &&
      cb.dsub >= 1 && cb.flat.length == cb.m * cb.ks * cb.dsub,
      s"pq_encode: inconsistent codebook shape (m=${cb.m}, ks=${cb.ks}, " +
        s"dsub=${cb.dsub}, |flat|=${cb.flat.length})")
    require(cb.flat.forall(x => !java.lang.Double.isNaN(x) &&
      !java.lang.Double.isInfinite(x)), "pq_encode: codebooks must be finite")
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      PqEncode(GraftColumnBridge.expression(vec), cb))
  }

  /** Column form of [[PqAdcScore]]; the LUT map is validated on the
    * driver. */
  def pqAdcScore(qid: org.apache.spark.sql.Column,
      code: org.apache.spark.sql.Column, m: Int, ks: Int,
      luts: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Double]]])
      : org.apache.spark.sql.Column = {
    require(luts.value.nonEmpty && luts.value.values.forall(_.length == m * ks),
      s"pq_adc_score: every LUT must be m*ks=${m * ks} doubles")
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(PqAdcScore(
      GraftColumnBridge.expression(qid), GraftColumnBridge.expression(code),
      m, ks, luts))
  }

  /** Column form of [[BloomMightContain]] — broadcast-handle only,
    * like [[pqEncode]] (the bits are data-derived; the exact verify
    * downstream makes the operator's RESULTS data-independent, so no
    * SQL-registry form is needed for oracle parity). Shape-validated
    * on the driver, where the broadcast value is readable. */
  def bloomMightContain(h: org.apache.spark.sql.Column,
      bloom: org.apache.spark.broadcast.Broadcast[(Array[Long], Int)])
      : org.apache.spark.sql.Column = {
    val (bits, k) = bloom.value
    require(bits.nonEmpty && (bits.length & (bits.length - 1)) == 0,
      s"bloom_might_contain: bits length must be a power of two, " +
        s"got ${bits.length}")
    require(k >= 1 && k <= 16,
      s"bloom_might_contain: k must be in [1, 16], got $k")
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      BloomMightContain(GraftColumnBridge.expression(h), bloom))
  }

  /** Idempotent per-session registration (temp functions). Skips names
    * already present so repeated calls (one per query invocation) don't
    * emit a "replaced a previously registered function" WARN each —
    * hundreds of those per test run bury the log lines the project
    * actually greps for (e.g. codegen "Failed to compile"). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, inf, builder) =>
      // "ours already present" is recognized by the ExpressionInfo
      // className stamp ("graft.functions") — a user's own function
      // under a graft name still gets replaced, exactly as before.
      // registerFunction (not createOrReplaceTempFunction, which
      // synthesizes its own info and would lose the stamp) records
      // `inf` so the next call can see it.
      val ours = reg.lookupFunction(FunctionIdentifier(name))
        .exists(_.getClassName == "graft.functions")
      if (!ours) reg.registerFunction(FunctionIdentifier(name), inf, builder)
    }
  }
}

/** `spark.sql.extensions` entry point for cluster deployments: the
  * native function registry plus the HOF-dot-product optimizer rewrite
  * ([[RewriteHofDotProduct]]). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, inf, builder) =>
      ext.injectFunction((FunctionIdentifier(name), inf, builder))
    }
    ext.injectOptimizerRule(_ => RewriteHofDotProduct)
  }
}

/** Dot product of two numeric arrays (float or double, mixed ok) in
  * double precision, sequential fold — bit-compatible with both the
  * HOF formulation it replaces and DuckDB's list arithmetic. Fully
  * codegen'd: stays inside whole-stage codegen with a primitive loop. */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def okElem(t: DataType): Boolean =
    t == FloatType || t == DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _)) if okElem(lt) && okElem(rt) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"vector_dot expects array<float|double>, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }

  override def dataType: DataType = DoubleType

  private def leftFloat = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def rightFloat = right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    if (leftFloat && rightFloat)
      while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    else if (!leftFloat && !rightFloat)
      while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    else if (leftFloat)
      while (i < n) { dot += x.getFloat(i).toDouble * y.getDouble(i); i += 1 }
    else
      while (i < n) { dot += x.getDouble(i) * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  /** A non-null constant array operand, extracted to a PRIMITIVE
    * double[]. `lit(Array[Double])` arrives as a Literal over
    * GenericArrayData, whose element reads unbox java.lang.Double
    * through a megamorphic call — ~50ns/element, which made literal-
    * plane LSH bucketing 10x slower than the same dot against a
    * column (32x ScaleSmoke: 18s of a 19.6s query). Baked in as a
    * reference object, the loop reads w[i] at primitive-array speed. */
  private def constDoubles(e: Expression): Option[Array[Double]] = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(a: ArrayData,
        ArrayType(et, _)) if a != null =>
      et match {
        case DoubleType => Some(a.toDoubleArray())
        case FloatType => Some(a.toFloatArray().map(_.toDouble))
        case _ => None
      }
    case _ => None
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    (constDoubles(left), constDoubles(right)) match {
      case (None, Some(w)) =>
        val wRef = ctx.addReferenceObj("constVec", w, "double[]")
        nullSafeCodeGen(ctx, ev, (a, _) => {
          val n = ctx.freshName("n"); val i = ctx.freshName("i")
          val acc = ctx.freshName("dot")
          val gx = if (leftFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
          s"""
             |final int $n = java.lang.Math.min($a.numElements(), $wRef.length);
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) { $acc += $gx * $wRef[$i]; }
             |${ev.value} = $acc;
           """.stripMargin
        })
      case (Some(w), None) =>
        val wRef = ctx.addReferenceObj("constVec", w, "double[]")
        nullSafeCodeGen(ctx, ev, (_, b) => {
          val n = ctx.freshName("n"); val i = ctx.freshName("i")
          val acc = ctx.freshName("dot")
          val gy = if (rightFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
          s"""
             |final int $n = java.lang.Math.min($wRef.length, $b.numElements());
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) { $acc += $wRef[$i] * $gy; }
             |${ev.value} = $acc;
           """.stripMargin
        })
      case _ =>
        nullSafeCodeGen(ctx, ev, (a, b) => {
          // fresh-named locals: the fragment inlines into surrounding
          // whole-stage code where bare i/n would collide with enclosing
          // scope variables (Java forbids shadowing locals)
          val n = ctx.freshName("n"); val i = ctx.freshName("i")
          val acc = ctx.freshName("dot")
          val gx = if (leftFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
          val gy = if (rightFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
          s"""
             |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) { $acc += $gx * $gy; }
             |${ev.value} = $acc;
           """.stripMargin
        })
    }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** Deterministic hyperplane table shared by the native LSH bucketing
  * expression and its spec-form Column formulation
  * (graft.operators.Similarity.tableBucket) — both MUST read the same
  * weights or probe buckets diverge from corpus buckets. splitmix64
  * mixing constants are public domain. */
object LshPlanes {
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def weight(plane: Int, dim: Int): Double = {
    val h = splitmix64(plane.toLong * 1000003L + dim.toLong)
    (h >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
  }
}

/** All LSH table buckets of a vector in ONE tight eval: bucket bit p of
  * table t is the sign of <vec, plane(t*bits+p)>, planes from
  * [[LshPlanes]]. Returns array<long> of length `tables`.
  *
  * Exists because the Column formulation (tables x bits CASE WHEN
  * vector_dot terms summed per table) generates one enormous fused
  * consume method: whole-stage codegen cannot split expressions that
  * reference the scan's local variables, HotSpot refuses to JIT the
  * oversized method, and the "codegen'd" projection runs as
  * interpreted bytecode — measured 7.9s vs 0.24s for the same dots as
  * plain columns at 64k x 48 planes. One CodegenFallback call per ROW
  * (not per plane) with primitive-array loops inside is the MinHashSig
  * pattern: the interpreted dispatch amortizes over tables*bits*dim
  * multiply-adds. */
case class LshBucketIds(child: Expression, tables: Int, bits: Int)
    extends UnaryExpression with CodegenFallback {

  // build-time domain checks (the shingle_hashes width pattern):
  // tables < 1 would throw per-row at eval; bits > 63 would silently
  // alias planes through 1L << (p & 63) — wrong buckets, no error
  require(tables >= 1,
    s"lsh_bucket_ids: tables must be >= 1, got $tables")
  require(bits >= 1 && bits <= 63,
    s"lsh_bucket_ids: bits must be in [1, 63], got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket_ids expects array<float|double>, got " +
        child.dataType.simpleString)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // plane -> dim weights, built once per (deserialized) instance; dim
  // follows the input vector at eval so the expression needs no dim arg
  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Double]]]()
  private def planesFor(dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent(dim,
      _ => Array.tabulate(tables * bits, dim)((p, j) => LshPlanes.weight(p, j)))

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val v = new Array[Double](n)
    var j = 0
    if (elemFloat) while (j < n) { v(j) = arr.getFloat(j).toDouble; j += 1 }
    else while (j < n) { v(j) = arr.getDouble(j); j += 1 }
    val planes = planesFor(n)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < bits) {
        val w = planes(t * bits + p)
        var dot = 0.0
        var i = 0
        while (i < n) { dot += v(i) * w(i); i += 1 }
        if (dot >= 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): LshBucketIds =
    copy(child = c)
}

/** Query-directed multi-probe LSH (Lv et al., VLDB'07): the probe
  * buckets of a vector in every table, ordered by how likely each
  * perturbed bucket is to hold the vector's true neighbors. Returns
  * array<long> of length `tables * maxProbes`; element
  * `t * maxProbes + i` is the i-th bucket to probe in table t
  * (element 0 of each block is always the exact-signature bucket).
  *
  * Direction comes from the per-bit margins: bit p of table t flips
  * for a near neighbor with probability decreasing in
  * |<vec, plane(t*bits+p)>| (the vector's distance from the
  * hyperplane), so a flip-set's likelihood score is the sum of its
  * squared margins — smaller is likelier. Selection per table:
  *
  *  - the base bucket, then ALL Hamming-1 flips (when the budget
  *    allows): probing can never do worse than the undirected
  *    depth-1 ball, the ⊇-depth-1 law SimilaritySpec pins;
  *  - remaining budget filled with the LOWEST-SCORE flips from the
  *    weight-2 ∪ weight-3 ball, ties to the smaller mask. This is
  *    where direction pays: the undirected depth-2 ball spends
  *    budget flipping the two LARGEST margins, while three small
  *    margins are often likelier than two big ones — those weight-3
  *    sets are reachable here at identical probe count.
  *
  * Same [[LshPlanes]] weights and CodegenFallback-with-primitive-
  * loops shape as [[LshBucketIds]] (one native call per row). Probe-
  * side only (<= tens of rows) — the corpus bucket build never pays
  * the enumeration; per row it is O(tables * bits^3) on a few-row
  * frame. */
case class LshProbeIds(child: Expression, tables: Int, bits: Int,
                       maxProbes: Int)
    extends UnaryExpression with CodegenFallback {

  require(tables >= 1,
    s"lsh_probe_ids: tables must be >= 1, got $tables")
  require(bits >= 1 && bits <= 63,
    s"lsh_probe_ids: bits must be in [1, 63], got $bits")
  require(maxProbes >= 1 && maxProbes <= LshProbeIds.ballSize(bits),
    s"lsh_probe_ids: maxProbes must be in [1, ${LshProbeIds.ballSize(bits)}]" +
      s" (the weight<=3 ball at $bits bits), got $maxProbes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"lsh_probe_ids expects array<float|double>, got " +
        child.dataType.simpleString)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Double]]]()
  private def planesFor(dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent(dim,
      _ => Array.tabulate(tables * bits, dim)((p, j) => LshPlanes.weight(p, j)))

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val v = new Array[Double](n)
    var j = 0
    if (elemFloat) while (j < n) { v(j) = arr.getFloat(j).toDouble; j += 1 }
    else while (j < n) { v(j) = arr.getDouble(j); j += 1 }
    val planes = planesFor(n)
    val out = new Array[Long](tables * maxProbes)
    var t = 0
    while (t < tables) {
      val m2 = new Array[Double](bits) // squared margin per bit
      var bucket = 0L
      var p = 0
      while (p < bits) {
        val w = planes(t * bits + p)
        var dot = 0.0
        var i = 0
        while (i < n) { dot += v(i) * w(i); i += 1 }
        if (dot >= 0) bucket |= (1L << p)
        m2(p) = dot * dot
        p += 1
      }
      val masks = LshProbeIds.selectMasks(bits, maxProbes, m2)
      var i = 0
      while (i < maxProbes) {
        out(t * maxProbes + i) = bucket ^ masks(i)
        i += 1
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): LshProbeIds =
    copy(child = c)
}

object LshProbeIds {
  /** Size of the Hamming weight<=3 perturbation ball. */
  def ballSize(bits: Int): Int =
    1 + bits + bits * (bits - 1) / 2 + bits * (bits - 1) * (bits - 2) / 6

  /** The directed mask sequence for one table, shared with the spec
    * reimplementation in SimilaritySpec: base, all singles in bit
    * order (or the lowest-margin singles if the budget is smaller),
    * then the best-scoring weight-2/3 masks by (score, mask). */
  private[graft] def selectMasks(bits: Int, maxProbes: Int,
                                 m2: Array[Double]): Array[Long] = {
    val masks = new Array[Long](maxProbes)
    var idx = 0
    masks(idx) = 0L; idx += 1
    if (maxProbes <= bits) {
      // sub-depth-1 budget: lowest-margin singles first (directed
      // within weight 1), ties to the lower bit
      (0 until bits).sortBy(p => (m2(p), p)).take(maxProbes - 1)
        .foreach { p => masks(idx) = 1L << p; idx += 1 }
    } else {
      var p = 0
      while (p < bits) { masks(idx) = 1L << p; idx += 1; p += 1 }
      val rest = maxProbes - idx
      if (rest > 0) {
        val cand = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
        var i = 0
        while (i < bits) {
          var j = i + 1
          while (j < bits) {
            cand += ((m2(i) + m2(j), (1L << i) | (1L << j)))
            var k = j + 1
            while (k < bits) {
              cand += ((m2(i) + m2(j) + m2(k),
                (1L << i) | (1L << j) | (1L << k)))
              k += 1
            }
            j += 1
          }
          i += 1
        }
        cand.sortInPlaceBy { case (s, m) => (s, m) }
        var r = 0
        while (r < rest) {
          masks(idx) = cand(r)._2; idx += 1; r += 1
        }
      }
    }
    masks
  }
}

/** How [[NearestCentroid]] receives its centroid matrix. Both forms
  * present the same primitive arrays to the eval loop; they differ only
  * in what travels with the serialized plan. */
sealed trait CentroidSet extends Serializable {
  def cids: Array[Long]
  def centsFlat: Array[Double]
  def norms: Array[Double]
}

/** Plan-literal centroids — what the SQL function builder produces
  * (a registry builder can only see literal arguments). The arrays ride
  * inside the expression tree: fine locally, but serialized per task
  * on a cluster (51 MB of plan at n = 1e10). */
case class LiteralCentroids(cids: Array[Long], centsFlat: Array[Double],
                            norms: Array[Double]) extends CentroidSet

/** Broadcast-handle centroids — the cluster path: the plan carries only
  * the handle, each executor fetches (cids, centsFlat, norms) once from
  * its block manager. Built via [[GraftFunctions.nearestCentroid]]. */
case class BroadcastCentroids(
    handle: org.apache.spark.broadcast.Broadcast[
      (Array[Long], Array[Double], Array[Double])]) extends CentroidSet {
  @transient private lazy val v = handle.value
  override def cids: Array[Long] = v._1
  override def centsFlat: Array[Double] = v._2
  override def norms: Array[Double] = v._3
}

/** Nearest-centroid id for a vector: argmax over the baked-in centroid
  * matrix of dot(v, c)/|c| (a per-row monotone transform of cosine —
  * the vector's own norm scales every candidate equally, so it is not
  * computed), ties to the smallest centroid id. ONE interpreted
  * dispatch per ROW with primitive double loops over all nlist x dim
  * multiply-adds inside (the LshBucketIds/MinHashSig pattern).
  *
  * Exists because the relational formulation of IVF cell assignment —
  * crossJoin against broadcast centroids, then a max_by aggregate —
  * materializes n x nlist rows EACH carrying two vector copies through
  * the join and a partial-aggregate pipeline: the 128x ScaleSmoke
  * measured q_ann_ivf at 15.65x for 128x data (256k vectors x 506
  * centroids = 130M wide intermediate rows), where the same FLOPs as a
  * fused in-register loop are sub-second. Assignment compares
  * UNROUNDED scores (the old form rounded cosines to 6 dp first, which
  * only quantized near-ties; both forms break remaining ties on cid).
  *
  * Centroids arrive through a [[CentroidSet]]: either array literals
  * extracted to primitive arrays at BUILD time ([[GraftFunctions]]
  * builder — the SQL-registerable form) or a `Broadcast` handle
  * ([[GraftFunctions.nearestCentroid]]). Scale: nlist tracks sqrt(n),
  * so at n = 1e10 (100 TB of vectors) the matrix is 1e5 x 64 doubles =
  * 51 MB; as plan literals that is 51 MB of plan serialized with every
  * task and resident in every plan-cache entry, while the broadcast
  * form ships a ~bytes handle and each EXECUTOR fetches the matrix
  * once via the block manager (TorrentBroadcast) — the cluster
  * deployment path. */
case class NearestCentroid(child: Expression, source: CentroidSet)
    extends UnaryExpression with CodegenFallback {

  // Dereferenced ONCE per (de)serialized expression instance, not per
  // row: on an executor the first access pulls the broadcast value
  // from the local block manager, after which eval loops over plain
  // primitive arrays exactly as the literal form does.
  @transient private lazy val cids: Array[Long] = source.cids
  @transient private lazy val centsFlat: Array[Double] = source.centsFlat
  @transient private lazy val norms: Array[Double] = source.norms

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      if (cids.nonEmpty && norms.length == cids.length &&
          centsFlat.length % cids.length == 0)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid: inconsistent centroid shapes (|cids|=" +
          s"${cids.length}, |cents_flat|=${centsFlat.length}, " +
          s"|norms|=${norms.length})")
    case _ => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects array<float|double>, got " +
        child.dataType.simpleString)
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "nearest_centroid"

  private def elemFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val dim =
    if (cids.isEmpty) 0 else centsFlat.length / cids.length

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val m = math.min(arr.numElements(), dim)
    val v = new Array[Double](m)
    var j = 0
    if (elemFloat) while (j < m) { v(j) = arr.getFloat(j).toDouble; j += 1 }
    else while (j < m) { v(j) = arr.getDouble(j); j += 1 }
    var best = Double.NegativeInfinity
    var bestCid = Long.MaxValue
    var c = 0
    while (c < cids.length) {
      val off = c * dim
      var dot = 0.0
      var i = 0
      while (i < m) { dot += v(i) * centsFlat(off + i); i += 1 }
      val s = dot / norms(c)
      if (s > best || (s == best && cids(c) < bestCid)) {
        best = s; bestCid = cids(c)
      }
      c += 1
    }
    bestCid
  }

  override protected def withNewChildInternal(c: Expression): NearestCentroid =
    copy(child = c)
}

/** Top-P nearest-centroid ids for a vector, ordered by (score desc,
  * cid asc) — the multi-probe generalization of [[NearestCentroid]]
  * (P = 1 degenerates to the argmax). Same fused-loop rationale: the
  * relational form (crossJoin broadcast centroids + a top-P window)
  * materializes n × nlist wide rows where this is one interpreted
  * dispatch per ROW with primitive loops inside; for a kNN-GRAPH
  * build every corpus vector is a query, so the window form's
  * intermediate would be the full n × nlist blowup the rule-13 foil
  * measured at 15.65x. Selection is insertion into two P-sized
  * arrays (P ≈ nlist/8 stays small); ties break to the smaller cid,
  * exactly the [[NearestCentroid]]/oracle convention, so the emitted
  * ORDER is total and engine-reproducible. */
case class NearestCells(child: Expression, p: Int, source: CentroidSet)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val cids: Array[Long] = source.cids
  @transient private lazy val centsFlat: Array[Double] = source.centsFlat
  @transient private lazy val norms: Array[Double] = source.norms

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      if (p < 1) TypeCheckResult.TypeCheckFailure(
        s"nearest_cells: p must be >= 1, got $p")
      else if (cids.nonEmpty && norms.length == cids.length &&
          centsFlat.length % cids.length == 0)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"nearest_cells: inconsistent centroid shapes (|cids|=" +
          s"${cids.length}, |cents_flat|=${centsFlat.length}, " +
          s"|norms|=${norms.length})")
    case _ => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells expects array<float|double>, got " +
        child.dataType.simpleString)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "nearest_cells"

  private def elemFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val dim =
    if (cids.isEmpty) 0 else centsFlat.length / cids.length

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val m = math.min(arr.numElements(), dim)
    val v = new Array[Double](m)
    var j = 0
    if (elemFloat) while (j < m) { v(j) = arr.getFloat(j).toDouble; j += 1 }
    else while (j < m) { v(j) = arr.getDouble(j); j += 1 }
    val cap = math.min(p, cids.length)
    val topS = new Array[Double](cap)
    val topC = new Array[Long](cap)
    var filled = 0
    var c = 0
    while (c < cids.length) {
      val off = c * dim
      var dot = 0.0
      var i = 0
      while (i < m) { dot += v(i) * centsFlat(off + i); i += 1 }
      val s = dot / norms(c)
      val cid = cids(c)
      // insertion position: entries strictly better than (s, cid)
      var pos = filled
      while (pos > 0 && (topS(pos - 1) < s ||
          (topS(pos - 1) == s && topC(pos - 1) > cid))) pos -= 1
      if (pos < cap) {
        val last = math.min(filled, cap - 1)
        var k = last
        while (k > pos) { topS(k) = topS(k - 1); topC(k) = topC(k - 1); k -= 1 }
        topS(pos) = s
        topC(pos) = cid
        if (filled < cap) filled += 1
      }
      c += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(topC, filled))
  }

  override protected def withNewChildInternal(c: Expression): NearestCells =
    copy(child = c)
}

/** 64-bit SimHash of a token array: bit j is the sign of
  * Σ_tokens (bit j of xxhash64(token, seed=42) ? +1 : -1) over the
  * token MULTISET. One tight JIT'd eval per row. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes, 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** MinHash signature over 3-token shingles: 64 values, the h-th being
  * min over shingles of xxhash64(shingle, seed=h). Duplicate shingles
  * cannot change a min, so no distinct pass is needed. One eval per
  * row replaces a 64 x |shingles| interpreted-HOF cascade. */
case class MinHashSig(child: Expression)
    extends UnaryExpression with CodegenFallback {

  val NumHashes = 64
  val Width = 3

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val toks = a.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    val sep = UTF8String.fromString(" ")
    val nShingles = math.max(n - Width + 1, 1)
    var i = 0
    while (i < nShingles) {
      val parts = new Array[UTF8String](math.min(Width, n - i))
      var w = 0
      while (w < parts.length) { parts(w) = toks.getUTF8String(i + w); w += 1 }
      val sh = UTF8String.concatWs(sep, parts: _*)
      var h = 0
      while (h < NumHashes) {
        val v = XXH64.hashUnsafeBytes(sh.getBaseObject, sh.getBaseOffset,
          sh.numBytes, h.toLong)
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Intersection cardinality of two ascending-sorted long arrays (set
  * semantics assumed: no duplicates, as produced by
  * `sort_array(collect_list(shingle_hash))`) — the PPJoin verification
  * merge scan as one codegen'd primitive loop. Replaces the relational
  * intersection (pair⋈shingles⋈shingles + groupBy count), whose shuffle
  * volume is Σ|A∩B| rows across candidate pairs; here each pair costs
  * O(|A|+|B|) sequential longs inside whole-stage codegen. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count expects array<bigint>, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var cnt = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { cnt += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // all locals fresh-named: this fragment inlines into surrounding
      // whole-stage code where bare i/j/n would collide
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |final int $n = $a.numElements(), $m = $b.numElements();
         |int $i = 0, $j = 0; long $cnt = 0L;
         |while ($i < $n && $j < $m) {
         |  final long $x = $a.getLong($i), $y = $b.getLong($j);
         |  if ($x == $y) { $cnt++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Adjacent-token xxhash64 pairs (h1, h2) of a string array — the
  * per-row work of bigram-LM scoring (q_ngram_lm) as ONE eval per row:
  * each token is hashed once (the equivalent
  * `transform(sequence(...), i => struct(xxhash64(el_i), xxhash64(el_i+1)))`
  * chain is interpreted per position and hashes every interior token
  * twice — CLAUDE.md rule 1). Seed 42 = Spark's xxhash64 default, so
  * values are bit-identical to the expression chain this replaces.
  * Duplicates are KEPT (each occurrence is an LM event). */
case class BigramHashes(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "bigram_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"bigram_hashes expects array<string>, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val toks = a.asInstanceOf[ArrayData]
    val n = toks.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val h = new Array[Long](n)
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      // null token -> the seed, matching xxhash64(NULL) in the HOF
      // chain this replaced (hash fns leave the accumulator at the
      // seed for null inputs) — the chain tolerated nulls, so must we
      h(i) = if (t == null) 42L
      else XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset,
        t.numBytes, 42L)
      i += 1
    }
    val out = new Array[Any](n - 1)
    i = 0
    while (i < n - 1) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(h(i), h(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): BigramHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** The expression's hash loop as a plain function over tokens —
    * identical windows (max(n-width+1, 1), end-clamped), identical
    * separator and xxhash64 seed, so values are bit-compatible with
    * the column form. Exists for the streaming twins
    * (graft.streaming.CorpusStreams), whose typed flatMaps hash spans
    * outside any Catalyst expression; DedupSpec pins the equality. */
  def of(toks: Array[String], width: Int): Array[Long] = {
    require(width >= 1, s"shingle width must be >= 1, got $width")
    val n = toks.length
    val nShingles = math.max(n - width + 1, 1)
    val seen = new java.util.HashSet[java.lang.Long](nShingles * 2)
    val out = new Array[Long](nShingles)
    var m = 0
    var i = 0
    while (i < nShingles) {
      val end = math.min(i + width, n)
      val sb = new java.lang.StringBuilder
      var w = i
      var appended = false
      while (w < end) {
        // skip null tokens entirely (no separator), matching the
        // expression form's UTF8String.concatWs — appending would
        // emit the literal "null" and diverge the hashes
        if (toks(w) != null) {
          if (appended) sb.append(' ')
          sb.append(toks(w))
          appended = true
        }
        w += 1
      }
      val sh = UTF8String.fromString(sb.toString)
      val v = XXH64.hashUnsafeBytes(sh.getBaseObject, sh.getBaseOffset,
        sh.numBytes, 42L)
      if (seen.add(v)) { out(m) = v; m += 1 }
      i += 1
    }
    if (m == nShingles) out else java.util.Arrays.copyOf(out, m)
  }
}

/** Distinct 64-bit hashes of the 3-token shingles of a token array —
  * the fused native form of
  * `array_distinct(transform(sequence(...), i => concat_ws(" ",
  * slice(toks, i, 3))))` followed by `xxhash64(sh)`, which costs one
  * INTERPRETED HOF step per shingle (the single hottest interpreted
  * loop in the engine: every shingle-based dedup starts here). Seed 42
  * is Spark's `xxhash64` default, so the produced longs are
  * bit-identical to the expression chain this replaces. Dedup happens
  * on hashes, not strings — the same set w.h.p. (collisions ~ n²/2⁶⁵),
  * and only set cardinalities flow downstream. */
case class ShingleHashes(child: Expression, width: Int = 3)
    extends UnaryExpression with CodegenFallback {

  private def Width = width
  val Seed = 42L // xxhash64's default seed

  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects array<string>, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val toks = a.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val nShingles = math.max(n - Width + 1, 1)
    val seen = new java.util.HashSet[java.lang.Long](nShingles * 2)
    val out = new Array[Long](nShingles)
    var m = 0
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i < nShingles) {
      val parts = new Array[UTF8String](math.min(Width, n - i))
      var w = 0
      while (w < parts.length) { parts(w) = toks.getUTF8String(i + w); w += 1 }
      val sh = UTF8String.concatWs(sep, parts: _*)
      val v = XXH64.hashUnsafeBytes(sh.getBaseObject, sh.getBaseOffset,
        sh.numBytes, Seed)
      if (seen.add(v)) { out(m) = v; m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == nShingles) out else out.take(m))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Unicode NFC canonical composition of a string column — the
  * normalization pass a corpus pipeline runs before any
  * tokenize/shingle step so that "é" and "é" hash identically.
  * Codegen'd as one static call per row ([[NfcNormalize.normalize]]),
  * which fast-paths already-normalized text (all-ASCII in the
  * synthetic corpus) without allocating a new string. Differential
  * cover: DuckDB's nfc_normalize in the q_text_normalize oracle;
  * planted combining-mark fixtures in DedupSpec pin the non-ASCII
  * path the corpus cannot. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects string, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = StringType

  override def nullSafeEval(a: Any): Any =
    NfcNormalize.normalize(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Byte-pair encode a document against a learned merge table — the
  * corpus-hot ENCODE pass of the tokenizer whose TRAINING is
  * graft.operators.TextAnalysis.bpeMerges. Per word (single-space
  * tokens, the corpus convention): symbols = code points + the `</w>`
  * terminal, then the standard encoder loop — find the minimum-rank
  * pair present, merge ALL its occurrences in one leftmost-greedy
  * non-overlapping pass, repeat until no rule applies. That loop is
  * provably identical to replaying the training folds in rank order
  * (each pass reaches the rule's fixpoint, and a merge only ever
  * creates pairs containing its composite, whose rules are by
  * construction LATER), which BpeSpec pins against an independent
  * driver replay. Cost is O(len^2) hash probes per word, independent
  * of the merge-table size — a per-rank sweep would cost O(K x len)
  * per word at real vocabularies (K ~ 32k).
  *
  * doGenCode emits one static call per row with the rank map attached
  * as a plan reference object (the NfcNormalize pattern), so the
  * expression stays inside whole-stage codegen; an interpreted HOF
  * fold here would re-enter the interpreter once per word per rule
  * (rule 1's foil). */
case class BpeTokens(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  @transient private lazy val ranks = BpeTokens.rankMap(merges)

  override def prettyName: String = "bpe_tokens"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"bpe_tokens expects string, got ${child.dataType.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    BpeTokens.encode(a.asInstanceOf[UTF8String], ranks)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks,
      "java.util.HashMap")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeTokens.encode($c, $ranksRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokens =
    copy(child = newChild)
}

object BpeTokens {

  /** Rank lookup (key = l + ' ' + r, value = 0-based rank), built
    * once per plan. Validates the training invariant the encoder's
    * correctness argument leans on: every non-initial symbol a rule
    * references must have been CREATED by an earlier rule (initial
    * symbols are single code points and the `</w>` terminal) — a table
    * violating it could make the min-rank loop diverge from the
    * rank-order training replay. */
  def rankMap(merges: Seq[(String, String)])
      : java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    val known = scala.collection.mutable.Set.empty[String]
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      def ok(sym: String): Boolean = sym == "</w>" ||
        (sym.nonEmpty && sym.codePointCount(0, sym.length) == 1) ||
        known(sym)
      require(ok(l) && ok(r),
        s"bpe_tokens: merge ${i + 1} ($l, $r) references a symbol no " +
          "earlier rule creates — the table does not come from a " +
          "rank-ordered training run")
      require(m.put(l + " " + r, Int.box(i)) == null,
        s"bpe_tokens: duplicate merge rule ($l, $r)")
      known += (l + r)
    }
    m
  }

  /** Static so generated code calls it monomorphically. */
  def encode(text: UTF8String,
             ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    val str = text.toString
    val n = str.length
    var ws = 0
    while (ws < n) {
      var we = str.indexOf(' ', ws)
      if (we < 0) we = n
      if (we > ws) encodeWord(str.substring(ws, we), ranks, out)
      ws = we + 1
    }
    val arr = new Array[AnyRef](out.size())
    var i = 0
    while (i < arr.length) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }

  private def encodeWord(w: String,
                         ranks: java.util.HashMap[String, Integer],
                         out: java.util.ArrayList[UTF8String]): Unit = {
    var syms = new java.util.ArrayList[String](w.length + 1)
    var i = 0
    while (i < w.length) {
      val cc = Character.charCount(w.codePointAt(i))
      syms.add(w.substring(i, i + cc))
      i += cc
    }
    syms.add("</w>")
    var done = false
    while (!done && syms.size > 1) {
      // the minimum-rank pair present (ranks are unique per rule, so
      // the chosen rank identifies exactly one (l, r))
      var best = Int.MaxValue
      var j = 0
      while (j < syms.size - 1) {
        val r = ranks.get(syms.get(j) + " " + syms.get(j + 1))
        if (r != null && r < best) best = r
        j += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // one leftmost-greedy non-overlapping pass of the chosen rule
        // — the training fold's semantics ("aaaa" + (a,a) -> (aa)(aa))
        val merged = new java.util.ArrayList[String](syms.size)
        var p = 0
        while (p < syms.size) {
          val hit = p < syms.size - 1 && {
            val r = ranks.get(syms.get(p) + " " + syms.get(p + 1))
            r != null && r.intValue() == best
          }
          if (hit) { merged.add(syms.get(p) + syms.get(p + 1)); p += 2 }
          else { merged.add(syms.get(p)); p += 1 }
        }
        syms = merged
      }
    }
    var t = 0
    while (t < syms.size) {
      out.add(UTF8String.fromString(syms.get(t)))
      t += 1
    }
  }
}

object NfcNormalize {
  /** Static so generated code calls it monomorphically. Returns the
    * INPUT object unchanged when already NFC (the overwhelmingly
    * common case) — no allocation on the fast path. */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Product-quantization codebooks shared by [[PqEncode]] (corpus-side
  * encoding) and the probe-side LUT construction in
  * graft.operators.Similarity: `m` subspaces x `ks` codes x `dsub`
  * dims, flattened row-major as [s][j][d]. Travels as a `Broadcast`
  * handle (the [[BroadcastCentroids]] rule): the plan carries bytes
  * and each executor fetches the table once — at the standard
  * m=8 x ks=256 x dsub=8 the table is 128 KB regardless of n. */
case class PqCodebooks(m: Int, ks: Int, dsub: Int,
    handle: org.apache.spark.broadcast.Broadcast[Array[Double]])
    extends Serializable {
  @transient lazy val flat: Array[Double] = handle.value
}

/** Product-quantization encoder: per subspace s, the index of the
  * L2-nearest codebook entry to the vector's slice
  * [s*dsub, (s+1)*dsub), each index packed into byte s of one long
  * (m <= 8, ks <= 256 — an 8-byte code per vector, a 32x compression
  * of a 64-dim float vector). Ties go to the lowest index, so codes
  * are deterministic. ONE interpreted dispatch per row with primitive
  * double loops inside (the NearestCentroid pattern); an L2 argmin
  * over the codebook bounds the dot-product error downstream ADC
  * scoring makes: |dot(q,x) - adc| <= |q| * |x - reconstruction|. */
case class PqEncode(child: Expression, cb: PqCodebooks)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val flat: Array[Double] = cb.flat

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      if (cb.m >= 1 && cb.m <= 8 && cb.ks >= 1 && cb.ks <= 256 &&
          cb.dsub >= 1 && flat.length == cb.m * cb.ks * cb.dsub)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"pq_encode: inconsistent codebook shape (m=${cb.m}, ks=${cb.ks}, " +
          s"dsub=${cb.dsub}, |flat|=${flat.length})")
    case _ => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects array<float|double>, got " +
        child.dataType.simpleString)
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "pq_encode"

  private def elemFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val dim = cb.m * cb.dsub
    val n = math.min(arr.numElements(), dim)
    val v = new Array[Double](dim) // missing tail dims read as 0
    var i = 0
    if (elemFloat) while (i < n) { v(i) = arr.getFloat(i).toDouble; i += 1 }
    else while (i < n) { v(i) = arr.getDouble(i); i += 1 }
    var code = 0L
    var s = 0
    while (s < cb.m) {
      val vOff = s * cb.dsub
      val base = s * cb.ks * cb.dsub
      var bestJ = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < cb.ks) {
        val cOff = base + j * cb.dsub
        var d2 = 0.0
        var d = 0
        while (d < cb.dsub) {
          val diff = v(vOff + d) - flat(cOff + d)
          d2 += diff * diff
          d += 1
        }
        if (d2 < bestD) { bestD = d2; bestJ = j }
        j += 1
      }
      code |= bestJ.toLong << (8 * s)
      s += 1
    }
    code
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Asymmetric-distance (ADC) score of a PQ code against a probe:
  * Σ_s lut(s*ks + byte_s(code)) where the probe's lookup table holds
  * dot(q_slice_s, codebook[s][j]) — i.e. the approximate dot product
  * dot(q, reconstruction(code)) in m ADDS per (probe, vector) instead
  * of dim MULTIPLY-ADDS, over an 8-byte column instead of a 256-byte
  * vector. The LUT map (qid -> m*ks doubles, built on the driver from
  * the tiny probe set) rides a Broadcast handle. A qid absent from
  * the map is a caller bug and throws with the qid named. */
case class PqAdcScore(left: Expression, right: Expression,
    m: Int, ks: Int,
    luts: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Double]]])
    extends BinaryExpression with CodegenFallback {

  @transient private lazy val lutMap: Map[Long, Array[Double]] = luts.value

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) =>
        if (m >= 1 && m <= 8 && ks >= 1 && ks <= 256 &&
            lutMap.nonEmpty && lutMap.values.forall(_.length == m * ks))
          TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"pq_adc_score: inconsistent LUT shape (m=$m, ks=$ks, " +
            s"luts=${lutMap.size})")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc_score expects (bigint qid, bigint code), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "pq_adc_score"

  override def nullSafeEval(q: Any, c: Any): Any = {
    val lut = lutMap.getOrElse(q.asInstanceOf[Long],
      throw new IllegalArgumentException(
        s"pq_adc_score: no LUT for qid ${q.asInstanceOf[Long]}"))
    val code = c.asInstanceOf[Long]
    var sum = 0.0
    var s = 0
    while (s < m) {
      sum += lut(s * ks + ((code >>> (8 * s)) & 0xffL).toInt)
      s += 1
    }
    sum
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)
}

/** Bloom filter over 64-bit hashes: power-of-two bit array + k probes
  * via Kirsch-Mitzenmacher double hashing (h1 + j*h2, both derived
  * from the key through [[LshPlanes.splitmix64]] — public-domain
  * constants). Shared by the driver-side build and both eval paths of
  * [[BloomMightContain]], so set and test bits can never diverge.
  *
  * Deterministic in the member SET (bit-OR is order-independent), so
  * a collect-order-nondeterministic build still yields identical bits
  * — and false positives downstream are removed by an exact verify
  * anyway (the q_decontaminate_bloom contract). */
object BloomLongs {

  /** Build (bits, k) sized at `bitsPerKey` bits per member, rounded up
    * to a power of two (the mask-instead-of-modulo probe); k from the
    * ACTUAL m/n ratio (ln 2 * m/n), clamped to [1, 16]. At the default
    * 10 bits/key the false-positive rate is < 1%. */
  def build(members: Array[Long], bitsPerKey: Int = 10): (Array[Long], Int) = {
    require(bitsPerKey >= 1 && bitsPerKey <= 64,
      s"bloom build: bitsPerKey must be in [1, 64], got $bitsPerKey")
    val n = math.max(1, members.length)
    var mBits = 64L
    while (mBits < n.toLong * bitsPerKey) mBits <<= 1
    val k = math.max(1L, math.min(16L,
      math.round(0.6931471805599453 * mBits.toDouble / n.toDouble))).toInt
    val bits = new Array[Long]((mBits >>> 6).toInt)
    val mask = mBits - 1
    var i = 0
    while (i < members.length) {
      val h1 = LshPlanes.splitmix64(members(i))
      val h2 = LshPlanes.splitmix64(members(i) ^ 0xA5A5A5A5A5A5A5A5L) | 1L
      var j = 0
      while (j < k) {
        val idx = (h1 + j.toLong * h2) & mask
        bits((idx >>> 6).toInt) |= (1L << idx)
        j += 1
      }
      i += 1
    }
    (bits, k)
  }

  def mightContain(bits: Array[Long], k: Int, h: Long): Boolean = {
    val mask = bits.length.toLong * 64L - 1L
    val h1 = LshPlanes.splitmix64(h)
    val h2 = LshPlanes.splitmix64(h ^ 0xA5A5A5A5A5A5A5A5L) | 1L
    var j = 0
    while (j < k) {
      val idx = (h1 + j.toLong * h2) & mask
      if ((bits((idx >>> 6).toInt) & (1L << idx)) == 0L) return false
      j += 1
    }
    true
  }
}

/** Bloom-membership test of a 64-bit hash column — the constant-memory
  * prefilter for "does this row's key appear in the (broadcast) other
  * side?" joins. At 10 bits/key the filter is ~50x smaller than the
  * equivalent broadcast HashedRelation of 8-byte keys (whose layout
  * overhead is several-x on top of the key bytes), which is what keeps
  * a 10^9-gram eval suite broadcastable to small executors; false
  * positives MUST be removed by an exact join downstream (the engine's
  * only caller, q_decontaminate_bloom, does — so its results equal the
  * exact operator's bit-for-bit, FP-independent).
  *
  * Full `doGenCode` (the VectorDot posture, not CodegenFallback): the
  * test is k masked probes of a referenced long[], small enough that
  * an interpreted dispatch per row would dominate it — inlined in the
  * scan's whole-stage loop it costs a few ns per gram. The bits ride a
  * Broadcast handle (the PqAdcScore pattern): plans carry bytes, each
  * executor fetches the array once. */
case class BloomMightContain(child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[(Array[Long], Int)])
    extends UnaryExpression {

  @transient private lazy val bits: Array[Long] = bloom.value._1
  @transient private lazy val k: Int = bloom.value._2

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain expects bigint, got ${t.simpleString}")
  }

  override def dataType: DataType = BooleanType

  override def prettyName: String = "bloom_might_contain"

  override def nullSafeEval(a: Any): Any =
    BloomLongs.mightContain(bits, k, a.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bitsRef = ctx.addReferenceObj("bloomBits", bits, "long[]")
    // bake mask/k as literals: both are plan constants, and a literal
    // mask keeps the probe loop free of the array-length reload
    val mask = bits.length.toLong * 64L - 1L
    nullSafeCodeGen(ctx, ev, h => {
      val h1 = ctx.freshName("h1"); val h2 = ctx.freshName("h2")
      val j = ctx.freshName("j"); val idx = ctx.freshName("idx")
      val ok = ctx.freshName("ok")
      s"""
         |final long $h1 = graft.functions.LshPlanes.splitmix64($h);
         |final long $h2 =
         |  graft.functions.LshPlanes.splitmix64($h ^ 0xA5A5A5A5A5A5A5A5L) | 1L;
         |boolean $ok = true;
         |for (int $j = 0; $j < $k; $j++) {
         |  final long $idx = ($h1 + (long) $j * $h2) & ${mask}L;
         |  if (($bitsRef[(int) ($idx >>> 6)] & (1L << $idx)) == 0L) {
         |    $ok = false; break;
         |  }
         |}
         |${ev.value} = $ok;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): BloomMightContain =
    copy(child = c)
}
