package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Exact top-k cosine neighbors of one query vector within ONE
  * quantizer cell, as a single fused per-row loop — the kNN-graph
  * build's inner kernel.
  *
  * The relational form joins every (query x probed-cell) row against
  * the cell's MEMBER rows and feeds n x fan scored pairs (2.9G at the
  * 512k rung) through join + project + aggregate machinery; per-pair
  * row overhead dwarfs the 64-FLOP dot it carries (rule 13 measured
  * 15.65x for the same shape on the centroid argmax). This expression
  * instead joins n x np rows (one per query x probed cell — a
  * mean-occupancy factor fewer, ~sqrt(n)) against per-cell MEMBER
  * BLOCKS (parallel arrays: ids, flattened embeddings, norms) and
  * runs the whole cell's scoring + selection in primitive loops, like
  * [[NearestCells]] does for the quantizer.
  *
  * Selection contract (must stay bit-identical to the window
  * `row_number over (partition by src order by round(cos, 6) desc,
  * dst asc)`):
  *  - ranking uses the ROUNDED score — two raw cosines that round
  *    equal are a TIE broken by dst asc, so selecting on raw values
  *    would diverge exactly at quantized-tie boundaries (rule 26's
  *    territory);
  *  - rounding replicates Spark's Round for doubles bit-for-bit:
  *    java.math.BigDecimal.valueOf(x).setScale(6, HALF_UP)
  *    .doubleValue() (valueOf goes through Double.toString — the
  *    shortest-decimal HALF_UP of rule 26; pinned against
  *    round(col, 6) in SimilaritySpec);
  *  - BigDecimal is only paid at the selection BOUNDARY: a candidate
  *    whose raw cosine sits more than 1e-6 below the current k-th
  *    rounded score cannot round into the buffer (HALF_UP moves a
  *    value by <= 5e-7 + ulp), so the occupancy-sized loop stays
  *    FLOP-bound and only ~k + ties candidates ever round;
  *  - the query row itself (nid == qid) and NaN cosines (zero-norm
  *    vectors — 0/0 in this plain-double loop, where the SQL division
  *    would throw under ANSI) are not edges, matching TopKEdges'
  *    explicit NaN skip.
  *
  * Emits array<struct<dst, score>> best-first ((score desc, dst asc),
  * the [[TopKEdgesBuffer]] order); the build merges the per-cell
  * winners across a query's np probed cells with [[TopKEdges]] —
  * top-k of unioned per-cell top-ks is exactly the global top-k,
  * since every (q, neighbor) pair arises in exactly one cell (the
  * neighbor's assigned cell).
  *
  * UNLIKE [[NearestCells]] (whose centroid set is plan-side constant)
  * this expression's block arrays arrive THROUGH A JOIN, so
  * CodegenFallback would be a performance trap, measured: a fallback
  * expression knocks its project out of whole-stage codegen, the
  * join below then MATERIALIZES its output rows, and every probe row
  * copies the ~350 KB block payload into an UnsafeRow — terabytes of
  * memcpy at the 512k rung (BuildProbe r18: the fallback build spent
  * 8.7k task-s in that stage). doGenCode keeps join + kernel in ONE
  * codegen stage: the generated code calls [[kernel]] with the child
  * ArrayData REFERENCES (the build-side hash-relation rows), and the
  * payload is never copied. */
case class TopKInCell(qe: Expression, qn: Expression, qid: Expression,
                      bcid: Expression, bids: Expression,
                      bvecs: Expression, bnorms: Expression, k: Int)
    extends Expression {

  require(k >= 1, s"top_k_in_cell: k must be >= 1, got $k")

  override def prettyName: String = "top_k_in_cell"
  override def children: Seq[Expression] =
    Seq(qe, qn, qid, bcid, bids, bvecs, bnorms)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): TopKInCell =
    copy(qe = c(0), qn = c(1), qid = c(2), bcid = c(3), bids = c(4),
      bvecs = c(5), bnorms = c(6))

  private def isVec(t: DataType) = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!isVec(qe.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"top_k_in_cell: qe must be array<float|double>, got " +
          qe.dataType.simpleString)
    else if (qn.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure("top_k_in_cell: qn must be double")
    else if (qid.dataType != LongType)
      TypeCheckResult.TypeCheckFailure("top_k_in_cell: qid must be bigint")
    else if (bcid.dataType != LongType)
      TypeCheckResult.TypeCheckFailure("top_k_in_cell: bcid must be bigint")
    else if (bids.dataType != ArrayType(LongType, containsNull = false) &&
        bids.dataType != ArrayType(LongType, containsNull = true))
      TypeCheckResult.TypeCheckFailure(
        s"top_k_in_cell: bids must be array<bigint>, got " +
          bids.dataType.simpleString)
    else if (!isVec(bvecs.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"top_k_in_cell: bvecs must be array<float|double> (flattened)," +
          s" got ${bvecs.dataType.simpleString}")
    else if (bnorms.dataType != ArrayType(DoubleType, containsNull = false) &&
        bnorms.dataType != ArrayType(DoubleType, containsNull = true))
      TypeCheckResult.TypeCheckFailure(
        s"top_k_in_cell: bnorms must be array<double>, got " +
          bnorms.dataType.simpleString)
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("dst", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = true
  override def foldable: Boolean = false

  @transient private lazy val qeFloat =
    qe.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val bvFloat =
    bvecs.dataType.asInstanceOf[ArrayType].elementType == FloatType

  import TopKInCell.round6

  /** Per-cell decoded block, cached by cid: the same member block is
    * probed once per PROBER of the cell (~n·np/nlist times), and
    * paying the ArrayData getFloat + widen per probe would multiply
    * the dot's memory traffic by the probe count. Decoded once, the
    * inner loop runs over primitive double[] (JIT-vectorizable).
    * Keyed by bcid — unique within one build's plan, and each task
    * deserializes its own expression instance, so entries are only
    * ever this build's cells. Bound: a hash-partitioned probe stream
    * shows a task ~nlist/partitions distinct cells (a few dozen in
    * every shape we run); past 512 entries one arbitrary OTHER entry
    * is evicted per insert — size stays bounded without the full
    * clear()'s thundering re-decode of every live cell if a task
    * ever cycles through more. Memory at the cap:
    * cells x occupancy x dim doubles ~ (n/partitions) x 8 B. */
  @transient private lazy val blockCache =
    new java.util.concurrent.ConcurrentHashMap[Long, TopKInCell.Block]()

  private def decode(idsA: ArrayData, vecsA: ArrayData,
                     normsA: ArrayData): TopKInCell.Block = {
    val nb = idsA.numElements()
    require(normsA.numElements() == nb && vecsA.numElements() % nb == 0,
      s"top_k_in_cell: misaligned block (|ids|=$nb, " +
        s"|norms|=${normsA.numElements()}, |vecs|=${vecsA.numElements()})")
    // float corpora stay FLOAT in the cache: the kernel is memory-
    // bandwidth-bound (the 512k probe streams 16.6 TB of block bytes
    // through 48M random ~345 KB block scans — BuildProbe r18), so
    // halving the element width halves the traffic; the in-loop
    // widen (float -> double) multiplies the SAME doubles the eager
    // double[] decode produced — bit-identical dots.
    if (bvFloat)
      TopKInCell.Block(idsA.toLongArray(), vecsA.toFloatArray(), null,
        normsA.toDoubleArray())
    else
      TopKInCell.Block(idsA.toLongArray(), null, vecsA.toDoubleArray(),
        normsA.toDoubleArray())
  }

  override def eval(input: InternalRow): Any = {
    val qeV = qe.eval(input)
    val qnV = qn.eval(input)
    val qidV = qid.eval(input)
    val bcidV = bcid.eval(input)
    val idsV = bids.eval(input)
    val vecsV = bvecs.eval(input)
    val normsV = bnorms.eval(input)
    if (qeV == null || qnV == null || qidV == null || bcidV == null ||
        idsV == null || vecsV == null || normsV == null)
      return null
    kernel(qeV.asInstanceOf[ArrayData], qnV.asInstanceOf[Double],
      qidV.asInstanceOf[Long], bcidV.asInstanceOf[Long],
      idsV.asInstanceOf[ArrayData], vecsV.asInstanceOf[ArrayData],
      normsV.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("topKInCell", this,
      classOf[TopKInCell].getName)
    val evs = children.map(_.genCode(ctx))
    val anyNull = evs.map(_.isNull).mkString(" || ")
    val arrCls = classOf[ArrayData].getName
    val childCode = evs.map(_.code.toString).mkString("\n")
    ev.copy(code =
      code"""
         |$childCode
         |boolean ${ev.isNull} = $anyNull;
         |$arrCls ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = $self.kernel(
         |    ${evs(0).value}, ${evs(1).value}, ${evs(2).value},
         |    ${evs(3).value}, ${evs(4).value}, ${evs(5).value},
         |    ${evs(6).value});
         |}
       """.stripMargin)
  }

  /** The fused per-(query x probed-cell) loop; public so generated
    * code can call it through the plan reference. */
  def kernel(qeV: ArrayData, qnD: Double, qidL: Long, bcidL: Long,
             idsV: ArrayData, vecsV: ArrayData,
             normsV: ArrayData): ArrayData = {
    if (blockCache.size() > 512) {
      val it = blockCache.keySet().iterator()
      var evicted = false
      while (!evicted && it.hasNext) {
        val key = it.next()
        if (key != bcidL) { blockCache.remove(key); evicted = true }
      }
    }
    val block = blockCache.computeIfAbsent(bcidL,
      _ => decode(idsV, vecsV, normsV))
    val ids = block.ids
    val norms = block.norms
    val nb = ids.length
    if (nb == 0) return new GenericArrayData(Array.empty[Any])
    val vecsF = block.vecsF
    val vecsD = block.vecsD
    val dim = (if (vecsF != null) vecsF.length else vecsD.length) / nb
    val m = math.min(qeV.numElements(), dim)
    val v = new Array[Double](m)
    var j = 0
    if (qeFloat) while (j < m) { v(j) = qeV.getFloat(j).toDouble; j += 1 }
    else while (j < m) { v(j) = qeV.getDouble(j); j += 1 }
    val buf = new TopKEdgesBuffer(k)
    var c = 0
    while (c < nb) {
      val nid = ids(c)
      if (nid != qidL) {
        val off = c * dim
        var dot = 0.0
        var i = 0
        if (vecsF != null)
          while (i < m) { dot += v(i) * vecsF(off + i); i += 1 }
        else
          while (i < m) { dot += v(i) * vecsD(off + i); i += 1 }
        val cos = dot / (qnD * norms(c))
        // NaN is not an edge; the boundary test keeps BigDecimal off
        // the occupancy-sized hot loop (see the contract above)
        if (!cos.isNaN &&
            (buf.n < k || cos >= buf.scores(k - 1) - 1e-6))
          buf.insert(nid, round6(cos))
      }
      c += 1
    }
    val out = new Array[Any](buf.n)
    var t = 0
    while (t < buf.n) {
      out(t) = InternalRow(buf.dsts(t), buf.scores(t)); t += 1
    }
    new GenericArrayData(out)
  }
}

object TopKInCell {
  /** Decoded per-cell member block: exactly one of vecsF/vecsD is
    * set (the source corpus's element width — float corpora stay
    * float to halve the kernel's memory traffic). */
  private[functions] final case class Block(
      ids: Array[Long], vecsF: Array[Float], vecsD: Array[Double],
      norms: Array[Double])

  /** Spark's Round(double, 6) for DoubleType, bit-for-bit:
    * BigDecimal.valueOf goes through Double.toString (the shortest
    * decimal representation), then HALF_UP at scale 6 — exactly
    * RoundBase's double branch. Pinned against round(col, 6) on a
    * boundary sweep in SimilaritySpec. */
  private[graft] def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
}
