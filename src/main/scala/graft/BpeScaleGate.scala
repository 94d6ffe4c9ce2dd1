package graft

import org.apache.spark.sql.functions._

/** K-independence gate for the native BPE encoder at a REALISTIC
  * merge-table size (K ≈ 32k; the oracled queries use 10 rules —
  * production tokenizers carry 32k-100k).
  *
  * The encoder's cost claim (graft.functions.BpeTokens): O(len²) per
  * word with HashMap rank lookups, so per-row cost is INDEPENDENT of
  * the table size K. This gate measures the claim with a controlled
  * variable: the same corpus encoded under
  *
  *  - `base`: the 10 canonical rules;
  *  - `padded`: the same 10 rules + 32k INERT rules over private-use
  *    characters the corpus cannot contain
  *    (TextAnalysis.inertMerges) — identical merge behavior, 3200x
  *    the rank-map size, so any wall delta is pure table-size
  *    overhead. Outputs are asserted BIT-IDENTICAL (count + xxhash64
  *    over (doc_id, toks)) before the timing is trusted: a padded
  *    run that merged differently would be measuring different work.
  *  - `real32k`: a dense-firing synthetic 32k table
  *    (TextAnalysis.syntheticMerges) — reported, not gated: it merges
  *    MORE (every adjacent letter pair fires), so its per-row cost
  *    measures realistic full-table behavior, not the K variable.
  *
  * Timing follows the Bench protocol (CLAUDE.md rule 6): min of REPS
  * interleaved round-robin cold reps per variant, so one host-noise
  * burst cannot cover all of a variant's reps.
  *
  * Usage: runMain graft.BpeScaleGate <corpusDir> [ratioMax]
  * Prints one JSON line; exits 1 when padded/base exceeds ratioMax
  * (default 1.5 — generous against host noise; the claim predicts
  * ~1.0) or the identity check fails.
  */
object BpeScaleGate {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BpeScaleGate <corpusDir> [ratioMax]")
    val dir = args(0)
    val ratioMax = if (args.length > 1) args(1).toDouble else 1.5
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = SparkEntry.localSession()
    functions.GraftFunctions.register(spark)

    val base = operators.TextAnalysis.CanonicalMerges
    val padded = base ++ operators.TextAnalysis.inertMerges(32000)
    val real32k = operators.TextAnalysis.syntheticMerges(32000)
    val nRows = Tables.documents(spark, dir).count()

    def encoded(merges: Seq[(String, String)]) =
      Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"),
          functions.GraftFunctions.bpeTokens(col("text"), merges)
            .as("tk"))

    // identity BEFORE timing: padded must merge exactly like base
    def fingerprint(merges: Seq[(String, String)]): (Long, Long) = {
      val r = encoded(merges)
        .select(xxhash64(col("doc_id"),
          concat_ws(" ", col("tk"))).as("h"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)))
        .head
      (r.getLong(0), r.getLong(1))
    }
    val fpBase = fingerprint(base)
    val fpPadded = fingerprint(padded)
    require(fpBase == fpPadded,
      s"inert padding changed the encode: base $fpBase != padded " +
        s"$fpPadded — the timing comparison would measure different " +
        "work (and the inert alphabet may overlap the corpus)")

    // warmup (codegen + page cache) once per variant, then timed reps
    // interleaved round-robin; consumption is a full-stream aggregate
    // so every row's encode really runs
    def consume(merges: Seq[(String, String)]): Unit = {
      encoded(merges).select(sum(size(col("tk")))).head
      ()
    }
    val variants = Seq("base" -> base, "padded" -> padded,
      "real32k" -> real32k)
    variants.foreach { case (_, m) => consume(m) }
    val walls = scala.collection.mutable.Map.empty[String, Double]
    (1 to reps).foreach { _ =>
      variants.foreach { case (name, m) =>
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime()
        consume(m)
        val w = (System.nanoTime() - t0) / 1e9
        walls(name) = math.min(walls.getOrElse(name, Double.MaxValue), w)
      }
    }
    val perRowUs =
      variants.map { case (n, _) => n -> walls(n) * 1e6 / nRows }.toMap
    val ratio = walls("padded") / walls("base")
    val ok = ratio <= ratioMax
    println(s"""{"metric":"bpe_k_independence","rows":$nRows,""" +
      s""""k_base":${base.size},"k_padded":${padded.size},""" +
      s""""k_real":${real32k.size},""" +
      s""""wall_base_s":${walls("base")},""" +
      s""""wall_padded_s":${walls("padded")},""" +
      s""""wall_real32k_s":${walls("real32k")},""" +
      s""""us_per_row_base":${perRowUs("base")},""" +
      s""""us_per_row_padded":${perRowUs("padded")},""" +
      s""""us_per_row_real32k":${perRowUs("real32k")},""" +
      s""""ratio_padded_base":$ratio,"ratio_max":$ratioMax,""" +
      s""""identity_ok":true,"pass":$ok}""")
    if (!ok) {
      System.err.println(s"BPE K-INDEPENDENCE GATE FAILED: padded/base " +
        s"= $ratio > $ratioMax")
      sys.exit(1)
    }
  }
}
