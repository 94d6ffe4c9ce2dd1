package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (64-dim float vectors) — the
  * approximate-nearest-neighbor surface of a training-data pipeline
  * (SURVEY.md §2.10 north star).
  *
  *  - Brute-force cosine top-k: the correctness baseline. Probe set ×
  *    corpus join; the probe side is tiny and broadcast, so the corpus
  *    is scanned once with no shuffle of the vectors; per-probe top-k
  *    via window row_number (TakeOrdered-style).
  *  - LSH (random hyperplane): 8 tables x lshBits(n) sign bits →
  *    per-table bucket ids; candidates are the union of the probe's
  *    buckets. Bits scale with the corpus so bucket occupancy (and so
  *    candidate cost) stays ~constant. Hyperplanes are a deterministic
  *    pseudo-random (splitmix64) table — at 100 TB the plane table
  *    stays (8*bits)x64 doubles, baked into the plan as literals, and
  *    the bucket join replaces per-probe scans.
  *  - IVF: coarse quantization by a deterministic centroid sample of
  *    ~sqrt(n) vectors (modulus floors at 53, today's behavior at test
  *    scale); every vector is assigned to its nearest centroid
  *    (broadcast centroids, one corpus scan); probes search
  *    nprobe ≈ nlist/8 nearest cells (floor 4). The inverted-file
  *    shape: cell assignment is the partition key at scale.
  *
  * All dot products go through the native codegen'd VectorDot
  * expression (graft.functions) in double precision — no UDFs, no
  * interpreted higher-order functions in hot paths. Cosine scores are
  * rounded to 6 dp in outputs so cross-engine float noise cannot flip
  * the oracle compare; ordering ties break on vec_id.
  *
  * ANN variants are oracle-exempt (hash/sample specific); SimilaritySpec
  * asserts recall against the brute-force baseline.
  *
  * Every ANN operator is pick candidates → score → exact re-rank, and
  * each probe rule is written once, in one of six shared functions:
  * [[querySide]] (the probe frame, `scorable`'s counterpart),
  * [[ivfNprobe]] (cells per probe), [[probeCells]] (the top-nprobe
  * centroid probe), [[exactTopK]] (the unrounded-cosine re-rank),
  * [[adcShortlist]] (the PQ top-R), and [[raisedThresholdSession]]
  * (the cloned session with a raised aggregation fallback threshold).
  */
object Similarity {

  /** Σ a_i*b_i in double, sequential fold (deterministic) — the native
    * codegen'd [[graft.functions.VectorDot]]; the HOF formulation
    * (aggregate∘zip_with) is interpreted and ~100x slower per pair. */
  def dot(a: Column, b: Column): Column =
    call_function("vector_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** float[] -> double[] so all arithmetic is double (matches the
    * oracle's CAST(embedding AS DOUBLE[])). */
  def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Hyperplane weights: the canonical table lives in
    * [[graft.functions.LshPlanes]] (shared with the native bucketing
    * expression — identical weights are what keep probe and corpus
    * buckets aligned). */
  private def planeWeight(plane: Int, dim: Int): Double =
    graft.functions.LshPlanes.weight(plane, dim)

  // Multi-table LSH: Tables x bits hyperplanes. One table of 16 bits
  // would make buckets so fine that most probes find nothing; L
  // independent coarse tables is the standard recall/cost trade
  // (candidates = union of the probe's bucket across tables).
  val LshTables = 8
  val BitsPerTable = 6
  val Dim = 64

  /** Sign bits per table, scaled to the corpus: bucket occupancy is
    * n / 2^bits, so FIXED bits means candidate sets (hence the exact
    * re-scoring join) grow linearly with the corpus — the 32x
    * ScaleSmoke measured q_ann_lsh at 9.5x for 32x data under fixed
    * 6-bit buckets. Holding occupancy near 32 keeps per-probe
    * candidates bounded at any scale; the floor pins today's behavior
    * at the test scale factors (n<=2000 -> 6 bits, unchanged). */
  def lshBits(n: Long): Int =
    math.max(BitsPerTable, math.min(16,
      math.ceil(math.log(math.max(1L, n) / 32.0) / math.log(2.0)).toInt))

  /** The pre-directed policy's undirected mask count (base +
    * Hamming-1, plus the full Hamming-2 ball once bits >= 12, capped
    * at 256) — the historical unit the probe BUDGET is expressed in. */
  def probesPerTable(bits: Int): Int =
    math.min(256, 1 + bits + (if (bits >= 12) bits * (bits - 1) / 2 else 0))

  /** Probe-budget multiplier T for q_ann_lsh: the per-table probe
    * sequence is T x [[probesPerTable]] masks (capped at the
    * weight<=3 ball and 512), filled in directed order — lowest
    * summed-squared-margin first. Widening is PROBE-SIDE only: the
    * corpus bucket build is untouched and the exact-dot rescoring
    * join grows linearly in T x occupancy per probe (tens of KB of
    * candidate rows per probe at any n), while recall climbs because
    * the directed sequence admits more of the likeliest-neighbor
    * buckets. T=2 measured (r14 ladder): recall 256k/512k/1M =
    * 0.780/0.640/0.700, from 0.620/0.560/0.640 at T=1 — the 1M rung
    * crosses 0.7 for the first time. */
  val ProbeBudget = 2

  /** Effective budget at a given bits: DOUBLES once bits reaches 16.
    * Rationale (the r15 2M-rung regime break, CLAUDE.md rule 16 in
    * action): for a fixed query-neighbor angle θ, each hyperplane
    * separates the pair with probability θ/π, so the neighbor's
    * expected Hamming distance from the query's bucket grows
    * LINEARLY with bits — while the probe ball stays weight<=3. At
    * bits=16 (n=2,048k) the T=2 sequence (274 masks/table) measured
    * recall 0.580 (floor 0.60, down from 0.700 at 1M/bits 15); T=4
    * (512 masks/table, ~73%% of the weight<=3 ball) is the probe-side
    * correction — candidates stay L x probes x occupancy, occupancy
    * pinned ~32 by [[lshBits]], so cost per probe is still
    * n-independent. */
  def probeBudget(bits: Int): Int =
    if (bits >= 16) 2 * ProbeBudget else ProbeBudget

  /** The per-table probe-sequence length q_ann_lsh actually uses:
    * [[probeBudget]] x [[probesPerTable]], clamped to the enumerable
    * weight<=3 ball. */
  def probeCount(bits: Int): Int =
    math.min(graft.functions.LshProbeIds.ballSize(bits),
      math.min(512, probeBudget(bits) * probesPerTable(bits)))

  /** The bucket of `e` in LSH table `t`: `bits` sign bits packed into
    * a long — the SPEC form, kept as documentation and as the law
    * test's independent formulation. Production bucketing goes through
    * the native `lsh_bucket_ids` expression instead: this Column
    * version expands to tables x bits CASE WHEN vector_dot terms whose
    * fused consume method is too large for HotSpot to JIT (whole-stage
    * codegen cannot split expressions referencing the scan's local
    * variables), so the "codegen'd" projection executes as interpreted
    * bytecode — measured 33x slower than the native expression on the
    * 32x ScaleSmoke corpus. Identical values: same LshPlanes table,
    * same sign rule, SimilaritySpec pins spec == native.
    *
    * `dim` must match the data's embedding width (the native
    * expression sizes planes from the actual vector length at eval;
    * a dim mismatch here would truncate the dot and silently break
    * the spec==native law for non-64-wide corpora). */
  private[graft] def tableBucket(t: Int, e: Column, bits: Int,
                                 dim: Int = Dim): Column =
    (0 until bits).map { p =>
      val w = lit((0 until dim).map(j => planeWeight(t * bits + p, j)).toArray)
      when(dot(e, w) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** One row per (vector, lsh table): the vector's bucket in that
    * table. Map-only — no join, no aggregation; a corpus scan computes
    * all LshTables buckets per row in ONE native call
    * ([[graft.functions.LshBucketIds]]) and explodes them. (The
    * earlier relational form — crossJoin against a plane table, then a
    * groupBy(vec_id, table_id) packing bits — shuffled corpus x 48
    * rows to build what is a pure per-row function of the vector.) */
  def lshBuckets(spark: SparkSession, vecs: DataFrame,
                 bits: Int = BitsPerTable,
                 spreadInput: Boolean = true): DataFrame =
    (if (spreadInput) Tables.spreadSized(vecs, 1L << 20, col("vec_id")) else vecs)
      .select(col("vec_id"),
        posexplode(call_function("lsh_bucket_ids",
          col("embedding"), lit(LshTables), lit(bits))))
      .toDF("vec_id", "table_id", "bucket")

  /** Corpus side pre-shaped for scoring: the vector as double[] plus
    * its norm computed ONCE per row (not once per pair — at n probes x
    * m vectors that's the difference between (n+m) and 3-n-m norm
    * computations; the per-pair work drops to one dot product). The
    * fold order matches the inline form, so scores are bit-identical. */
  private def scorable(df: DataFrame): DataFrame =
    Tables.spreadSized(df, 1L << 20, col("vec_id"))
      .select(col("vec_id"), col("embedding").as("ce"),
      norm(col("embedding")).as("cn"))

  /** Probe side pre-shaped for scoring — [[scorable]]'s counterpart:
    * (vec_id → qid, embedding → qe, norm → qn), the norm once per
    * probe row. */
  private[graft] def querySide(df: DataFrame): DataFrame =
    df.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      norm(col("embedding")).as("qn"))

  /** Unrounded cosine of a (query side, corpus side) pair row. */
  private def rawCos: Column =
    dot(col("qe"), col("ce")) / (col("qn") * col("cn"))

  private def pairScore: Column = round(rawCos, 6)

  /** Brute-force top-k cosine neighbors for a probe set
    * (probes: qid, qe, qn). */
  def bruteForceKnn(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = scorable(corpus).crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), pairScore.as("score"))
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("nid"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("qid", "nid", "score", "rn")
  }

  private def probes(s: SparkSession, d: String): DataFrame =
    querySide(Tables.embeddings(s, d).filter(col("vec_id") < 10))

  /** The exact re-rank every ANN operator ends in: per qid, rank the
    * UNROUNDED `raw` cosine descending with nid as the tiebreak, keep
    * rn <= k, and present round(raw, 6) — ranking rounded values
    * manufactures quantized ties (CLAUDE.md rule 14), so the output
    * scores are exact and only recall is approximate. `scored`
    * carries (qid, nid, raw). */
  private[graft] def exactTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy(desc("raw"), asc("nid"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("nid"),
        round(col("raw"), 6).as("score"), col("rn"))
  }

  /** CAP on the graph family's probe-ring width. History of the rule,
    * all measured: uncapped, np tracks nlist/8 ~ sqrt(n)/8 while
    * occupancy tracks n/nlist, so exact-build pairs = n·np·occupancy
    * = n²/8 whatever the cell count (nlist cancels; walls fit the
    * quadratic — 175/539/2017 s at 512k/1M/2M). The r19 flat-cap A/B
    * fit the tradeoff: recall(np) = recall(nlist/8) −
    * 0.17·log2((nlist/8)/np) per halving, density +0.055 per corpus
    * doubling — so a RING-ONLY contract needs np ∝ n^0.2 (total work
    * n^1.7) to hold a floor, and r19 shipped exactly that (95 at
    * 512k, 110 at 1M, 126 at 2M; tau-recall 0.729/0.681, builds
    * 425/1324 s).
    *
    * r20 retired the n^0.2 rule: the persisted contract is now ring +
    * [[knngRefineRounds]] NN-descent rounds (linear work), and under
    * refinement the ring only needs to SEED connectivity, not carry
    * recall — the r19 frontier measurement (2M: flat-64 ring + one
    * round = tau 0.747 at 44% less wall than the n^0.2 ring's 0.681)
    * is the reason. The cap is therefore FLAT 64 (the A/B-measured
    * anchor): ring work n^1.5·64, refined recall gated by the ladder
    * floor at every rung (r20: refined tau ≥ 0.84 at 512k/1M/2M).
    * nlist/8 binds below ~262k vectors, so every oracled scale is
    * unchanged; the built np is pinned in the graph manifest, so a
    * changed cap rule reads as staleness, never silent drift. */
  private[graft] def knngNprobeCap(n: Long): Int = 64

  /** The probe-ring cap as a DuckDB SQL expression —
    * [[knngNprobeCap]]'s oracle twin. */
  private def npCapSql: String = "64"

  /** Test override for the refine-round rule ([[knngRefineRounds]]):
    * the law tests' ring-only foils. Read ONCE per decision site. */
  @volatile private[graft] var KnngRefineOverride: Option[Int] = None

  /** NN-descent rounds baked into the PERSISTED graph build — the
    * r20 contract (the r19 verdict's headline ask): the flat-64 ring
    * seeds connectivity, then `rounds` exact refinement passes
    * ([[refineEdgeRounds]] — candidates n·(k²+2k) narrow rows, linear
    * in n) lift tau-recall to the refined floor. ONE round, because
    * the per-round curve says so at every measured seed: from the
    * n^0.2 ring, rounds=2 is within 0.001 of 1 (r19); from the
    * WEAKER flat-64 ring at 512k the curve reads 0.797/0.798/0.798
    * across rounds 1-3 (r20, GraphRecall refine_tau_recalls) — the
    * residual truth is structurally out of 2-hop reach whatever the
    * round count, so extra rounds buy ≤0.001 for linear cost each.
    * A CONSTANT, never n-dependent: the DuckDB oracle unrolls
    * exactly this many rounds into the persisted-graph consumers'
    * CTE prefix, and an n-dependent count cannot vary a static SQL
    * string. Part of the graph manifest identity (#rf=) — a changed
    * rule reads as staleness. */
  private[graft] def knngRefineRounds: Int =
    KnngRefineOverride.getOrElse(1)

  /** The graph family's probe-ring width — the IVF probe rule
    * (nprobe = max(4, nlist/8)) re-derived from the corpus count so
    * the DuckDB oracle computes the identical value, CAPPED at
    * [[knngNprobeCap]]'s n^0.2 rule (the quadratic-work break); ONE
    * definition shared by [[knnGraph]] (the rebuild foil) and
    * [[ensureKnnGraphIndex]] so the persisted graph and the foil can
    * never drift. */
  private[graft] def knngNprobe(n: Long): Int =
    math.min(knngNprobeCap(n), ivfNprobe(n))

  /** The IVF probe width: nprobe = max(4, ceil(nlist/8)), nlist =
    * n / [[centroidMod]](n), shared by q_ann_ivf, [[ivfProbe]],
    * [[ivfPqProbe]] and (capped) [[knngNprobe]]. nprobe tracks nlist
    * so the searched fraction — and so recall — holds steady as cells
    * multiply. /8 (12.5% of cells), raised from /10 in r12: the 64x
    * gate measured recall 0.480 at n=32k — below the 0.5 floor — with
    * the 10% fraction (16k: 0.540, 512k: 0.600, 1M: 0.640 were above
    * it); the wider probe set lifts every rung at +25% probe-side
    * candidate cost, which assignment dominates anyway. */
  private[graft] def ivfNprobe(n: Long): Int =
    math.max(4, math.ceil(n / (8.0 * centroidMod(n))).toInt)

  /** The cell probe: each probe row's top-`nprobe` centroids by
    * UNROUNDED cosine `ccos` descending, cid as the tiebreak — one rule
    * for q_ann_ivf, [[ivfProbe]] and [[ivfPqProbe]], which is what
    * keeps q_ann_ivf's results identical to q_ann_ivf_probe's (whose
    * DuckDB oracle gives the shared policy differential coverage).
    * `query` is a [[querySide]] frame, `centroids` (cid, ke, kn) and
    * broadcast. Returns (qid, qe, qn, cid); callers that read it twice
    * pin it. */
  private[graft] def probeCells(query: DataFrame, centroids: DataFrame,
                                nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy(desc("ccos"), asc("cid"))
    query.crossJoin(broadcast(centroids))
      .select(col("qid"), col("qe"), col("qn"), col("cid"),
        (dot(col("qe"), col("ke")) / (col("qn") * col("kn"))).as("ccos"))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= nprobe)
      .select(col("qid"), col("qe"), col("qn"), col("cid"))
  }

  /** IVF coarse-quantizer sizing: |centroids| ~ sqrt(n) via a modulo
    * sample (floor 53 pins test-scale behavior — see q_ann_ivf). */
  private def centroidMod(n: Long): Long = {
    val nlistTarget = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)
    math.max(53L, n / nlistTarget)
  }

  /** Deterministic, ID-STRUCTURE-INDEPENDENT centroid pick: a vector
    * is a centroid iff its seeded md5 bucket ≡ 0 (mod `mod`) — the
    * q_data_split hash idiom, bit-identical in DuckDB so every
    * cell-deriving oracle re-computes the SAME sample. The first cut
    * used raw `vec_id % mod == 0`, and the 64k drift-gate rung broke
    * it structurally: centroidMod(64000) = 252 ≡ 0 (mod 4), so a
    * drifted data source arriving on ids ≡ 3 (mod 4) could NEVER
    * contribute a centroid — the whole 16k drift cloud piled into one
    * cell (15,694 rows) and even refreshIvfCentroids could not split
    * it, the maintenance policy correctly refusing to settle (the
    * prior 256k/1M rungs passed only because their moduli happened to
    * be odd). Id-modulus sampling correlates with any id-residue-
    * structured ingest — sharded or interleaved id assignment is
    * exactly that shape in production; hashing the id first removes
    * the correlation while keeping determinism, reproducibility, and
    * the 1/mod sampling rate. */
  private[graft] def centroidPick(mod: Long): Column =
    hashPick(col("vec_id"), "#cent42", mod)

  /** The hash-sampling idiom itself (seeded md5 bucket ≡ 0 mod `mod`)
    * — EVERY deterministic 1/mod sample in the repo must go through
    * this, never a raw id modulus (rule 28: id-residue-structured
    * ingest — replica strides, sharded id assignment, a %4 drift
    * slice — correlates with any raw modulus and can be
    * excluded or over-selected wholesale). */
  private[graft] def hashPick(id: Column, seed: String, mod: Long): Column =
    (conv(substring(md5(concat(id.cast("string"),
      lit(seed)).cast("binary")), 1, 8), 16, 10).cast("bigint")
      % mod) === 0

  /** [[centroidPick]]'s oracle twin (DuckDB SQL fragment). */
  private def CentroidPickSql: String =
    "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#cent42'), " +
      "1, 8)) AS BIGINT) % md = 0"

  /** Collected (cid, embedding, norm) centroid rows baked to the
    * primitive constants [[graft.functions.NearestCentroid]] takes:
    * (cids, flattened row-major matrix, norms), sorted by cid so the
    * baked literals — and so the plan — are deterministic. The collect
    * is driver-safe by the sqrt-sizing argument (51 MB at n = 1e10). */
  private def centroidConsts(centroids: DataFrame)
      : (Array[Long], Array[Double], Array[Double]) = {
    val crows = centroids.collect().sortBy(_.getLong(0))
    // NearestCentroid accepts array<float|double>; mirror that here —
    // hard-coding getSeq[Float] would ClassCastException at build time
    // for an array<double> embeddings table.
    def elems(r: org.apache.spark.sql.Row): Seq[Double] =
      r.getSeq[Any](1).map {
        case f: Float  => f.toDouble
        case d: Double => d
        case other => throw new IllegalArgumentException(
          s"centroid embedding must be float or double, got " +
            s"${if (other == null) "null" else other.getClass.getName}")
      }
    val cdim = if (crows.isEmpty) 0 else elems(crows.head).size
    val cids = crows.map(_.getLong(0))
    val centsFlat = new Array[Double](crows.length * cdim)
    var c = 0
    while (c < crows.length) {
      val e = elems(crows(c))
      var i = 0
      while (i < cdim) { centsFlat(c * cdim + i) = e(i); i += 1 }
      c += 1
    }
    (cids, centsFlat, crows.map(_.getDouble(2)))
  }

  /** [[centroidConsts]] wrapped in a Broadcast — the handle the
    * cluster-friendly [[graft.functions.GraftFunctions.nearestCentroid]]
    * column form takes. The operators below use this (plan carries a
    * handle, executors fetch the matrix once); the registered SQL
    * function keeps the literal form, and SimilaritySpec pins the two
    * assignments equal row for row. */
  private def centroidHandle(s: SparkSession, centroids: DataFrame)
      : org.apache.spark.broadcast.Broadcast[
        (Array[Long], Array[Double], Array[Double])] =
    s.sparkContext.broadcast(centroidConsts(centroids))

  /** The persisted IVF index of corpus `d` — assignments (bucketed
    * by cell), centroids, and the PQ codebook sidecar (m x ks x dsub
    * entries as (s, j, d, v) rows — ~16k rows at the standard shape,
    * read once per probe session). Names are deterministic per
    * corpus dir ([[PersistedIndex]]) so every query (and every Verify
    * run) of the same data converges on one artifact. */
  private def ivfIndex(d: String): PersistedIndex.Spec =
    PersistedIndex.Spec("graft_ivf", "IVF index", d,
      Seq("assign" -> Some("cid"), "cent" -> None, "pq" -> None))

  private def ivfTableNames(d: String): (String, String) = {
    val ix = ivfIndex(d)
    (ix.tables(0), ix.tables(1))
  }

  private def ivfPqTableName(d: String): String = ivfIndex(d).tables(2)

  /** The codebook sidecar's rows, as one file. */
  private def pqCodebookRows(s: SparkSession,
                             cb: graft.functions.PqCodebooks): DataFrame = {
    val flat = cb.flat
    val rows = for {
      si <- 0 until cb.m; j <- 0 until cb.ks; di <- 0 until cb.dsub
    } yield (si, j, di, flat((si * cb.ks + j) * cb.dsub + di))
    val sp = s; import sp.implicits._
    rows.toDF("s", "j", "d", "v").coalesce(1)
  }

  // per-(app, dir) codebook memo: the sidecar read + broadcast is
  // ~0.2 s, pure overhead on every probe after the first. Invalidated
  // wherever the sidecar is rewritten (refresh/rebuild/drop).
  private val pqCodebookMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      graft.functions.PqCodebooks]()

  private def forgetPqCodebooks(s: SparkSession, d: String): Unit =
    pqCodebookMemo.remove(s.sparkContext.applicationId + ":pq:" + d)

  /** Rebuild the [[graft.functions.PqCodebooks]] an index was built
    * with from its sidecar table (shape recovered from the max
    * indices; flat array re-assembled in [s][j][d] order, broadcast
    * once per load, memoized per session). */
  private[graft] def loadPqCodebooks(s: SparkSession, d: String)
      : graft.functions.PqCodebooks = {
    val key = s.sparkContext.applicationId + ":pq:" + d
    val memo = pqCodebookMemo.get(key)
    if (memo != null) return memo
    val rows = s.table(ivfPqTableName(d))
      .select("s", "j", "d", "v").collect()
    require(rows.nonEmpty, s"empty PQ codebook table for $d")
    val m = rows.map(_.getInt(0)).max + 1
    val ks = rows.map(_.getInt(1)).max + 1
    val dsub = rows.map(_.getInt(2)).max + 1
    val flat = new Array[Double](m * ks * dsub)
    rows.foreach { r =>
      flat((r.getInt(0) * ks + r.getInt(1)) * dsub + r.getInt(2)) =
        r.getDouble(3)
    }
    val cb = graft.functions.PqCodebooks(m, ks, dsub,
      s.sparkContext.broadcast(flat))
    pqCodebookMemo.put(key, cb)
    cb
  }

  /** Build-once, probe-many: persist the IVF index (cell assignments
    * + centroids) as catalog tables and return their names, skipping
    * the build when a fresh index for this corpus already exists.
    *
    * The assignment pass is the one super-linear stage in the family
    * (n x nlist dots = O(n^1.5) under the sqrt-n sizing); recomputing
    * it per query was the documented q_ann_ivf cost. A 100-TB user
    * builds once and probes many: the assignment table is BUCKETED by
    * cell id, so a probe query that filters to its nprobe cells prunes
    * buckets at the scan — probe cost tracks nprobe x occupancy, not
    * n.
    *
    * Freshness follows the shingle-index manifest protocol
    * ([[IndexManifest]]): src dir verbatim + row count + an xxhash64
    * content fingerprint + the bucket spec, plus the batches
    * [[appendToIvfIndex]] has folded in — so an equal-count corpus
    * regen or a cross-dir tag collision forces a rebuild instead of
    * silently serving stale cells, and an append that died before its
    * manifest update shows up as a row-count mismatch (clean rebuild).
    * Bucket count scales with n ([[Tables.indexBuckets]]: 32 at test
    * scales, doubling past 1M rows). */
  def ensureIvfIndex(s: SparkSession, d: String): (String, String) = {
    val ix = ivfIndex(d)
    val names @ (at, ct) = ivfTableNames(d)
    if (PersistedIndex.isFresh(s, ix)) return names
    val emb = Tables.embeddings(s, d)
    // the code-column check migrates pre-PQ indexes (and the pq-table
    // existence check catches a refresh crash that left the sidecar
    // missing): either absence forces the same clean rebuild as any
    // staleness
    val repaired = PersistedIndex.ensure(s, ix, {
      val n = math.max(1L, emb.count())
      IndexManifest.Manifest(d, n, ivfFingerprint(emb),
        Tables.indexBuckets(n), Nil)
    }, at, fresh = s.table(at).columns.contains("code")) { m =>
      val (n, buckets) = (m.baseRows, m.buckets)
      val mod = centroidMod(n)
      val centroids = emb.filter(centroidPick(mod))
        .select(col("vec_id").as("cid"), col("embedding").as("ke"),
          norm(col("embedding")).as("kn"))
        .localCheckpoint()
      val handle = centroidHandle(s, centroids)
      // PQ codebooks trained alongside the quantizer (deterministic —
      // the build-identity laws lean on it); every assignment row
      // carries its 8-byte code so [[ivfPqProbe]]'s scoring scan can
      // column-prune the 256 B vector away
      val cb = pqTrain(s, emb, n)
      // bucket count scales with n (Tables.indexBuckets — 32 at test
      // scales, the local parallelism); sortBy co-sorts within
      // buckets so a cell's rows are contiguous pages
      PersistedIndex.writeBucketed(s, scorable(emb)
        .withColumn("cid",
          graft.functions.GraftFunctions.nearestCentroid(col("ce"), handle))
        .withColumn("code",
          graft.functions.GraftFunctions.pqEncode(col("ce"), cb))
        .select(col("cid"), col("vec_id"), col("ce"), col("cn"),
          col("code")), at, "cid", buckets, SaveMode.Overwrite)
      centroids.write.mode(SaveMode.Overwrite)
        .format("parquet").saveAsTable(ct)
      pqCodebookRows(s, cb).write.mode(SaveMode.Overwrite)
        .format("parquet").saveAsTable(ivfPqTableName(d))
      forgetPqCodebooks(s, d)
      bdf => appendIvfAssignments(s, at, ct, cb, bdf, buckets)
    }
    // a SAME-BASE repair carries the pre-crash fit baseline forward:
    // re-measuring over the refolded rows would absorb any pre-crash
    // drift into the reference and silently disarm the canary for it
    // (a real corpus change starts fresh below)
    repaired.flatMap(IndexManifest.fitBaselineOf).foreach { micro =>
      PersistedIndex.updateManifest(s, ix)(
        IndexManifest.withFitBaseline(_, micro))
    }
    // fit-canary baseline: a fresh build defines its own healthy fit
    // distribution; also migrates pre-baseline manifests in place
    // (one manifest read on the first ensure per session — memoized
    // callers never reach here)
    if (PersistedIndex.read(s, ix)
        .flatMap(m => IndexManifest.fitBaselineOf(m._1)).isEmpty)
      writeFitBaseline(s, d)
    names
  }

  /** Drop the persisted IVF index (tables, staging leftovers,
    * manifest, batch store, memos) — the cold-build reset of the gates
    * and the lifecycle tests. */
  private[graft] def dropIvfIndex(s: SparkSession, d: String): Unit = {
    PersistedIndex.drop(s, ivfIndex(d))
    forgetPqCodebooks(s, d)
    forgetKnngMemoFor(s, d)
  }

  /** Has `batchId` already been folded into `d`'s IVF index? The
    * replay detector for [[graft.streaming.CorpusStreams.annStream]]:
    * a manifest-listed batch arriving again is a foreachBatch replay
    * whose append committed before the crash — probe it with the
    * batch's own vec_ids excluded ([[ivfProbe]]'s excludeProbes mode)
    * and let the append no-op. One small file read. */
  def isIvfBatchApplied(s: SparkSession, d: String,
                        batchId: String): Boolean =
    PersistedIndex.isApplied(s, ivfIndex(d), batchId)

  /** Assign `batch` against the STORED centroid table, encode against
    * the STORED PQ codebooks (frozen between re-calibrations — the
    * same posture as the centroids), and append to the bucketed
    * assignment table — the shared body of [[appendToIvfIndex]] and
    * the partial-append refold. */
  private def appendIvfAssignments(s: SparkSession, at: String,
                                   ct: String,
                                   cb: graft.functions.PqCodebooks,
                                   batch: DataFrame,
                                   buckets: Int): Unit = {
    val handle = centroidHandle(s, s.table(ct))
    PersistedIndex.writeBucketed(s, scorable(batch)
      .withColumn("cid",
        graft.functions.GraftFunctions.nearestCentroid(col("ce"), handle))
      .withColumn("code",
        graft.functions.GraftFunctions.pqEncode(col("ce"), cb))
      .select(col("cid"), col("vec_id"), col("ce"), col("cn"),
        col("code")), at, "cid", buckets, SaveMode.Append)
  }

  /** Content fingerprint of the embeddings slice (xxhash64 over
    * vec_id + vector, XOR-combined — order-independent); the
    * [[Dedup.corpusFingerprint]] rule applied to the vector table. */
  private def ivfFingerprint(emb: DataFrame): Long =
    emb.select(xxhash64(col("vec_id"), col("embedding")).as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("fp"))
      .head.getLong(0)

  /** Fold newly ingested vectors into the persisted IVF index — the
    * [[Dedup.appendToShingleIndex]] analog for ANN: assign ONLY the
    * batch against the STORED centroid table and append the rows to
    * the bucketed assignment table, so a daily ingest keeps the index
    * probeable without re-running the O(n^1.5) corpus assignment.
    * Centroids are frozen at build time — the same frozen-snapshot
    * posture as the shingle index's df stats and the streaming
    * calibration: probe RESULTS over appended vectors are exactly
    * what a one-pass assignment against the same centroids would
    * give (SimilaritySpec law); drift in the centroid fit degrades
    * recall, never correctness, and the re-calibration cadence is a
    * periodic full rebuild (q_kmeans_refine gives the refreshed
    * centroids).
    *
    * Idempotent per `batchId` (manifest-recorded, the Recalibrator
    * rule); batch vec_ids must be disjoint from everything indexed
    * (checked loudly). Append cost tracks the BATCH: one
    * nearestCentroid scan of the batch + a bucketed write. */
  def appendToIvfIndex(s: SparkSession, d: String, batch: DataFrame,
                       batchId: String): Boolean = {
    val (at, ct) = ivfTableNames(d)
    // the graph index (if one exists for this corpus) is about to LAG
    // — its next ensure must re-run the lockstep check and fold.
    // Forgotten BEFORE the append, so a failure part-way through can
    // never leave a memo vouching for the old lockstep.
    forgetKnngMemoFor(s, d)
    PersistedIndex.append(s, ivfIndex(d), batch, batchId, "vec_id",
      Seq("vec_id", "embedding"), at, () => ensureIvfIndex(s, d)) { txt =>
      appendIvfAssignments(s, at, ct, loadPqCodebooks(s, d), batch,
        IndexManifest.appendBucketsOf(s, at, txt, s"IVF index $d"))
      batch.select("vec_id").distinct().count()
    }
  }

  /** Fold the assignment table's append-accumulated files back to one
    * per bucket — the [[Dedup.compactShingleIndex]] analog for ANN:
    * every [[appendToIvfIndex]] adds one file per present bucket, so
    * after N daily batches each probe's bucket-pruned scan reads up
    * to N+1 files per probed cell. Rows are untouched (pure layout;
    * probes exactly unchanged), re-bucketed to the GROWN row count
    * (`rebucketTo` overrides the sizing); staging table + catalog
    * RENAME, crash mid-swap leaves the table missing -> rebuild +
    * refold. Returns
    * true if a fold ran, false when already compact (idempotent). */
  def compactIvfIndex(s: SparkSession, d: String,
                      rebucketTo: Option[Int] = None): Boolean = {
    val (at, _) = ensureIvfIndex(s, d)
    PersistedIndex.compact(s, ivfIndex(d), rebucketTo) { (_, _) =>
      Seq(PersistedIndex.Staged(at, PersistedIndex.files(s, at), Some("cid")))
    }
  }

  /** Re-fit the frozen coarse quantizer to the CURRENT index contents
    * — the first-class form of the "periodic re-calibration"
    * [[appendToIvfIndex]] documents. Appends assign arrivals against
    * centroids sampled from the BASE corpus only; under ingest drift
    * (a new domain concentrating where the base sample never reached)
    * correctness and even recall hold — arrivals still land in their
    * nearest stored cell and probes rank cells by the same function —
    * but cell OCCUPANCY degrades: the drifted mass piles into the few
    * base cells nearest the new region, so every probe touching them
    * scans O(drift-fraction x n) rows instead of O(sqrt n)
    * (SimilaritySpec's hot-cell maintenance case plants exactly this).
    *
    * The refresh re-picks centroids with the build's own deterministic
    * rule (vec_id % centroidMod(n) == 0) over the MERGED rows read
    * from the assignment table's files — appended (possibly
    * stream-only) vectors now contribute centroids in proportion to
    * their mass — then reassigns every row. LAW (SimilaritySpec): the
    * refreshed index is CONTENT-IDENTICAL (centroid set + assignment
    * rows) to [[ensureIvfIndex]] run one-shot over the merged corpus,
    * so every probe law proven on fresh indexes transfers verbatim.
    *
    * Cost is the build's own O(n x nlist) reassignment — the price of
    * re-calibration, amortized over the probe traffic between
    * refreshes. Crash-safe by table ABSENCE: all three replacements
    * (assignments, centroids, PQ codebooks — the codebooks re-train
    * on the merged rows, extending the content-identity law to the
    * code column) are staged first and every live table is dropped
    * before any rename ([[PersistedIndex.rewrite]]), so every
    * mid-swap crash state has a missing catalog table — which the next
    * [[ensureIvfIndex]] detects (not fresh) and repairs by rebuild +
    * batch-store refold. No crash window leaves a live
    * (new-centroids, old-assignments) pair, which would probe
    * silently wrong. Returns true when a refresh ran; false when the
    * manifest lists no appended batches — the base build already fit
    * the whole corpus, and a refresh would be an expensive no-op. */
  def refreshIvfCentroids(s: SparkSession, d: String): Boolean = {
    val (at, ct) = ensureIvfIndex(s, d)
    val ix = ivfIndex(d)
    if (PersistedIndex.stored(s, ix)._2.isEmpty) return false
    // the table's FILES, not s.table (rule 20a)
    val cur = PersistedIndex.files(s, at)
      .select(col("vec_id"), col("ce"), col("cn"))
    val n = math.max(1L, cur.count())
    val mod = centroidMod(n)
    val centroids = cur.filter(centroidPick(mod))
      .select(col("vec_id").as("cid"), col("ce").as("ke"),
        col("cn").as("kn"))
      .localCheckpoint()
    val handle = centroidHandle(s, centroids)
    // re-train the PQ codebooks from the merged rows with the build's
    // own deterministic rule — same vectors, same sample ids, same
    // init order as a one-shot build over the merged corpus, so the
    // content-identity law extends to the code column
    val cb = pqTrain(s,
      cur.select(col("vec_id"), col("ce").as("embedding")), n)
    // the quantizer is about to change: drop the codebook memo and
    // every graph memo for this corpus FIRST (their manifests pin the
    // OLD centroid fingerprint — the next graph ensure rebuilds), so a
    // failure part-way through the swap leaves no memo vouching for
    // either generation
    forgetPqCodebooks(s, d)
    forgetKnngMemoFor(s, d)
    // re-bucket to the GROWN size while we rewrite anyway — keeps the
    // content-identity law, since a one-shot build over the merged
    // corpus sizes its buckets from the same n. The rewrite also folds
    // append-accumulated files to one per bucket, so the manifest
    // records the layout as compacted.
    PersistedIndex.rewrite(s, ix, Tables.indexBuckets(n), Seq(
      PersistedIndex.Staged(at, cur
        .withColumn("cid",
          graft.functions.GraftFunctions.nearestCentroid(col("ce"), handle))
        .withColumn("code",
          graft.functions.GraftFunctions.pqEncode(col("ce"), cb))
        .select(col("cid"), col("vec_id"), col("ce"), col("cn"),
          col("code")), Some("cid")),
      PersistedIndex.Staged(ct, centroids, None),
      PersistedIndex.Staged(ivfPqTableName(d), pqCodebookRows(s, cb), None)))
    // the re-fitted quantizer defines the new fit baseline (the fit
    // canary reads against the index's own healthy distribution, so a
    // refresh both clears the symptom and re-arms the trigger)
    writeFitBaseline(s, d)
    true
  }

  /** (max, median) assignment rows per IVF cell — the drift-gate
    * occupancy statistic as a first-class health check. A hot cell is
    * the measured symptom of centroid staleness under concentrated
    * ingest drift: recall holds (arrivals land in their nearest stored
    * cell and probes rank cells by the same function) but every probe
    * touching the hot cell scans O(drift-fraction x n) rows instead of
    * O(sqrt n).
    *
    * Cost: a cid-only columnar scan of the assignment table; the
    * groupBy key IS the bucket key, so the per-cell count needs no
    * exchange, and the aggregate over the counts frame touches
    * ~nlist = sqrt(n) rows. Median is percentile_approx — the
    * threshold it feeds ([[maintainIvfIndex]]) separates 4.9x from
    * 92x, so approximation error is irrelevant. */
  def ivfOccupancy(s: SparkSession, d: String): (Long, Long) = {
    val (at, _) = ensureIvfIndex(s, d)
    val r = s.table(at).groupBy("cid").agg(count(lit(1)).as("occ"))
      .agg(max(col("occ")).as("mx"),
        expr("percentile_approx(occ, 0.5D, 10000)").as("md"))
      .head
    if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
  }

  /** GAP sample for the verdict-symptom (fit-gap) canary: per sampled
    * indexed row, (max cosine to any OTHER row of its own cell) minus
    * (cosine to its assigned centroid). A healthy cell's members are
    * exactly what its centroid was fitted to, so sibling similarity
    * and centroid fit sit on the same scale and the gap is ~0; a
    * tight ingest cluster the FROZEN quantizer has no centroid for
    * shows sibling cosines ~0.9 against centroid fits ~0.3 — gap
    * ~0.6, a dimension-robust signal where absolute fit is not (in
    * 64-dim the healthy fit tail reaches ~0.19, measured, so a novel
    * cluster's ~0.33 fit never undercuts it — the first cut of this
    * canary used absolute fit and was refuted by its own spec
    * fixture). Planted near-dups sit in the BASELINE distribution
    * (the build-time sample sees them too), so they never read as
    * drift. This is the marginal-coverage erosion the drift gate measured
    * costing real tau-gate verdicts (sem_base_frozen 0.667 at 64k AND
    * 256k) in a regime the 16x occupancy trigger cannot see.
    *
    * Deterministic hash sample of <= ~512 rows (rule 28 — never a raw
    * id modulus); cost one cell-pruned scan joined to the broadcast
    * sample (~sample x mean-occupancy = 512·√n codegen'd dots at
    * √n-sized cells) + a broadcast centroid join — negligible next to
    * the refresh it arms. Rows alone in their cell carry no sibling
    * evidence and are excluded. Returns sorted gaps. */
  private def sampledGaps(s: SparkSession, d: String): Array[Double] = {
    val (at, ct) = ensureIvfIndex(s, d)
    // read the tables' FILES, not s.table (the rule-20a sibling
    // reason): the canary runs inside maintenance — immediately after
    // appends and immediately after a refresh's drop-and-rename — and
    // in streaming it runs in a CLONED session whose DDL cannot
    // invalidate other sessions' table-relation caches; a path read
    // builds a fresh file index every time and caches nothing under
    // the table name (the StreamingSpec maintainEvery fixture caught
    // the s.table form reading a pre-refresh listing). Costs bucket
    // pruning: the scan is column-pruned but reads every cell —
    // still ~index-bytes, 2-3 orders under the refresh it arms.
    def files(t: String) = PersistedIndex.files(s, t)
    val rows = files(at)
    val n = math.max(1L, rows.count())
    val mod = math.max(1L, n / 512)
    val sample = rows.filter(hashPick(col("vec_id"), "#fit42", mod))
      .select(col("cid"), col("vec_id").as("qid"), col("ce").as("qe"),
        col("cn").as("qn"))
      .localCheckpoint() // feeds the cid collect AND both joins below
    val cids = sample.select("cid").distinct()
      .collect().map(_.getLong(0)).sorted
    if (cids.isEmpty) return Array.empty
    val sib = rows.filter(col("cid").isin(cids: _*))
      .join(broadcast(sample), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid")
      .agg(max(dot(col("ce"), col("qe")) / (col("cn") * col("qn")))
        .as("sib"))
    sample.join(sib, Seq("qid")) // inner: lone rows excluded
      .join(broadcast(files(ct)), Seq("cid"))
      .select((col("sib") -
        dot(col("qe"), col("ke")) / (col("qn") * col("kn"))).as("gap"))
      .collect().map(_.getDouble(0)).sorted
  }

  /** Record the CURRENT gap distribution's 99.5th percentile as the
    * index's baseline (micro-units in the manifest) — called after a
    * build or refresh, when the quantizer fits its corpus by
    * construction, so ~0.5% of healthy mass sits above it. */
  private def writeFitBaseline(s: SparkSession, d: String): Unit = {
    val gaps = sampledGaps(s, d)
    if (gaps.isEmpty) return
    val p995 = gaps(((gaps.length * 199) / 200).min(gaps.length - 1))
    PersistedIndex.updateManifest(s, ivfIndex(d))(
      IndexManifest.withFitBaseline(_, math.round(p995 * 1e6)))
  }

  /** Fraction of the current gap sample ABOVE the stored baseline —
    * the fit-gap canary's reading, paired with the baseline itself.
    * A manifest without a baseline (pre-r17 or hand-edited) gets
    * baselined NOW (the status quo becomes the reference; a later
    * drift still reads against it) — UNLESS `readOnly`: a dry-run
    * caller must not mutate the manifest (the r17 form did, silently
    * rewriting hand-edited or partially migrated manifests during a
    * "dry" maintenance call), so it reports (-1, -1) =
    * baseline-missing instead, and skips the gap sample entirely. */
  private[graft] def ivfFitGapFrac(s: SparkSession, d: String,
                                   readOnly: Boolean = false)
      : (Double, Double) = {
    val ix = ivfIndex(d)
    val stored = IndexManifest.fitBaselineOf(PersistedIndex.stored(s, ix)._1)
    if (readOnly && stored.isEmpty) return (-1.0, -1.0)
    val micro = stored.getOrElse {
      writeFitBaseline(s, d)
      PersistedIndex.read(s, ix).flatMap(m =>
        IndexManifest.fitBaselineOf(m._1)).getOrElse(Long.MaxValue)
    }
    val baseline = micro / 1e6
    val gaps = sampledGaps(s, d)
    if (gaps.isEmpty) (0.0, baseline)
    else (gaps.count(_ > baseline).toDouble / gaps.length, baseline)
  }

  /** Condition-driven maintenance for the persisted IVF index — runs
    * the right op exactly when its measured symptom appears, instead
    * of a fixed refresh or compaction schedule (the ingest streams'
    * `maintainEvery` runs this policy; [[Maintenance]]):
    *
    *  1. hot cell (max > `hotCellRatio` x median occupancy, the
    *     measured drift signature) -> [[refreshIvfCentroids]], which
    *     re-fits the quantizer AND folds the file layout + re-buckets
    *     in its rewrite — the expensive O(n x nlist) reassignment is
    *     paid only when cells have actually degraded;
    *  2. otherwise, >= `compactAfter` uncompacted appended batches or
    *     a bucket spec the grown row count has outsized ->
    *     [[compactIvfIndex]] (pure layout, probes exactly unchanged);
    *  3. otherwise nothing.
    *
    * A manifest with no appended batches short-circuits to "none"
    * without measuring occupancy: the base build fit the whole corpus,
    * so neither symptom can exist (and refresh would no-op by the same
    * rule). Idempotent: a pass that acted leaves the next pass at
    * "none" until new appends arrive. `dryRun` reports the decision
    * without executing it AND without any write at all — including
    * the fit canary's baseline-on-first-read manifest migration
    * (a pre-baseline manifest reads as fit (-1, -1) on a dry run;
    * a real run establishes the baseline). Thresholds and their
    * measurements: [[Maintenance]]. */
  def maintainIvfIndex(s: SparkSession, d: String,
                       compactAfter: Int = Maintenance.DefaultCompactAfter,
                       hotCellRatio: Double = Maintenance.DefaultHotCellRatio,
                       fitCanaryFrac: Double =
                         Maintenance.DefaultFitCanaryFrac,
                       dryRun: Boolean = false): MaintenanceReport = {
    ensureIvfIndex(s, d)
    val l = PersistedIndex.layout(s, ivfIndex(d))
    def report(action: String, ran: Boolean, hot: (Long, Long),
               fit: (Double, Double) = (-1.0, -1.0)) =
      l.report("ivf", action, ran).copy(hotCellMax = hot._1,
        hotCellMedian = hot._2, fitGapFrac = fit._1, fitBaseline = fit._2)
    if (l.applied == 0) return report("none", ran = false, (-1L, -1L))
    val hot = ivfOccupancy(s, d)
    if (hot._2 > 0 && hot._1 > hotCellRatio * hot._2)
      return report("refresh",
        ran = !dryRun && refreshIvfCentroids(s, d), hot)
    // fit canary (the verdict-symptom trigger): a drift too small or
    // too spread to trip the occupancy ratio still erodes the
    // quantizer's marginal coverage — visible as sampled rows whose
    // fit to their assigned centroid falls below the index's own
    // build/refresh-time baseline quantile. Only measured when
    // appends exist (a base build defines the baseline).
    // readOnly = dryRun: a dry run reports; it must not take the
    // baseline-on-first-read manifest write (fit (-1,-1) there means
    // "baseline missing — a real run would establish it")
    val fit = ivfFitGapFrac(s, d, readOnly = dryRun)
    if (fit._1 >= fitCanaryFrac)
      report("refresh", ran = !dryRun && refreshIvfCentroids(s, d),
        hot, fit)
    else if (l.wantsCompact(compactAfter))
      report("compact", ran = !dryRun && compactIvfIndex(s, d), hot, fit)
    else report("none", ran = false, hot, fit)
  }

  /** Brute-ADC re-rank width per result slot (R = k x refine) for
    * q_ann_pq, scaled with n: the ADC error band is n-independent (it
    * depends only on the codebook resolution), but the NUMBER of
    * candidates whose true cosine falls inside that band around the
    * top-5 cut grows LINEARLY with the corpus, so a fixed shortlist
    * loses recall as n grows (the 128x ladder measured refine=8 at
    * 0.500 vs 0.86 at unit scale; widening R restored it: R=160 ->
    * 0.700, 640 -> 0.880, 2560 -> 0.960 at 256k). Brute-ADC therefore
    * holds recall by keeping R a constant FRACTION of n (the rule-16
    * lesson) — a constant-factor reduction of exact-scoring work on
    * top of the 32x payload compression, not a sublinear method;
    * sublinear comes from composing the code column with IVF cell
    * pruning ([[ivfPqProbe]]).
    *
    * A small-n FLOOR of 128 slots (engages below n ≈ 164k): at a fixed
    * fraction the shortlist shrinks with n while the error band does
    * not, so small corpora starve — measured at n=16k (the 32x
    * scale_gate rung, R = 5x refine): refine 12 (the unfloored rule) →
    * recall 0.580, 32 → 0.740, 64 → 0.860, 128 → 0.940. The floor is
    * invisible at the ladder rungs (n/1280 ≥ 128 from 164k up) and
    * costs ~nothing where it does engage (R=640 of a ≤164k corpus). */
  private[graft] def pqRefine(n: Long): Int =
    math.max(128L, n / 1280L).toInt

  /** Subspace count for product quantization: 8 where the embedding
    * width allows (64-dim -> 8x8), else the largest power of two <= 8
    * dividing the width (the non-64-dim-corpus rule — same reason the
    * LSH law has one). */
  private[graft] def pqSubspaces(dim: Int): Int =
    Seq(8, 4, 2, 1).find(dim % _ == 0).get

  /** Deterministic driver-trained PQ codebooks: a modulo sample of
    * ~4096 vectors (the centroid-sample rule — at any n the collected
    * sample is bounded), split into m subspaces, each quantized to
    * ks = min(256, |sample|) codes by 4 Lloyd iterations seeded from
    * the first ks sample slices in vec_id order. No randomness
    * anywhere, so the same corpus always yields bit-identical
    * codebooks (and so bit-identical codes — the reproducibility every
    * index law here leans on). Empty cells keep their previous
    * centroid; assignment ties go to the lowest index. Training cost
    * is driver-side O(iters x |sample| x ks x dim) ≈ 0.3 s at the
    * standard shape, independent of n. */
  private[graft] def pqTrain(s: SparkSession, emb: DataFrame, n: Long)
      : graft.functions.PqCodebooks = {
    val mod = math.max(1L, n / 4096L)
    val rows = emb.filter(centroidPick(mod))
      .select(col("vec_id"), col("embedding"))
      .collect().sortBy(_.getLong(0))
    require(rows.nonEmpty, "pqTrain: empty embedding sample")
    def elems(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Any](1).map {
        case f: Float  => f.toDouble
        case d: Double => d
        case other => throw new IllegalArgumentException(
          s"pqTrain: embedding must be float or double, got " +
            s"${if (other == null) "null" else other.getClass.getName}")
      }.toArray
    val sample = rows.map(elems)
    val dim = sample.head.length
    val m = pqSubspaces(dim)
    val dsub = dim / m
    val ks = math.min(256, sample.length)
    val flat = new Array[Double](m * ks * dsub)
    val sums = new Array[Double](ks * dsub)
    val cnts = new Array[Int](ks)
    var sIdx = 0
    while (sIdx < m) {
      val base = sIdx * ks * dsub
      val vOff = sIdx * dsub
      var j = 0
      while (j < ks) {
        var d = 0
        while (d < dsub) { flat(base + j * dsub + d) = sample(j)(vOff + d); d += 1 }
        j += 1
      }
      var it = 0
      while (it < 4) {
        java.util.Arrays.fill(sums, 0.0)
        java.util.Arrays.fill(cnts, 0)
        var i = 0
        while (i < sample.length) {
          val v = sample(i)
          var bestJ = 0
          var bestD = Double.MaxValue
          var jj = 0
          while (jj < ks) {
            var d2 = 0.0
            var d = 0
            while (d < dsub) {
              val diff = v(vOff + d) - flat(base + jj * dsub + d)
              d2 += diff * diff
              d += 1
            }
            if (d2 < bestD) { bestD = d2; bestJ = jj }
            jj += 1
          }
          cnts(bestJ) += 1
          var d = 0
          while (d < dsub) { sums(bestJ * dsub + d) += v(vOff + d); d += 1 }
          i += 1
        }
        var jj = 0
        while (jj < ks) {
          if (cnts(jj) > 0) {
            var d = 0
            while (d < dsub) {
              flat(base + jj * dsub + d) = sums(jj * dsub + d) / cnts(jj)
              d += 1
            }
          }
          jj += 1
        }
        it += 1
      }
      sIdx += 1
    }
    graft.functions.PqCodebooks(m, ks, dsub, s.sparkContext.broadcast(flat))
  }

  /** Fallback-threshold guard for the ANN shortlist TopKEdges
    * aggregates (pqTopK, ivfPqProbe) — the rule-36 discipline applied
    * to a QUERY path: ObjectHashAggregate silently falls back to
    * SORT-BASED aggregation once a task's hash map passes
    * spark.sql.objectHashAggregate.sortBased.fallbackThreshold
    * (default 128 KEYS). The shortlist groups by qid and every map
    * task can see every qid, so a caller-supplied probe batch with
    * more distinct qids than the threshold would make every partial
    * local-sort the FULL candidate stream — ADC pairs whose volume
    * grows with the corpus — silently reinstating the rule-31a spill
    * hazard the sort-free aggregate exists to remove.
    *
    * Returns None when the session's current threshold already covers
    * the batch — the declared queries probe <= 10 vectors and take
    * this path with zero extra machinery (bench plans unchanged).
    * Otherwise returns a [[raisedThresholdSession]] clone whose
    * threshold covers the batch, up to [[FallbackKeyCap]] (buffer
    * state is |qids| x (r x 16 B + overhead) per task ≈ 450 MB at the
    * cap).
    * Past the cap the caller must CHUNK the probe batch (hash qid
    * into ceil(n/cap) chunks and union — the graph build's q-side
    * chunk contract); the require below makes that boundary loud instead
    * of a silent disk-filling fallback.
    *
    * Call sites must MATERIALIZE the shortlist under the returned
    * session ([[adcShortlist]]'s `pinned`) — the threshold is read at
    * PHYSICAL PLANNING of the action's root dataset, so lazily
    * composing the aggregate into a caller-rooted consumer would plan
    * it under the caller's default threshold and the clone would be
    * dead weight. */
  private def shortlistSession(s: SparkSession,
                               nProbes: Long): Option[SparkSession] = {
    val current =
      scala.util.Try(s.conf.get(FallbackThresholdKey).toLong).getOrElse(128L)
    if (nProbes + 64L <= current) None
    else {
      require(nProbes + 1024L <= FallbackKeyCap,
        s"ANN shortlist: $nProbes probe vectors in one batch exceeds " +
          s"FallbackKeyCap=$FallbackKeyCap — chunk the probe batch " +
          "(hash qid into ceil(n/cap) chunks and union the results)")
      Some(raisedThresholdSession(s, nProbes))
    }
  }

  private val FallbackThresholdKey =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** A CLONED session whose ObjectHashAggregate fallback threshold
    * covers `keys` aggregation keys per task (keys + 1024, capped at
    * [[FallbackKeyCap]]) — the one form of the rule-36 raise, used by
    * the ANN shortlist ([[shortlistSession]]), the graph build and the
    * graph fold. The threshold is plan-time session conf, and setting
    * it on the caller's session (the r17 form, set + finally-restore)
    * leaks it to any query that session plans concurrently.
    * newSession() shares the SparkContext and catalog (saveAsTable
    * targets, persisted indexes) but isolates runtime SQL conf; the
    * caller's runtime conf is copied across first so the clone plans
    * under the same shuffle partitions / AQE settings (static and
    * non-modifiable keys are skipped — they are shared through the
    * context anyway). The FunctionRegistry is session state too, so
    * the clone registers the native functions its plans call by name
    * (vector_dot, nearest_cells, top_k_edges). */
  private[graft] def raisedThresholdSession(s: SparkSession,
                                            keys: Long): SparkSession = {
    val bs = s.newSession()
    s.conf.getAll.foreach { case (ck, cv) =>
      try bs.conf.set(ck, cv)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    graft.functions.GraftFunctions.register(bs)
    bs.conf.set(FallbackThresholdKey,
      math.min(FallbackKeyCap, keys + 1024L).toString)
    bs
  }

  /** The ADC shortlist of [[pqTopK]] and [[ivfPqProbe]]: per qid, the
    * top-`r` candidates of `cand` (qid, nid, adc) by (adc desc, nid
    * asc), as (qid, nid). NaN adc (a zero-norm corpus vector's 0/0) is
    * dropped first — the graph build's rule; no unit-norm corpus row
    * produces one.
    *
    * Production runs the SORT-FREE native aggregate (TopKEdges, the
    * graph-build kernel): its map-side partial collapses each
    * partition to <= r buffer entries per qid before the ONE exchange,
    * where a row_number window LOCAL-SORTS every scored pair (the
    * rule-31a hazard — the candidate volume grows with the corpus).
    * r20 A/B (sf0.1, 5 interleaved reps): pq 1.223 -> 0.871 s min,
    * ivfpq 1.141 -> 0.981 s. (adc desc, nid asc) is a total order, so
    * the aggregate selects exactly the window's set; SimilaritySpec
    * pins it against a row_number reference of its own.
    *
    * `pinned`: the candidates were planned under a
    * [[shortlistSession]] clone, so the shortlist MATERIALIZES there
    * (lazy composition into the caller-rooted re-rank would plan the
    * aggregate under the caller's default threshold); the pin is
    * probes x r ids. */
  private[graft] def adcShortlist(cand: DataFrame, r: Int,
                                  pinned: Boolean): DataFrame = {
    val top = cand.filter(!isnan(col("adc")))
      .groupBy("qid")
      .agg(graft.functions.GraftFunctions
        .topKEdges(col("nid"), col("adc"), r).as("tk"))
      .select(col("qid"), explode(col("tk")).as("e"))
      .select(col("qid"), col("e.dst").as("nid"))
    if (pinned) top.localCheckpoint() else top
  }

  /** Per-probe ADC lookup tables, built on the driver from a (tiny,
    * by the probe-query contract) probe frame:
    * lut[s*ks + j] = dot(q_slice_s, codebook[s][j]), so the
    * executor-side score of a code is m array reads + adds. */
  private def pqLuts(s: SparkSession, cb: graft.functions.PqCodebooks,
                     probeVecs: DataFrame): Map[Long, Array[Double]] = {
    val flat = cb.flat
    probeVecs.select(col("vec_id"), col("embedding")).collect().map { r =>
      val q = r.getSeq[Any](1).map {
        case f: Float   => f.toDouble
        case dd: Double => dd
        case other => throw new IllegalArgumentException(
          s"pqLuts: embedding must be float or double, got " +
            s"${if (other == null) "null" else other.getClass.getName}")
      }.toArray
      val lut = new Array[Double](cb.m * cb.ks)
      var sIdx = 0
      while (sIdx < cb.m) {
        val base = sIdx * cb.ks * cb.dsub
        var j = 0
        while (j < cb.ks) {
          var acc = 0.0
          var dd = 0
          while (dd < cb.dsub) {
            val qi = sIdx * cb.dsub + dd
            if (qi < q.length) acc += q(qi) * flat(base + j * cb.dsub + dd)
            dd += 1
          }
          lut(sIdx * cb.ks + j) = acc
          j += 1
        }
        sIdx += 1
      }
      r.getLong(0) -> lut
    }.toMap
  }

  /** The q_ann_pq pipeline — product-quantized ANN with exact
    * re-ranking. Why it exists: at 100 TB the vector PAYLOAD is the
    * cost — a 64-dim float vector is 256 B/row through every scan and
    * shuffle, while its PQ code is 8 B (32x). The pipeline runs the
    * heavy all-candidates stage entirely over codes:
    *
    *  1. codebooks: [[pqTrain]] (driver, deterministic, 128 KB).
    *  2. ONE corpus scan encodes every vector (native
    *     [[graft.functions.PqEncode]], the NearestCentroid pattern)
    *     -> (nid, code, norm): 24 B/row from here on.
    *  3. ADC scoring against the broadcast probe LUTs (native
    *     [[graft.functions.PqAdcScore]]): m ADDS per (probe, vector)
    *     instead of dim multiply-adds; ranking by adc/norm is
    *     norm-corrected approximate cosine (the probe's own norm
    *     scales every candidate equally). The top-R per probe is
    *     [[adcShortlist]]'s sort-free aggregate: no task ever sorts
    *     the candidate stream.
    *  4. Exact re-rank ([[exactTopK]]): only the R = k x refine
    *     survivors (a few hundred rows) rejoin the full vectors for
    *     exact cosine, so output scores are EXACT (the ANN-family
    *     contract: the approximation affects only recall, never
    *     reported scores), rounded 6 dp for presentation with ties on
    *     nid.
    *
    * The standalone query scans all codes per probe (the brute-ADC
    * form — at the probe counts of the test contract that is one
    * narrow 24 B/row pass); composing with the IVF cell pruning of
    * [[ivfProbe]] (codes stored per cell) is the documented next step
    * of the scale path. Oracle-exempt like the rest of the ANN family
    * (codebook-specific); SimilaritySpec pins the encode law, the
    * determinism law, and the recall floor vs brute force. */
  private[graft] def pqTopK(s: SparkSession, d: String,
                            k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val n = math.max(1L, emb.count())
    val refine = pqRefine(n)
    val cb = pqTrain(s, emb, n)
    // probe extraction is a corpus scan — materialize once (the
    // q_ann_lsh probe-extraction rule)
    val probe0 = emb.filter(col("vec_id") < 10).localCheckpoint()
    val probeQ = querySide(probe0)
    val luts = pqLuts(s, cb, probe0)
    val lutH = s.sparkContext.broadcast(luts)
    // luts is keyed by qid, so its size IS the probe count — free
    // (no extra job) input to the fallback-threshold guard below
    val aggS = shortlistSession(s, luts.size.toLong)
    val codes = scorable(aggS.map(bs => Tables.embeddings(bs, d))
        .getOrElse(emb))
      .select(col("vec_id").as("nid"),
        graft.functions.GraftFunctions.pqEncode(col("ce"), cb).as("code"),
        col("cn").as("ncn"))
    val r = k * refine
    val cand = codes.crossJoin(broadcast(probeQ.select("qid")))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (graft.functions.GraftFunctions.pqAdcScore(col("qid"), col("code"),
          cb.m, cb.ks, lutH) / col("ncn")).as("adc"))
    val top = adcShortlist(cand, r, pinned = aggS.isDefined)
    val scored = scorable(emb).withColumnRenamed("vec_id", "nid")
      .join(broadcast(top), "nid")
      .join(broadcast(probeQ), "qid")
      .select(col("qid"), col("nid"), rawCos.as("raw"))
    exactTopK(scored, k).orderBy("qid", "rn")
  }

  /** The q_ann_lsh pipeline, parameterized on the per-table probe
    * count so [[graft.RecallGate]] can run a deliberately DEGRADED
    * probe (its negative control: a broken probe must fail the gate
    * red, or the gate is vacuous). `perTableOverride = None` is the
    * production policy: [[probeCount]](bits) directed masks.
    *
    * QUERY-DIRECTED MULTI-PROBE (Lv et al., VLDB'07): each probe
    * also searches the buckets its vector is LIKELIEST to have
    * landed near, ranked by per-bit margin. History of this probe
    * policy, each step forced by the RecallGate ladder:
    *  - exact-signature probing decayed ~p^bits with the n-scaled
    *    bits (0.28/0.18 at 16k/64k, r10);
    *  - undirected Hamming-1 still decayed (0.58/0.44/0.26 at
    *    16k/64k/256k);
    *  - undirected Hamming-2 for bits >= 12 arrested the decay
    *    (0.48-0.58 flat through 1M, r12) but spends budget
    *    flipping the two largest-margin bits while likelier
    *    three-small-margin flips go unprobed;
    *  - directed probing with the SAME budget lifted the big rungs
    *    to 0.62/0.56/0.64 (r13);
    *  - the budget is now an explicit knob ([[ProbeBudget]], r14):
    *    T=2 directed — the extra budget lands on the next likeliest
    *    buckets — measured 0.780/0.640/0.700 at 256k/512k/1M
    *    (recall_ladder floors ratcheted to 0.60).
    * All of it is PROBE-side only: one native LshProbeIds eval
    * per probe row (margins + enumeration inside, the LshBucketIds
    * pattern), the corpus bucket build untouched; candidates stay
    * L·probes·occupancy per probe, independent of n. The base
    * bucket and the full Hamming-1 ball are always included
    * (budget permitting), so directed probing is structurally
    * never worse than depth-1 — SimilaritySpec pins that law and
    * the spec==native mask selection. */
  private[graft] def lshTopK(s: SparkSession, d: String,
                             perTableOverride: Option[Int] = None)
      : DataFrame = {
    val emb = Tables.embeddings(s, d)
    // parquet metadata count; sizes the bucket granularity so
    // occupancy (and so candidate cost) stays ~constant at scale
    val bits = lshBits(emb.count())
    val buckets = lshBuckets(s, emb, bits)
    // probe extraction scans the corpus (a modulo/id filter cannot
    // range-prune row groups once files interleave ids), so the
    // <=10-row probe frame is materialized ONCE and every probe
    // derivative reads the checkpoint — the 32x smoke showed the
    // duplicated probe scans dominating at scale (embedding decode
    // is the expensive column).
    val probe0 = emb.filter(col("vec_id") < 10).localCheckpoint()
    val perTable = perTableOverride.getOrElse(probeCount(bits))
    val probeB = probe0
      .select(col("vec_id").as("qid"),
        posexplode(call_function("lsh_probe_ids", col("embedding"),
          lit(LshTables), lit(bits), lit(perTable))))
      .toDF("qid", "pos", "qbucket")
      .select(col("qid"),
        floor(col("pos") / perTable).cast("int").as("qtable"),
        col("qbucket"))
    val probeQ = querySide(probe0)
    // candidates: union of the probe's bucket across tables
    val cands = buckets.join(broadcast(probeB),
        col("table_id") === col("qtable") &&
          col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid")).distinct()
    val scored = cands
      .join(scorable(emb).withColumnRenamed("vec_id", "nid"), "nid")
      .join(broadcast(probeQ), "qid")
      .select(col("qid"), col("nid"), rawCos.as("raw"))
    exactTopK(scored, 5).orderBy("qid", "rn")
  }

  /** Probe the PERSISTED IVF index with an ARBITRARY (vec_id,
    * embedding) probe frame — the q_ann_ivf_probe body,
    * frame-parameterized for the streaming twin
    * ([[graft.streaming.CorpusStreams.annStream]]), which hands it
    * each arriving micro-batch of query vectors. Top-k per probe by
    * exact cosine over the nprobe nearest cells; probe rows whose
    * vec_id collides with a corpus vector exclude that vector (the
    * self-match rule of the corpus-probe queries).
    *
    * `excludeProbes = true` is the REPLAY mode ([[Dedup.deltaDedupOf]]
    * excludeBatch rule): a replayed annStream micro-batch whose
    * append already committed is IN the assignment table — its
    * vec_ids are anti-joined out of the scan and n adjusted back to
    * the pre-append count, so the replayed emission equals the
    * original (centroids are frozen, so cell geometry is unchanged). */
  private[graft] def ivfProbe(s: SparkSession, d: String,
                              probeVecs: DataFrame, k: Int,
                              excludeProbes: Boolean = false): DataFrame = {
    val (at, ct) = ensureIvfIndex(s, d)
    val nExcluded = if (excludeProbes) probeVecs.count() else 0L
    val n = math.max(1L, s.table(at).count() - nExcluded)
    // checkpointed: this <= |probes| x nprobe row frame is evaluated
    // for the cellIds collect AND the broadcast below —
    // uncheckpointed, each evaluation re-scans the probe source (the
    // q_ann_lsh probe-extraction lesson; measured 1.69x-vs-t1 instead
    // of flat at the 256k rung before this)
    val cells = probeCells(querySide(probeVecs), s.table(ct), ivfNprobe(n))
      .localCheckpoint()
    // the probed cell ids, collected (<= |probes| x nprobe rows): an
    // isin() on the bucket column is what lets the scan prune whole
    // buckets — a join alone reads every file
    val cellIds = cells.select("cid").distinct()
      .collect().map(_.getLong(0)).sorted
    val corpusSide =
      if (excludeProbes)
        s.table(at).join(
          broadcast(probeVecs.select(col("vec_id")).distinct()),
          Seq("vec_id"), "left_anti")
      else s.table(at)
    val scored = corpusSide.filter(col("cid").isin(cellIds: _*))
      .join(broadcast(cells), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), rawCos.as("raw"))
    exactTopK(scored, k)
  }

  /** IVFPQ: the cell-pruned probe with PQ scoring over the persisted
    * index — the composition the q_ann_pq scaladoc promises. Cell
    * selection is [[ivfProbe]]'s (nprobe nearest cells, bucket-pruned
    * scan); the difference is WHAT the cell scan reads and computes:
    *
    *  - scoring pass: (cid, vec_id, code, cn) — the 256 B vector
    *    column is column-pruned away at the parquet scan (the code
    *    column persisted by [[ensureIvfIndex]] is 8 B), and scoring
    *    is m LUT adds per candidate (native
    *    [[graft.functions.PqAdcScore]]) instead of a dim-wide dot;
    *  - shortlist: top-R per probe by norm-corrected ADC, R a
    *    constant fraction of the scanned cell population (the
    *    [[pqRefine]] lesson applied to the cell scan: R ≈
    *    cell-candidates/32, floor k x 128), through
    *    [[adcShortlist]]'s sort-free aggregate so no task sorts a
    *    whole cell set;
    *  - exact re-rank: only the R survivors rejoin the vector column
    *    (broadcast semi-join against the same cell-pruned scan), so
    *    reported scores are EXACT cosines — the ANN-family contract.
    *
    * Recall multiplies the two approximations: cell recall (the IVF
    * floor) x shortlist recall (measured 0.97-1.00x of the exact
    * cell probe at 256k/1M/4M); gated at the rungs alongside
    * ivf_recall. Appended vectors carry codes from the FROZEN
    * codebooks (the centroid posture); [[refreshIvfCentroids]]
    * re-trains and re-encodes, restoring content-identity with a
    * one-shot build.
    *
    * MEASURED TRADEOFF (written so nobody re-litigates it from
    * theory): the byte claim is real — parquet footers at 4M rows:
    * ce 1049 MB vs code 33 MB, so the scoring pass reads 66 MB
    * (vec_id+code+cn) instead of 1082 MB, 16.4x less — but on
    * local[32] with a hot page cache the query is 2.4x SLOWER than
    * [[ivfProbe]] (3.0 vs 1.2 s at 1M vectors): the codegen'd
    * 64-dim VectorDot is already so cheap that the second
    * (re-rank) pass over the cell pages costs more than ADC saves.
    * This operator earns its keep where scans are storage/network
    * bound — cold object storage, where the scoring pass dominates
    * and 16x fewer bytes IS the wall-clock — and as the layout that
    * lets a serving tier drop the vector column from hot storage
    * entirely. On a warm single node, use [[ivfProbe]]. */
  private[graft] def ivfPqProbe(s: SparkSession, d: String,
                                probeVecs: DataFrame, k: Int): DataFrame = {
    val (at, ct) = ensureIvfIndex(s, d)
    val cb = loadPqCodebooks(s, d)
    val centroids = s.table(ct)
    val n = math.max(1L, s.table(at).count())
    val nlist = math.max(1L, centroids.count())
    val nprobe = ivfNprobe(n)
    val cells = probeCells(querySide(probeVecs), centroids, nprobe)
      .localCheckpoint()
    val cellIds = cells.select("cid").distinct()
      .collect().map(_.getLong(0)).sorted
    val luts = pqLuts(s, cb,
      cells.select(col("qid").as("vec_id"), col("qe").as("embedding"))
        .dropDuplicates("vec_id"))
    val lutH = s.sparkContext.broadcast(luts)
    // luts is keyed by qid — its size is the distinct probe count,
    // a free input to the fallback-threshold guard (probeVecs is
    // caller-supplied, so the batch size is unbounded here)
    val aggS = shortlistSession(s, luts.size.toLong)
    // scoring pass: codes only — ce never leaves the parquet pages
    val cand = aggS.map(_.table(at)).getOrElse(s.table(at))
      .filter(col("cid").isin(cellIds: _*))
      .select(col("cid"), col("vec_id"), col("code"), col("cn"))
      .join(broadcast(cells.select("qid", "cid")), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        (graft.functions.GraftFunctions.pqAdcScore(col("qid"), col("code"),
          cb.m, cb.ks, lutH) / col("cn")).as("adc"))
    // shortlist fraction is 8x RICHER than brute-ADC's 1/256: the
    // probed cells are selected for proximity, so near-cutoff
    // candidates are ~nlist/nprobe (~8x) denser there than in a
    // uniform corpus scan (measured at 256k: 1/256 of the cell scan
    // held only 0.580 vs ivf 0.740; 1/32 restored the composition).
    // Small-n floor k*128 (the pqRefine floor, same starvation mode):
    // at n=16k the cell scan is ~2000 rows and 1/32 of it (63) held
    // only 0.400 vs ivf 0.540; 320 → 0.520, 640 → 0.540 = 1.00x the
    // exact cell probe. Engages while cell candidates < ~20k, i.e.
    // below the 256k rung (whose 1/32 is already 1012).
    val r = math.max(k * 128,
      math.ceil(n.toDouble * nprobe / nlist / 32.0).toInt)
    val top = adcShortlist(cand, r, pinned = aggS.isDefined)
    val probeQ = cells.select("qid", "qe", "qn").dropDuplicates("qid")
    val scored = s.table(at).filter(col("cid").isin(cellIds: _*))
      .select(col("vec_id").as("nid"), col("ce"), col("cn"))
      .join(broadcast(top), "nid")
      .join(broadcast(probeQ), "qid")
      .select(col("qid"), col("nid"), rawCos.as("raw"))
    exactTopK(scored, k)
  }

  /** SemDeDup-style semantic dedup (the cluster-then-prune recipe of
    * Abbas et al. 2023, arXiv:2303.09540): assign every vector to its
    * nearest coarse-quantizer cell, compare pairs only WITHIN a cell,
    * and drop the larger vec_id of every pair with unrounded cosine
    * >= tau — kept = vectors with no more-similar-than-tau earlier-id
    * cell mate. Embedding near-dup as a corpus-shrinking operator
    * (keep/drop verdicts) rather than q_dedup_embedding's sampled
    * pair report.
    *
    * Shape at scale: cell assignment is the fused NearestCentroid
    * argmax on map-only scans (never a join — rule of the 15.65x
    * crossJoin foil); the pair join shuffles both sides ONCE on the
    * cell id (co-partitioned self-join), so candidate pairs are
    * O(sum of cell^2), never the n^2 all-pairs — the SemDeDup bound.
    * The demo quantizer follows the oracled q_cluster_assign sqrt(n)
    * rule (cells ~ sqrt(n), so pairs ~ n^1.5); a production corpus
    * passes a finer quantizer (nlist ~ n/C for a fixed cell budget C,
    * e.g. the persisted IVF index's centroids) to keep pairs ~ n*C.
    * The drop side of the anti-join is duplicate-sized and broadcasts
    * under AQE. Cosines compare UNROUNDED on both engines (the
    * q_dedup_embedding comparator; rounding first would quantize
    * near-threshold pairs into cross-engine ties). */
  def semanticDedup(s: SparkSession, d: String, tau: Double): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val mod = centroidMod(math.max(1L, emb.count()))
    val handle = centroidHandle(s,
      emb.filter(centroidPick(mod))
        .select(col("vec_id").as("cid"), col("embedding").as("ke"),
          norm(col("embedding")).as("kn")))
    // ONE assignment frame serving all three roles (both self-join
    // sides + the output): the first cut invoked the nearestCentroid
    // argmax per role — three full corpus scans each paying the
    // k-centroid loop (the r15 plan audit's finding #2). The
    // localCheckpoint materializes (vec_id, e, nn, cid) once, the
    // knnGraph-consumer `edges` pattern; PlanSpec pins at most one
    // nearest_centroid eval in the plan.
    val asg = Tables.spreadSized(emb, 1L << 20, col("vec_id"))
      .select(col("vec_id"),
        col("embedding").as("e"), norm(col("embedding")).as("nn"),
        graft.functions.GraftFunctions
          .nearestCentroid(col("embedding"), handle).as("cid"))
      .localCheckpoint()
    val earlier = asg.select(col("vec_id").as("qid"), col("e").as("qe"),
      col("nn").as("qn"), col("cid").as("qcid"))
    val later = asg.select(col("vec_id"), col("e").as("ce"),
      col("nn").as("cn"), col("cid"))
    val dropped = later.join(earlier,
      col("qcid") === col("cid") && col("qid") < col("vec_id") &&
        rawCos >= tau,
      "leftsemi")
    asg.join(dropped.select("vec_id"), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cid"))
      .orderBy("vec_id")
  }

  /** Incremental SemDeDup over the PERSISTED IVF index — the semantic
    * twin of Dedup.deltaDedup: re-check the newly ingested slice
    * (isDeltaBatch: vec_id % 5 == 4) against the corpus by probing
    * each batch vector's own assigned cell for an EARLIER-id mate with
    * cosine >= tau. Emits one verdict row per duplicate: (vec_id,
    * dup_of = the most-similar earlier cell mate, ties to the smaller
    * id, cos).
    *
    * Shape at scale: both join sides scan the SAME cid-bucketed
    * assignment table, so the cell-mate join is exchange-free on the
    * bucket key (the delta-dedup probe posture); per-batch cost is
    * O(batch x occupancy), never O(n) — the amortization that makes
    * daily semantic re-checks affordable where q_dedup_semantic's
    * full pass is the rebuild foil. The window that picks each dup's
    * best mate runs on candidate pairs only (duplicate-sized). The
    * index build amortizes across every probe AND the whole ANN
    * family (same artifact as q_ann_ivf_probe / q_ann_ivfpq). */
  def semanticDeltaDedup(s: SparkSession, d: String, tau: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (at, _) = ensureIvfIndex(s, d)
    val asg = s.table(at)
    val q = asg.filter(Dedup.isDeltaBatch(col("vec_id")))
      .select(col("cid"), col("vec_id").as("qid"), col("ce").as("qe"),
        col("cn").as("qn"))
    val mates = asg.select(col("cid"), col("vec_id").as("nid"),
      col("ce").as("ne"), col("cn").as("nn"))
    val w = Window.partitionBy("qid").orderBy(desc("raw"), asc("nid"))
    q.join(mates, Seq("cid"))
      .filter(col("nid") < col("qid"))
      .withColumn("raw", dot(col("qe"), col("ne")) / (col("qn") * col("nn")))
      .filter(col("raw") >= tau)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("qid").as("vec_id"), col("nid").as("dup_of"),
        round(col("raw"), 6).as("cos"))
      .orderBy("vec_id")
  }

  /** Multi-probe kNN graph over the embedding corpus — the artifact
    * graph-based curation consumes (SemDeDup-style cluster pruning,
    * diversity selection, the centrality scoring in [[graphRank]]):
    * every vector's top-k cosine neighbors among the mates of its
    * NPROBE nearest quantizer cells (the IVF family's probe rule,
    * nprobe = max(4, nlist/8)). This is "run an IVF probe for every
    * corpus vector": exact within the probed cells, approximate
    * globally (GraphRecall + SimilaritySpec measure both recall
    * levels; the within-cell-only first cut measured 0.105 global
    * recall at 16k — cos 0.4-0.55 neighbors straddle argmax cells,
    * so the probe ring is what recall actually buys). Deterministic
    * end to end (the q_dedup_semantic cell rule), so the DuckDB
    * oracle re-derives the SAME graph relationally.
    *
    * Shape at scale: the top-nprobe cell ring is ONE native
    * [[graft.functions.NearestCells]] eval per row on a map-only scan
    * — with every corpus vector a query, the relational form
    * (crossJoin + window) would materialize the full n × nlist
    * intermediate, the rule-13 foil — computed in its own select
    * BEFORE the explode (the rule-15 generator discipline). The
    * candidate join shuffles on the cell id with candidates bounded
    * at nprobe × n × occupancy (the IVF probe cost, paid corpus-wide
    * because a graph build IS n probes — never n²). The per-vector
    * top-k window sees only (qid, nid, score) rows (rule-17 payload
    * discipline). Ranks compare the 6dp-ROUNDED score with a vec_id
    * tiebreak (the q_knn_cosine rule: rounding plus a total tiebreak
    * keeps edge sets engine-identical even when the raw cosine's
    * last ULP differs). */
  def knnGraph(s: SparkSession, d: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    val n = math.max(1L, emb.count())
    val mod = centroidMod(n)
    val nprobe = knngNprobe(n)
    val handle = centroidHandle(s,
      emb.filter(centroidPick(mod))
        .select(col("vec_id").as("cid"), col("embedding").as("ke"),
          norm(col("embedding")).as("kn")))
    // the expensive top-nprobe ring in its OWN select, the explode in
    // the next (rule 15); qe/qn ride the generator as attributes.
    // explode_OUTER, deliberately: InferFiltersFromGenerate only fires
    // on non-outer generates, and the filter it synthesizes —
    // Filter(size(nearest_cells(...)) > 0 AND isnotnull(...)) below
    // the project — re-evaluates the native top-P ring (a k-centroid
    // scan per row) a SECOND time corpus-wide (the r15 plan audit
    // caught the doubled assignment phase). The ring is total for
    // non-null embeddings, and a null qcid can never satisfy the
    // equi-join, so outer semantics are row-identical here. PlanSpec
    // pins exactly one nearest_cells eval per plan.
    val q = Tables.spreadSized(emb, 1L << 20, col("vec_id"))
      .select(col("vec_id").as("qid"),
        col("embedding").as("qe"), norm(col("embedding")).as("qn"),
        graft.functions.GraftFunctions
          .nearestCells(col("embedding"), nprobe, handle).as("qcids"))
      .select(col("qid"), col("qe"), col("qn"),
        explode_outer(col("qcids")).as("qcid"))
    val mates = Tables.spreadSized(emb, 1L << 20, col("vec_id"))
      .select(col("vec_id").as("nid"),
      col("embedding").as("ne"), norm(col("embedding")).as("nn"),
      graft.functions.GraftFunctions
        .nearestCentroid(col("embedding"), handle).as("cid"))
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("nid"))
    q.join(mates, col("qcid") === col("cid") && col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qe"), col("ne")) / (col("qn") * col("nn")), 6)
          .as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("qid", "nid", "score", "rn")
  }

  /** NN-descent-style refinement of the persisted ring graph — the
    * structural exit from the build's remaining n^1.7 work term
    * (SURVEY §23: the n^0.2 ring rule holds the tau floor, but a
    * smaller ring with refinement is the next escalation; this is
    * that pass, measured). One round scores every node against its
    * neighbors' NEIGHBORS and its reverse edges EXACTLY (the
    * NN-Descent observation — Dong et al., WWW'11: a neighbor of a
    * neighbor is likely a neighbor) and keeps the best k of
    * candidates ∪ current edges.
    *
    * Per-node recall is MONOTONE non-decreasing in rounds: candidates
    * contain the current edges, and both the refined selection and
    * the brute truth rank by the same (round-6 score desc, nid asc)
    * total order — an edge can only be displaced by one that ranks
    * strictly higher, which therefore also sits in the brute top-k
    * (law-tested per node). Measured r19: one round lifts tau-recall
    * 0.704→0.849 at 512k (23.0 s, ~13% of the ring build's wall) and
    * 0.729→0.862 at 1M (44.1 s, ~10%) — recall per second an order
    * of magnitude better than widening the ring, which is why this
    * pass, not a bigger np, is the documented escalation.
    *
    * Shape at scale: candidates are n·(k² + 2k) NARROW rows (two
    * longs) — linear in n, never n×occupancy — deduped BEFORE the
    * vector payloads attach (rule 17), scored in one codegen'd
    * VectorDot pass, selected by one per-src window; each round's
    * frame is localCheckpoint'd so plan depth stays O(1) (the
    * pageRank discipline). Deterministic end to end, so the DuckDB
    * oracle re-derives the refined graph relationally
    * (q_graph_refine). */
  def graphRefine(s: SparkSession, d: String, k: Int,
                  rounds: Int = 1): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val edges = graphEdges(s, d, k) // ensures BOTH persisted indexes
    if (rounds == 0) return edges
    // Score vectors come from the IVF ASSIGNMENT table, never the
    // dir's parquet: the persisted graph may hold folded/streamed
    // fresh-id nodes whose vectors live only in the index tables —
    // an embeddings-only inner join would silently DROP every
    // appended node (and every edge pointing at one) from the
    // refined output, violating per-node monotonicity on any grown
    // graph (r19 advice, medium). For a fresh dir the assignment
    // rows ARE the embeddings rows (same vectors, same norms), so
    // the DuckDB oracle's embeddings-derived twin is unchanged.
    val (at, _) = ivfTableNames(d)
    val v = s.table(at).select(col("vec_id"), col("ce"), col("cn"))
    refineEdgeRounds(edges.select(col("qid"), col("nid"))
      .localCheckpoint(), v, k, rounds)
  }

  /** One refinement round over an explicit (qid, nid, …) edge frame
    * for (d, k) — the GraphRecall per-round measurement stepper.
    * Vectors come from the assignment table (the [[graphRefine]]
    * source), so stepping r times off [[graphEdges]] equals
    * graphRefine(s, d, k, r). */
  private[graft] def graphRefineStep(s: SparkSession, d: String, k: Int,
                                     cur: DataFrame): DataFrame = {
    val (at, _) = ivfTableNames(d)
    refineEdgeRounds(cur.select(col("qid"), col("nid")).localCheckpoint(),
      s.table(at).select(col("vec_id"), col("ce"), col("cn")), k, 1)
  }

  /** The refinement loop body shared by [[graphRefine]] (query-time)
    * and the build/maintenance re-refine passes: `rounds` NN-descent
    * rounds over `cur` (qid, nid), scoring against `vecs`
    * (vec_id, ce, cn). Callers pass a materialized `cur`; each
    * round's output is localCheckpoint'd so plan depth stays O(1).
    *
    * Candidate volume bound (stated here because it is the pass's
    * one scale knob): each round generates n·(k² + 2k) candidate
    * rows — LINEAR in n but QUADRATIC in k. At k = 32 that is
    * ~1088·n rows per round; past k = 64 (~4224·n) the "narrow rows"
    * framing stops being honest at 100 TB scale, so the guard
    * refuses rather than letting a caller discover it in production. */
  private[graft] def refineEdgeRounds(cur0: DataFrame, vecs: DataFrame,
                                      k: Int, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && k <= 64,
      s"refine candidate volume is n·(k²+2k) rows per round — " +
        s"k=$k past 64 (~${k.toLong * k + 2 * k}·n rows) is no longer " +
        "a narrow-row pass; shrink k or batch the refinement")
    val v = vecs
    var cur = cur0
    val w = Window.partitionBy("qid").orderBy(desc("score"), asc("nid"))
    var out: DataFrame = null
    (0 until rounds).foreach { _ =>
      val a = cur.select(col("qid"), col("nid"))
      val cand = a.as("x").join(a.as("y"), col("x.nid") === col("y.qid"))
          .select(col("x.qid").as("qid"), col("y.nid").as("nid"))
        .unionByName(a.select(col("nid").as("qid"), col("qid").as("nid")))
        .unionByName(a)
        .filter(col("qid") =!= col("nid"))
        .distinct()
      val scored = cand
        .join(v.select(col("vec_id"), col("ce").as("qe"),
          col("cn").as("qn")), col("qid") === col("vec_id"))
        .drop("vec_id")
        .join(v, col("nid") === col("vec_id"))
        .drop("vec_id")
        .select(col("qid"), col("nid"), pairScore.as("score"))
      out = scored.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= k)
        .select("qid", "nid", "score", "rn")
        .localCheckpoint()
      cur = out.select(col("qid"), col("nid"))
    }
    out
  }

  /** Fixed-iteration PageRank over an arbitrary (src, dst) edge list —
    * the family's iterative-graph pattern beyond
    * Dedup.connectedComponents. GraphX-example semantics: rank₀ = 1,
    * rank' = (1−d) + d·Σ_in rank/outdeg; sink mass is not
    * redistributed (a node with no out-edges contributes nothing), and
    * a node with no in-edges settles at exactly 1−d.
    *
    * Determinism discipline: the ENTIRE iteration is fixed-point
    * integer arithmetic in 1e-8 rank units — contributions floor-
    * divide (ru div outdeg), in-sums are exact BIGINT, the damping
    * step is (pct·Σ) div 100 — so both engines iterate bit-identical
    * values with NO rounding boundary anywhere. (The first cut
    * rounded double contributions to 8 dp: r/outdeg with an EVEN
    * out-degree puts ~half the odd-last-digit ranks exactly on the
    * half-way tie, which Spark's shortest-string HALF_UP and DuckDB's
    * binary round break differently — sf0.001 already diverged.
    * Division is where quantized values breed exact ties; integers
    * are the fix, not finer rounding.) Doubles appear only in the
    * final presentation ru/1e8 (exact long → correctly-rounded
    * division, identical in both engines). Integer headroom: the
    * damping product overflows Long only past ~1e9 nodes' rank mass
    * converging on ONE node; production at that in-degree scale
    * widens the units to DECIMAL.
    *
    * Shape at scale: callers materialize `edges` ONCE (the
    * connectedComponents rule — never re-derive the graph per
    * iteration); each iteration is one 8-byte-key join (rank × edges,
    * the rank side ~nodes-sized) plus one map-side-combining
    * groupBy(dst) whose shuffle rows are (long, long), then a left
    * join back to the node list; rank frames are localCheckpoint'd per
    * iteration so plan depth and lineage stay O(1), not O(iters). */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
               damping: Double = 0.85): DataFrame = {
    val dampPct = math.round(damping * 100)
    require(dampPct >= 0 && dampPct <= 100, s"damping $damping not in [0,1]")
    val teleUnits = 100000000L - dampPct * 1000000L
    // Earlier form joined `nodes` back every iteration, re-deriving
    // its source per iteration (the r21 probe saw the IVF assignment
    // table scanned 4x under q_graph_rank, each scan + exchange a
    // ~0.3-0.4 s stage). Pinning nodes/deg was MEASURED and REJECTED
    // at sf0.1 (r21 A/B: 1.41x worse — pins serialize what AQE's
    // thread pool overlaps); instead the iteration joins the PREVIOUS
    // rank frame, which is already a localCheckpoint carrying exactly
    // the node universe (rank₀ covers all nodes; every left join
    // preserves them) — the node source is scanned once at init, no
    // new pin, and the oracle's rankIterCte chains r_{i+1} off r_i
    // the same way. r21 A/B (5 interleaved reps, same window):
    // q_graph_rank 1.71 → 1.44 s min (0.84x).
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val eg = edges.join(deg, Seq("src")).localCheckpoint()
    var rank = nodes.select(col("id"), lit(100000000L).as("ru"))
    for (_ <- 1 to iters) {
      val contrib = rank.join(eg, col("id") === col("src"))
        .select(col("dst"), expr("ru div outdeg").as("cu"))
      val sums = contrib.groupBy("dst")
        .agg(sum(col("cu")).cast("long").as("cs"))
      rank = rank.join(sums, col("id") === col("dst"), "left")
        .select(col("id"),
          expr(s"$teleUnits + ($dampPct * coalesce(cs, 0L)) div 100")
            .cast("long").as("ru"))
        .localCheckpoint()
    }
    rank.join(deg, col("id") === col("src"), "left")
      .select(col("id"), coalesce(col("outdeg"), lit(0L)).as("out_deg"),
        (col("ru") / lit(100000000L)).as("r"))
  }

  /** Semantic clustering: connected components over the MUTUAL kNN
    * graph — an edge survives only when each endpoint ranks the other
    * inside its own top-k (the standard mutual-kNN tightening: a hub
    * vector cannot chain unrelated neighborhoods through asymmetric
    * edges). Every vector is emitted with its cluster representative
    * (min vec_id, the [[Dedup.connectedComponents]] label law) and
    * cluster size; vectors with no mutual edge are their own
    * singleton rep.
    *
    * Shape at scale: the mutual filter is one self-join of the
    * (src, dst) edge list on 8-byte keys (edges localCheckpoint'd
    * once, the connectedComponents rule); components then run on the
    * size-gated CC hybrid (driver union-find under 1M edges,
    * distributed pointer jumping above) — mutual edges number at most
    * n·k, so the gate behaves exactly as the dedup family's. */
  def graphClusters(s: SparkSession, d: String, k: Int): DataFrame = {
    ensureKnnGraphIndex(s, d, k)
    val e = readKnnGraphEdges(s, d, k)
      .select(col("src"), col("dst"))
      .localCheckpoint()
    val mutual = e.as("x").join(e.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src"))
      .filter(col("x.src") < col("x.dst"))
      .select(col("x.src").as("da"), col("x.dst").as("db"))
    val labels = Dedup.connectedComponents(mutual) // (node, lbl)
    val nodes = graphNodes(s, d)
    // lab feeds BOTH the size aggregate and the final join, so each
    // reference re-derives the assignment scan + labels join. Pinning
    // it was MEASURED and REJECTED at sf0.1 (r21 A/B, 7 reps: 0.51 ->
    // 0.56 s, 1.10-1.12x worse, q_cluster_sample same) — the
    // pageRank lesson: duplicate subtrees overlap inside AQE's
    // thread pool, a pin serializes. Re-gate at a rung where the
    // duplicate scan dominates, with its measurement.
    val lab = nodes.join(labels, col("vec_id") === col("node"), "left")
      .select(col("vec_id"),
        coalesce(col("lbl"), col("vec_id")).as("cluster_rep"))
    // cluster_size as a count-over-window, not aggregate+join (r21,
    // guide §2.4): the sizes-join form re-derived the whole lab
    // subtree for the aggregate side and SortMergeJoin'd n rows
    // against it (plan: 2 lab derivations, 3 exchanges + 2 sorts on
    // the join path); the window shuffles lab ONCE by cluster_rep and
    // counts in place — same value, one subtree, one exchange.
    // Per-partition state is bounded by cluster size, the same bound
    // the q_cluster_sample pick window already carries (its window
    // partitions by cluster_rep too, so it reuses this exchange).
    lab.withColumn("cluster_size",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_rep")))
      .select(col("vec_id"), col("cluster_rep"), col("cluster_size"))
  }

  /** Diversity sampling over [[graphClusters]]: keep at most `m`
    * vectors per semantic cluster, chosen in seeded-hash order (the
    * q_train_shuffle md5 idiom — unbiased within the cluster,
    * reproducible anywhere, a vector's pick rank never changes when
    * OTHER clusters grow). The SemDeDup keep rule generalized from
    * keep-one: m > 1 preserves intra-cluster variation while still
    * bounding each semantic neighborhood's weight in the training
    * mix. Emits every vector with its rank and verdict; the only
    * window partitions by cluster_rep (state bounded by cluster
    * size). */
  def clusterSample(s: SparkSession, d: String, k: Int, m: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val skey = md5(concat(col("vec_id").cast("string"), lit("#cs42"))
      .cast("binary"))
    val w = Window.partitionBy("cluster_rep").orderBy("skey", "vec_id")
    graphClusters(s, d, k)
      .withColumn("skey", skey)
      .withColumn("pick", row_number().over(w).cast("long"))
      .select(col("vec_id"), col("cluster_rep"), col("cluster_size"),
        col("pick"), (col("pick") <= m).as("keep"))
  }

  /** The graph's node universe = the INDEXED corpus (the IVF
    * assignment rows — identical to the embeddings table for a fresh
    * dir, and the merged corpus once batches fold in), so every
    * consumer's membership tracks the artifact it probes. Column-
    * pruned 8-byte scan. */
  private def graphNodes(s: SparkSession, d: String): DataFrame = {
    val (at, _) = ensureIvfIndex(s, d)
    s.table(at).select(col("vec_id"))
  }

  // ───────────────── persisted kNN graph index ─────────────────
  //
  // The graph family's third maintained artifact (after the shingle
  // and IVF indexes): the probe-ring edge list built ONCE over the
  // persisted IVF assignments and probed by every consumer
  // (graphRank / graphClusters / clusterSample) — the r15 judge
  // measured 47-57 s PER CONSUMER at 64k vectors, each re-paying the
  // same 518M-pair scoring pass that a production pipeline builds
  // exactly once. Unlike the other two indexes the graph holds no
  // data of its own — every edge and ring derives from the IVF
  // tables — so every inconsistent crash state repairs by REBUILD,
  // never with stream-data loss.
  //
  // Tables (catalog, per (corpus dir, k)):
  //  - edges (src, dst, score, rn, gen) BUCKETED BY src: each node's
  //    top-k ring adjacency. `gen` is the append generation (null =
  //    build/compact); an append rewrites a touched src's FULL
  //    adjacency under its own gen, and the reader keeps each src's
  //    latest generation — so appends never need row updates.
  //  - rings (qid, qcid, acid) BUCKETED BY qcid: each node's probed
  //    cell ring + its own assigned cell. This is what makes appends
  //    incremental: the existing nodes whose top-k a batch can touch
  //    are exactly the rings rows whose qcid RECEIVED a batch vector
  //    — a bucket-pruned scan, never a corpus-wide ring recompute.
  //    Storage is n x nprobe x 24 B — the price of reverse
  //    maintenance, linear in the build's own candidate fan-out.
  //
  // Freshness (IndexManifest): src field = corpus dir + k + the
  // centroid-set fingerprint (a refreshIvfCentroids changes the
  // quantizer and must read as graph staleness); baseRows/fp = corpus
  // identity; batches = the graph's applied batch list, kept in
  // LOCKSTEP with the IVF index's (equal -> fresh; strict prefix ->
  // the graph lags, fold the suffix from the durable IVF batch store;
  // anything else -> rebuild over the IVF tables).

  /** The persisted graph of (corpus `d`, k): edges + rings, named from
    * the tag of `d#k=k` ([[PersistedIndex]]). */
  private def knngIndex(d: String, k: Int): PersistedIndex.Spec =
    PersistedIndex.Spec("graft_knng", "kNN graph index", s"$d#k=$k",
      Seq("edges" -> Some("src"), "rings" -> Some("qcid")))

  private[graft] def knngTableNames(d: String, k: Int): (String, String) = {
    val ix = knngIndex(d, k)
    (ix.tables(0), ix.tables(1))
  }

  /** Fingerprint of the stored centroid SET — the quantizer identity
    * every graph edge's candidate structure derives from. xxhash64
    * over (cid, vector), XOR-combined (order-independent); ~nlist =
    * sqrt(n) rows, so the check is probe-cheap. */
  private def centroidFingerprint(s: SparkSession, ct: String): Long =
    s.table(ct).select(xxhash64(col("cid"), col("ke")).as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("fp"))
      .head.getLong(0)

  /** An IVF mutation (append/refresh/drop) may break graph lockstep —
    * the next graph ensure of any k must re-run the real check. */
  private def forgetKnngMemoFor(s: SparkSession, d: String): Unit =
    PersistedIndex.forget(s, "graft_knng", d + "#")

  /** Whether a graph index has ever been built for (d, k) — the Cli
    * maintain guard (maintenance must not BUILD an index on corpora
    * that never run graph queries; ensure inside maintain would). */
  private[graft] def hasKnnGraphIndex(s: SparkSession, d: String,
                                      k: Int): Boolean =
    PersistedIndex.exists(s, knngIndex(d, k))

  /** Drop the persisted kNN graph (tables, staging leftovers, manifest,
    * memo) — the cold-build reset of the lifecycle and law tests. */
  private[graft] def dropKnnGraphIndex(s: SparkSession, d: String,
                                       k: Int): Unit =
    PersistedIndex.drop(s, knngIndex(d, k))

  /** Build-once, probe-many for the semantic graph: persist each
    * node's REFINED top-k adjacency (+ its probe ring) as catalog
    * tables and return (edgesTable, ringsTable), skipping the build
    * when a fresh index exists. The r20 contract: ring pass
    * (flat-[[knngNprobeCap]] cells — connectivity seed) +
    * [[knngRefineRounds]] NN-descent rounds baked into the artifact.
    * LAWS (SimilaritySpec): a fresh build's edges equal
    * [[refineEdgeRounds]] over the [[knnGraph]] ring foil row for
    * row; a fold's per-node kth score dominates BOTH the pre-fold
    * graph and the ring-only merged rebuild (exact top-k algebra over
    * stored ∪ batch ring candidates — folds never refine, so
    * [[refineKnnGraphIndex]]/maintain restore refinement coverage on
    * the measured cadence). */
  def ensureKnnGraphIndex(s: SparkSession, d: String, k: Int)
      : (String, String) = {
    require(k >= 1, s"k must be >= 1: $k")
    val ix = knngIndex(d, k)
    val names @ (et, rt) = knngTableNames(d, k)
    if (PersistedIndex.isFresh(s, ix)) return names
    val (at, ct) = ensureIvfIndex(s, d)
    val ivfBatches = PersistedIndex.stored(s, ivfIndex(d))._2
    val emb = Tables.embeddings(s, d)
    val n = math.max(1L, emb.count())
    val cfp = centroidFingerprint(s, ct)
    val np = knngNprobe(n)
    val ivfRows = n + ivfBatches.map(_._2).sum
    val eBuckets = Tables.indexBuckets(ivfRows)
    // np AND the refine-round rule are part of the graph's IDENTITY:
    // a changed probe-ring cap or round count (or an env A/B) changes
    // edge content — it must read as staleness (rebuild), exactly
    // like a refreshed quantizer (cfp)
    val rf = knngRefineRounds
    val expect = IndexManifest.Manifest(s"$d#k=$k#np=$np#rf=$rf#cfp=$cfp",
      n, ivfFingerprint(emb), eBuckets, Nil)
    val stored = PersistedIndex.read(s, ix)
    val sameBase = stored.exists(_._1.startsWith(expect.basePrefix))
    // cross-JVM re-attach; the IVF tables were already re-attached by
    // the ensureIvfIndex above
    if (sameBase) PersistedIndex.reattach(s, ix)
    val gBatches = stored.map(_._2).getOrElse(Nil)
    val lockstep = sameBase && ix.tables.forall(s.catalog.tableExists) &&
      gBatches == ivfBatches.take(gBatches.size)
    val lag = ivfBatches.drop(gBatches.size)
    if (lockstep && lag.forall { case (bid, _) =>
        val p = PersistedIndex.batchPath(s, ivfIndex(d), bid)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p) }) {
      // the graph LAGS the vector index (an ingest appended vectors
      // without graph upkeep, or a crash fell between the two folds):
      // fold the missing suffix from the durable batch store —
      // incremental cost, never a rebuild
      lag.foreach { case (bid, rows) =>
        val batch = s.read.parquet(
          PersistedIndex.batchPath(s, ivfIndex(d), bid).toString)
        PersistedIndex.foldBatch(s, ix, bid) {
          foldGraphBatch(s, d, k, et, rt, at, ct, np, batch, bid)
          rows
        }
      }
    } else {
      // rebuild over the IVF index contents: stale base, refreshed
      // centroids (cfp), missing table, or un-foldable lag — all
      // repair here, with the applied-batch list inherited so lockstep
      // holds. Every row is written gen-null, so the inherited batches
      // are recorded compacted (else every read pays the
      // generation-resolve path for batches that can have no non-null
      // gen rows) and refined (the build's refinement covered them).
      val built = expect.copy(batches = ivfBatches).render
      PersistedIndex.rebuild(s, ix, IndexManifest.withRefinedThrough(
          if (ivfBatches.isEmpty) built
          else IndexManifest.withCompacted(built, ivfBatches, ivfBatches.size),
          ivfBatches.size)) {
        buildKnnGraphTables(s, k, et, rt, at, ct, np, eBuckets)
      }
    }
    PersistedIndex.markFresh(s, ix)
    names
  }

  /** Diagnostics of the LAST graph build this JVM ran (chunk count,
    * q rows, wall seconds) — written by [[buildKnnGraphTables]], read
    * by [[graft.GraphRecall]]'s report line so ladder rungs record
    * the rule-31a cost model (build wall vs C re-scans of the mates
    * side) without the library printing anything itself. (0, 0, 0)
    * when no build ran (e.g. the ensure re-attached or reused). */
  @volatile private[graft] var LastGraphBuild: (Int, Long, Double) =
    (0, 0L, 0.0)

  /** Hard ceiling for the build's ObjectHashAggregate fallback
    * threshold: ~112 B of top-k state per src key puts 4M keys at
    * ~450 MB/task — the most in-memory aggregation state a build
    * task is allowed. Past it [[cellBlockTopK]] hash-repartitions
    * before the merge so per-task keys stay bounded (r17 advice). */
  private[graft] val FallbackKeyCap = 4000000L

  /** Law-test hook: invoked once per build AFTER the build session's
    * conf is raised, so a spec can observe that the CALLER's session
    * still reads the default fallback threshold mid-build. None in
    * production. */
  @volatile private[graft] var GraphBuildConfProbe
      : Option[() => Unit] = None

  /** The cell-block guard bound for corpus-sized kernel passes: 16x
    * the healthy mean occupancy (the maintenance hot-cell trigger's
    * own ratio — healthy indexes measure 4.3-4.9x MEDIAN, so 16x the
    * MEAN never fires on a maintained index), floored at 64 so
    * test-scale fixtures with a handful of cells keep their natural
    * skew headroom. */
  private def blockGuardCap(rows: Long, nlist: Long): Long =
    16L * math.max(64L, rows / math.max(1L, nlist))

  /** Size gate (bytes) on the fold reverse pass's block BROADCAST:
    * the batch's vector blocks are driver-collected under a
    * broadcast join, and batch size is caller/stream-controlled —
    * unbounded through [[graft.streaming.CorpusStreams.graphIngestStream]]
    * micro-batches. A stream-shaped batch (2k x 64-dim float) is
    * ~0.6 MB of blocks and the broadcast removes the n x np
    * probe-side exchange entirely (FoldProbe r18); an accidental
    * million-vector batch is ~0.5 GB and would sit on the driver or
    * trip the broadcast limit. Past this estimated payload the pass
    * falls back to the same shuffle_hash join the corpus-sized
    * passes use (the PrefilterMinDocs size-gate idiom — measure both
    * ends, gate on size). Var: the law test forces the shuffle_hash
    * form on a small batch and pins row-identity. */
  @volatile private[graft] var GraphFoldBroadcastBudget =
    32L * 1000L * 1000L

  /** Per-pass disk budget (bytes) for the kernel build's probe-side
    * shuffle — the form's one super-linear DISK term: the exploded
    * probe frame is n x np rows x (~48 B + the vector), and np tracks
    * nlist/8 ~ sqrt(n)/8, so the shuffle grows n^1.5 (37 GB at 1M,
    * ~110 GB at 2M — past this host's free disk, the rule-31a
    * disk-death shape resurfacing through the SHUFFLE rather than a
    * sort). Builds whose estimated probe shuffle exceeds the budget
    * split the q side into hash chunks (every qid wholly in one
    * chunk, so per-src top-k stays total — the legacy loop's law);
    * per chunk the mates side re-groups to blocks, a ~seconds-scale
    * groupBy over n rows (BuildProbe r18: the pair machinery, not
    * the mates scan, was the r17 cost). 40 GB keeps every measured
    * rung (<= 1M, 37 GB) single-pass. Var: the forced-multi-chunk
    * law test shrinks it. Env: GRAFT_GRAPH_SHUFFLE_BUDGET_GB sizes
    * the per-chunk budget to the disk a deployment actually has
    * (the 4M rung needs ~80 GB of probe shuffle total — at this
    * host's ~65 GB free it only fits chunked finer than default). */
  @volatile private[graft] var GraphBuildShuffleBudget =
    sys.env.get("GRAFT_GRAPH_SHUFFLE_BUDGET_GB").map { v =>
      require(v.matches("\\d{1,4}") && v.toInt > 0,
        s"GRAFT_GRAPH_SHUFFLE_BUDGET_GB must be a positive integer, got: '$v'")
      v.toLong * 1000L * 1000L * 1000L
    }.getOrElse(40L * 1000L * 1000L * 1000L)

  /** The shared cell-block top-k scoring pass (rule 35) — the
    * kNN-graph build's and fold's kernel form. `qx` is one row per
    * (query x probed cell): (qid, qe, qn, qcid); `members` is
    * (cid, nid, ne, nn). Members group to per-cell BLOCKS (parallel
    * arrays: ids, flattened vectors, norms), the shuffle_hash join
    * feeds each probe row to [[graft.functions.TopKInCell]] — fused
    * score + selection in primitive loops, round-6 ranking
    * bit-identical to the window form — and per-cell winners merge to
    * the exact global top-k per src through TopKEdges: top-k of
    * per-cell top-ks == global top-k, since every (q, neighbor) pair
    * arises in exactly one cell (the neighbor's assigned cell). No
    * pair row ever exists, so nothing sorts, spills, or budgets.
    * Returns (src, dst, score, rn best-first), at most k rows per
    * src. `srcRows` guards the merge: past the ObjectHashAggregate
    * threshold cap a pre-merge hash repartition bounds per-task keys
    * (below it the caller either raised the threshold — the build —
    * or accepts the sort-based fallback of the already-k-reduced
    * stream: <= srcs x np x k narrow rows, not a rule-31a shape). */
  private[graft] def cellBlockTopK(qx: DataFrame, members: DataFrame,
                            k: Int, srcRows: Long,
                            broadcastBlocks: Boolean = false,
                            blockRowCap: Long = 0L): DataFrame = {
    // COUPLING: a cell's block is ONE collect_list row (~occupancy x
    // dim x width — ~345 KB healthy at 512k), so the kernel's memory
    // shape assumes a MAINTAINED index: under frozen-centroid drift a
    // 212x-median hot cell (drift gate, r16) is a ~70 MB single block
    // that would OOM inside codegen with no legible error. Callers
    // scoring CORPUS-sized members pass blockRowCap = 16x the healthy
    // occupancy estimate (the maintenance hot-cell trigger's own
    // ratio, Maintenance.scala) and a breach fails loud with the
    // repair named; batch-sized members (the fold's reverse pass) are
    // already bounded by the broadcast gate and pass 0 (no cap).
    val blocks00 = members.groupBy(col("cid").as("bcid"))
      .agg(collect_list(col("nid")).as("bids"),
        flatten(collect_list(col("ne"))).as("bvecs"),
        collect_list(col("nn")).as("bnorms"))
    val blocks0 = if (blockRowCap <= 0) blocks00
      else blocks00.withColumn("bids",
        when(size(col("bids")) > blockRowCap,
          raise_error(concat(
            lit("cellBlockTopK: cell "), col("bcid").cast("string"),
            lit(" holds "), size(col("bids")).cast("string"),
            lit(s" members, past the $blockRowCap-row block guard " +
              "(16x the healthy occupancy estimate) — the kernel " +
              "assumes a maintained index; run " +
              "Similarity.maintainIvfIndex (or refreshIvfCentroids) " +
              "before (re)building the graph"))))
          .otherwise(col("bids")))
    // join strategy is the caller's SIZE knowledge: corpus-sized
    // blocks (the build; the fold's batch-adjacency mates) use
    // shuffle_hash — SMJ would sort the probe rows (the rule-31a sort
    // shape in miniature) to join a handful of block rows, and the
    // hash build holds only this partition's blocks. BATCH-sized
    // blocks (the fold's reverse pass: <= batch vectors, < 1 MB)
    // BROADCAST — the shuffle_hash form exchanged the n x np exploded
    // probe side to meet them (4.6 GB write + 1 GB spill at 512k, the
    // fold's single largest stage pair, FoldProbe r18); broadcast
    // fuses explode -> join -> kernel -> TopKEdges partials into one
    // map stage with no probe-side shuffle at all.
    val blocks = if (broadcastBlocks) broadcast(blocks0)
      else blocks0.hint("shuffle_hash")
    val cand = qx
      .join(blocks, col("qcid") === col("bcid"))
      .select(col("qid"),
        graft.functions.GraftFunctions.topKInCell(col("qe"),
          col("qn"), col("qid"), col("bcid"), col("bids"),
          col("bvecs"), col("bnorms"), k).as("cand"))
      // rule 30: outer — a non-outer Generate gets an inferred
      // size/notnull filter BELOW it that would re-evaluate the
      // kernel per row (CollapseProject sees through the two-select
      // split)
      .select(col("qid").as("src"), explode_outer(col("cand")).as("e"))
      .select(col("src"), col("e.dst").as("dst"),
        col("e.score").as("score"))
    val pre = if (srcRows + 1024L > FallbackKeyCap)
      cand.repartition(col("src")) else cand
    pre.groupBy("src")
      .agg(graft.functions.GraftFunctions
        .topKEdges(col("dst"), col("score"), k).as("tk"))
      .select(col("src"), posexplode(col("tk")).as(Seq("p", "e")))
      .select(col("src"), col("e.dst").as("dst"),
        col("e.score").as("score"),
        (col("p") + 1).cast("long").as("rn"))
  }

  /** The build's refinement post-pass — the r20 contract's second
    * half: [[knngRefineRounds]] NN-descent rounds over the
    * just-written ring edge table, written back gen-null under the
    * same bucket spec, so the PERSISTED artifact is the refined
    * graph (r19 shipped refinement as a query-time op only — the
    * artifact every consumer probes never benefited). Reads the
    * table's FILES (rule 20a) and the refined frame is fully
    * localCheckpoint'd round-by-round before the overwrite, so the
    * rewrite never reads its own target. */
  private def refineBuiltEdges(s: SparkSession, bs: SparkSession,
                               et: String, asg: DataFrame, k: Int,
                               eBuckets: Int): Unit = {
    val r = knngRefineRounds
    if (r == 0) return
    val loc = new org.apache.hadoop.fs.Path(
      bs.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(et)).location)
    val refined = refineEdgeRounds(
      bs.read.parquet(loc.toString)
        .select(col("src").as("qid"), col("dst").as("nid"))
        .localCheckpoint(),
      asg.select(col("vec_id"), col("ce"), col("cn")), k, r)
    PersistedIndex.writeBucketed(s,
      refined.select(col("qid").as("src"), col("nid").as("dst"),
          col("score"), col("rn"))
        .withColumn("gen", lit(null).cast("string")),
      et, "src", eBuckets, SaveMode.Overwrite)
  }

  /** The one-shot build body: one probe-ring pass over the IVF
    * assignment table. The ring (the expensive native NearestCells
    * eval) is computed ONCE into a localCheckpoint'd frame feeding
    * both artifacts; the mates side reuses the STORED cell
    * assignments (no nearestCentroid re-eval — the build's argmax was
    * already paid by ensureIvfIndex). The top-k pass runs in q-side
    * chunks sized by [[GraphBuildShuffleBudget]]. */
  private def buildKnnGraphTables(s: SparkSession, k: Int,
                                  et: String, rt: String,
                                  at: String, ct: String,
                                  np: Int, eBuckets: Int): Unit = {
    // The build runs its queries in a CLONED session with the
    // ObjectHashAggregate fallback threshold raised over the index
    // rows: the block collect_list sees nlist keys and the final merge
    // sees up to `rows` srcs per map task — cover rows (capped; beyond
    // the cap the pre-merge repartition bounds per-task keys to
    // rows/partitions). The caller's session keeps the default
    // (GraphBuildConfProbe lets the law test observe exactly that,
    // mid-build). `rows` is a path read (parquet metadata, fresh
    // listing): the caller's cached relation for `at` may predate
    // another session's rewrite.
    val rows = math.max(1L, PersistedIndex.files(s, at).count())
    val bs = raisedThresholdSession(s, rows)
    GraphBuildConfProbe.foreach(_())
    val handle = centroidHandle(bs, bs.table(ct))
    val asg = bs.table(at)
    val q = asg.select(col("vec_id").as("qid"), col("ce").as("qe"),
        col("cn").as("qn"), col("cid").as("acid"),
        graft.functions.GraftFunctions
          .nearestCells(col("ce"), np, handle).as("qcids"))
      .localCheckpoint()
    val mates = asg.select(col("cid"), col("vec_id").as("nid"),
      col("ce").as("ne"), col("cn").as("nn"))
    val nlist = math.max(1L, bs.table(ct).count())
    val buildT0 = System.nanoTime()
    // The exact contract scores n x np x occupancy pairs = n²·np/
    // nlist ~ n²/8 (np tracks nlist/8, so nlist CANCELS — the build
    // is quadratic whatever the cell count). The r18 BuildProbe
    // measured the r17 pair-stream form paying ~2 µs of join +
    // project + aggregate-update machinery PER PAIR (32.8G pairs =
    // 1935 s at 512k; the 64-FLOP dot is ~50 ns of it). The kernel
    // form feeds the SAME dots through one fused kernel per (query x
    // probed cell) row instead: per-cell member BLOCKS (parallel
    // arrays: ids, flattened vectors, norms) join to the exploded
    // probe rows (n x np — a mean-occupancy factor fewer rows), and
    // TopKInCell runs score + selection over primitive arrays,
    // ranked by round(cosine, 6) with dst breaking ties (SimilaritySpec
    // pins the stored edges against a pair-stream window reference).
    // No pair row ever exists, so nothing sorts or spills: per-pass
    // disk is the probe-side shuffle (n x np x ~(48 B + vector))
    // and the block-side shuffle (n x ~528 B). The probe shuffle is
    // the form's one n^1.5 disk term — past GraphBuildShuffleBudget
    // the q side splits into hash chunks (each qid wholly in one
    // chunk keeps per-src top-k total; blocks re-group per chunk, a
    // seconds-scale n-row groupBy).
    val elemBytes = asg.schema("ce").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => 4L
      case _ => 8L
    }
    val dim = asg.select(size(col("ce"))).head.getInt(0).toLong
    val qRowBytes = 48L + dim * elemBytes
    val chunks = math.max(1L, math.ceil(
      rows.toDouble * np * qRowBytes / GraphBuildShuffleBudget
    ).toLong).toInt
    (0 until chunks).foreach { c =>
      val qc = if (chunks == 1) q
        else q.filter(pmod(xxhash64(col("qid")), lit(chunks)) === c)
      // explode_outer: the knnGraph rule — a non-outer Generate gets
      // an inferred size/notnull filter that would re-evaluate the
      // ring (here a checkpointed attribute, but keep the idiom)
      val qx = qc.select(col("qid"), col("qe"), col("qn"),
        explode_outer(col("qcids")).as("qcid"))
      val edges = cellBlockTopK(qx, mates, k, rows,
        blockRowCap = blockGuardCap(rows, nlist))
        .withColumn("gen", lit(null).cast("string"))
      PersistedIndex.writeBucketed(s, edges, et, "src", eBuckets,
        if (c == 0) SaveMode.Overwrite else SaveMode.Append)
      // chunk shuffles are freed by the GC-driven ContextCleaner,
      // whose periodic-GC default (30 min) outlives a multi-chunk
      // build — without a prompt each chunk's ~budget of shuffle
      // files ACCUMULATES until the build dies ENOSPC (rule 31a
      // one layer up; the 4M rung died exactly here with 2 x 40 GB
      // live). Prompting after each chunk's job completes lets the
      // async cleaner delete the now-unreferenced shuffle while
      // the next chunk warms, bounding live shuffle near ONE
      // budget rather than chunks x budget.
      if (chunks > 1) System.gc()
    }
    refineBuiltEdges(s, bs, et, asg, k, eBuckets)
    PersistedIndex.writeBucketed(s,
      q.select(col("qid"), explode_outer(col("qcids")).as("qcid"),
        col("acid")), rt, "qcid", eBuckets, SaveMode.Overwrite)
    LastGraphBuild = (chunks, rows, (System.nanoTime() - buildT0) / 1e9)
  }

  /** Resolved edge view of a raw edge frame: rows whose gen is not in
    * the manifest are a crashed append's residue (invisible by
    * construction — the manifest is written only after a fold
    * completes); listed gens rank by manifest order, base rows rank 0,
    * and each src's adjacency is the rows of the LATEST generation
    * that touched it (an append rewrites a touched src's FULL
    * adjacency). The window partitions on the bucket key —
    * exchange-free over the catalog scan. */
  private def resolveGraphEdges(raw: DataFrame, storedTxt: String,
                                batches: Seq[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val compacted = IndexManifest.compactedOf(storedTxt)
    val unfolded = batches.drop(compacted)
    val out =
      if (unfolded.isEmpty) raw.filter(col("gen").isNull)
      else {
        val sp = raw.sparkSession
        import sp.implicits._
        val ords = broadcast(batches.zipWithIndex
          .map { case ((id, _), i) => (id, (i + 1).toLong) }
          .toDF("gen", "ord"))
        raw.join(ords, Seq("gen"), "left")
          .filter(col("gen").isNull || col("ord").isNotNull)
          .withColumn("ord", coalesce(col("ord"), lit(0L)))
          .withColumn("mx",
            max(col("ord")).over(Window.partitionBy("src")))
          .filter(col("ord") === col("mx"))
          // a crashed fold replayed by ensure writes its rows twice
          // under the SAME gen — exact duplicates, folded here
          .dropDuplicates("src", "dst", "rn")
      }
    out.select(col("src"), col("dst"), col("score"), col("rn"))
  }

  /** The resolved edge table (src, dst, score, rn) — no ensure; the
    * raw read for callers that just ran it. */
  private[graft] def readKnnGraphEdges(s: SparkSession, d: String,
                                       k: Int): DataFrame = {
    val (et, _) = knngTableNames(d, k)
    val stored = PersistedIndex.stored(s, knngIndex(d, k))
    resolveGraphEdges(s.table(et), stored._1, stored._2)
  }

  /** The family's shared edge artifact: ensure + resolved view, with
    * [[knnGraph]]'s column names (qid, nid, score, rn). */
  def graphEdges(s: SparkSession, d: String, k: Int): DataFrame = {
    ensureKnnGraphIndex(s, d, k)
    readKnnGraphEdges(s, d, k)
      .select(col("src").as("qid"), col("dst").as("nid"),
        col("score"), col("rn"))
  }

  /** Fold one ingested batch into the persisted graph — the
    * incremental twin of the 47-57 s/consumer rebuild. Two halves:
    *
    *  1. the batch's OWN adjacency: one IVF probe per batch vector —
    *     ring cells' mates read bucket-pruned from the assignment
    *     table (which already holds the batch; the IVF fold runs
    *     first), so batch-batch edges come for free;
    *  2. REVERSE updates: the stored rings rows whose qcid received a
    *     batch vector name exactly the existing nodes whose top-k can
    *     change (the ring is frozen with the centroids, so membership
    *     never moves). Each candidate (q, b) scores once; only nodes
    *     where a candidate reaches the CURRENT rank-k score are
    *     rewritten (a below-threshold candidate can never enter), and
    *     a rewrite is the node's full adjacency under gen = batchId.
    *
    * Cost tracks the batch at the family's own probe rate: candidate
    * pairs ≈ batch x nprobe x occupancy each way — the same work the
    * batch's vectors would cost as ivfProbe queries — never a corpus
    * ring recompute. Touched nodes' vectors are fetched THROUGH their
    * assigned cells (rings carry acid), so the assignment-table scan
    * is cell-pruned and only the touched frame shuffles. */
  private def foldGraphBatch(s0: SparkSession, d: String, k: Int,
                             et: String, rt: String,
                             at: String, ct: String, np: Int,
                             batch: DataFrame, batchId: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val (storedTxt, storedBatches) = PersistedIndex.stored(s0, knngIndex(d, k))
    val eBuckets =
      IndexManifest.appendBucketsOf(s0, et, storedTxt, s"kNN graph $d")
    val rBuckets =
      IndexManifest.appendBucketsOf(s0, rt, storedTxt, s"kNN graph $d")
    // the fold runs on a CLONED session (the build's rule-36 idiom):
    // its TopKEdges merges aggregate over the touched-src key space,
    // and the session-default 128-key ObjectHashAggregate threshold
    // silently falls back to SORT-BASED partials over the per-cell
    // candidate stream (touched x batch-in-cell rows — FoldProbe r18
    // measured the fallback as the fold's largest stage at 512k:
    // 283 task-s with 1.1 GB of sort spill). The threshold raise
    // covers index rows + batch (capped), scoped so the caller's
    // concurrently planned queries never see it.
    val s = raisedThresholdSession(s0,
      IndexManifest.indexRowsOf(storedTxt, storedBatches))
    val handle = centroidHandle(s, s.table(ct))
    // the batch frame belongs to the CALLER's session — re-anchor its
    // checkpointed partitions in the cloned session (RDDs are
    // context-level, so this is a wrapper, not a copy)
    val b0 = scorable(batch)
      .select(col("vec_id").as("bid"), col("ce").as("be"),
        col("cn").as("bn"))
      .localCheckpoint()
    val b = s.createDataFrame(b0.rdd, b0.schema)
      .select(col("bid"), col("be"), col("bn"),
        graft.functions.GraftFunctions
          .nearestCentroid(col("be"), handle).as("bcid"),
        graft.functions.GraftFunctions
          .nearestCells(col("be"), np, handle).as("bring"))
      .localCheckpoint()
    val w = Window.partitionBy("src").orderBy(desc("score"), asc("dst"))
    // 1. batch adjacency — the fold's hot pass: batch queries against
    // every member of their ring cells (batch x np x occupancy pairs
    // ~ batch x n/8). The kernel form never materializes a pair row
    // (rule 35 — the pair-stream machinery would make one production
    // fold cost several times the kernel BUILD).
    val ringCells = b.select(explode(col("bring")).as("c")).distinct()
      .collect().map(_.getLong(0)) // <= nlist ~ sqrt(n): driver-safe
    val mates = s.table(at).filter(col("cid").isin(ringCells: _*))
      .select(col("cid"), col("vec_id").as("nid"), col("ce").as("ne"),
        col("cn").as("nn"))
    val bq = b.select(col("bid").as("qid"), col("be").as("qe"),
      col("bn").as("qn"), explode_outer(col("bring")).as("qcid"))
    val bRows = b.count() // checkpointed: metadata-cheap
    // reverse-pass broadcast gate: estimate the batch's block payload
    // (ids + norms + the flattened vectors) and only BROADCAST under
    // GraphFoldBroadcastBudget — batch size is caller/stream-
    // controlled, so an unbounded ingest batch must degrade to the
    // shuffle_hash join instead of blowing the driver
    val bElemBytes = b.schema("be").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => 4L
      case _ => 8L
    }
    val bDim = if (bRows == 0) 0L
      else b.select(size(col("be"))).head.getInt(0).toLong
    val bcastBatchBlocks =
      bRows * (bDim * bElemBytes + 24L) <= GraphFoldBroadcastBudget
    val bEdges = cellBlockTopK(bq, mates, k, bRows,
      blockRowCap = blockGuardCap(
        IndexManifest.indexRowsOf(storedTxt, storedBatches),
        math.max(1L, s.table(ct).count())))
    // 2. reverse updates
    val bCells = b.select(col("bcid")).distinct()
      .collect().map(_.getLong(0))
    // one aggregate collapses the touched ring rows to one row per
    // src. A batch covering most cells touches the WHOLE ring table
    // (n x np rows — FoldProbe r18 at 512k: a 4.6 GB (qid, qcid,
    // acid) exchange + 1 GB join spill, the fold's dominant residual
    // stage), and the old exact dropDuplicates shuffled every row.
    // groupBy(qid)'s map-side partials reduce to <= |srcs| rows per
    // partition BEFORE the exchange (~10x less shuffle at the ring's
    // np ~ 100 fan), crash-refold ring dups die in the collect_set
    // semantics, and the two downstream dropDuplicates shuffles
    // (touchedQ, the resolve semijoin's) disappear — touched is
    // per-src by construction. acid is unique per qid (a node has
    // one assigned cell; crash dups repeat the same value) — max()
    // for determinism. Checkpointed: referenced by the vector
    // attach, the reverse scoring pass, and the resolve semijoin.
    val touched = s.table(rt).filter(col("qcid").isin(bCells: _*))
      .join(broadcast(b.select(col("bid"))),
        col("qid") === col("bid"), "left_anti")
      .groupBy(col("qid"))
      .agg(max(col("acid")).as("acid"),
        collect_set(col("qcid")).as("qcids"))
      .localCheckpoint()
    val tCells = touched.select(col("acid")).distinct()
      .collect().map(_.getLong(0))
    val qVecs = s.table(at).filter(col("cid").isin(tCells: _*))
      .join(touched.select("qid", "acid"),
        col("vec_id") === col("qid") && col("cid") === col("acid"))
      .select(col("qid"), col("ce").as("qe"), col("cn").as("qn"))
    // Kernel form: per-src top-k of the batch candidates is EXACT
    // here — the threshold filter below is per src and monotone in
    // score (if any candidate of a src passes, its best passes), so
    // survSrc is unchanged, and a candidate ranked past k among its
    // own src's candidates has k better candidates in the union and
    // can never enter the final top-k window. Blocks come from the
    // BATCH (grouped by its assigned cell); a (qid, nid) pair arises
    // only via nid's one bcid, so candidates are unique either way.
    // the ring-cell fan re-expands only HERE (explode of the per-src
    // qcids set, vectors attached once per src first — qe/qn are
    // cheap attribute companions beside the generator, rule 15's
    // allowed shape)
    val touchedQx = touched.join(qVecs, Seq("qid"))
      .select(col("qid"), col("qe"), col("qn"),
        explode_outer(col("qcids")).as("qcid"))
    val cand = cellBlockTopK(
      touchedQx,
      b.select(col("bcid").as("cid"), col("bid").as("nid"),
        col("be").as("ne"), col("bn").as("nn")),
      // srcRows 0: srcs here are the touched ring rows (unknown
      // without a count job); past the 128-key default the merge
      // falls back to SORTING the already-k-reduced stream
      // (<= touched x k narrow rows) — small, and not a rule-31a
      // pair-stream shape. broadcastBlocks: the members side is
      // the BATCH (< 1 MB of blocks for stream-shaped batches) —
      // size-GATED above, since batch size is caller-controlled
      k, 0L, broadcastBlocks = bcastBatchBlocks)
      .select(col("src").as("qid"), col("dst").as("nid"), col("score"))
    // the pre-batch view RESTRICTED to touched srcs before the
    // generation window: a full resolve is O(index rows) per fold —
    // rule-21 creep, measured 12.5 -> 16.9 s across 8 appends at the
    // 64k rung before this filter. The semi join keeps every row of a
    // kept src (the window stays total per src, so resolution is
    // unchanged on the subset), and the edge-scan side joins
    // exchange-free on its bucket key; thresholds and old adjacencies
    // are only ever read for srcs in `touched` (cand ⊆ touched ⊇
    // survSrc), so nothing is lost.
    val resolved = resolveGraphEdges(
      s.table(et).join(touched.select(col("qid")),
        col("src") === col("qid"), "leftsemi"),
      storedTxt, storedBatches)
    val thr = resolved.groupBy("src")
      .agg(count(lit(1)).as("deg"), min(col("score")).as("kth"))
    val surv = cand.join(thr, cand("qid") === thr("src"), "left")
      .filter(col("deg").isNull || col("deg") < k ||
        col("score") >= col("kth"))
      .select(col("qid"), col("nid"), col("score"))
      .localCheckpoint() // feeds the src list AND the union
    val survSrc = surv.select(col("qid")).dropDuplicates()
    val oldOf = resolved
      .join(survSrc, resolved("src") === survSrc("qid"), "leftsemi")
      .select(col("src"), col("dst"), col("score"))
    val updated = oldOf
      .unionByName(surv.select(col("qid").as("src"),
        col("nid").as("dst"), col("score")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
    PersistedIndex.writeBucketed(s,
      bEdges.unionByName(updated).withColumn("gen", lit(batchId)),
      et, "src", eBuckets, SaveMode.Append)
    PersistedIndex.writeBucketed(s,
      b.select(col("bid").as("qid"), explode_outer(col("bring")).as("qcid"),
        col("bcid").as("acid")), rt, "qcid", rBuckets, SaveMode.Append)
    // the fold wrote through the CLONE — the caller session's cached
    // relations would serve the pre-fold file listing (rule 33: a
    // cloned session's writes cannot invalidate other sessions'
    // relation caches, and the same-session auto-refresh the callers
    // relied on no longer applies). Refresh the caller explicitly.
    s0.catalog.refreshTable(et)
    s0.catalog.refreshTable(rt)
  }

  /** Fold newly ingested vectors into BOTH the IVF index and the
    * persisted graph — the graph-aware ingest entry point (an ingest
    * that appends straight to the IVF index instead leaves the graph
    * lagging; the next ensure folds the lag from the batch store).
    * Idempotent per batchId on both manifests; batch vec_ids must be
    * disjoint from everything indexed (the IVF guard).
    *
    * Fold algebra under the r20 refined contract (the restated
    * laws, SimilaritySpec): the fold keeps EXACT top-k algebra —
    * each touched node ends with the best k of (its stored refined
    * adjacency ∪ its batch ring candidates), each batch node with
    * the exact ring top-k over the merged assignment — so per-node
    * kth score is monotone non-decreasing, and the folded graph
    * per-node DOMINATES the ring-only one-shot rebuild over the
    * merged corpus (refined-stored dominates ring-stored, and top-k
    * of a union preserves dominance). What a fold does NOT do is
    * refine: no node gains 2-hop candidates through the arrivals,
    * so refinement coverage goes stale batch by batch — the
    * manifest's rfThrough counter measures it and
    * [[refineKnnGraphIndex]] (condition-driven via maintain, cadence
    * from the measured decay curve) restores it. */
  def appendToKnnGraphIndex(s: SparkSession, d: String, k: Int,
                            batch: DataFrame, batchId: String): Boolean = {
    PersistedIndex.checkBatchId(batchId)
    val ix = knngIndex(d, k)
    val (et, rt) = ensureKnnGraphIndex(s, d, k) // folds any lag first
    val stored0 = PersistedIndex.stored(s, ix)
    if (stored0._2.exists(_._1 == batchId)) return false
    val (at, ct) = ivfTableNames(d)
    val np = knngNprobe(IndexManifest.indexRowsOf(stored0._1, Nil))
    val ivfFresh = appendToIvfIndex(s, d, batch, batchId)
    // on an IVF replay (its fold committed, the graph's crashed) the
    // batch refolds BIT-EXACTLY from the durable store, not from the
    // caller's frame
    val rows =
      if (ivfFresh) batch
      else s.read.parquet(
        PersistedIndex.batchPath(s, ivfIndex(d), batchId).toString)
    // Precondition enforcement — the r18 block guard's INGEST-side
    // twin (r20, found by the 1M drift-in-stream smoke): a
    // concentrated batch can push one of its own cells past the
    // kernel's block cap in the very fold that delivers it, BEFORE
    // any maintenance cadence can see the symptom — the guard would
    // then raise inside the fold and kill the ingest, a legible
    // refusal but not a repair. Check the batch's OWN cells first
    // (batch x nlist nearest-centroid work + one bucket-pruned
    // occupancy count — per-append cost tracks the batch, rule 21);
    // past the cap, run the repair the guard names: refresh the
    // quantizer, and the ensure REBUILDS the graph over the merged
    // corpus — which already holds this batch, so the fold is
    // subsumed and the inherited manifest stays in lockstep.
    val handle0 = centroidHandle(s, s.table(ct))
    val bCells0 = scorable(rows).select(graft.functions.GraftFunctions
        .nearestCentroid(col("ce"), handle0).as("cid"))
      .distinct().collect().map(_.getLong(0))
    // SAME rows basis as the fold's own guard (the graph manifest's
    // pre-append count — the fold appends the batch to the manifest
    // only after it completes), or the two caps diverge and the
    // pre-check can pass a fold the guard then kills
    val idxRows0 = IndexManifest.indexRowsOf(stored0._1, stored0._2)
    val nlist0 = math.max(1L, s.table(ct).count())
    val hottest =
      if (bCells0.isEmpty) 0L
      else s.table(at).filter(col("cid").isin(bCells0: _*))
        .groupBy(col("cid")).agg(count(lit(1)).as("c"))
        .agg(coalesce(max(col("c")), lit(0L))).head.getLong(0)
    if (hottest > blockGuardCap(idxRows0, nlist0) &&
        refreshIvfCentroids(s, d)) {
      ensureKnnGraphIndex(s, d, k) // stale cfp: rebuild incl. batch
      return true
    }
    PersistedIndex.foldBatch(s, ix, batchId) {
      foldGraphBatch(s, d, k, et, rt, at, ct, np, rows, batchId)
      rows.select("vec_id").distinct().count()
    }
    // lockstep provably holds — skip the next ensure's corpus-scan
    // freshness check (appendToIvfIndex cleared the memo)
    PersistedIndex.markFresh(s, ix)
    true
  }

  /** Fold the edge table's generations down to one resolved row set
    * (and the rings' crash-residue duplicates away), re-bucketing both
    * tables to the GROWN node count — the compactIvfIndex analog.
    * Probes exactly unchanged (the resolved view is what readers
    * already compute); returns false when already compact. */
  def compactKnnGraphIndex(s: SparkSession, d: String, k: Int,
                           rebucketTo: Option[Int] = None): Boolean = {
    val (et, rt) = ensureKnnGraphIndex(s, d, k)
    def files(t: String) = PersistedIndex.files(s, t)
    PersistedIndex.compact(s, knngIndex(d, k), rebucketTo) {
      case (_, (txt, batches)) => Seq(
        PersistedIndex.Staged(et, resolveGraphEdges(files(et), txt, batches)
          .withColumn("gen", lit(null).cast("string")), Some("src")),
        PersistedIndex.Staged(rt, files(rt).dropDuplicates("qid", "qcid"),
          Some("qcid")))
    }
  }

  /** Re-refine the persisted graph in place — the r20 contract's
    * maintenance half. Folds keep EXACT top-k algebra over
    * (stored ∪ batch ring candidates) but skip the NN-descent pass:
    * a folded batch's own nodes carry ring-quality adjacency and no
    * existing node gains 2-hop candidates through the arrivals, so
    * refinement quality goes stale batch by batch (measured decay:
    * see SURVEY §24). This pass runs
    * [[knngRefineRounds]] rounds over the RESOLVED edge set with
    * vectors from the assignment table (folded nodes participate
    * fully), written back gen-null through the compact staging-rename
    * idiom — so one rewrite is simultaneously a compaction and a
    * refinement refresh, and a crash between drop and rename reads
    * as a missing table (rebuild), never a half-refined artifact.
    * Per-node kth score is monotone non-decreasing (the refine
    * candidate set contains the current edges — law-tested).
    * Returns false when every applied batch is already refined. */
  def refineKnnGraphIndex(s: SparkSession, d: String, k: Int): Boolean = {
    val (et, _) = ensureKnnGraphIndex(s, d, k)
    val ix = knngIndex(d, k)
    val (txt, batches) = PersistedIndex.stored(s, ix)
    val applied = batches.size
    if (IndexManifest.refinedThroughOf(txt) >= applied) return false
    val (at, _) = ivfTableNames(d)
    val refined = refineEdgeRounds(
      resolveGraphEdges(PersistedIndex.files(s, et), txt, batches)
        .select(col("src").as("qid"), col("dst").as("nid"))
        .localCheckpoint(),
      s.table(at).select(col("vec_id"), col("ce"), col("cn")),
      k, math.max(1, knngRefineRounds))
    // the rewrite resolves every generation down to gen-null rows, so
    // it records compaction + refinement coverage together. The rings
    // table keeps its layout — compaction proper handles it when the
    // layout condition fires.
    PersistedIndex.rewrite(s, ix,
      Tables.indexBuckets(IndexManifest.indexRowsOf(txt, batches)),
      Seq(PersistedIndex.Staged(et,
        refined.select(col("qid").as("src"), col("nid").as("dst"),
            col("score"), col("rn"))
          .withColumn("gen", lit(null).cast("string")), Some("src"))),
      IndexManifest.withRefinedThrough(_, applied))
    true
  }

  /** Condition-driven maintenance for the persisted graph: quantizer
    * staleness (a refresh changed the centroid fingerprint) rebuilds
    * inside ensure itself; >= refineAfter applied-but-unrefined
    * batches re-refines (which also compacts — the r20 contract's
    * staleness symptom, cadence fitted from the measured fold decay
    * curve); else layout (>= compactAfter uncompacted appends or an
    * outgrown bucket spec) compacts; otherwise nothing. The graph has
    * no occupancy symptom of its own — cell health is the IVF
    * index's to measure. */
  def maintainKnnGraphIndex(s: SparkSession, d: String, k: Int,
      compactAfter: Int = Maintenance.DefaultCompactAfter,
      refineAfter: Int = Maintenance.DefaultRefineAfter,
      dryRun: Boolean = false): MaintenanceReport = {
    ensureKnnGraphIndex(s, d, k)
    val ix = knngIndex(d, k)
    val l = PersistedIndex.layout(s, ix)
    val unrefined = l.applied -
      IndexManifest.refinedThroughOf(PersistedIndex.stored(s, ix)._1)
    if (unrefined >= refineAfter)
      l.report("knng", "refine", ran = !dryRun && refineKnnGraphIndex(s, d, k))
    else if (l.wantsCompact(compactAfter))
      l.report("knng", "compact", ran = !dryRun && compactKnnGraphIndex(s, d, k))
    else l.report("knng", "none", ran = false)
  }

  /** The shared cluster-derivation oracle prefix (through
    * `lab(vec_id, cluster_rep)`): [[knnGraphCtes]] + mutual-edge
    * filter + WITH RECURSIVE reachability + min-label components —
    * reused by q_graph_cluster and q_cluster_sample so the two
    * oracles can never drift apart. */
  private def clusterCtes: String =
    "WITH RECURSIVE " +
      refinedGraphCtes(knngRefineRounds).stripPrefix("WITH ") + ", " +
      "me AS (SELECT e1.src AS da, e1.dst AS db FROM e e1 " +
      "JOIN e e2 ON e1.src = e2.dst AND e1.dst = e2.src " +
      "WHERE e1.src < e1.dst), " +
      "ed AS (SELECT da AS s2, db AS d2 FROM me " +
      "UNION ALL SELECT db, da FROM me), " +
      "reach AS (SELECT s2 AS node, s2 AS lbl FROM ed " +
      "UNION SELECT ee.d2 AS node, r.lbl FROM reach r " +
      "JOIN ed ee ON ee.s2 = r.node), " +
      "comp AS (SELECT node, min(lbl) AS rep FROM reach " +
      "GROUP BY node), " +
      "lab AS (SELECT em.vec_id, COALESCE(cm.rep, em.vec_id) " +
      "AS cluster_rep FROM embeddings em " +
      "LEFT JOIN comp cm ON cm.node = em.vec_id)"

  /** [[pageRank]] over the [[knnGraph]] edge list — semantic-graph
    * centrality for curation: boilerplate/hub content ranks high,
    * diverse periphery low. The edge list is localCheckpoint'd once
    * (referenced by the degree aggregate and every iteration). */
  def graphRank(s: SparkSession, d: String, k: Int, iters: Int): DataFrame = {
    ensureKnnGraphIndex(s, d, k)
    val edges = readKnnGraphEdges(s, d, k)
      .select(col("src"), col("dst"))
      .localCheckpoint()
    val nodes = graphNodes(s, d).select(col("vec_id").as("id"))
    // rank presents UNROUNDED: r = ru/1e8 is the exact fixed-point
    // value (identical doubles in both engines); re-rounding a
    // quantized value to a coarser scale in double would put ~1% of
    // rows on the half-way tie, broken engine-specifically — the
    // q_importance_weights half-way-tie rule
    pageRank(nodes, edges, iters)
      .select(col("id").as("vec_id"), col("out_deg"), col("r").as("pagerank"))
  }

  /** Shared oracle CTE chain for the multi-probe kNN graph (k = 3):
    * the q_dedup_semantic cell derivation generalized to a full cell
    * RANKING (`ar`, crn per (vector, centroid)), the argmax assignment
    * `a` (crn = 1), the probe ring `q` (crn <= nprobe, the IVF family
    * rule re-derived relationally from n), and the edge CTE
    * `e(src, dst, score, rn)` — reused verbatim by q_knn_graph and
    * q_graph_rank so the two oracles can never drift apart. Returns
    * the WITH prefix WITHOUT a trailing comma. `ar`/`a`/`e` are
    * MATERIALIZED: DuckDB inlines multi-referenced CTEs, and
    * q_graph_rank references `e` (and through it the ranking
    * self-join over vector arrays) in every unrolled iteration —
    * inlined, the 32x gate filled the disk (only ~8 GB scratch
    * exists) with repeated array-wide spills; materialized, `e` is a
    * 4-column table. */
  private def knnGraphCtes: String = ringGraphCtes("e")

  /** [[knnGraphCtes]] with the final ring-edge CTE named `ename` —
    * the refine unroll chains rounds off it. */
  private def ringGraphCtes(ename: String): String =
    "WITH n AS (SELECT count(*) AS cnt FROM embeddings), " +
      // np mirrors knngNprobe EXACTLY, including the knngNprobeCap
      // quadratic-work cap (inert at every oracled n — nlist/8 binds
      // below ~620k vectors — but the two engines must share ONE rule)
      "m AS (SELECT md, least(greatest(4, CAST(ceil(cnt / (8.0 * md)) " +
      s"AS BIGINT)), $npCapSql) AS np " +
      "FROM (SELECT cnt, greatest(53, " +
      "cnt // CAST(ceil(sqrt(cnt)) AS BIGINT)) AS md FROM n)), " +
      "c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ke, " +
      "sqrt(list_aggregate(list_transform(CAST(embedding AS " +
      "DOUBLE[]), x -> x*x), 'sum')) AS kn " +
      "FROM embeddings, m WHERE " + CentroidPickSql + "), " +
      // ar materializes NARROW (vec_id, cid, crn): with the vector
      // arrays it would be n x nlist x ~520 B — 8.4 GB at the 64k
      // rung, over this host's scratch; the arrays re-join from `v`
      "ar AS MATERIALIZED (" +
      "SELECT e.vec_id, c.cid, " +
      "row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
      "list_dot_product(CAST(e.embedding AS DOUBLE[]), c.ke) / c.kn " +
      "DESC, c.cid) AS crn FROM embeddings e, c), " +
      "v AS MATERIALIZED (SELECT vec_id, " +
      "CAST(embedding AS DOUBLE[]) AS ve, " +
      "sqrt(list_aggregate(list_transform(CAST(embedding AS " +
      "DOUBLE[]), x -> x*x), 'sum')) AS nrm FROM embeddings), " +
      "a AS MATERIALIZED (SELECT ar.vec_id, ar.cid, v.ve, v.nrm " +
      "FROM ar JOIN v USING (vec_id) WHERE crn = 1), " +
      "q AS (SELECT ar.vec_id, ar.cid, v.ve, v.nrm " +
      "FROM ar JOIN v USING (vec_id), m WHERE crn <= np), " +
      s"$ename AS MATERIALIZED (SELECT qid AS src, nid AS dst, score, rn FROM (" +
      "SELECT x.vec_id AS qid, y.vec_id AS nid, " +
      "round(list_dot_product(x.ve, y.ve) / (x.nrm * y.nrm), 6) " +
      "AS score, " +
      "CAST(row_number() OVER (PARTITION BY x.vec_id ORDER BY " +
      "round(list_dot_product(x.ve, y.ve) / (x.nrm * y.nrm), 6) DESC, " +
      "y.vec_id) AS BIGINT) AS rn " +
      "FROM q x JOIN a y ON x.cid = y.cid AND x.vec_id <> y.vec_id) " +
      "WHERE rn <= 3)"

  /** One unrolled NN-descent round as an oracle CTE pair
    * (`c<name>` candidates off `prev`, `<name>` the re-ranked top-3)
    * — [[refineEdgeRounds]]'s relational twin, the exact SQL the r19
    * q_graph_refine oracle used, parameterized for chaining.
    * MATERIALIZED: every round references its predecessor three
    * times (the 2-hop self-join + two unions) and downstream CTEs
    * (rank/cluster) re-reference the final round — inlined, DuckDB
    * re-evaluates the vector-array scoring join per reference
    * (rule 27). */
  private def refineRoundCte(prev: String, name: String): String =
    s"c$name AS (SELECT DISTINCT qid, nid FROM (" +
      s"SELECT x.src AS qid, y.dst AS nid FROM $prev x JOIN $prev y " +
      "ON x.dst = y.src " +
      s"UNION ALL SELECT dst, src FROM $prev " +
      s"UNION ALL SELECT src, dst FROM $prev) WHERE qid <> nid), " +
      s"$name AS MATERIALIZED (SELECT qid AS src, nid AS dst, score, rn " +
      "FROM (SELECT qid, nid, score, " +
      "CAST(row_number() OVER (PARTITION BY qid " +
      "ORDER BY score DESC, nid) AS BIGINT) AS rn FROM (" +
      "SELECT qid, nid, " +
      "round(list_dot_product(x.ve, y.ve) / (x.nrm * y.nrm), 6) " +
      s"AS score FROM c$name JOIN v x ON x.vec_id = qid " +
      "JOIN v y ON y.vec_id = nid)) WHERE rn <= 3)"

  /** The PERSISTED graph's oracle CTE prefix: the ring chain +
    * `rounds` refine rounds unrolled, the final edge set named `e` so
    * every downstream consumer CTE (rank iterations, mutual-edge
    * clustering) is byte-identical whatever the round count.
    * [[knngRefineRounds]] rounds = the artifact [[graphEdges]]
    * serves; +1 = q_graph_refine's one further query-time round. */
  private def refinedGraphCtes(rounds: Int): String = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    if (rounds == 0) knnGraphCtes
    else {
      val sb = new StringBuilder(ringGraphCtes("e0"))
      var prev = "e0"
      (1 to rounds).foreach { i =>
        val name = if (i == rounds) "e" else s"e$i"
        sb.append(", ").append(refineRoundCte(prev, name))
        prev = name
      }
      sb.toString
    }
  }

  /** One unrolled PageRank iteration as an oracle CTE (rank CTE `rv`
    * from `rp`): the exact fixed-point integer twin of [[pageRank]]'s
    * loop body — BIGINT floor-divided contributions, exact sums,
    * integer damping (`//` is DuckDB's integral divide = Spark's
    * `div` on non-negatives). */
  private def rankIterCte(rv: String, rp: String): String =
    s"$rv AS (SELECT nn.id, CAST(15000000 + " +
      "(85 * COALESCE(s.cs, 0)) // 100 AS BIGINT) AS ru " +
      s"FROM $rp nn LEFT JOIN (SELECT e.dst, " +
      "CAST(SUM(p.ru // g.outdeg) AS BIGINT) AS cs " +
      s"FROM e JOIN deg g ON g.src = e.src JOIN $rp p ON p.id = e.src " +
      "GROUP BY e.dst) s ON s.dst = nn.id)"

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q_knn_cosine",
      "Brute-force cosine top-5 for 10 probe vectors: broadcast probes, " +
        "single corpus scan, per-probe window top-k. The ANN baseline.",
      (s, d) => bruteForceKnn(probes(s, d), Tables.embeddings(s, d), 5)
        .orderBy("qid", "rn"),
      Some("WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) " +
        "AS qe FROM embeddings WHERE vec_id < 10), " +
        "s AS (SELECT qid, vec_id AS nid, " +
        "round(list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])), 6) " +
        "AS score FROM q, embeddings WHERE vec_id <> qid) " +
        "SELECT qid, nid, score, rn FROM (SELECT qid, nid, score, " +
        "row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rn " +
        "FROM s) WHERE rn <= 5 ORDER BY qid, rn")),

    GraftQuery(
      "q_dedup_embedding",
      "Embedding-cosine near-dup: deterministic 2% probe sample " +
        "(vec_id % 50 = 0) against the corpus, pairs with cosine >= 0.35. " +
        "At scale the sample bound keeps this a single broadcast scan.",
      (s, d) => {
        val sample = querySide(Tables.embeddings(s, d)
          .filter(col("vec_id") % 50 === 0))
        // gate on the UNROUNDED cosine (the oracle filters unrounded
        // too); round only in the projection — else a true score in
        // [0.3499995, 0.35) flips the compare
        scorable(Tables.embeddings(s, d)).crossJoin(broadcast(sample))
          .filter(col("qid") < col("vec_id") && rawCos >= 0.35)
          .select(col("qid").as("da"), col("vec_id").as("db"),
            pairScore.as("cos"))
          .orderBy("da", "db")
      },
      Some("WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) " +
        "AS qe FROM embeddings WHERE vec_id % 50 = 0) " +
        "SELECT qid AS da, vec_id AS db, " +
        "round(list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])), 6) " +
        "AS cos FROM q, embeddings WHERE qid < vec_id " +
        "AND list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) " +
        ">= 0.35 ORDER BY da, db")),

    GraftQuery(
      "q_dedup_semantic",
      "SemDeDup semantic dedup: nearest-cell assignment (fused " +
        "NearestCentroid argmax, map-only), within-cell pairs with " +
        "unrounded cosine >= 0.35 mark their larger vec_id dropped, " +
        "kept rows anti-join the drop list. One co-partitioned " +
        "self-join shuffle on the cell id bounds candidates at " +
        "sum-of-cell-sizes^2 — never all-pairs. DuckDB-oracled end to " +
        "end: the oracle re-derives the same argmax cells " +
        "(q_cluster_assign's differential cover) and the same " +
        "unrounded cosine drop rule.",
      (s, d) => semanticDedup(s, d, 0.35),
      Some("WITH n AS (SELECT count(*) AS cnt FROM embeddings), " +
        "m AS (SELECT greatest(53, cnt // CAST(ceil(sqrt(cnt)) AS " +
        "BIGINT)) AS md FROM n), " +
        "c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ke, " +
        "sqrt(list_aggregate(list_transform(CAST(embedding AS " +
        "DOUBLE[]), x -> x*x), 'sum')) AS kn " +
        "FROM embeddings, m WHERE " + CentroidPickSql + "), " +
        "a AS (SELECT vec_id, cid, ve FROM (" +
        "SELECT e.vec_id, c.cid, CAST(e.embedding AS DOUBLE[]) AS ve, " +
        "row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), c.ke) / c.kn " +
        "DESC, c.cid) AS rn FROM embeddings e, c) WHERE rn = 1) " +
        "SELECT x.vec_id, x.cid FROM a x WHERE NOT EXISTS (" +
        "SELECT 1 FROM a p WHERE p.cid = x.cid AND p.vec_id < x.vec_id " +
        "AND list_cosine_similarity(p.ve, x.ve) >= 0.35) " +
        "ORDER BY vec_id")),

    GraftQuery(
      "q_dedup_semantic_delta",
      "Incremental SemDeDup over the persisted IVF index: the newly " +
        "ingested slice (vec_id % 5 = 4) probes its own assigned cell " +
        "for an earlier-id mate with cosine >= 0.35 — one verdict row " +
        "per duplicate with its best mate. Both join sides scan the " +
        "cid-bucketed assignment table, so the cell-mate join is " +
        "exchange-free; per-batch cost is O(batch x occupancy), the " +
        "amortization q_dedup_semantic's full pass is the foil for. " +
        "DuckDB-oracled end to end (deterministic index build " +
        "re-derived relationally, the q_ann_ivf_probe posture).",
      (s, d) => semanticDeltaDedup(s, d, 0.35),
      Some("WITH n AS (SELECT count(*) AS cnt FROM embeddings), " +
        "m AS (SELECT greatest(53, cnt // CAST(ceil(sqrt(cnt)) AS " +
        "BIGINT)) AS md FROM n), " +
        "c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ke, " +
        "sqrt(list_aggregate(list_transform(CAST(embedding AS " +
        "DOUBLE[]), x -> x*x), 'sum')) AS kn " +
        "FROM embeddings, m WHERE " + CentroidPickSql + "), " +
        "a AS (SELECT vec_id, cid, ve, " +
        "sqrt(list_aggregate(list_transform(ve, x -> x*x), 'sum')) " +
        "AS nrm FROM (" +
        "SELECT e.vec_id, c.cid, CAST(e.embedding AS DOUBLE[]) AS ve, " +
        "row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), c.ke) / c.kn " +
        "DESC, c.cid) AS rn FROM embeddings e, c) WHERE rn = 1), " +
        "p AS (SELECT q.vec_id AS qvid, b.vec_id AS nid, " +
        "list_dot_product(q.ve, b.ve) / (q.nrm * b.nrm) AS raw " +
        "FROM a q JOIN a b ON q.cid = b.cid AND b.vec_id < q.vec_id " +
        "WHERE q.vec_id % 5 = 4) " +
        "SELECT qvid AS vec_id, nid AS dup_of, round(raw, 6) AS cos " +
        "FROM (SELECT qvid, nid, raw, row_number() OVER (" +
        "PARTITION BY qvid ORDER BY raw DESC, nid) AS rn " +
        "FROM p WHERE raw >= 0.35) WHERE rn = 1 ORDER BY vec_id")),

    GraftQuery(
      "q_knn_graph",
      "Multi-probe kNN graph build (k=3): every vector's top-3 " +
        "cosine neighbors among its nprobe nearest cells' mates " +
        "(nprobe = max(4, nlist/8), the IVF probe rule applied " +
        "corpus-wide — a graph build IS n probes) — the artifact " +
        "graph-based curation consumes (SemDeDup cluster pruning, " +
        "diversity selection, q_graph_rank's centrality). The probe " +
        "ring is ONE native NearestCells eval per row (the window " +
        "form would materialize n x nlist, the rule-13 foil); " +
        "candidates bounded at nprobe x n x occupancy, never n²; " +
        "vectors dropped before the top-k window shuffle. " +
        "Deterministic cells, so the oracle re-derives the SAME " +
        "graph relationally; global edge recall vs the brute graph " +
        "is measured by GraphRecall + SimilaritySpec.",
      (s, d) => knnGraph(s, d, 3).orderBy("qid", "rn"),
      Some(knnGraphCtes +
        " SELECT src AS qid, dst AS nid, score, rn FROM e " +
        "ORDER BY qid, rn")),

    GraftQuery(
      "q_knn_graph_delta",
      "Probe of the PERSISTED kNN graph (ensureKnnGraphIndex: edges " +
        "bucketed by src, built once over the stored IVF assignments " +
        "as ring + knngRefineRounds NN-descent rounds — the r20 " +
        "refined contract — and maintained incrementally by " +
        "appendToKnnGraphIndex): the newly-ingested slice's " +
        "adjacency read straight from the artifact — O(slice) rows " +
        "off a bucketed scan, never a rebuild. The oracle recomputes " +
        "the FULL refined graph relationally (ring CTE + the same " +
        "rounds unrolled) and filters to the slice, so this " +
        "differentially proves the persisted edges equal the " +
        "from-scratch derivation (q_knn_graph stays the ring foil; " +
        "the append/dominance laws live in SimilaritySpec).",
      (s, d) => graphEdges(s, d, 3)
        .filter(Dedup.isDeltaBatch(col("qid")))
        .orderBy("qid", "rn"),
      Some(refinedGraphCtes(knngRefineRounds) +
        " SELECT src AS qid, dst AS nid, score, rn FROM e " +
        "WHERE src % 5 = 4 ORDER BY qid, rn")),

    GraftQuery(
      "q_graph_refine",
      "One FURTHER NN-descent round over the persisted kNN graph " +
        "(which the r20 contract already builds refined): every " +
        "node rescored against its neighbors' neighbors and reverse " +
        "edges (exact cosine), keeping the dominating top-3 — " +
        "recall rises monotonically per round (candidates contain " +
        "the current edges and both selections share one total " +
        "order; SimilaritySpec pins dominance). Candidates are " +
        "n·(k²+2k) NARROW rows — linear in n — deduped before " +
        "vector payloads attach (rule 17), vectors from the IVF " +
        "assignment table so folded nodes participate. The oracle " +
        "unrolls knngRefineRounds+1 rounds over the ring CTE.",
      (s, d) => graphRefine(s, d, 3, rounds = 1).orderBy("qid", "rn"),
      Some(refinedGraphCtes(knngRefineRounds + 1) +
        " SELECT src AS qid, dst AS nid, score, rn FROM e " +
        "ORDER BY qid, rn")),

    GraftQuery(
      "q_graph_rank",
      "PageRank over the semantic kNN graph (3 iterations, damping " +
        "0.85): graph centrality for curation — boilerplate/hub " +
        "content ranks high, diverse periphery low. Each iteration " +
        "is one 8-byte-key join plus one map-side-combining " +
        "groupBy(dst) with (long, long) shuffle rows; the whole " +
        "iteration is fixed-point integer arithmetic in 1e-8 rank " +
        "units (floor-divided contributions, exact BIGINT sums, " +
        "integer damping) so both engines iterate bit-identical " +
        "values — no rounding boundary exists anywhere; rank frames " +
        "localCheckpoint per iteration so plan depth stays O(1) in " +
        "iters.",
      (s, d) => graphRank(s, d, 3, 3).orderBy("vec_id"),
      Some(refinedGraphCtes(knngRefineRounds) + ", " +
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src), " +
        "r0 AS (SELECT vec_id AS id, CAST(100000000 AS BIGINT) AS ru " +
        "FROM embeddings), " +
        rankIterCte("r1", "r0") + ", " +
        rankIterCte("r2", "r1") + ", " +
        rankIterCte("r3", "r2") + " " +
        "SELECT r3.id AS vec_id, " +
        "CAST(COALESCE(g.outdeg, 0) AS BIGINT) AS out_deg, " +
        "CAST(r3.ru AS DOUBLE) / 100000000 AS pagerank " +
        "FROM r3 LEFT JOIN deg g ON g.src = r3.id ORDER BY vec_id")),

    GraftQuery(
      "q_graph_cluster",
      "Semantic clustering: connected components over the MUTUAL kNN " +
        "graph (an edge survives only when each endpoint ranks the " +
        "other in its own top-3 — hub vectors cannot chain unrelated " +
        "neighborhoods through asymmetric edges). Every vector with " +
        "its cluster rep (min id) and size, singletons their own rep. " +
        "One 8-byte-key self-join for the mutual filter, then the " +
        "size-gated CC hybrid (driver union-find under 1M edges, " +
        "pointer jumping above); mutual edges <= n*k. Oracle: the " +
        "same graph re-derived relationally + WITH RECURSIVE " +
        "reachability (the q_dedup_groups posture).",
      (s, d) => graphClusters(s, d, 3).orderBy("vec_id"),
      Some(clusterCtes +
        " SELECT vec_id, cluster_rep, " +
        "count(*) OVER (PARTITION BY cluster_rep) AS cluster_size " +
        "FROM lab ORDER BY vec_id")),

    GraftQuery(
      "q_cluster_sample",
      "Diversity sampling: keep at most 2 vectors per semantic " +
        "cluster (the SemDeDup keep rule generalized from 1), chosen " +
        "in seeded-md5 order within each cluster — unbiased, " +
        "reproducible, stable under corpus growth for untouched " +
        "clusters. Emits every vector with its pick rank and keep " +
        "verdict (the q_token_budget verdict convention); the only " +
        "window partitions by cluster, so per-partition state is " +
        "bounded by cluster size.",
      (s, d) => clusterSample(s, d, 3, 2).orderBy("vec_id"),
      Some(clusterCtes + ", " +
        "sz AS (SELECT cluster_rep, CAST(count(*) AS BIGINT) AS " +
        "cluster_size FROM lab GROUP BY cluster_rep), " +
        "p AS (SELECT l.vec_id, l.cluster_rep, s.cluster_size, " +
        "CAST(row_number() OVER (PARTITION BY l.cluster_rep " +
        "ORDER BY md5(CAST(l.vec_id AS VARCHAR) || '#cs42'), " +
        "l.vec_id) AS BIGINT) AS pick " +
        "FROM lab l JOIN sz s USING (cluster_rep)) " +
        "SELECT vec_id, cluster_rep, cluster_size, pick, " +
        "pick <= 2 AS keep FROM p ORDER BY vec_id")),

    GraftQuery(
      "q_ann_lsh",
      "LSH ANN: 8 hyperplane tables x lshBits(n) sign bits bucket the " +
        "corpus (bits scale with n so bucket occupancy stays ~32); " +
        "candidates = union of each probe's QUERY-DIRECTED multi-probe " +
        "bucket sequence (lowest-margin perturbations of the weight<=3 " +
        "ball, ProbeBudget x the undirected mask count) " +
        "across tables, then exact top-5 by cosine. Oracle-exempt; " +
        "SimilaritySpec measures recall vs q_knn_cosine at unit " +
        "scale, RecallGate + recall_ladder.sh at 16k..1M vectors.",
      (s, d) => lshTopK(s, d),
      None),

    GraftQuery(
      "q_ann_pq",
      "Product-quantized ANN with exact re-rank: deterministic driver-" +
        "trained codebooks (m subspaces x <=256 codes, 128 KB), one " +
        "corpus scan encodes each vector to an 8-byte code (native " +
        "PqEncode — 32x smaller than the float vector, the 100 TB " +
        "payload lever), ADC scoring via broadcast probe LUTs (native " +
        "PqAdcScore, m adds/pair), salted two-stage top-R, exact " +
        "cosine re-rank of the R=k*refine survivors (reported scores " +
        "are exact). Oracle-exempt like the ANN family; SimilaritySpec " +
        "pins encode/determinism laws + recall floor vs q_knn_cosine.",
      (s, d) => pqTopK(s, d),
      None),

    GraftQuery(
      "q_ann_ivf",
      "IVF ANN: deterministic ~sqrt(n) centroid sample, nearest-" +
        "centroid cell assignment (one map-only scan; the whole argmax " +
        "loop is a single native expression per row — NearestCentroid), " +
        "probes search nprobe≈nlist/8 cells (floor 4). Oracle-exempt; " +
        "recall in SimilaritySpec.",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // Centroid count scales as ~sqrt(n), NOT a fixed fraction: a
        // fixed modulus makes |centroids| ∝ n, so the assignment
        // crossJoin costs n x |centroids| = O(n²) — the 32x ScaleSmoke
        // measured q_ann_ivf at 7.7x for 32x data under mod 53. With
        // nlist ≈ sqrt(n) assignment is O(n^1.5) (the standard IVF
        // sizing); nprobe tracks nlist/8 ([[ivfNprobe]]). Floors pin
        // today's behavior at the test scale factors (n<=2809 -> mod
        // 53, nprobe 4, unchanged).
        val n = math.max(1L, emb.count())
        val mod = centroidMod(n)
        // the centroid frame is ~sqrt(n) rows read out of a full
        // corpus scan (modulo filters cannot range-prune); it feeds
        // the probe crossJoin AND the driver collect below, so
        // materialize it once (same rationale as q_ann_lsh's probe
        // checkpoint)
        val centroids = emb.filter(centroidPick(mod))
          .select(col("vec_id").as("cid"), col("embedding").as("ke"),
            norm(col("embedding")).as("kn"))
          .localCheckpoint()
        // cell assignment: ONE native expression per row doing the
        // whole argmax loop over the centroid matrix (the LshBucketIds
        // pattern — see NearestCentroid's scaladoc). The relational
        // form (crossJoin + max_by, partial-combining map-side) still
        // materialized n x nlist wide rows through the join: with
        // nlist ~ sqrt(n) that intermediate is O(n^1.5) ROWS, and the
        // 128x ScaleSmoke measured it at 15.65x for 128x data. The
        // FLOP count is unchanged (flat IVF assignment is n x nlist
        // dots by definition — FAISS does the same as a matmul); what
        // the fused loop removes is the per-pair row machinery. The
        // sqrt-sized centroid collect is driver-safe by the CC gate
        // argument: 1e5 x 64 doubles = 51 MB at n = 1e10.
        val handle = centroidHandle(s,
          centroids.select(col("cid"), col("ke"), col("kn")))
        val assigned = scorable(emb)
          .withColumn("cid",
            graft.functions.GraftFunctions.nearestCentroid(col("ce"), handle))
        // the same cell probe and exact re-rank as q_ann_ivf_probe, so
        // the two queries' results are identical and that query's
        // DuckDB oracle covers this one's probe policy too
        val cells = probeCells(probes(s, d), centroids, ivfNprobe(n))
        val scored = assigned.join(broadcast(cells), Seq("cid"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("nid"), rawCos.as("raw"))
        exactTopK(scored, 5).orderBy("qid", "rn")
      },
      None),

    GraftQuery(
      "q_ann_ivf_probe",
      "Probe-only IVF ANN over the PERSISTED index (ensureIvfIndex): " +
        "assignments live in a catalog table bucketed by cell id, so " +
        "probing filters to its nprobe cells and prunes buckets at " +
        "the scan — probe cost tracks nprobe x occupancy, not n, and " +
        "the O(n^1.5) assignment amortizes across every probe query. " +
        "Unlike q_ann_ivf this IS DuckDB-oracled: index build " +
        "(modulo centroids + argmax assignment) and probe (cell rank " +
        "+ exact rescoring) are all deterministic, so the oracle " +
        "recomputes the whole pipeline relationally — differential " +
        "cover for NearestCentroid, the bucketed artifact, and the " +
        "probe policy in one query.",
      (s, d) => ivfProbe(s, d,
        Tables.embeddings(s, d).filter(col("vec_id") < 10), 5)
        .orderBy("qid", "rn"),
      Some("WITH n AS (SELECT count(*) AS cnt FROM embeddings), " +
        "m AS (SELECT greatest(53, cnt // CAST(ceil(sqrt(cnt)) AS " +
        "BIGINT)) AS md, " +
        "greatest(4, CAST(ceil(cnt / (8.0 * greatest(53, cnt // " +
        "CAST(ceil(sqrt(cnt)) AS BIGINT)))) AS BIGINT)) AS np FROM n), " +
        "c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ke, " +
        "sqrt(list_aggregate(list_transform(CAST(embedding AS " +
        "DOUBLE[]), x -> x*x), 'sum')) AS kn " +
        "FROM embeddings, m WHERE " + CentroidPickSql + "), " +
        "a AS (SELECT vec_id, cid FROM (" +
        "SELECT e.vec_id, c.cid, row_number() OVER (" +
        "PARTITION BY e.vec_id ORDER BY " +
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), c.ke) / c.kn " +
        "DESC, c.cid) AS rn FROM embeddings e, c) WHERE rn = 1), " +
        "q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe, " +
        "sqrt(list_aggregate(list_transform(CAST(embedding AS " +
        "DOUBLE[]), x -> x*x), 'sum')) AS qn " +
        "FROM embeddings WHERE vec_id < 10), " +
        "pc AS (SELECT qid, cid, qe, qn FROM (" +
        "SELECT q.qid, c.cid, q.qe, q.qn, m.np, row_number() OVER (" +
        "PARTITION BY q.qid ORDER BY " +
        "list_dot_product(q.qe, c.ke) / (q.qn * c.kn) DESC, c.cid) " +
        "AS crn FROM q, c, m) WHERE crn <= np), " +
        "s AS (SELECT pc.qid, e.vec_id AS nid, " +
        "list_dot_product(pc.qe, CAST(e.embedding AS DOUBLE[])) / " +
        "(pc.qn * sqrt(list_aggregate(list_transform(CAST(e.embedding " +
        "AS DOUBLE[]), x -> x*x), 'sum'))) AS raw " +
        "FROM pc JOIN a ON a.cid = pc.cid " +
        "JOIN embeddings e ON e.vec_id = a.vec_id " +
        "WHERE e.vec_id <> pc.qid) " +
        "SELECT qid, nid, round(raw, 6) AS score, " +
        "CAST(row_number() OVER (PARTITION BY qid ORDER BY raw DESC, " +
        "nid) AS BIGINT) AS rn FROM s " +
        "QUALIFY rn <= 5 ORDER BY qid, rn")),

    GraftQuery(
      "q_ann_ivfpq",
      "IVFPQ probe over the persisted index: cell-pruned scan reads " +
        "(code, cn) — the 256 B vector column pruned away for an " +
        "8-byte code — scores candidates by m LUT adds (native " +
        "PqAdcScore), shortlists a constant fraction of the scanned " +
        "cells, and exact-re-ranks only the survivors (reported " +
        "scores exact). The composition of q_ann_ivf_probe's cell " +
        "pruning with q_ann_pq's compression — the vector scale path. " +
        "Oracle-exempt (codebook-specific shortlist); recall gated " +
        "vs brute force in SimilaritySpec and at the RecallGate rungs.",
      (s, d) => ivfPqProbe(s, d,
        Tables.embeddings(s, d).filter(col("vec_id") < 10), 5)
        .orderBy("qid", "rn"),
      None),

    GraftQuery(
      "q_cluster_assign",
      "One-pass document clustering: every vector gets its nearest " +
        "centroid from the deterministic ~sqrt(n) modulo sample, plus " +
        "the cluster's size — the IVF coarse quantizer exposed as its " +
        "own operator (topic/segment bucketing for mixture control). " +
        "Assignment is the fused NearestCentroid argmax on a map-only " +
        "scan; unlike the oracle-exempt q_ann_ivf this IS " +
        "DuckDB-oracled — the oracle recomputes argmax(dot/|c|) with a " +
        "window over the same doubles folded in the same order, giving " +
        "the native expression differential coverage. One shuffle " +
        "(|centroids| keys) for the size histogram.",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(s, d)
        val mod = centroidMod(math.max(1L, emb.count()))
        val handle = centroidHandle(s,
          emb.filter(centroidPick(mod))
            .select(col("vec_id").as("cid"), col("embedding").as("ke"),
              norm(col("embedding")).as("kn")))
        Tables.spreadSized(emb, 1L << 20, col("vec_id"))
          .select(col("vec_id"),
            graft.functions.GraftFunctions
              .nearestCentroid(col("embedding"), handle).as("cid"))
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy("cid")).cast("bigint"))
          .select(col("vec_id"), col("cid"), col("cluster_size"))
          .orderBy("vec_id")
      },
      Some("WITH n AS (SELECT count(*) AS cnt FROM embeddings), " +
        "m AS (SELECT greatest(53, cnt // CAST(ceil(sqrt(cnt)) AS " +
        "BIGINT)) AS md FROM n), " +
        "c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ke, " +
        "sqrt(list_aggregate(list_transform(CAST(embedding AS " +
        "DOUBLE[]), x -> x*x), 'sum')) AS kn " +
        "FROM embeddings, m WHERE " + CentroidPickSql + "), " +
        "a AS (SELECT vec_id, cid FROM (" +
        "SELECT e.vec_id, c.cid, row_number() OVER (" +
        "PARTITION BY e.vec_id ORDER BY " +
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), c.ke) / c.kn " +
        "DESC, c.cid) AS rn FROM embeddings e, c) WHERE rn = 1) " +
        "SELECT vec_id, cid, CAST(count(*) OVER (PARTITION BY cid) " +
        "AS BIGINT) AS cluster_size FROM a ORDER BY vec_id")),

    GraftQuery(
      "q_kmeans_refine",
      "One Lloyd refinement of the coarse quantizer: assign every " +
        "vector to its nearest seed centroid (the q_cluster_assign " +
        "pass), recompute each cluster's mean, reassign against the " +
        "refined centroids — k-means as the engine runs it: two " +
        "map-only fused-argmax scans (broadcast-handle " +
        "NearestCentroid both times) around one per-(cid,dim) mean " +
        "whose partial aggregation combines map-side, so the update " +
        "shuffle is |clusters| x dim combined rows, never n x dim. " +
        "Cross-engine determinism: dimension values are pre-rounded " +
        "to 8 dp and summed through DECIMAL (the decSum rule), means " +
        "divide that exact sum, and norms/dots fold in index order on " +
        "both engines — the refined matrix is bit-identical, so the " +
        "DuckDB twin (both argmax passes unrolled over the same " +
        "folded doubles) checks assignment, update, and reassignment " +
        "differentially.",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(s, d)
        val mod = centroidMod(math.max(1L, emb.count()))
        val handle0 = centroidHandle(s,
          emb.filter(centroidPick(mod))
            .select(col("vec_id").as("cid"), col("embedding").as("ke"),
              norm(col("embedding")).as("kn")))
        // mean per (cluster, dimension): 8dp-rounded doubles summed as
        // SCALED LONGS (x*1e8 rounded to the nearest integer) — the
        // identical exact rational the oracle's DECIMAL(28,8) sum
        // produces (Σk_i/1e8; k exact in long and in double up to
        // 2^53 ≈ a 9e7-row cluster), order-independent, but codegen'd
        // primitive adds instead of per-row decimal objects: the
        // n x dim exploded aggregate input made decimal arithmetic
        // the whole query's cost at 128x (34 s -> the long-sum form)
        // cid in its OWN select, the explode in the next: a generator
        // and an expensive expression in the same select() get split
        // by ExtractGenerator with the expression in the project ABOVE
        // the Generate — re-evaluated once per exploded ELEMENT (64x
        // the argmax work; this was 28 of the query's 31 s at 128x)
        val upd = Tables.spreadSized(emb, 1L << 20, col("vec_id"))
          .select(graft.functions.GraftFunctions
              .nearestCentroid(col("embedding"), handle0).as("cid"),
            col("embedding"))
          .select(col("cid"), posexplode(col("embedding")))
          .select(col("cid"), col("pos"),
            round(round(col("col").cast("double"), 8) * 1e8, 0)
              .cast("long").as("k"))
          .groupBy("cid", "pos")
          .agg(((sum(col("k")).cast("double") / 1e8) /
            count(lit(1))).as("m"))
        // sqrt(n)-sized driver collect (the CC-gate argument), arrays
        // assembled in (cid, pos) order; norms fold pos-ascending,
        // matching DuckDB's list_aggregate order
        val rows = upd.collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
          .sortBy(t => (t._1, t._2))
        val cids1 = rows.map(_._1).distinct
        val dim = if (rows.isEmpty) 0 else rows.map(_._2).max + 1
        val byCid = rows.groupBy(_._1)
        val flat = cids1.flatMap(c => byCid(c).sortBy(_._2).map(_._3))
        val norms1 = cids1.map { c =>
          var ss = 0.0
          byCid(c).sortBy(_._2).foreach(t => ss += t._3 * t._3)
          math.sqrt(ss)
        }
        val handle1 = s.sparkContext.broadcast((cids1, flat, norms1))
        Tables.spreadSized(emb, 1L << 20, col("vec_id"))
          .select(col("vec_id"),
            graft.functions.GraftFunctions
              .nearestCentroid(col("embedding"), handle1).as("cid"))
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy("cid")).cast("bigint"))
          .select(col("vec_id"), col("cid"), col("cluster_size"))
          .orderBy("vec_id")
      },
      Some("WITH n AS (SELECT count(*) AS cnt FROM embeddings), " +
        "m AS (SELECT greatest(53, cnt // CAST(ceil(sqrt(cnt)) AS " +
        "BIGINT)) AS md FROM n), " +
        "c0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ke, " +
        "sqrt(list_aggregate(list_transform(CAST(embedding AS " +
        "DOUBLE[]), x -> x*x), 'sum')) AS kn " +
        "FROM embeddings, m WHERE " + CentroidPickSql + "), " +
        "a0 AS (SELECT vec_id, cid FROM (" +
        "SELECT e.vec_id, c0.cid, row_number() OVER (" +
        "PARTITION BY e.vec_id ORDER BY " +
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), c0.ke) / c0.kn " +
        "DESC, c0.cid) AS rn FROM embeddings e, c0) WHERE rn = 1), " +
        "u AS (SELECT a0.cid, g.pos, " +
        "round(CAST(e.embedding[g.pos] AS DOUBLE), 8) AS x " +
        "FROM embeddings e JOIN a0 USING (vec_id), " +
        "UNNEST(generate_series(1, len(e.embedding))) AS g(pos)), " +
        "cent AS (SELECT cid, pos, " +
        "CAST(SUM(CAST(x AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS mv " +
        "FROM u GROUP BY cid, pos), " +
        "c1 AS (SELECT cid, list(mv ORDER BY pos) AS ke FROM cent " +
        "GROUP BY cid), " +
        "c1n AS (SELECT cid, ke, " +
        "sqrt(list_aggregate(list_transform(ke, x -> x*x), 'sum')) AS kn " +
        "FROM c1), " +
        "a1 AS (SELECT vec_id, cid FROM (" +
        "SELECT e.vec_id, c1n.cid, row_number() OVER (" +
        "PARTITION BY e.vec_id ORDER BY " +
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), c1n.ke) / " +
        "c1n.kn DESC, c1n.cid) AS rn FROM embeddings e, c1n) " +
        "WHERE rn = 1) " +
        "SELECT vec_id, cid, CAST(count(*) OVER (PARTITION BY cid) " +
        "AS BIGINT) AS cluster_size FROM a1 ORDER BY vec_id")),

    GraftQuery(
      "q_embed_outliers",
      "Embedding outlier detection for corpus cleaning: every vector's " +
        "cosine to its own cluster centroid, then a per-cluster z-score " +
        "over those cosines — |z| > 2 flags mis-embedded / off-" +
        "distribution documents. One fused-argmax assignment scan, one " +
        "broadcast join to the sqrt(n)-sized centroid table for the " +
        "score, one |clusters|-row moment aggregate joined back by " +
        "broadcast. Moments are computed from DECIMAL-exact sums of " +
        "8dp-rounded scores (sum and sum-of-squares), so mean/std — " +
        "and therefore every z and every flag — are bit-identical " +
        "across engines; singleton/zero-variance clusters get z = 0, " +
        "outlier = false by definition.",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val mod = centroidMod(math.max(1L, emb.count()))
        val cent = emb.filter(centroidPick(mod))
          .select(col("vec_id").as("cid"), col("embedding").as("ke"),
            norm(col("embedding")).as("kn"))
          .localCheckpoint()
        val handle = centroidHandle(s, cent)
        val rs = round(dot(col("ce"), col("ke")) / (col("cn") * col("kn")), 8)
        // referenced by BOTH the moment aggregate and the final join:
        // cache so the assignment scan + centroid join run once (the
        // q_source_mix single-scan rule)
        val scored = scorable(emb)
          .withColumn("cid",
            graft.functions.GraftFunctions.nearestCentroid(col("ce"), handle))
          .join(broadcast(cent), Seq("cid"))
          .select(col("vec_id"), col("cid"), rs.as("rs"))
          .cache()
        val stats = scored.groupBy("cid").agg(
          count(lit(1)).as("cn_rows"),
          sum(col("rs").cast("decimal(19,8)")).cast("double").as("s1"),
          sum((col("rs") * col("rs")).cast("decimal(30,16)")).cast("double")
            .as("s2"))
        val mean = col("s1") / col("cn_rows")
        // the exact-sum identity can cancel to a TINY NEGATIVE for a
        // constant-score cluster (s2 - s1²/n ≈ -1e-16): clamp at 0 or
        // Spark takes sqrt→NaN (NaN compares greatest, flagging garbage
        // outliers) while DuckDB hard-errors on sqrt of a negative
        val variance = greatest(
          (col("s2") - col("s1") * col("s1") / col("cn_rows")) /
            (col("cn_rows") - 1), lit(0.0))
        val sd = when(col("cn_rows") >= 2, sqrt(variance)).otherwise(lit(0.0))
        val z = when(col("cn_rows") < 2 || sd === 0.0, lit(0.0))
          .otherwise((col("rs") - mean) / sd)
        // score presents UNROUNDED: rs is already 8dp-quantized, and
        // re-rounding a quantized value to 6dp is the half-way-tie
        // class (CLAUDE.md rule 26 — the hashed-centroid sample landed
        // one sf0.001 row exactly on 0.xxxxxx50 and the engines broke
        // the tie differently). z is an UNquantized ratio, so its 4dp
        // round stays in the safe class.
        scored.join(broadcast(stats), Seq("cid"))
          .select(col("vec_id"), col("cid"),
            col("rs").as("score"),
            round(z, 4).as("z"),
            (abs(z) > 2.0).as("outlier"))
          .orderBy("vec_id")
      },
      Some("WITH n AS (SELECT count(*) AS cnt FROM embeddings), " +
        "m AS (SELECT greatest(53, cnt // CAST(ceil(sqrt(cnt)) AS " +
        "BIGINT)) AS md FROM n), " +
        "c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ke, " +
        "sqrt(list_aggregate(list_transform(CAST(embedding AS " +
        "DOUBLE[]), x -> x*x), 'sum')) AS kn " +
        "FROM embeddings, m WHERE " + CentroidPickSql + "), " +
        "a AS (SELECT vec_id, cid FROM (" +
        "SELECT e.vec_id, c.cid, row_number() OVER (" +
        "PARTITION BY e.vec_id ORDER BY " +
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), c.ke) / c.kn " +
        "DESC, c.cid) AS rn FROM embeddings e, c) WHERE rn = 1), " +
        "sc AS (SELECT e.vec_id, a.cid, round(" +
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), c.ke) / (" +
        "sqrt(list_aggregate(list_transform(CAST(e.embedding AS " +
        "DOUBLE[]), x -> x*x), 'sum')) * c.kn), 8) AS rs " +
        "FROM embeddings e JOIN a USING (vec_id) JOIN c USING (cid)), " +
        "st AS (SELECT cid, count(*) AS cn_rows, " +
        "CAST(SUM(CAST(rs AS DECIMAL(19,8))) AS DOUBLE) AS s1, " +
        "CAST(SUM(CAST(rs * rs AS DECIMAL(30,16))) AS DOUBLE) AS s2 " +
        "FROM sc GROUP BY cid), " +
        "zs AS (SELECT vec_id, cid, rs, " +
        "CASE WHEN cn_rows >= 2 THEN " +
        "sqrt(greatest((s2 - s1 * s1 / cn_rows) / (cn_rows - 1), 0.0)) " +
        "ELSE 0.0 END " +
        "AS sd, s1 / cn_rows AS mean FROM sc JOIN st USING (cid)) " +
        "SELECT vec_id, cid, rs AS score, " +
        "round(CASE WHEN sd = 0.0 THEN 0.0 ELSE (rs - mean) / sd END, 4) " +
        "AS z, " +
        "abs(CASE WHEN sd = 0.0 THEN 0.0 ELSE (rs - mean) / sd END) > 2.0 " +
        "AS outlier FROM zs ORDER BY vec_id")),

    GraftQuery(
      "q_embed_stats",
      "Per-vector statistics (dim, L2 norm, element mean/min/max) — the " +
        "embedding-column health check before any ANN build. Norm and " +
        "sum go through the codegen'd VectorDot (sequential double " +
        "fold, matching DuckDB's list_aggregate order, so 6 dp rounding " +
        "is stable); one scan, no shuffle but the output sort.",
      (s, d) => {
        val e = col("embedding")
        val ones = array_repeat(lit(1.0d), size(e))
        Tables.embeddings(s, d).select(
          col("vec_id"),
          size(e).cast("bigint").as("dim"),
          round(norm(e), 6).as("l2_norm"),
          round(dot(e, ones) / size(e), 6).as("elem_mean"),
          round(array_min(e).cast("double"), 6).as("elem_min"),
          round(array_max(e).cast("double"), 6).as("elem_max")
        ).orderBy("vec_id")
      },
      Some("SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim, " +
        "round(sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), " +
        "x -> x*x), 'sum')), 6) AS l2_norm, " +
        "round(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum') / " +
        "len(embedding), 6) AS elem_mean, " +
        "round(list_aggregate(CAST(embedding AS DOUBLE[]), 'min'), 6) AS elem_min, " +
        "round(list_aggregate(CAST(embedding AS DOUBLE[]), 'max'), 6) AS elem_max " +
        "FROM embeddings ORDER BY vec_id"))
  )
}
