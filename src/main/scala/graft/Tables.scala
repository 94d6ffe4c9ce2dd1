package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Table loaders for the driver-generated TPC-H-ish test data
  * (TESTDATA.md / FIXTURES.md). Every query takes an `sfDir` so the
  * same code runs at any scale factor — at cluster scale these would
  * be catalog tables; locally they are parquet directories.
  *
  * Scans built here are plain `spark.read.parquet`, so Catalyst
  * handles column pruning and predicate pushdown into the parquet
  * reader (the Spark-native equivalent of the reference's
  * server-side `shallow=true` / `orderBy`+`startAt` pushdown,
  * BackupProcessor.php:82,162-169).
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Fan a compute-heavy input out to the session's parallelism. A
    * small single-file parquet arrives as ONE split, which serializes
    * any CPU-bound operator after it; at cluster scale inputs have
    * plenty of splits and this is a no-op (guarded by the partition
    * count), so the shuffle is only paid where it buys parallelism.
    *
    * CPU-HEAVY CHAINS ONLY: the repartition adds a whole stage
    * (shuffle of the full row + 32-task scheduling + an AQE re-plan,
    * ~0.2-0.3 s fixed), so it must be amortized by the per-row work it
    * parallelizes. The r9 A/B showed light map-only scans (md5 / split
    * / one regex per row) run ~2x FASTER single-split than spread at
    * sf0.1, while regex-heavy q_pii_redact kept its win. Also never
    * useful in front of an explode+groupBy — the aggregate's own
    * shuffle already redistributes. Read-time splitting is not an
    * alternative: the testdata parquet is one row group per file, and
    * Spark assigns whole row groups to splits by midpoint, so low
    * maxPartitionBytes yields empty splits, not parallelism.
    *
    * `keys` hash-partitions instead of round-robin: every keyless
    * repartition(n) first LOCAL-SORTS its input
    * (spark.sql.execution.sortBeforeRepartition, on by default since
    * SPARK-23207, so retried tasks reproduce the same row-to-partition
    * assignment — guide §2.5). Hash partitioning is deterministic per
    * row, needs no such sort, is retry-safe by construction, and lets
    * a downstream shuffle keyed on the same column reuse the layout
    * outright; pass a high-cardinality natural key (doc_id,
    * l_orderkey) so the hash spreads evenly. Measured (r21 ABBA, 5
    * reps): q_sql_tpch_q3 0.57x, q_agg_basic 0.75x keyed vs keyless.
    * No keys keeps round-robin (BpeScaleGate's whole-corpus fan-out).
    *
    * The guard reads `queryExecution.toRdd` (a cached lazy val on the
    * Dataset) rather than `df.rdd`, which would wrap the same physical
    * RDD in an extra InternalRow->Row conversion stage per call just to
    * ask its partition count.
    *
    * SCAN-SHAPED INPUTS ONLY: under AQE, toRdd on a frame containing
    * an Exchange finalizes the adaptive plan and eagerly EXECUTES the
    * upstream shuffle stages just to answer getNumPartitions — the
    * real job would then run them again. Every call site hands this a
    * scan/select-shaped frame; keep it that way. */
  def spread(df: DataFrame, keys: Column*): DataFrame =
    spreadTo(df, df.sparkSession.sparkContext.defaultParallelism, keys)

  /** [[spread]] with the fan-out SIZED to the input instead of pinned
    * at defaultParallelism (guide §2: derive partitioning from input
    * size, not a constant tuned for one scale). One partition per
    * `bytesPerTask` of optimizer-estimated input (parquet scans:
    * actual file bytes), capped at defaultParallelism: a KB-scale
    * corpus slice stays single-split — the hash/shingle loop over it
    * is microseconds, while fanning it to 32 cached partitions taxed
    * EVERY downstream consumer stage with 32 tasks of ~30-100 ms fixed
    * overhead (the r21 q_dedup_delta probe: eight 32-task stages over
    * a 0.4 MB cached batch, 3-5 task-seconds each, zero GC) — and a
    * GB-scale slice fans out exactly like [[spread]]. Unestimable
    * inputs (RDD-built frames, streams: sizeInBytes = defaultSize =
    * Long.Max) get the full fan-out, never below it; the division
    * stays in BigInt so that estimate cannot overflow to a target of
    * 1. A localCheckpoint pin keeps its origin's finite estimate. For
    * CPU-DENSE per-row work (regex redaction, image decode) keep
    * [[spread]]: 1 MB of input can carry seconds of compute there,
    * and those sites carry their own A/B numbers. */
  def spreadSized(df: DataFrame, bytesPerTask: Long,
                  keys: Column*): DataFrame = {
    val max = df.sparkSession.sparkContext.defaultParallelism
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = ((est + bytesPerTask - 1) / bytesPerTask)
      .min(BigInt(max)).max(BigInt(1)).toInt
    spreadTo(df, target, keys)
  }

  /** The one repartition body: fan `df` out to `target` partitions
    * (hashed on `keys`, round-robin when empty) unless it already has
    * at least that many. */
  private def spreadTo(df: DataFrame, target: Int,
                       keys: Seq[Column]): DataFrame =
    if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target, keys: _*)
    else df

  /** Bucket count for the persisted index tables (shingle index, IVF
    * index) over an `n`-row corpus slice: 32 — the local[32]
    * parallelism — through 1M rows, then doubling per doubling of n,
    * capped at 4096. A fixed 32 would cap probe-join parallelism at
    * cluster scale (buckets are the unit of exchange-free join
    * parallelism for a bucketed table); scaling with n keeps
    * rows-per-bucket bounded so a 1000-executor probe still fans out.
    * Power-of-two steps keep counts stable under small corpus drift
    * (a rebuild at n±1% lands on the same count). The local analog of
    * "size to your executor count" (CLAUDE.md rule 3 pattern): at the
    * test scales (≤ 1M rows) this IS 32, so default plans are
    * unchanged; the 2.56M-doc rehearsal rung exercises 128. */
  def indexBuckets(n: Long): Int = {
    var b = 32
    var cap = 1000000L
    while (n > cap && b < 4096) { b *= 2; cap *= 2 }
    b
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP_MICROS(isAdjustedToUTC=false), which
    * Spark reads as TIMESTAMP_NTZ (external type `java.time.LocalDateTime`).
    * Normalize to TimestampType so downstream window/session results
    * collect as `java.sql.Timestamp` like every other timestamp in the
    * engine. All sessions pin `spark.sql.session.timeZone=UTC`, so the
    * cast preserves the wall-clock and the DuckDB oracle (which treats
    * the column as a naive TIMESTAMP) sees identical instants. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    if (raw.schema("ts").dataType == TimestampNTZType)
      raw.withColumn("ts", col("ts").cast(TimestampType))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
