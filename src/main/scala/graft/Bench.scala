package graft
import scala.util.Try

/** Driver-run benchmark: one JSON line with per-query and total seconds
  * over SparkEntry.queries at SPARK_GRAFT_SF_DIR.
  *
  * Each query is first executed once against the tiny sf0.001 data so
  * JVM class loading, Catalyst warm paths, and whole-stage-codegen
  * compilation happen outside the timed region (plans are
  * scale-independent) — the timed run then measures the engine, not
  * the JIT. Queries run in sorted name order for run-to-run
  * comparability.
  *
  * Each query is timed SPARK_GRAFT_REPS times (default 3, interleaved
  * round-robin across queries) and the MIN is reported: this host
  * shows noisy-neighbor bursts that inflate arbitrary trivial queries
  * 5-40x for tens of seconds at a stretch (a map-only scan observed at
  * 40 s vs its usual 0.3 s, identical code), and min-of-reps is the
  * standard estimator for uncontended cost under asymmetric noise —
  * a query cannot run faster than the engine allows. Interleaving
  * spaces a query's reps a full sweep apart so one burst cannot cover
  * them all.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      "/root/testdata/sf0.001")
    val spark = SparkEntry.localSession()
    // count() would let Catalyst prune projections and drop the final
    // sort under the aggregate — map-only queries would time only the
    // parquet scan. Walking every InternalRow of the *query's own* plan
    // forces full evaluation of exactly what Verify writes.
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.foreach(_ => ())
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (local iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // fail fast on typos, like Verify: a silently-dropped name would
    // report a plausible total that never timed the intended query
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    ordered.foreach { case (_, fn) =>
      Try(force(fn(spark, warmDir))) // warmup; failures surface below
    }
    // 3 reps: round-2's driver run showed bursts long enough to hit
    // BOTH of 2 reps (q_ann_lsh reported 16 s for a query whose
    // uncontended cost is ~1.2 s); a third rep makes min() robust to
    // a burst spanning two.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // Reps are INTERLEAVED round-robin (rep 1 of every query, then rep
    // 2, ...), not back-to-back: host-noise bursts run tens of seconds,
    // so consecutive reps of one query can all land inside a single
    // burst (observed: a 1.2 s query reporting 30 s as the min of 3
    // adjacent reps). Round-robin separates a query's reps by the full
    // sweep time (~minutes), so min() needs only ONE quiet sweep out
    // of `reps` — burst immunity scales with sweep spacing, not count.
    //
    // A rep that throws must NOT feed its time-to-exception into min()
    // (a fast failure would read as a speedup): failed queries report
    // -1 and are listed under "errors", excluded from the total.
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    (1 to math.max(reps, 1)).foreach { _ =>
      ordered.foreach { case (name, fn) =>
        // cold cache per rep: Spark's CacheManager matches by canonical
        // plan, so a repeat of a cache()-bearing query would otherwise
        // read an earlier rep's cache and min() would report the warm path
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try {
          force(fn(spark, sfDir))
          samples(name) ::= (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"BENCH FAIL $name: ${e.getMessage}") }
      }
    }
    val results = ordered.map { case (name, _) => name -> samples(name).minOption }
    // median alongside min: min is the headline (uncontended cost under
    // asymmetric noise), but a min far below the median means bursts
    // covered most reps — the median makes that visible in the record
    // instead of silently flattering the run.
    def median(xs: List[Double]): Double = {
      val s = xs.sorted
      s(s.size / 2)
    }
    val medians = ordered.map { case (name, _) =>
      name -> (if (samples(name).isEmpty) None else Some(median(samples(name))))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.getOrElse(-1.0) }
      .mkString("{", ",", "}")
    val qsMed = medians.map { case (k, v) => s"\"" + k + "\":" + v.getOrElse(-1.0) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, None) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    val totalMed = medians.flatMap(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","total_median":$totalMed,"queries":$qs,"queries_median":$qsMed,"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    // The driver's stdout capture keeps only the last 2000 chars, which
    // truncates the per-query head of the map (lost in rounds 8 and 9).
    // Persist the full record to a file Bench owns so every per-query
    // time stays machine-readable regardless of capture; path
    // overridable for side-worktree A/B runs.
    // subset runs (SPARK_GRAFT_ONLY) keep stdout but must NOT clobber
    // the full-set record the driver/judge read from bench_local.json —
    // an iteration aid overwriting the round artifact with 2 queries
    // would silently shrink every cross-round comparison
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "bench_local_subset.json" else "bench_local.json")
    Try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (line + "\n").getBytes("UTF-8"))
    }.failed.foreach(e => System.err.println(s"bench file write failed: $e"))
    // The driver records only the LAST 2000 chars of stdout; the full
    // line above leads with the totals, so truncation eats them (and
    // the q_agg_*/q_ann_* head of the per-query map) every round. A
    // second, compact line printed LAST always survives the tail
    // capture, so the record stays self-describing.
    val nErr = results.count(_._2.isEmpty)
    println(f"""{"metric":"summary","n_queries":${results.size},"total":$total%.3f,"total_median":$totalMed%.3f,"n_errors":$nErr,"reps":$reps,"sf":"$sfDir"}""")
    spark.stop()
  }
}
