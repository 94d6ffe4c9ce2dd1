package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All queries live in module registries (graft.operators.*) as
  * [[GraftQuery]] values carrying their own DuckDB oracle SQL; this
  * object just flattens them into the driver's shape.
  */
object SparkEntry {

  /** The local session every main runs on: `local[cpus]` with `cpus`
    * shuffle partitions, UTC session time (rule 7), AQE on and the UI
    * off. `cpus` defaults to SPARK_GRAFT_CPUS (32 when unset); `conf`
    * adds settings (Cli's --temp_dir). */
  def localSession(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
                   logLevel: String = "WARN",
                   conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Every registered query, in module order. */
  def all: Seq[GraftQuery] = {
    val qs =
      operators.Relational.queries ++
        operators.Functions.queries ++
        operators.Events.queries ++
        operators.TextAnalysis.queries ++
        operators.Dedup.queries ++
        operators.Similarity.queries ++
        operators.Stats.queries ++
        operators.Sql.queries ++
        operators.Multimodal.queries ++
        operators.Incremental.queries ++
        operators.Curation.queries ++
        operators.Retrieval.queries
    // a name collision across modules would silently shadow the
    // earlier query in the toMap below — the shadowed operator loses
    // ALL differential coverage with zero diagnostic. Fail fast.
    val dup = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty,
      s"duplicate query name(s) across modules: ${dup.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_basic")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each call
    * (re-)registers the engine's native expressions on the session
    * first (idempotent) so queries work on any session handed in. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> { (s: SparkSession, d: String) =>
      functions.GraftFunctions.register(s)
      q.fn(s, d)
    }).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
