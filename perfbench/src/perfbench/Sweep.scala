package perfbench

import graft.{GraftQuery, operators}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.util.hashing.MurmurHash3

/** Query sweeps over the `graft.operators.*` registries.
  *
  * One call of a query is timed in three parts: construction (the query
  * function, until it returns its DataFrame, including any eager jobs
  * it runs), Catalyst planning (`executedPlan`) and execution (draining
  * `toRdd`). The drain also folds every row into an order-insensitive
  * digest, so each timed call is checked against the stored reference.
  */
object Sweep {
  /** Modules whose queries are built around LLM-era operators
    * (text, dedup, similarity, retrieval, multimodal, curation). */
  def llm: Seq[GraftQuery] =
    operators.TextAnalysis.queries ++ operators.Dedup.queries ++
      operators.Similarity.queries ++ operators.Multimodal.queries ++
      operators.Incremental.queries ++ operators.Curation.queries ++
      operators.Retrieval.queries

  /** Relational modules: TPC-H-style SQL, functions, events, stats. */
  def sql: Seq[GraftQuery] =
    operators.Relational.queries ++ operators.Functions.queries ++
      operators.Events.queries ++ operators.Stats.queries ++
      operators.Sql.queries

  /** The queries of `registry` named in `names`, in that order. A name
    * the registry lacks fails the run, so a workload never silently
    * measures other queries than it names. */
  def resolve(registry: Seq[GraftQuery], names: Seq[String]): Seq[GraftQuery] = {
    val byName = registry.map(q => q.name -> q).toMap
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty, s"queries not registered: ${missing.mkString(", ")}")
    names.map(byName)
  }

  /** Queries whose first call builds a persisted index; their builds
    * belong to set-up. */
  val IndexBuilders: Seq[String] =
    Seq("q_dedup_delta", "q_bm25_indexed", "q_ann_ivf_probe", "q_knn_graph_delta")

  final case class Digest(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  final case class Call(name: String, constructS: Double, planS: Double,
                        execS: Double, catalystS: Double, jobsInConstruct: Long,
                        digest: Option[Digest], error: Option[String]) {
    def totalS: Double = constructS + planS + execS
  }

  /** Run `q` once on `dir` and time its three parts. A throw is
    * reported as an error, never as a time. */
  def call(spark: SparkSession, q: GraftQuery, dir: String,
           jobs: () => Long, trace: Trace): Call = {
    spark.catalog.clearCache()
    graft.functions.GraftFunctions.register(spark)
    try trace.span("query", "name" -> q.name) {
      val j0 = jobs()
      val t0 = System.nanoTime()
      val df = trace.span("construct")(q.fn(spark, dir))
      val t1 = System.nanoTime()
      val j1 = jobs()
      val qe = df.queryExecution
      trace.span("executedPlan")(qe.executedPlan)
      val t2 = System.nanoTime()
      val d = trace.span("drain")(digest(df))
      val t3 = System.nanoTime()
      val phases = qe.tracker.phases
      val catalyst = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum / 1e3
      Call(q.name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        catalyst, j1 - j0, Some(d), None)
    } catch {
      case e: Throwable =>
        Call(q.name, 0, 0, 0, 0, 0, None,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
    }
  }

  /** Drain the query's own physical plan and fold its rows into a
    * (row count, order-insensitive hash) pair. Columns are taken in
    * name order and floats canonicalized, as the repository's DuckDB
    * oracle checker compares results. */
  def digest(df: DataFrame): Digest = {
    val schema = df.schema
    val order = schema.fields.indices.sortBy(i => (schema.fields(i).name, i))
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val conv = CatalystTypeConverters.createToScalaConverter(schema)
      var n = 0L
      var h = 0L
      it.foreach { ir =>
        val row = conv(ir).asInstanceOf[Row]
        val s = order.map(i => canon(row.get(i), schema.fields(i).dataType))
          .mkString("\u0001")
        h += hash64(s)
        n += 1
      }
      Iterator.single((n, h))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x7f4a7c15).toLong & 0xffffffffL)

  def canon(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "None"
    case (d: Double, _) => if (d.isNaN) "NaN" else java.lang.Double.toString(d)
    case (f: Float, _) => if (f.isNaN) "NaN" else java.lang.Double.toString(f.toDouble)
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      s.map(canon(_, et)).mkString("[", ",", "]")
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.toSeq.map { case (k, x) => canon(k, kt) + ":" + canon(x, vt) }
        .sorted.mkString("{", ",", "}")
    case (r: Row, st: StructType) =>
      st.fields.indices.map(i => canon(r.get(i), st.fields(i).dataType))
        .mkString("(", ",", ")")
    case (b: Array[Byte], _) => b.map("%02x".format(_)).mkString
    case (x, _) => x.toString
  }
}
