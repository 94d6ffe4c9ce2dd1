package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Stage-level wall attribution for ONE declared query — the r20
  * optimization round's "measure first" tool (guide §1): a bench
  * second is a sum of stages and jobs, and guessing which one
  * dominates has been wrong before (SURVEY §22 lists the r18
  * precedents). Runs on the bench's own session config so the
  * attribution matches what graft.Bench times.
  *
  * Warmup runs the query once at SPARK_GRAFT_WARMUP_DIR (default
  * sf0.001) so JIT/codegen land outside the attributed run — same
  * discipline as Bench. One timed execution (the min-of-reps
  * estimator needs quiet-window reps; this tool is for SHAPE, not
  * headline numbers): per-stage wall, summed task time, tasks, input
  * and shuffle bytes, spill, call site — plus the count of jobs the
  * query ran (driver-side materializations show up as extra jobs, not
  * stages).
  *
  * Usage: runMain graft.QueryProbe <queryName> [sfDir]
  */
object QueryProbe {
  private class Agg {
    var name = ""
    var wallMs = 0L
    var taskMs = 0L
    var gcMs = 0L
    var deserMs = 0L
    var tasks = 0
    var input = 0L
    var sr = 0L
    var sw = 0L
    var spill = 0L
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProbe <queryName> [sfDir]")
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val warmDir =
      sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query: $name"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.foreach(_ => ())
    force(fn(spark, warmDir)) // warmup, unattributed
    // also warm at the TARGET dir: index-backed queries pay ensure*
    // freshness (or a full build into an empty warehouse) on their
    // first run at a dir — Bench's min-of-reps estimator times the
    // memoized path (rep 1 pays it, reps 2+ don't), so attribution
    // must too. SPARK_GRAFT_PROBE_COLD=1 restores the old behavior
    // for measuring exactly that first-run cost.
    if (!sys.env.get("SPARK_GRAFT_PROBE_COLD").contains("1"))
      force(fn(spark, dir))

    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Agg]()
    def agg(id: Int) = stages.computeIfAbsent(id, _ => new Agg)
    val nJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        nJobs.incrementAndGet()
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = {
        val a = agg(e.stageInfo.stageId)
        // the call site is an AQE thread-pool lambda for every stage;
        // the RDD operation SCOPES (physical operator names) are what
        // identify a stage — take the distinct scope names in RDD
        // order, which reads as the stage's operator pipeline
        val scopes = e.stageInfo.rddInfos.sortBy(_.id).flatMap(_.scope)
          .map(_.name).distinct
        a.name =
          if (scopes.nonEmpty) scopes.mkString(">")
          else e.stageInfo.name.linesIterator.next()
        a.wallMs = (for {
          s <- e.stageInfo.submissionTime
          c <- e.stageInfo.completionTime
        } yield c - s).getOrElse(0L)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val a = agg(e.stageId)
          a.synchronized {
            a.taskMs += m.executorRunTime
            a.gcMs += m.jvmGCTime
            a.deserMs += m.executorDeserializeTime
            a.tasks += 1
            a.input += m.inputMetrics.bytesRead
            a.sr += m.shuffleReadMetrics.totalBytesRead
            a.sw += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.diskBytesSpilled
          }
        }
      }
    }
    spark.catalog.clearCache() // cold cache, like every bench rep
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    force(fn(spark, dir))
    val wall = (System.nanoTime() - t0) / 1e9
    // listener-bus delivery is async: drain before removing, or the
    // tail stages of exactly the query being probed go unattributed
    // (r20 advice; GraftListenerBridge wraps the private[spark] API)
    if (!org.apache.spark.GraftListenerBridge.drain(
        spark.sparkContext, 10000L))
      System.err.println("warning: listener bus did not drain in 10 s; " +
        "tail stages may be under-attributed")
    spark.sparkContext.removeSparkListener(listener)

    def mb(b: Long) = math.rint(b / 1e5) / 10
    import scala.jdk.CollectionConverters._
    val rows = stages.asScala.toSeq.sortBy(-_._2.wallMs)
    println(f"${"stage"}%6s ${"wall_s"}%8s ${"task_s"}%8s ${"gc_s"}%6s " +
      f"${"dsr_s"}%6s ${"tasks"}%6s ${"in_MB"}%9s ${"sRd_MB"}%9s " +
      f"${"sWr_MB"}%9s ${"spill_MB"}%9s  site")
    rows.take(40).foreach { case (id, a) =>
      println(f"$id%6d ${a.wallMs / 1e3}%8.2f ${a.taskMs / 1e3}%8.2f " +
        f"${a.gcMs / 1e3}%6.2f ${a.deserMs / 1e3}%6.2f " +
        f"${a.tasks}%6d ${mb(a.input)}%9.1f ${mb(a.sr)}%9.1f " +
        f"${mb(a.sw)}%9.1f ${mb(a.spill)}%9.1f  ${a.name.take(90)}")
    }
    val sumWall = rows.map(_._2.wallMs).sum / 1e3
    println(s"""{"metric":"query_probe","query":"$name","dir":"$dir",""" +
      s""""wall_s":${math.rint(wall * 100) / 100},"jobs":${nJobs.get},""" +
      s""""stages":${rows.size},""" +
      s""""sum_stage_wall_s":${math.rint(sumWall * 100) / 100}}""")
    spark.stop()
  }
}
