package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** `Tables.spread` / `Tables.spreadSized`: the target partition count
  * and the partitioning each entry point asks for, on sized and
  * unestimable, keyed and keyless inputs. */
class TablesSpec extends SparkSuite {

  private def parallelism: Int = spark.sparkContext.defaultParallelism

  /** the partitioning of the frame's repartition, None when the frame
    * came back without one */
  private def exchange(df: DataFrame): Option[Partitioning] =
    df.queryExecution.sparkPlan.collectFirst {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }

  private def keyCol(p: Partitioning): Seq[String] = p match {
    case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
    case _ => Nil
  }

  /** a one-split parquet input with a known on-disk size */
  private lazy val (onePart, fileBytes) = {
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_spread")
      .resolve("t").toString
    (0L until 20000L).map(i => (i, s"row-$i-${i * 7919 % 104729}"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(dir)
    val df = spark.read.parquet(dir)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    (df, est)
  }

  test("spread fans a one-split input out to defaultParallelism, " +
    "hashed on the keys or round-robin without them") {
    assert(onePart.rdd.getNumPartitions == 1, "fixture must be one split")
    val keyed = Tables.spread(onePart, col("doc_id"))
    assert(keyed.queryExecution.toRdd.getNumPartitions == parallelism)
    val kp = exchange(keyed).get
    assert(kp.isInstanceOf[HashPartitioning] &&
      kp.numPartitions == parallelism && keyCol(kp) == Seq("doc_id"), kp)
    val plain = Tables.spread(onePart)
    assert(plain.queryExecution.toRdd.getNumPartitions == parallelism)
    assert(exchange(plain).contains(RoundRobinPartitioning(parallelism)),
      exchange(plain))
  }

  test("spreadSized asks one partition per bytesPerTask of estimated " +
    "input, capped at defaultParallelism") {
    // three tasks' worth of input
    val per = fileBytes / 3 + 1
    val keyed = Tables.spreadSized(onePart, per, col("doc_id"))
    val kp = exchange(keyed).get
    assert(kp.isInstanceOf[HashPartitioning] && kp.numPartitions == 3 &&
      keyCol(kp) == Seq("doc_id"), kp)
    assert(keyed.queryExecution.toRdd.getNumPartitions == 3)
    val plain = Tables.spreadSized(onePart, per)
    assert(exchange(plain).contains(RoundRobinPartitioning(3)),
      exchange(plain))
    // a tiny per-task size is capped at the full fan-out
    assert(exchange(Tables.spreadSized(onePart, 1L, col("doc_id")))
      .map(_.numPartitions).contains(parallelism))
    // a KB-scale input under one task's worth stays single-split
    val small = Tables.spreadSized(onePart, fileBytes + 1, col("doc_id"))
    assert(small eq onePart, "a one-task input must come back as is")
  }

  test("spreadSized gives an unestimable (RDD-built) input the full " +
    "fan-out, never target 1") {
    val sp = spark; import sp.implicits._
    val rdd = spark.sparkContext.parallelize((0L until 100L).map(i =>
      org.apache.spark.sql.Row(i, s"t$i")), 1)
    val df = spark.createDataFrame(rdd,
      Seq((0L, "")).toDF("doc_id", "text").schema)
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes ==
      BigInt(Long.MaxValue), "fixture must carry Spark's default size")
    for (bytesPerTask <- Seq(1L << 20, 32L << 10)) {
      val keyed = Tables.spreadSized(df, bytesPerTask, col("doc_id"))
      assert(keyed.queryExecution.toRdd.getNumPartitions == parallelism,
        s"unestimable input not fanned out at $bytesPerTask B/task")
      val plain = Tables.spreadSized(df, bytesPerTask)
      assert(exchange(plain).contains(RoundRobinPartitioning(parallelism)),
        exchange(plain))
    }
  }

  test("an input already as wide as the target comes back as is") {
    val wide = spark.range(0L, 1000L, 1L, parallelism).toDF("doc_id")
    assert(Tables.spread(wide, col("doc_id")) eq wide)
    assert(Tables.spread(wide) eq wide)
    assert(Tables.spreadSized(wide, 1L, col("doc_id")) eq wide)
    assert(Tables.spreadSized(wide, 1L) eq wide)
  }
}
