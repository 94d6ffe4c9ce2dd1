package graft

import graft.pipeline.{Export, Restore}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

/** What a backup's file count costs its restore against a service with
  * per-request latency that serves every request at once (the
  * benchmark's stand-in serves at most nproc at a time, so it cannot
  * show this). The same rows, `edges` leaves four to a path, are
  * written twice: by [[Export.writeBackup]], whose files AQE sizes by
  * bytes, and as 8 fixed range partitions, the layout writeBackup wrote
  * while it took a partition count (as bare Parquet files: it has no
  * manifest, so both layouts are read with [[Export.BackupSchema]]
  * directly). Each backup is restored into a sink that waits `ms` per
  * PATCH and accepts it.
  *
  * {{{
  * sbt "Test/runMain graft.RestoreLatency [edges] [ms,ms,...] [cpus]"
  * }}}
  *
  * Prints one line per latency and layout: files, PATCHes, seconds. */
object RestoreLatency {
  val patches = new AtomicLong()

  final case class SlowSink(ms: Long) extends Restore.KVSink {
    def update(path: String, batch: Map[String, String]): Boolean = {
      patches.incrementAndGet()
      Thread.sleep(ms)
      true
    }
  }

  def main(args: Array[String]): Unit = {
    val edges = args.lift(0).fold(56000)(_.toInt)
    val latencies = args.lift(1).fold(Seq(5L, 20L, 50L))(_.split(',').toSeq.map(_.toLong))
    val spark = SparkEntry.localSession(args.lift(2).getOrElse("8"))
    import spark.implicits._
    // random values, so the shuffle bytes AQE sizes by (compressed)
    // are not made small by repetition
    val rnd = new scala.util.Random(7)
    val rows = (0 until edges).map(i =>
      (f"/users/u${i / 4}%06d", s"field${i % 4}", s""""${rnd.alphanumeric.take(16).mkString}""""))
      .toDF("path", "key", "value_json").localCheckpoint()
    val bytes = Files.createTempDirectory("restore_bytes").toString
    Export.writeBackup(rows, bytes)
    val fixed = Files.createTempDirectory("restore_fixed").toString
    rows.repartitionByRange(8, col("path"), col("key"))
      .sortWithinPartitions("path", "key")
      .write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .parquet(s"$fixed/rows")
    for (ms <- latencies; (layout, dir) <- Seq("fixed 8" -> fixed, "by bytes" -> bytes)) {
      val back = spark.read.schema(Export.BackupSchema).parquet(s"$dir/rows")
      patches.set(0)
      val t0 = System.nanoTime()
      Restore.restore(back, SlowSink(ms))
      val s = (System.nanoTime() - t0) / 1e9
      println(f"layout=$layout%-8s files=${back.inputFiles.length}%d " +
        f"ms=$ms%d patches=${patches.get}%d restore_s=$s%.2f")
    }
    spark.stop()
  }
}
