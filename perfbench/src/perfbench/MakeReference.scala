package perfbench

import java.io.File

/** Writes `reference/<sf>.json`: the row count and digest of every
  * registered query on the benchmark's copy of each table directory.
  * Each query runs twice; a query whose two results differ is left out
  * of the reference and reported, since it could not be checked. The
  * file records the core count, since the shuffle partitioning (and so
  * the last bits of a float aggregate) may follow it.
  *
  * Usage: perfbench.MakeReference --data DIR --work DIR --cores N
  *        (through `perfbench/run.py --make-reference`)
  */
object MakeReference {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = new File(opts("data"))
    val work = new File(opts("work"))
    val cores = opts("cores").toInt
    val spark = Main.session("perfbench-reference", cores, work)
    val queries = (Sweep.llm ++ Sweep.sql).sortBy(_.name)
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = Main.stage(new File(data, sf), new File(work, s"data/$sf"))
      val runs = (1 to 2).map(_ =>
        queries.map(q => Sweep.call(spark, q, dir, () => 0L, new Trace(false))))
      val (same, differ) = runs(0).zip(runs(1)).partition { case (a, b) =>
        a.error.isEmpty && a.digest == b.digest
      }
      differ.foreach { case (a, b) =>
        println(s"$sf ${a.name}: not checkable (${a.error.orElse(b.error)
          .getOrElse(s"${a.digest} vs ${b.digest}")})")
      }
      Reference.write(new File(data.getParentFile, s"reference/$sf.json"), cores, same.map(_._1))
      println(s"$sf: ${same.size} queries referenced, ${differ.size} left out")
    }
    spark.stop()
  }
}
