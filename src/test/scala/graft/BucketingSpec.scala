package graft

import org.apache.spark.sql.functions._

/** Plan-level properties that matter at 100 TB:
  *  - the persisted-index bucket count tracks the corpus size,
  *  - range repartitioning is a set-preserving reshape (the C1
  *    page-union invariance: any partitioning of the key space unions
  *    back to the same set — SURVEY.md §5). */
class BucketingSpec extends SparkSuite {

  test("indexBuckets: 32 at test scales, doubles per doubling, caps") {
    // the persisted-index bucket rule: plans at every sf fixture stay
    // on 32 (the local[32] analog), counts track corpus size after 1M
    // rows, and the cap bounds small-file explosion
    assert(Tables.indexBuckets(0) == 32)
    assert(Tables.indexBuckets(1000000) == 32)
    assert(Tables.indexBuckets(1000001) == 64)
    assert(Tables.indexBuckets(2048000) == 128) // the 512x doc rung
    assert(Tables.indexBuckets(1L << 40) == 4096)
  }

  test("page-union invariance: any range partitioning unions to the same set") {
    val rows = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val whole = rows.collect().map(_.toString).sorted
    for (n <- Seq(1, 3, 8, 32)) {
      val repart = rows.repartitionByRange(n, col("l_orderkey"),
        col("l_linenumber"))
      assert(repart.rdd.getNumPartitions == n)
      val back = repart.collect().map(_.toString).sorted
      assert(back.sameElements(whole),
        s"range partitioning into $n pages changed the row multiset")
    }
  }
}
