package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession is the one session definition: the suites run under the
  * plan-shaping settings the bench times, the partition rule sizes to the
  * data, and the no-oracle `sample_seeded` row gets a bounded check. */
class GraftSessionSpec extends AnyFunSuite with SparkTestBase {

  private val testdata = new java.io.File(SparkTestBase.dataDir).getParent

  test("the shared test session carries every GraftSession plan setting") {
    GraftSession.planConf.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ==
      GraftSession.shufflePartitions(SparkTestBase.cpus,
        GraftSession.dataBytes(SparkTestBase.dataDir)))
    assert(spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
  }

  test("partition rule: one per 32 MB, floored at 4, capped at the cores") {
    for (sf <- Seq("sf0.01", "sf0.1"); cpus <- Seq(4, 32)) {
      val bytes = GraftSession.dataBytes(s"$testdata/$sf")
      assert(bytes > 0 && bytes < (32L << 20), s"$sf: $bytes bytes")
      assert(GraftSession.shufflePartitions(cpus, bytes) == 4, s"$sf at $cpus cpus")
    }
    assert(GraftSession.shufflePartitions(32, 200L << 20) == 6)
    assert(GraftSession.shufflePartitions(32, 10L << 30) == 32)
    assert(GraftSession.shufflePartitions(4, 10L << 30) == 4)
    assert(GraftSession.dataBytes("/nonexistent/graft") == 0L)
  }

  test("sample_seeded: a repeatable subset of orders near the 10 % mean") {
    val sf = SparkTestBase.dataDir
    def draw() = SparkEntry.queries("sample_seeded")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val first = draw()
    assert(draw() == first, "same seed, same session: the sample must repeat")
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(first.toSet.subsetOf(orders))
    assert(first.distinct.size == first.size)
    val n = orders.size.toDouble
    val sigma = math.sqrt(n * 0.1 * 0.9)
    assert(math.abs(first.size - 0.1 * n) <= 4 * sigma,
      s"${first.size} rows of $n, mean ${0.1 * n}, sigma $sigma")
  }
}
