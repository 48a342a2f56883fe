package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.GraftExtensions: one `spark.sql.extensions`-style injection gives
  * a session the SQL functions, the optimizer rules, and the as-of planner
  * strategy with NO graft code called first — the cluster-deploy path.
  *
  * The suite builds a dedicated session (sharing the test JVM's
  * SparkContext) via GraftSession.builder(...).withExtensions, which is
  * exactly what the `spark.sql.extensions=graft.GraftExtensions` config
  * does at session construction.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** A fresh session built THROUGH the extensions injector. The shared
    * context is reused; active/default sessions are restored afterwards so
    * other suites keep their (GraftFunctions-registered) session. */
  private def withExtendedSession[A](f: SparkSession => A): A = {
    val prior = SparkTestBase.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.builder(SparkTestBase.cpus, SparkTestBase.dataDir)
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s ne prior, "must be a NEW session, not the shared one")
      f(s)
    } finally {
      SparkSession.setActiveSession(prior)
      SparkSession.setDefaultSession(prior)
    }
  }

  private def scanCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case l: LogicalRelation => l }.size

  test("native functions resolve from pure SQL with no register() call") {
    withExtendedSession { s =>
      val row = s.sql(
        """SELECT cosine_fast(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c,
          |       jaccard_sim(array('a','b','c'), array('b','c','d')) AS j,
          |       size(word_shingles('one two three four', 3)) AS ns
          |""".stripMargin).collect().head
      assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
      assert(math.abs(row.getDouble(1) - 0.5) < 1e-12) // |{b,c}| / |{a,b,c,d}|
      assert(row.getInt(2) == 2)
    }
  }

  test("MergeUnionScans is active: distinct-over-union merges to one scan") {
    withExtendedSession { s =>
      val orders = Tables.orders(s, sf)
      val u = orders.filter(col("o_orderstatus") === "F").select("o_custkey")
        .union(orders.filter(col("o_orderstatus") === "P").select("o_custkey"))
        .distinct()
      assert(scanCount(u) == 1, "injected optimizer rule must merge the branches")
      // and multiplicity-sensitive shapes are still protected
      val counted = orders.filter(col("o_orderstatus") === "F").select("o_custkey")
        .union(orders.filter(col("o_orderstatus") === "F").select("o_custkey"))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      assert(scanCount(counted) == 2)
    }
  }

  test("RewriteCosine is active: declarative cosine plans the native kernel") {
    withExtendedSession { s =>
      // parquet-backed columns: literal arrays constant-fold away before
      // the rule could fire (same caveat as NativeExprSpec)
      val df = Tables.embeddings(s, sf).select(
        functions.VectorOps.cosine(
          functions.VectorOps.toDouble(col("embedding")),
          functions.VectorOps.toDouble(reverse(col("embedding")))).as("c"))
      assert(df.queryExecution.optimizedPlan.toString.toLowerCase
        .contains("cosinesimilarity"),
        "declarative cosine must rewrite to CosineSimilarity")
      assert(df.limit(1).collect().nonEmpty)
    }
  }

  test("AsOfJoinStrategy is active in the session planner") {
    withExtendedSession { s =>
      assert(s.sessionState.planner.strategies.contains(graft.plans.AsOfJoinStrategy),
        "injected planner strategy must be present without AsOf.join() registration")
    }
  }
}
