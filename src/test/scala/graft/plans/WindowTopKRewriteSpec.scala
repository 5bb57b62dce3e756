package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.Tables

class WindowTopKRewriteSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def topkIdiom(k: Int) = {
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(spark, sf)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .drop("rk")
  }

  test("row_number <= k with dropped rank plans as TopKPerKey, no window") {
    val p = topkIdiom(3).queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKeyPartial") && p.contains("TopKPerKeyFinal"), p)
    assert(!p.contains("RunningWindowFunction") && !p.contains("WindowExec")
      && !p.contains("Window "), p)
  }

  test("rewritten plan returns exactly the window formulation's rows") {
    val expected = withRuleDisabled(topkIdiom(3))
    val got = topkIdiom(3)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .collect().toSet
    assert(got == expected)
  }

  private def withRuleExcluded[T](f: => T): T =
    withSQLConf("spark.sql.optimizer.excludedRules" -> WindowTopKRewrite.ruleName)(f)

  /** Window-formulation reference rows computed with the rewrite off. */
  private def withRuleDisabled(df: => org.apache.spark.sql.DataFrame) =
    withRuleExcluded(df.select("o_orderkey", "o_custkey", "o_totalprice").collect().toSet)

  test("a rewritten idiom plans no WindowGroupLimit") {
    // The rule runs in operator optimization, before Spark infers its own
    // partial/final window group limit, so TopKPerKey is the only top-k
    // in the plan; with the rule excluded, Spark's limit is what plans.
    val p = topkIdiom(3).queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKeyPartial") && !p.contains("WindowGroupLimit"), p)
    val off = withRuleExcluded(topkIdiom(3).queryExecution.executedPlan.toString)
    assert(off.contains("WindowGroupLimit") && !off.contains("TopKPerKey"), off)
  }

  test("rank kept in the output is NOT rewritten (ranks must be produced)") {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderkey")
    val p = Tables.orders(spark, sf)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("TopKPerKey"), p)
  }

  test("rank() is NOT rewritten (gaps/ties differ from row_number)") {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice")
    val p = Tables.orders(spark, sf)
      .withColumn("rk", rank().over(w))
      .filter($"rk" <= 2).drop("rk")
      .queryExecution.executedPlan.toString
    assert(!p.contains("TopKPerKey"), p)
  }

  test("extra non-rank conjunct survives as a residual filter") {
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val df = Tables.orders(spark, sf)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 2 && $"o_orderstatus" === "F")
      .drop("rk")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKeyFinal"), p)
    // Residual applies AFTER top-k selection (same as the window form:
    // ranks are computed over all rows, then both predicates filter).
    val w2 = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val reference = Tables.orders(spark, sf)
      .withColumn("rk", row_number().over(w2))
      .filter($"rk" <= 2)
      .filter($"o_orderstatus" === "F")
      .drop("rk").collect().map(_.toSeq).toSet
    assert(df.collect().map(_.toSeq).toSet == reference)
  }

  test("k = 1 dedup idiom (exactDedup) routes through the native operator") {
    val p = graft.dedup.Dedup.exactDedup(
      Tables.documents(spark, sf), "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKeyFinal"), p)
  }
}
