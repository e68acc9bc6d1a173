package graft

import org.apache.spark.sql.functions._

import graft.ext.TokenLayout.{takeTokenBudget, takeTokenBudgetSharded}

/** The sharded two-level token-budget fill ≡ the single-window form —
  * including on a planted mega-group — and its plan never funnels a
  * group through one window partition.
  */
class TokenBudgetShardedSpec extends SparkSuite {

  private val outCols = Seq("doc_id", "lang", "n_tok", "cum_tok")

  private def docs(dir: String) =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(graft.clean.CleanFns.tokens(col("text"))).cast("long").as("n_tok"))

  private def assertSame(df: org.apache.spark.sql.DataFrame, budget: Long,
      shardChars: Int = 2): Unit = {
    val a = takeTokenBudget(df, col("lang"), col("n_tok"), budget)
      .select(outCols.map(col): _*)
    val b = takeTokenBudgetSharded(df, col("lang"), col("n_tok"), budget, shardChars)
      .select(outCols.map(col): _*)
    assert(a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L,
      s"sharded diverged from single-window at budget=$budget")
  }

  test("sharded == single-window on the real corpus (several budgets, widths)") {
    val d = docs("/root/testdata/sf0.001")
    for (budget <- Seq(0L, 137L, 2000L, 1000000L)) assertSame(d, budget)
    assertSame(d, 2000L, shardChars = 1)
    assertSame(d, 2000L, shardChars = 3)
  }

  test("sharded == single-window on a planted mega-group") {
    import spark.implicits._
    // one group holds 5000 docs (plus a tiny sibling group), so the naive
    // window serializes it onto one task; the sharded form must agree row
    // for row anyway, including zero-token docs at the budget boundary
    val mega = (1L to 5000L).map(i => (i, "en", if (i % 97 == 0) 0L else i % 23))
      .toDF("doc_id", "lang", "n_tok")
      .union(Seq((9001L, "fr", 5L), (9002L, "fr", 7L)).toDF("doc_id", "lang", "n_tok"))
    for (budget <- Seq(50L, 1234L, 100000L)) assertSame(mega, budget)
  }

  test("plan pin: every window partitions by (group, shard) — no group-only funnel") {
    import spark.implicits._
    val mega = (1L to 1000L).map(i => (i, "en", i % 13))
      .toDF("doc_id", "lang", "n_tok")
    val planned = takeTokenBudgetSharded(mega, col("lang"), col("n_tok"), 500L)
    val plan = planned.queryExecution.optimizedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, plan)
    // the row-level window must partition by the shard as well as the
    // group; only the tiny per-shard-totals window (bounded at
    // 16^shardChars rows per group) may partition by group alone
    val rowLevel = windows.filter(_.contains("__h"))
    assert(rowLevel.nonEmpty, plan)
    assert(rowLevel.forall(_.contains("__shard")), plan)
  }

  test("budget-boundary pruning: shards past the budget are filtered before the window") {
    import spark.implicits._
    val mega = (1L to 1000L).map(i => (i, "en", 10L)).toDF("doc_id", "lang", "n_tok")
    val plan = takeTokenBudgetSharded(mega, col("lang"), col("n_tok"), 100L)
      .queryExecution.optimizedPlan.toString
    // the exclusive-offset predicate must appear as a plain Filter (it
    // prunes whole shards ahead of the row-level window)
    assert(plan.contains("__off"), plan)
  }
}
