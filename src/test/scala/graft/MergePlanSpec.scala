package graft

import graft.merge.MergeApply
import graft.model.Offset
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal, Subtract, XxHash64}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashJoin, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._

/** Pins the plan shape of the merge's winner semi-join on both paths: one
  * `xxhash64` equi key (a long-keyed hash relation), with the exact
  * `probe − build = 0` segment checks kept as the residual condition. */
class MergePlanSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val offsets = Seq((1L, 10L, 0L), (1L, 10L, 1L), (2L, 3L, 0L), (3L, 7L, 2L))

  private def updates = offsets.toDF("fileIdx", "pos", "rowIdx")
    .select(struct($"fileIdx", $"pos", $"rowIdx").as("offset"),
      concat_ws("/", $"fileIdx", $"pos", $"rowIdx").as("repo"))

  // winners: two of the four offsets, as the keyed scan's DECIMAL encoding
  private def winOff = updates.filter($"offset.rowIdx" === 0)
    .select(Offset.encExpr(col("offset")).as("_woff"))

  private def checkJoin(useBroadcast: Boolean): HashJoin = {
    val df = MergeApply.winnerJoin(updates, winOff, useBroadcast)
    assert(df.select("repo").as[String].collect().sorted.toSeq == Seq("1/10/0", "2/3/0"))
    val joins = collect(df.queryExecution.executedPlan) { case j: HashJoin => j }
    assert(joins.size == 1, s"expected one hash join:\n${df.queryExecution.executedPlan}")
    val j = joins.head
    assert(j.joinType == LeftSemi)
    assert(j.leftKeys.size == 1 && j.leftKeys.head.isInstanceOf[XxHash64],
      s"left keys: ${j.leftKeys}")
    val residual = j.condition.toSeq.flatMap(_.collect {
      case e @ EqualTo(_: Subtract, Literal(v, _)) if v.toString == "0" => e
    })
    assert(residual.size == 3, s"residual condition: ${j.condition}")
    j
  }

  test("broadcast winner join: one xxhash64 key, segment checks residual") {
    assert(checkJoin(useBroadcast = true).isInstanceOf[BroadcastHashJoinExec])
  }

  test("shuffle-hash winner join: one xxhash64 key, segment checks residual") {
    assert(checkJoin(useBroadcast = false).isInstanceOf[ShuffledHashJoinExec])
  }
}
