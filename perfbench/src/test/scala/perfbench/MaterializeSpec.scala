package perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Guards the benchmark's timed action: it must run the whole plan of a
  * query, final sort included. A `count()` would not: Catalyst prunes it
  * to a row count and drops the sort and the projections.
  */
class MaterializeSpec extends AnyFunSuite {

  private val specDir = new java.io.File("target/spec").getAbsoluteFile

  /** The benchmark's copy of the engine's sf0.01 testdata. */
  private val dataDir = new java.io.File("data/sf0.01").getAbsolutePath

  /** The first operator of `plan` below adaptive, stage and codegen wrappers. */
  @annotation.tailrec
  private def operator(plan: SparkPlan): SparkPlan = plan match {
    case a: AdaptiveSparkPlanExec => operator(a.executedPlan)
    case q: QueryStageExec => operator(q.plan)
    case w: WholeStageCodegenExec => operator(w.child)
    case other => other
  }

  test("the timed action keeps the root sort of q_mart_assembly") {
    val spark = Main.session(2, new java.io.File(specDir, "local").getPath)
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    try {
      val df = SparkEntry.queries("q_mart_assembly")(spark, dataDir)
      assert(df.queryExecution.logical.isInstanceOf[Sort] ||
        df.queryExecution.optimizedPlan.isInstanceOf[Sort],
        "q_mart_assembly is expected to end in orderBy")
      // the contrast that motivates the no-op sink: a count drops the sort
      assert(df.groupBy().count().queryExecution.optimizedPlan
        .collectFirst { case s: Sort => s }.isEmpty)

      spark.listenerManager.register(listener)
      Materialize(df)
      org.apache.spark.perfbench.Internals.drainListenerBus(spark.sparkContext)
      val sinkPlans = plans.synchronized(plans.toList)
        .filter(_.nodeName.contains("OverwriteByExpression"))
      assert(sinkPlans.size == 1, s"expected one no-op sink write, got: ${plans.map(_.nodeName)}")
      operator(sinkPlans.head.children.head) match {
        case s: SortExec => assert(s.global, "root sort must be the global orderBy")
        case other => fail(s"root of the executed plan is not a sort:\n$other")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.stop()
      Main.sweepArtifacts(dataDir)
    }
  }
}
