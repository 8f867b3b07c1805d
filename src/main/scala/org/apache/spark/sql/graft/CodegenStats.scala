package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Bytecode size of the methods whole-stage codegen compiles.
  *
  * HotSpot does not JIT a method past 8,000 bytes of bytecode
  * (`DontCompileHugeMethods` is on by default), so a stage whose
  * largest method crosses that line runs interpreted for its whole life —
  * a cost no task metric names. Sizes come from regenerating each stage's
  * code (`doCodeGen`) and compiling it (`CodeGenerator.compile`, whose
  * cache makes an already-run stage cheap).
  */
object CodegenStats {

  /** HotSpot's `HugeMethodLimit`: a longer method is never JIT-compiled. */
  val HugeMethodLimit = 8000

  private def kids(p: SparkPlan): Seq[SparkPlan] = (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }) ++ p.subqueries

  /** The largest compiled method of each whole-stage codegen stage in
    * `plan` (AQE query stages and subqueries included), in plan order. An
    * adaptive plan shows its stages only once it has executed. A stage
    * that fails to compile is skipped: Spark ran it without codegen.
    */
  def stageMethodBytes(plan: SparkPlan): Seq[Int] = {
    val here = plan match {
      case w: WholeStageCodegenExec =>
        try Seq(CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize)
        catch { case NonFatal(_) => Nil }
      case _ => Nil
    }
    here ++ kids(plan).flatMap(stageMethodBytes)
  }

  def maxMethodBytes(plan: SparkPlan): Int = stageMethodBytes(plan).foldLeft(0)(math.max)

  /** Runs `body` and returns its result with the largest compiled
    * whole-stage method over every SQL execution that finished meanwhile
    * (0 if none had a codegen stage). The sizes are taken after `body`
    * returns, so they add nothing to its time.
    */
  def largestMethodDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result = try body finally {
      ListenerBridge.waitUntilListenerBusEmpty(spark)
      spark.listenerManager.unregister(listener)
    }
    (result, plans.asScala.iterator.map(maxMethodBytes).foldLeft(0)(math.max))
  }
}
