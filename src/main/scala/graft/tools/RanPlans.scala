package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Physical plans of the writes that RAN. A write executes its own
  * QueryExecution, so the written DataFrame's `executedPlan` is AQE's
  * initial plan and never shows a runtime join switch. The listener
  * receives each finished query's QueryExecution (final adaptive plan,
  * subquery plans included) and files the writes `key` names; events
  * arrive on the listener bus, so [[await]] waits for its key. */
final class RanPlans(spark: SparkSession, key: PartialFunction[LogicalPlan, String]) {
  private val plans = new ConcurrentHashMap[String, QueryExecution]()
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      key.lift(qe.analyzed).foreach(plans.put(_, qe))
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** The executed plan of the finished write filed under `k`. */
  def await(k: String): String = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!plans.containsKey(k) && System.nanoTime() < deadline) Thread.sleep(5)
    Option(plans.remove(k)).map(_.executedPlan.toString)
      .getOrElse(throw new IllegalStateException(s"no finished write event for $k"))
  }
}

object RanPlans {

  /** `plan` without the `== Initial Plan ==` subtrees that a finished
    * adaptive plan prints after its final plan (one per adaptive plan,
    * subquery plans included): only the operators that ran. */
  def finalOnly(plan: String): String = {
    // the lines of a `== Initial Plan ==` subtree start their text at
    // the marker's column or right of it
    def column(line: String): Int = line.indexWhere(c => !" :+-".contains(c))
    var skipFrom = Int.MaxValue
    plan.linesIterator.filter { line =>
      val c = column(line)
      if (c < skipFrom) skipFrom = Int.MaxValue
      if (skipFrom == Int.MaxValue && line.contains("== Initial Plan ==")) skipFrom = c
      skipFrom == Int.MaxValue
    }.mkString("\n")
  }
}
