package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.{Final, Partial, WindowExec, WindowGroupLimitExec}

/** Plan shape of a per-key `row_number() <= k` top-k. Spark 4.1 plans it as
  * `WindowGroupLimit Partial → Exchange hashpartitioning(key) →
  * WindowGroupLimit Final → Window`, so each map task ships at most k rows
  * per key. [[faults]] checks every Window of an executed plan against that
  * shape, through AQE stages and cached relations. */
object TopKPlan {

  /** Every node of `p`, through AQE plans, query stages, reused exchanges
    * and cached relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case o => o.children.flatMap(nodes)
  })

  /** The nodes of `p` down to, and including, the first shuffle exchange on
    * each path. */
  private def toExchange(p: SparkPlan): Seq[SparkPlan] = p match {
    case e: ShuffleExchangeLike => Seq(e)
    case s: QueryStageExec => toExchange(s.plan)
    case r: ReusedExchangeExec => toExchange(r.child)
    case o => o +: o.children.flatMap(toExchange)
  }

  private def names(es: Seq[Expression]): Seq[String] =
    es.collect { case a: Attribute => a.name }

  /** How many Windows `df`'s executed plan holds and, for each one that is
    * not the top-k shape on `key`, why not. */
  def faults(df: DataFrame, key: String): (Int, Seq[String]) = {
    val windows = nodes(df.queryExecution.executedPlan).collect { case w: WindowExec => w }.distinct
    val faults = windows.flatMap { w =>
      val above = toExchange(w.child)
      val exchanges = above.collect { case e: ShuffleExchangeLike => e }
      val finals = above.collect { case g: WindowGroupLimitExec if g.mode == Final => g }
      val below = exchanges.flatMap(e => toExchange(e.child))
      val partials = below.collect {
        case g: WindowGroupLimitExec if g.mode == Partial && names(g.partitionSpec) == Seq(key) => g
      }
      // the top-k's own two stages; inputs (an earlier round's cached
      // top-k, say) may hold Windows of their own
      val nested = above ++ below
      Seq(
        (names(w.partitionSpec) != Seq(key)) -> s"Window partitioned by ${w.partitionSpec}",
        nested.exists(_.isInstanceOf[WindowExec]) -> "a second Window in the top-k's stages",
        (finals.size != 1) -> s"${finals.size} WindowGroupLimit Final between Window and exchange",
        !exchanges.exists(_.outputPartitioning match {
          case h: HashPartitioning => names(h.expressions) == Seq(key)
          case _ => false
        }) -> s"no hashpartitioning($key) exchange below the Window",
        (partials.size != 1) -> s"${partials.size} WindowGroupLimit Partial below the $key exchange"
      ).collect { case (true, why) => why }
    }
    (windows.size, faults.distinct)
  }
}
