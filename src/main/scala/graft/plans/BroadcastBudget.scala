package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.internal.SQLConf

/** The one limit on what an operator may collect to the driver and
  * broadcast: `spark.graft.rangejoin.maxBroadcastBytes` (256 MiB).
  *
  * Planning compares Catalyst's size estimate against it. The estimate
  * can under-shoot by orders of magnitude after a selective filter, so an
  * exec that broadcasts on the estimate's say-so also sizes what it
  * actually collected ([[checkCollected]]) and fails fast, with advice,
  * rather than ship a multi-GB structure to every executor. */
object BroadcastBudget {

  /** The conf's name under the `spark.graft.rangejoin.` prefix, for the
    * readers that take prefixed names ([[RangeJoinChoice]]). */
  val Name = "maxBroadcastBytes"
  val Key = s"spark.graft.rangejoin.$Name"
  val Default: Long = 256L << 20

  /** Factor by which the collected bytes may exceed the budget before the
    * runtime guard fails, so estimate noise never flips a working query
    * (Spark's `spark.driver.maxResultSize` still backstops the collect). */
  private val SlackKey = "spark.graft.rangejoin.buildBytesSlack"

  def bytes(spark: SparkSession): Long = spark.conf.get(Key, Default.toString).toLong

  /** Whether `df`'s optimized-plan size estimate fits the budget. */
  def fits(df: DataFrame): Boolean = fits(df.queryExecution.optimizedPlan, bytes(df.sparkSession))

  def fits(plan: LogicalPlan, budget: Long): Boolean = plan.stats.sizeInBytes <= BigInt(budget)

  /** Fails with `advice` unless `df`'s size estimate fits the budget;
    * `what` names the side that would be collected. */
  def requireFits(df: DataFrame, what: String, advice: String): Unit = {
    val budget = bytes(df.sparkSession)
    val estimated = df.queryExecution.optimizedPlan.stats.sizeInBytes
    require(estimated <= BigInt(budget),
      s"$what is estimated at $estimated bytes, over $Key=$budget — $advice")
  }

  /** Runtime guard over a collected build side of `(key, start, end, row)`
    * (a null key counts 0 bytes): fails with `advice` when its bytes are
    * over the slack times the budget. */
  def checkCollected(conf: SQLConf, collected: Array[(UnsafeRow, Int, Int, InternalRow)],
      advice: String): Unit = {
    val actualBytes = collected.foldLeft(0L) { case (acc, (k, _, _, r)) =>
      acc + (if (k == null) 0L else k.getSizeInBytes.toLong) + 16L + (r match {
        case u: UnsafeRow => u.getSizeInBytes.toLong
        case _ => 64L
      })
    }
    val budget = conf.getConfString(Key, Default.toString).toLong
    val slack = conf.getConfString(SlackKey, "4.0").toDouble
    if (actualBytes > budget * slack) throw new IllegalStateException(
      s"interval-join build side is $actualBytes bytes at runtime, over ${slack}x the " +
        s"$Key budget ($budget) the broadcast decision was made against (plan " +
        s"statistics under-estimated it). $advice")
  }
}
