package graftbench

import java.util.Locale

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan, Window}

/** Output and plan checks used by every workload. */
object Check {

  /** Order-insensitive fingerprint of a result: row count plus a wrapping
    * sum of 64-bit row hashes over a canonical text form of each row.
    * Floating-point values are rounded to 8 (double) or 6 (float)
    * significant digits, so summation order across partitions does not
    * change the fingerprint.
    */
  def fingerprint(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val s = canon(r)
      acc += (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
    }
    s"${rows.length}:${java.lang.Long.toHexString(acc)}"
  }

  private def canon(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else String.format(Locale.ROOT, "%.8g", Double.box(d))
    case f: Float =>
      if (f.isNaN || f.isInfinite) f.toString
      else if (f == 0.0f) "0"
      else String.format(Locale.ROOT, "%.6g", Double.box(f.toDouble))
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case b: Array[Byte] => "0x" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  /** How many plan nodes / expressions of each kind a plan holds. The
    * benchmark times a plan only if it keeps every one of these that the
    * query's optimized plan has.
    */
  private val udafClasses = Set("ScalaUDAF", "ScalaAggregator")

  def tally(plan: LogicalPlan): Map[String, Int] = {
    val c = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def expr(e: Expression): Unit = e.foreach {
      case _: ScalaUDF => c("udf") += 1
      case x if udafClasses(x.getClass.getSimpleName) => c("udf") += 1
      case _: HigherOrderFunction => c("hof") += 1
      case x if x.getClass.getName.startsWith("graft.") &&
          !x.isInstanceOf[AggregateExpression] => c("udf") += 1
      case _ =>
    }
    plan.foreach { p =>
      p match {
        case _: Generate => c("generate") += 1
        case _: Join => c("join") += 1
        case _: Window => c("window") += 1
        case _: Aggregate => c("aggregate") += 1
        case _ =>
      }
      p.expressions.foreach(expr)
    }
    c.toMap
  }

  /** Node kinds, with how many of each, that the plan `Dataset.count()`
    * would run on `df` loses against `df`'s own optimized plan (its one
    * extra Aggregate discounted). Empty when `count()` keeps everything.
    */
  def lostUnderCount(df: DataFrame): Map[String, Int] = {
    val counted = tally(df.groupBy().count().queryExecution.optimizedPlan)
    tally(df.queryExecution.optimizedPlan).flatMap { case (k, n) =>
      val got = counted.getOrElse(k, 0) - (if (k == "aggregate") 1 else 0)
      if (got < n) Some(k -> (n - got)) else None
    }
  }
}
