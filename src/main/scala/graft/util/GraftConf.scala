package graft.util

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one reader of graft's own `graft.*` session settings, and the
  * one size test behind every size-adaptive arm.
  *
  * Each call site names its key and default next to the comment that
  * justifies the default; this object only parses. An unset key reads
  * as the default. A set but malformed value also reads as the default,
  * and is reported by one WARN per distinct (key, value) so that a
  * typo'd setting is visible without flooding a log that reads it on
  * every query. Byte sizes go through Spark's own byte-string parser,
  * as in any `spark.*` size setting: `262144`, `256k` and `256K` are
  * the same size.
  */
object GraftConf {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val warned = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  def long(ss: SparkSession, key: String, default: Long): Long =
    read(ss, key, default, "a whole number")(_.toLong)

  def int(ss: SparkSession, key: String, default: Int): Int =
    read(ss, key, default, "a whole number")(_.toInt)

  def bool(ss: SparkSession, key: String, default: Boolean): Boolean =
    read(ss, key, default, "true or false")(_.toBoolean)

  /** A size in bytes: a plain number of bytes, or a number with a
    * `k`/`m`/`g`/`t`/`p` suffix (binary multiples). */
  def bytes(ss: SparkSession, key: String, default: Long): Long =
    read(ss, key, default, "a byte size such as 262144 or 256k")(JavaUtils.byteStringAsBytes)

  /** A free-form string such as a path; unset reads as None. */
  def string(ss: SparkSession, key: String): Option[String] =
    ss.conf.getOption(key).map(_.trim).filter(_.nonEmpty)

  /** True when the optimizer's size estimate for `df` is at most
    * `limitBytes`: the small arm of a size-adaptive route. Catalog and
    * pin statistics only, no Spark job. An unknown size reads as huge,
    * so an unmeasured input takes the big arm, the one that holds at
    * any scale. */
  def fitsIn(df: DataFrame, limitBytes: Long): Boolean =
    fitsIn(df.queryExecution.optimizedPlan, limitBytes)

  /** [[fitsIn]] for a plan the optimizer is still working on. */
  def fitsIn(plan: LogicalPlan, limitBytes: Long): Boolean =
    plan.stats.sizeInBytes <= BigInt(limitBytes)

  private def read[T](ss: SparkSession, key: String, default: T, expected: String)
                     (parse: String => T): T =
    ss.conf.getOption(key) match {
      case None => default
      case Some(raw) =>
        try parse(raw.trim)
        catch {
          case scala.util.control.NonFatal(_) =>
            if (warned.add((key, raw)))
              log.warn(s"ignoring $key=$raw: expected $expected; using the default $default")
            default
        }
    }
}
