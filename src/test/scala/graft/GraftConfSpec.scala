package graft

import graft.util.GraftConf
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import scala.jdk.CollectionConverters._

/** Parsing of `graft.*` settings: defaults, Spark byte strings, and one
  * WARN per malformed (key, value). */
class GraftConfSpec extends SparkTestBase {

  /** The WARN messages GraftConf logs while `body` runs. */
  private def warningsIn(body: => Unit): Seq[String] = {
    // session start-up resets the log configuration (and with it any
    // appender added before), so start the session first
    spark.version
    val logger = LogManager.getLogger(GraftConf.getClass).asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-conf-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    try body
    finally { logger.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  private def withSetting[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  test("a malformed value read twice yields the default and exactly one WARN") {
    // a value no earlier read in this JVM has seen, so no WARN was spent on it
    val key = "graft.spec.limit"
    val bad = s"12x-${java.util.UUID.randomUUID()}"
    val warnings = warningsIn {
      withSetting(key, bad) {
        assert(GraftConf.long(spark, key, 7L) == 7L)
        assert(GraftConf.long(spark, key, 7L) == 7L)
      }
    }
    assert(warnings.size == 1, warnings)
    assert(warnings.head.contains(key) && warnings.head.contains(bad))
  }

  test("byte sizes use Spark's byte-string parser: 256k is 262144") {
    val key = "graft.spec.bytes"
    assert(GraftConf.bytes(spark, key, 5L) == 5L, "unset reads as the default")
    withSetting(key, "256k")(assert(GraftConf.bytes(spark, key, 5L) == 262144L))
    withSetting(key, "256K")(assert(GraftConf.bytes(spark, key, 5L) == 262144L))
    withSetting(key, "4096")(assert(GraftConf.bytes(spark, key, 5L) == 4096L))
    withSetting(key, "2m")(assert(GraftConf.bytes(spark, key, 5L) == (2L << 20)))
  }

  test("booleans ignore case; a value that is not a boolean reads as the default") {
    val key = "graft.spec.flag"
    withSetting(key, "TRUE")(assert(GraftConf.bool(spark, key, false)))
    withSetting(key, "yes")(assert(!GraftConf.bool(spark, key, false)))
  }

  test("fitsIn compares the optimizer's size estimate with the limit") {
    import spark.implicits._
    val df = Seq(1L, 2L, 3L).toDF("x")
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    assert(GraftConf.fitsIn(df, size))
    assert(!GraftConf.fitsIn(df, size - 1))
  }
}
