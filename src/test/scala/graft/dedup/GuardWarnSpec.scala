package graft.dedup

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.SparkSpec
import graft.multimodal.Multimodal

/** A hot-bucket guard registers its own WARN: a direct
  * `aHashNearDupCounts` call in a fresh session, with no listener set
  * up by the caller, logs the capped bucket under its observe name. */
class GuardWarnSpec extends SparkSpec {

  test("a capped aHash guard WARNs with no caller-registered listener") {
    val s = spark.newSession()
    // the metric is read with AQE off (SCALE.md §observability)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    import s.implicits._
    // 12 distinct hashes share only block 0: one bucket past cap = 4
    val rows = (0 until 12).map(i =>
      (i.toLong, 0x5A5AL | (1L << (16 + i)) | (1L << (32 + 11 - i))
        | (1L << (48 + 15 - i))))
    val warns = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("guard-warns", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warns.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(DedupQueries.getClass.getName)
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      Multimodal.aHashNearDupCounts(rows.toDF("media_id", "ahash"), cap = 4,
        observeName = "t_guard_warn").collect()
      org.apache.spark.SpecBus.drain(s.sparkContext)
    } finally logger.removeAppender(appender)
    assert(warns.asScala.exists(m => m.contains("[t_guard_warn]") &&
      m.contains("capped_buckets=1") && m.contains("skipped_pairs=28")),
      s"no guard WARN among: ${warns.asScala.mkString("; ")}")
  }
}
