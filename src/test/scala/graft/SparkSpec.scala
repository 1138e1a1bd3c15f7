package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (Spark startup is
  * ~2s; per-suite sessions would dominate test time).
  */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local("graft-test", benchSplits = false, cpus = 2)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sc = spark.sparkContext

  /** Whether the session's CacheManager holds no persisted plan. */
  def cacheEmpty: Boolean = spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager.isEmpty
}
