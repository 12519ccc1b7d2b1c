package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM — getOrCreate reuses).
  * A suite that stops the context (an out-of-memory abort does) fails on
  * its own: the next suite waits for that stop to finish, and getOrCreate
  * then starts a new context instead of returning the stopped one. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    org.apache.spark.StoppedContext.awaitCleared()
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** Runs `f` with the given session settings, restoring the old values
    * (or their absence) after it. */
  def withConf[T](kv: (String, String)*)(f: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Expression nodes over every operator of `plan`: the size the
    * plan-size guards bound. */
  def exprNodes(plan: LogicalPlan): Int =
    plan.map(_.expressions.map(_.collect { case e => e }.size).sum).sum

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** urlsafe base64 of a UTF-8 string (Gmail body encoding). */
  def b64url(s: String): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(s.getBytes("UTF-8"))

  def b64urlBytes(b: Array[Byte]): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)
}
