package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: the engine's one session
  * ([[SparkEntry.session]]), reused across suites in the forked test JVM. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkEntry.session()

  /** Runs `body` with SQL conf `key` set to `value` (None: unset), then
    * restores the session's previous setting. */
  def withConf[T](key: String, value: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }
}
