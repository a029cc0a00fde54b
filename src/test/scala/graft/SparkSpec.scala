package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test base: one local SparkSession per suite (lazy, reused). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** A temp file holding `content` in `encoding`, deleted on exit. */
  def tmpFile(content: String, encoding: String = "ISO-8859-1"): String = {
    val f = Files.createTempFile("graft_test_", ".txt")
    f.toFile.deleteOnExit()
    Files.write(f, content.getBytes(encoding))
    f.toString
  }

  /** The file path of the test-classpath resource `name`, e.g. the
    * bundled Workbook2 sample at `/fixtures/workbook2.csv`. */
  def resourcePath(name: String): String =
    Paths.get(getClass.getResource(name).toURI).toString

  /** Runs `body` with the session conf `key` set to `value`, then
    * restores the previous setting ([[GraftSession.withConf]]). */
  def withConf[A](key: String, value: String)(body: => A): A =
    GraftSession.withConf(spark, key -> value)(body)
}

object SparkSpec {
  // One session for the whole forked test JVM — suites share it.
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
