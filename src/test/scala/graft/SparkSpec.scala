package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM via getOrCreate),
  * from the library factory. It reads no environment, and a fixed
  * `local[4]` keeps results independent of the host's core count; UI off
  * and the warehouse dir (a static conf) come from build.sbt's
  * `javaOptions`.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.create("local[4]", 4, "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkSpec.spark

  override protected def afterEach(): Unit = {
    graft.core.Caches.releaseAll() // operator-internal persists die per test
    super.afterEach()
  }
}
