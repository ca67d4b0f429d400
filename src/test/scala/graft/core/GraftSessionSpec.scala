package graft.core

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends SparkSpec {

  test("the factory pins UTC, nanos-as-long, the extensions and the codegen cache") {
    val c = spark.conf
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c.get("spark.sql.extensions") == "graft.functions.GraftExtensions")
    assert(c.get("spark.sql.codegen.cache.maxEntries") == "8192")
    // a new session holds only builtins plus the extension-injected
    // functions, so this proves registration at build time
    val v = spark.newSession().sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .collect()(0).getDouble(0)
    assert(v == 11.0)
  }

  test("harnessConf maps the A/B env toggles for auto, true and false") {
    val unset = GraftSession.harnessConf(Map.empty).toMap
    assert(unset("spark.ui.enabled") == "false")
    assert(unset("spark.sql.legacy.allowHashOnMapType") == "true")
    assert(unset(QueryScope.FanoutKey) == "auto")
    assert(unset(QueryScope.CachedPlanAqeKey) == "auto")
    Seq("auto", "true", "false").foreach { v =>
      val m = GraftSession.harnessConf(Map(
        "SPARK_GRAFT_SCAN_FANOUT" -> v,
        "SPARK_GRAFT_CACHED_PLAN_AQE" -> v)).toMap
      assert(m(QueryScope.FanoutKey) == v)
      assert(m(QueryScope.CachedPlanAqeKey) == v)
      assert(m.keySet.forall(!_.startsWith("spark.sql.optimizer.")),
        "the cached-plan mode must not become a session-wide Spark conf")
    }
  }

  test("no .scala file under src/ builds a SparkSession except GraftSession") {
    // split so this file does not match its own search
    val pattern = "SparkSession" + ".builder("
    val sources = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    def builds(p: Path) = Files.readString(p).contains(pattern)
    val (factory, others) =
      sources.partition(_.getFileName.toString == "GraftSession.scala")
    assert(factory.nonEmpty && factory.forall(builds),
      "the guard must see the factory's own builder")
    val offenders = others.filter(builds)
    assert(offenders.isEmpty,
      s"SparkSession built outside GraftSession: ${offenders.mkString(", ")}")
  }
}
