package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Keeps every session on the one definition: the test session carries
  * the engine configs, and no main builds a session of its own. */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries every GraftSession config") {
    val conf = spark.conf.getAll
    GraftSession.configs(4, None).foreach { case (k, v) =>
      assert(conf.get(k).contains(v), s"$k: want $v, got ${conf.get(k)}")
    }
  }

  test("src/main builds a session only in GraftSession") {
    val builders = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString).toSeq
    assert(builders == Seq("GraftSession.scala"))
  }

  test("SPARK_GRAFT_CPUS: unset means all processors, bad values refused") {
    assert(GraftSession.coresFrom(None) ==
      Runtime.getRuntime.availableProcessors)
    assert(GraftSession.coresFrom(Some("8")) == 8)
    assert(GraftSession.coresFrom(Some(" 3 ")) == 3)
    Seq("", "eight", "4x", "0", "-2", "2.5").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        GraftSession.coresFrom(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }
}
