package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

class GraftSessionSpec extends SparkSpec {

  test("no main builds a SparkSession outside GraftSession") {
    val builderCall = Seq("SparkSession", "builder").mkString(".")
    val mains = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(mains.exists(_.endsWith("GraftSession.scala")), "scan found no sources")
    val builders = mains.filter(p => !p.endsWith("GraftSession.scala") &&
      Files.readString(p).contains(builderCall))
    assert(builders.isEmpty, s"sessions built outside GraftSession: $builders")
  }

  test("the test session runs GraftSession's configuration at 4 cores") {
    val differing = GraftSession.conf(4).collect {
      case (k, v) if spark.conf.getOption(k) != Some(v) => k -> spark.conf.getOption(k)
    }
    assert(differing.isEmpty, s"test session differs from GraftSession on: $differing")
    assert(spark.conf.get("spark.app.name") == "graft-test")
  }
}
