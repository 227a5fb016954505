package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.SparkTestSession

/** One session configuration: the settings Bench's walls were measured
  * under are pinned on the session [[GraftSession]] returns, and no other
  * source file may build a session of its own. */
class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession carries the bench settings") {
    val spark = SparkTestSession.get
    val want = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.shuffle.sort.bypassMergeThreshold" -> "2",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k")
    val ctx = spark.sparkContext.getConf
    for ((k, v) <- want) {
      assert(ctx.get(k) == v, s"SparkConf $k")
      assert(spark.conf.get(k) == v, s"session conf $k")
    }
  }

  test("GraftSession is the only place a SparkSession is built") {
    val needle = "SparkSession" + ".builder"
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"missing $r"))
    val offenders = roots.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator.asScala.toList finally walk.close()
    }.filter { p: Path =>
      p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftSession.scala" &&
        new String(Files.readAllBytes(p), "UTF-8").contains(needle)
    }
    assert(offenders.isEmpty,
      s"build the session with graft.GraftSession, not $needle: " +
        offenders.mkString(", "))
  }
}
