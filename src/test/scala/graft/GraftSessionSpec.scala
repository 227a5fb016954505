package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.SparkTestSession

/** One session configuration: the settings Bench's walls were measured
  * under are pinned on the session [[GraftSession]] returns, and no other
  * source file may build a session of its own. Likewise one commit
  * protocol: only [[graft.sources.FileSink]] renames task output or ships
  * the Hadoop configuration to tasks; one staging module: only
  * [[graft.operators.Staging]] persists, caches or checkpoints; one
  * implementation per graft kernel: generated code calls the compiled
  * method interpreted eval uses, and inlines no loop of its own; and one
  * media decode path: the decompression-bomb screen, the ImageIO reads
  * and the RIFF container are written once in graft.operators. */
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

  /** The `.scala` files under `roots`, other than `owner`, whose text
    * contains any of `needles` once every `allowed` spelling is removed
    * from it. */
  private def scalaFilesContaining(roots: Seq[String], owner: String,
      needles: Seq[String], allowed: Seq[String] = Nil): Seq[Path] = {
    val dirs = roots.map(Paths.get(_))
    dirs.foreach(r => assert(Files.isDirectory(r), s"missing $r"))
    dirs.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator.asScala.toList finally walk.close()
    }.filter { p: Path =>
      p.toString.endsWith(".scala") && p.getFileName.toString != owner && {
        val text = allowed.foldLeft(
          new String(Files.readAllBytes(p), "UTF-8"))(_.replace(_, ""))
        needles.exists(text.contains)
      }
    }
  }

  test("GraftSession is the only place a SparkSession is built") {
    val needle = "SparkSession" + ".builder"
    val offenders = scalaFilesContaining(
      Seq("src/main/scala", "src/test/scala"), "GraftSession.scala",
      Seq(needle))
    assert(offenders.isEmpty,
      s"build the session with graft.GraftSession, not $needle: " +
        offenders.mkString(", "))
  }

  test("FileSink is the only task-commit protocol in the main sources") {
    // a Hadoop FS rename, or shipping a Hadoop Configuration to tasks
    // (its Writable round-trip, or Spark's serializable wrappers of it)
    val needles = Seq(".rename(", "readFields(", "SerializableConfiguration",
      "SerializableWritable")
    val offenders = scalaFilesContaining(Seq("src/main/scala"),
      "FileSink.scala", needles)
    assert(offenders.isEmpty,
      "commit files through graft.sources.FileSink, not a copy of its " +
        s"protocol: ${offenders.mkString(", ")}")
  }

  test("Staging is the only place the main sources persist or checkpoint") {
    // Spark's own calls; a Staging.Scope's `scope.persist(` and
    // `Staging.persist(` are the module's API, not copies of it
    val needles = Seq(".persist(", ".cache()", ".checkpoint(",
      "localCheckpoint(", "StorageLevel")
    val offenders = scalaFilesContaining(Seq("src/main/scala"),
      "Staging.scala", needles,
      allowed = Seq("scope.persist(", "Staging.persist("))
    assert(offenders.isEmpty,
      "stage through graft.operators.Staging, not a persist or checkpoint " +
        s"of your own: ${offenders.mkString(", ")}")
  }

  test("the media operators shell, screen and walk payloads only in their shared functions") {
    // each needle may appear only inside the named definitions (a `def`,
    // `val` or `class` line and the lines indented under it); comments
    // are not code and are dropped first
    val shared = Map(
      "MaxDecodePixels" -> Seq("MaxDecodePixels", "withinDecodeBudget"),
      "ImageIO.read(" -> Seq("PixelDecoder"),
      "getImageReaders(" -> Seq("headerPixels", "imageIoFrames"),
      "\"RIFF\"" -> Seq("isRiff", "putRiff"),
      ".as[(Long, Array[Byte])]" -> Seq("mapPayloads"))
    val walk = Files.walk(Paths.get("src/main/scala/graft/operators"))
    val files = try walk.iterator.asScala.toList.filter(_.toString.endsWith(".scala"))
      finally walk.close()
    def indent(l: String) = l.takeWhile(_ == ' ').length
    val offenders = for {
      p <- files
      text = new String(Files.readAllBytes(p), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      lines = text.split("\n", -1).toIndexedSeq
      (needle, owners) <- shared.toSeq
      owned = owners.flatMap { o =>
        val head = s"\\b(def|val|class)\\s+$o\\b".r
        lines.indices.filter(i => head.findFirstIn(lines(i)).isDefined)
          .flatMap { i =>
            i +: (i + 1 until lines.length).takeWhile(j =>
              lines(j).trim.isEmpty || indent(lines(j)) > indent(lines(i)))
          }
      }.toSet
      i <- lines.indices
      if lines(i).contains(needle) && !owned(i)
    } yield s"${p.getFileName}: $needle outside ${owners.mkString("/")}: " +
      lines(i).trim
    assert(files.exists(_.getFileName.toString == "Multimodal.scala"))
    assert(offenders.isEmpty,
      "decode media payloads through the shared shell, screen, frame walk " +
        s"and RIFF functions of graft.operators.Multimodal:\n${offenders.mkString("\n")}")
  }

  test("no doGenCode in graft.functions inlines a loop") {
    // a doGenCode method runs from its `def` line to the next non-blank
    // line indented no deeper than that line
    val walk = Files.walk(Paths.get("src/main/scala/graft/functions"))
    val files = try walk.iterator.asScala.toList.filter(_.toString.endsWith(".scala"))
      finally walk.close()
    def indent(l: String) = l.takeWhile(_ == ' ').length
    val offenders = files.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      lines.indices.filter(i => lines(i).contains("def doGenCode")).flatMap { i =>
        val body = lines(i) +: lines.drop(i + 1).takeWhile(l =>
          l.trim.isEmpty || indent(l) > indent(lines(i)))
        if (body.exists(l => l.contains("for (") || l.contains("while (")))
          Some(s"${p.getFileName}:${i + 1}")
        else None
      }
    }
    assert(files.nonEmpty)
    assert(offenders.isEmpty,
      "call the kernel's compiled method from doGenCode instead of " +
        s"templating its loop: ${offenders.mkString(", ")}")
  }
}
